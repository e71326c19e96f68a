"""Text-analysis operators for training-data pipelines.

Spec extensions over the ``documents`` table: language identification
(stopword-hit heuristic), quality scoring (length/ratio features),
token counting (whitespace + regex word segmentation), and document
fingerprinting (polynomial rolling hash). The reference's only text
surface is the abstract inverted index it never queries
(/root/reference/data/samples/PaperAbstractsInvertedIndex.txt:1 — F7);
these operators give the engine a real one.

All pure built-in expressions (no UDFs) and oracle-replicable: integer
hashes, integer counts, and double arithmetic with a fixed operation
order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import MERSENNE31, words
from ..functions.lits import lit_str_long_map, lit_strings

# Tiny per-language stopword lists for the heuristic language ID.
# Deterministic tie-break: highest hit count, then language name asc.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "data", "table"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "en", "para", "que"),
    "zh": ("的", "了", "是", "我", "不", "在", "有", "他", "这", "中"),
}


def stopword_table_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang in sorted(STOPWORDS) for w in STOPWORDS[lang]
    )
    return f"(VALUES {rows}) AS sw(lang, word)"


def language_id(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, hits) — language with the most stopword hits
    ('und' when nothing matches)."""
    spark = documents.sparkSession
    sw = spark.createDataFrame(
        [(lang, w) for lang in sorted(STOPWORDS) for w in STOPWORDS[lang]], "lang string, word string"
    )
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
    )
    hits = (
        toks.join(F.broadcast(sw), "word")
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("hits"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("hits").desc(), F.col("lang").asc())
    ranked = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    scored = ranked.select("doc_id", F.col("lang").alias("pred_lang"), "hits")
    all_docs = documents.select(F.col(id_col).alias("doc_id"))
    return (
        all_docs.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
        )
    )


def all_stopwords() -> list[str]:
    """Flat sorted union of every language's stopword list (the literal
    both engines embed — see ``stopword_array_sql``)."""
    return sorted({w for ws in STOPWORDS.values() for w in ws})


def stopword_array_sql() -> str:
    """DuckDB list literal of :func:`all_stopwords` for oracle SQL."""
    return "[" + ", ".join(f"'{w}'" for w in all_stopwords()) + "]"


def quality_score(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_words, avg_word_len, alpha_ratio,
    stopword_ratio, score) — the length/punctuation/stopword ratio
    family (SURVEY §2 quality-scoring spec line).

    score = min(n_words, 100)/100 * alpha_ratio — a simple
    length×cleanliness heuristic; all arithmetic fixed-order doubles.
    ``stopword_ratio`` (stopword token hits / words, any language's
    list) is the classic natural-language-vs-gibberish signal: real
    prose sits around 0.3-0.6, keyword spam near 0. Pure per-row
    expressions — the stopword list is a 50-element literal array
    filtered JVM-side, no join, no shuffle.
    """
    t = F.col(text_col)
    toks = F.split(F.lower(t), " ")
    n_chars = F.length(t).cast("long")
    n_words = F.size(toks).cast("long")
    n_alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("long")
    avg_word_len = (n_chars - (n_words - 1)) / n_words
    alpha_ratio = n_alpha / n_chars
    sw = lit_strings(all_stopwords())
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast("long")
    score = F.least(n_words, F.lit(100)).cast("double") / F.lit(100.0) * alpha_ratio
    return documents.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        alpha_ratio.alias("alpha_ratio"),
        (n_stop / n_words).alias("stopword_ratio"),
        score.alias("score"),
    )


def token_counts(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, re_tokens) — whitespace count vs a BPE-ish
    regex segmentation ([a-z]+ | digits | other-symbol runs)."""
    t = F.lower(F.col(text_col))
    ws = F.size(F.split(t, " ")).cast("long")
    re_tokens = F.size(F.regexp_extract_all(t, F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).cast("long")
    return documents.select(
        F.col(id_col).alias("doc_id"), ws.alias("ws_tokens"), re_tokens.alias("re_tokens")
    )


def hash_bucket(col: Column | str, buckets: int = 100) -> Column:
    """Deterministic [0, buckets) bucket from a stable content hash
    (md5-prefix fold — identical in any engine). The reproducible-
    sampling primitive: the same row lands in the same bucket on every
    run, every engine, every partitioning — unlike TABLESAMPLE/rand()."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10).cast("long")
    return h % buckets


def train_val_test_split(
    documents: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """(doc_id, bucket, split) — deterministic train/val/test assignment
    by hash bucket: [0,train) → train, [train,train+val) → val, rest →
    test. Stable under reruns and engine changes; stratification is a
    groupBy away."""
    b = hash_bucket(id_col)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        b.alias("bucket"),
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def leakage_safe_split(
    documents: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """(doc_id, rep, bucket, split) — train/val/test split assigned at
    near-dup-CLUSTER granularity: every document hashes on its cluster
    representative (``clusters`` is (doc_id, cluster_id) from
    :func:`~..operators.dedup.dedup_clusters` — the connected-components
    min-id label; documents in no cluster represent themselves), so two
    near-duplicate documents can NEVER straddle train and eval. This is
    the split-level twin of decontamination: a plain per-doc hash split
    (:func:`train_val_test_split`) leaks every near-dup pair that lands
    on both sides, silently inflating eval scores.

    Scale shape: ``clusters`` covers only documents that belong to some
    near-dup pair — a small fraction of a deduplicated crawl — so the
    representative lookup is one broadcast-able left join; the bucket
    is the same engine-portable md5 fold as every other reproducible
    sampler here. Same bucket thresholds as the plain split, so
    singleton documents land EXACTLY where train_val_test_split puts
    them (pinned by test): adopting leakage-safe splitting re-shuffles
    only the clustered minority.
    """
    rep = (
        documents.select(F.col(id_col).alias("doc_id"))
        .join(clusters, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("rep"))
    )
    b = hash_bucket("rep")
    return rep.select(
        "doc_id",
        "rep",
        b.alias("bucket"),
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def repetition_stats(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    repetition filters, re-expressed relationally): (doc_id, n_tokens,
    distinct_tokens, top_token_count, n_bigrams, top_bigram_count,
    top_token_ratio, top_bigram_ratio, repetitive).

    ``repetitive`` is decided in exact integer arithmetic (top token
    fraction > 0.2, or top bigram fraction > 0.18) so both engines agree
    bit-for-bit; the ratio columns are single IEEE divisions (exact-order
    discipline). The fractions presume documents past a length gate
    (Gopher applies repetition filters alongside min-length rules; a
    5-token doc trivially exceeds the bigram fraction) — compose with
    ``quality_score``'s n_words. Two token-keyed aggregations —
    high-cardinality, well-spread shuffle keys; no UDFs.
    """
    toks = words(text_col)
    base = documents.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    tok_counts = (
        base.select("doc_id", F.explode("_t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    td = tok_counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("distinct_tokens"),
        F.max("c").cast("long").alias("top_token_count"),
    )
    # 1-token docs are FILTERED before the explode (covers the
    # sequence(1, 0) descending trap); a CASE WHEN ... ELSE [] guard on
    # a generator input defeats GenerateExec's evaluate-once path and
    # re-evaluates the bigram array per emitted element
    # (operators/dedup._horner_shingles has the measurement)
    bg = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_t")) - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, 2)),
    )
    bd = (
        base.filter(F.size("_t") >= 2)
        .select("doc_id", F.explode(bg).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.max("c").cast("long").alias("top_bigram_count"),
        )
    )
    j = td.join(bd, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        "top_token_count",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("top_bigram_count", F.lit(0)).cast("long").alias("top_bigram_count"),
    )
    return j.select(
        "*",
        (F.col("top_token_count") / F.col("n_tokens")).alias("top_token_ratio"),
        F.when(
            F.col("n_bigrams") > 0, F.col("top_bigram_count") / F.col("n_bigrams")
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_ratio"),
        (
            (F.col("top_token_count") * 5 > F.col("n_tokens"))
            | (F.col("top_bigram_count") * 50 > F.col("n_bigrams") * 9)
        ).alias("repetitive"),
    )


def top_terms(
    documents: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """TF-IDF-flavored keyword extraction: the top-``k`` most distinctive
    terms per document → (doc_id, term, tf, df, weight, rn).

    ``weight = tf · 10⁶ div df`` — integer scaling instead of a float
    ``log`` (libm ``log`` is not guaranteed correctly rounded, so
    cross-engine hashes could flip; integer division is exact
    everywhere). Ranking is a greatest-n-per-group window with a full
    deterministic order (weight desc, term asc). The document-frequency
    dimension is one small groupBy on the (doc, term) pairs — tf rows
    are unique by construction, so df is a plain count.
    """
    # tf feeds BOTH the document-frequency dimension and the weighted
    # join — checkpoint it or the corpus (doc, term) shuffle runs twice
    # in the one plan (Catalyst does not share a subtree between
    # branches)
    tf = (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.explode(words(text_col)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("weight").desc(), F.col("term").asc())
    return (
        tf.join(dfreq, "term")
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.expr("CAST(tf * 1000000 DIV df AS BIGINT)").alias("weight"),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def vocab_oov(
    documents: DataFrame,
    vocab_size: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary coverage: build the top-``vocab_size`` term
    vocabulary by global frequency (ties broken by term asc — fully
    deterministic), then per document count tokens outside it →
    (doc_id, n_tokens, n_oov, oov_ratio).

    The tokenizer-coverage scan every corpus pipeline runs before
    committing to a vocab/tokenizer: documents with high OOV are
    mis-languaged, encoding-corrupted, or out-of-domain. Two passes over
    the token table (global counts, then per-doc tally); the vocabulary
    is vocab_size rows — broadcast into the tally join, so the second
    pass is map-side. ``oov_ratio`` is a single IEEE division.
    """
    toks = documents.select(
        F.col(id_col).alias("doc_id"), F.explode(words(text_col)).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), 1)).cast("long").alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov") / F.col("n_tokens")).alias("oov_ratio"),
        )
    )


# (category, pattern, replacement) — applied in order; patterns chosen to
# behave identically under Java regex (Spark) and RE2 (DuckDB): ASCII
# classes, \b word boundaries, bounded repetition only.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_redact(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing for training corpora: (doc_id, n_email, n_ssn,
    n_phone, n_ipv4, clean_text).

    Category counts are taken on the ORIGINAL text (so a match consumed
    by an earlier replacement still counts once under its own category),
    then replacements apply in ``PII_PATTERNS`` order — SSN before the
    3-3-4 phone shape so the 3-2-4 grouping wins, dotted-quad IP last so
    ``<PHONE>`` replacements can't manufacture quads. Pure
    regexp_count/regexp_replace built-ins — whole-stage codegen, no
    UDFs, no shuffle (a map-only operator that composes with any
    downstream plan).
    """
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = t
    for _, pat, rep in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, rep)
    return documents.select(
        F.col(id_col).alias("doc_id"), *counts, clean.alias("clean_text")
    )


def parse_country_tuple(col: Column | str) -> Column:
    """Parse the reference's stringified affiliation tuple
    ``"('CAN', 'Grande Prairie')"`` into struct(countryCode, city)
    (/root/reference/src/notebooks/python/Geocoding.ipynb cell 12, which
    strips and splits by hand in pandas). Handles unicode city names
    (``"('TWN', '三芝區')"``, FIXTURES.md §5). Pure built-ins: regex
    extraction of the two quoted fields."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        F.regexp_extract(c, r"^\('([^']*)'", 1).alias("countryCode"),
        F.regexp_extract(c, r",\s*'([^']*)'\)$", 1).alias("city"),
    )


def reconstruct_abstract(indexed: Column | str) -> Column:
    """Rebuild abstract text from the MAG inverted index JSON
    (``{"IndexLength":N,"InvertedIndex":{word:[pos...]}}`` —
    /root/reference/data/samples/PaperAbstractsInvertedIndex.txt:1, a
    format the reference ships but never queries; F7). Pure built-ins:
    from_json → explode map to (word, positions) → position-sorted
    word array → join. Unfilled positions are simply absent."""
    from ..schemas import ABSTRACT_INDEX_SCHEMA

    c = F.col(indexed) if isinstance(indexed, str) else indexed
    parsed = F.from_json(c, ABSTRACT_INDEX_SCHEMA)
    # map<word, array<pos>> → array<struct<pos, word>> → sort → words
    entries = F.flatten(
        F.transform(
            F.map_entries(parsed["InvertedIndex"]),
            lambda e: F.transform(e["value"], lambda p: F.struct(p.alias("pos"), e["key"].alias("word"))),
        )
    )
    return F.array_join(F.transform(F.array_sort(entries), lambda s: s["word"]), " ")


def fingerprint(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, fingerprint) — polynomial rolling hash over words:
    fp = fold(fp*31 + len(word)*7 + first_char_code) mod p.

    Uses word lengths + first character codes (cheap, content-sensitive,
    identical in any engine with ascii()/length())."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: (
            acc * 31 + F.length(w).cast("long") * 7 + F.coalesce(F.ascii(w), F.lit(0)).cast("long")
        )
        % MERSENNE31,
    )
    return documents.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))


def line_dedup(
    documents: DataFrame,
    min_docs: int = 5,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text) — corpus-level line
    deduplication, the boilerplate-removal stage every web-scale
    curation pipeline runs (CCNet, Wenzek et al. 2020 LREC; RefinedWeb,
    Penedo et al. 2023; Gopher's repetition rules are the in-doc twin
    `repetition_stats` already covers): a line that appears in
    ``min_docs`` or more DISTINCT documents is boilerplate (nav bars,
    cookie banners, footers) and is struck from every document; the
    survivors reassemble in original order. Documents whose every line
    was boilerplate drop out (nothing left to train on).

    Scale shape: lines explode map-side with their position;
    frequency is a (line-hash → distinct-doc count) aggregation —
    md5 of the line travels through the exchange, never the line body;
    the frequent set is tiny by nature (boilerplate is the head of the
    distribution), so the strike is a BROADCAST anti-join against it —
    the line table itself never shuffles for the membership test. The
    only other shuffle is the per-document reassembly aggregation.
    """
    lines = documents.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("lh", F.md5(F.col("line")))
    freq = (
        lines.groupBy("lh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("lh")
    )
    kept = lines.join(F.broadcast(freq), "lh", "left_anti")
    n_lines = documents.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), sep)).cast("long").alias("n_lines"),
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    return rebuilt.join(n_lines, "doc_id").select(
        "doc_id", "n_lines", "n_kept", "clean_text"
    )


def quality_percentile_gate(
    documents: DataFrame,
    drop_bottom_pct: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    stratum_col: str = "source",
) -> DataFrame:
    """Per-source quantile gating: drop each source's worst
    ``drop_bottom_pct`` percent by quality score — the relative filter
    curation pipelines apply when absolute thresholds would gut clean
    sources and keep noisy ones' top end.

    (doc_id, source, score, cume, keep) — ``cume`` is ``cume_dist()``
    over the score within the source; ``keep`` is
    ``cume > drop_bottom_pct/100``. cume_dist ties HIGH (ties share the
    group's upper fraction), so an all-identical source keeps
    everything — the safe behavior for a drop-the-worst gate
    (percent_rank ties low and would silently drop a whole uniform
    source). One shuffle (the per-source window); at 100 TB the
    partitions are sources — if one source dominates, pre-split it into
    hash sub-strata, the same salting pattern as every skewed window.
    """
    from pyspark.sql import Window as W

    q = quality_score(documents, id_col=id_col, text_col=text_col).select(
        "doc_id", "score"
    )
    src = documents.select(
        F.col(id_col).alias("doc_id"), F.col(stratum_col).alias("source")
    )
    w = W.partitionBy("source").orderBy("score")
    cume = F.cume_dist().over(w)
    return (
        q.join(src, "doc_id")
        .select(
            "doc_id",
            "source",
            "score",
            cume.alias("cume"),
        )
        .withColumn(
            "keep", F.col("cume") > F.lit(drop_bottom_pct).cast("double") / 100.0
        )
    )


def build_inverted_index(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, index_length, inverted_index_json) — build the MAG
    abstract inverted index from text: the write-side twin of
    :func:`reconstruct_abstract` (format ``{"IndexLength":N,
    "InvertedIndex":{word:[pos...]}}``, /root/reference/data/samples/
    PaperAbstractsInvertedIndex.txt:1). The reference only ever ships
    this artifact; here it round-trips —
    ``reconstruct_abstract(build_inverted_index(t)) == t``.

    Positions are 0-based token offsets; map keys sort ascending so the
    serialization is deterministic (MAG's own key order is arbitrary).

    Scale shape: ZERO exchanges. doc_id is the row grain of the input,
    so the old posexplode → groupBy(doc_id, word) → groupBy(doc_id)
    pipeline (two shuffles of the exploded posting table) merely
    reassembled rows that one in-row pass builds directly: sort the
    (word, pos) pairs, find the run starts, emit one map entry per run
    — O(n log n) per document, embarrassingly parallel at any corpus
    size. NULL-text rows are dropped, matching the old posexplode
    semantics (a NULL token array generates no rows).
    """
    toks = words(F.col(text_col))
    base = documents.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_t"),
    )
    # named intermediates: composing HOFs inline re-evaluates the whole
    # upstream expression per element (the hashed_shingle_arrays lesson)
    paired = base.select(
        "doc_id",
        F.size("_t").cast("long").alias("index_length"),
        F.expr("array_sort(transform(_t, (w, i) -> struct(w AS word, i AS pos)))").alias(
            "_s"
        ),
    )
    runs = paired.select(
        "doc_id",
        "index_length",
        "_s",
        # 0-based indices where a new word's run begins (index 0 always;
        # sequence starts at 1 so _s[i-1] never goes negative under ANSI;
        # the single-token guard matters because sequence(1, 0) is the
        # DESCENDING [1, 0], not empty)
        F.expr(
            "CASE WHEN size(_s) < 2 THEN array(0)"
            " ELSE concat(array(0), filter(sequence(1, size(_s) - 1),"
            " i -> _s[i].word != _s[i - 1].word)) END"
        ).alias("_starts"),
    )
    inv = F.expr(
        "map_from_entries(transform(_starts, (s, si) -> struct("
        " _s[s].word AS word,"
        " transform(sequence(s, coalesce(try_element_at(_starts, si + 2), size(_s)) - 1),"
        "           j -> _s[j].pos) AS poss)))"
    )
    return runs.select(
        "doc_id",
        "index_length",
        F.to_json(
            F.struct(
                F.col("index_length").cast("int").alias("IndexLength"),
                inv.alias("InvertedIndex"),
            )
        ).alias("inverted_index_json"),
    )


# --- content-defined chunking (CDC) -----------------------------------------

CDC_BASE = 2_097_169        # prime > max Unicode codepoint (0x10FFFF)
CDC_DIVISOR = 64            # boundary when window hash % divisor == 0
CDC_WINDOW = 4


def cdc_chunks(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking + chunk-hash dedup: (doc_id, chunk_idx,
    start, chunk_len, chunk_md5, n_docs_sharing).

    The LBFS/FastCDC idea (Muthitacharoen et al. 2001; Xia et al. 2016,
    both public) applied to text: a position ends a chunk when the
    rolling hash of the trailing 4-codepoint window is ≡ 0 mod
    ``divisor``, so boundaries move WITH the content — inserting a
    sentence shifts every byte offset but reproduces the same chunks
    after the edit point, which fixed-width windows cannot do. Shared
    ``chunk_md5`` across documents is partial-duplication evidence at
    sub-document granularity (the dedup grain between exact-doc and
    passage windows).

    Engine shape: the per-position hash, the boundary scan, and the
    chunk assembly are ALL array higher-order functions inside the row —
    no per-character explode, no window over positions, so a document
    costs O(len) map-side work and the only shuffle is the chunk-hash
    dedup join (high-cardinality md5 keys). The window hash is Horner
    mod 2^31-1 over codepoints (``ascii`` == DuckDB ``unicode``,
    probe-verified), so the DuckDB oracle replays it bit-for-bit.

    The codepoint array materializes as a NAMED COLUMN behind a
    computed-column filter (the ``_token_hash_base`` discipline,
    operators/dedup.py:147): inlined into the HOF lambdas, the
    ``split`` re-evaluates per element_at and the hash goes O(len²)
    per document — measured as a hang at sf0.1 vs seconds with the
    barrier.
    """
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.transform(F.split(F.col(text_col), ""), lambda c: F.ascii(c).cast("long")).alias("_c"),
        F.length(F.col(text_col)).alias("_n"),
    ).filter(F.col("_n") >= 1)  # computed-column filter = collapse barrier
    n = F.col("_n")

    def code(i):
        return F.element_at(F.col("_c"), i.cast("int"))

    def whash(i):
        h = code(i - 3)
        for off in (2, 1, 0):
            h = (h * CDC_BASE + code(i - off)) % MERSENNE31
        return h

    bounds = F.when(
        n >= CDC_WINDOW,
        F.filter(
            F.sequence(F.lit(CDC_WINDOW), n),
            lambda i: whash(i) % divisor == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(1)), F.transform(bounds, lambda b: b + 1))
    ends = F.concat(bounds, F.array(n))
    segs = F.filter(
        F.zip_with(starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))),
        lambda p: p["e"] >= p["s"],
    )
    chunks = (
        base.select("doc_id", "_t", F.posexplode(segs))
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("long").alias("chunk_idx"),
            F.col("col.s").cast("long").alias("start"),
            (F.col("col.e") - F.col("col.s") + 1).cast("long").alias("chunk_len"),
            F.md5(F.expr("substring(_t, col.s, col.e - col.s + 1)")).alias("chunk_md5"),
        )
    )
    # n_docs_sharing as ONE window over the chunk table instead of a
    # groupBy + self-join back: the join form evaluates the per-position
    # Horner-hash Generate subtree TWICE (once per branch — the two scans
    # are different subtrees, so no exchange reuse), while the window
    # form hashes each document once and pays a single chunk_md5 exchange
    # (2 exchanges + double compute -> 1 exchange; the join concentrated
    # per-key rows on one task anyway, so the skew posture is unchanged).
    from pyspark.sql import Window as W

    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start",
        "chunk_len",
        "chunk_md5",
        F.size(F.collect_set("doc_id").over(W.partitionBy("chunk_md5")))
        .cast("long")
        .alias("n_docs_sharing"),
    )


def cdc_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = CDC_DIVISOR,
) -> str:
    """DuckDB twin of :func:`cdc_chunks`: per-position window hash, the
    boundary count before each position assigns its chunk, chunks
    reassemble via group-by (same Horner/mod literals)."""
    return f"""
        WITH t AS (
            SELECT {id_col} AS doc_id, {text_col} AS txt, length({text_col}) AS n
            FROM {table} WHERE length({text_col}) >= 1
        ),
        pos AS (
            SELECT doc_id, txt, n, unnest(generate_series(1, n)) AS p FROM t
        ),
        hb AS (
            SELECT doc_id, txt, n, p,
                   CASE WHEN p >= {CDC_WINDOW} THEN
                       ((((CAST(unicode(substr(txt, p-3, 1)) AS BIGINT) * {CDC_BASE}
                           + unicode(substr(txt, p-2, 1))) % {MERSENNE31}) * {CDC_BASE}
                           + unicode(substr(txt, p-1, 1))) % {MERSENNE31} * {CDC_BASE}
                           + unicode(substr(txt, p, 1))) % {MERSENNE31}
                   END AS h
            FROM pos
        ),
        b AS (
            SELECT doc_id, txt, n, p,
                   CASE WHEN h IS NOT NULL AND h % {divisor} = 0 THEN 1 ELSE 0 END AS is_b
            FROM hb
        ),
        c AS (
            SELECT doc_id, txt, p,
                   SUM(is_b) OVER (PARTITION BY doc_id ORDER BY p
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - is_b AS ci
            FROM b
        ),
        ch AS (
            SELECT doc_id, CAST(ci + 1 AS BIGINT) AS chunk_idx,
                   CAST(MIN(p) AS BIGINT) AS start,
                   CAST(COUNT(*) AS BIGINT) AS chunk_len,
                   md5(substr(ANY_VALUE(txt), MIN(p), COUNT(*))) AS chunk_md5
            FROM c GROUP BY doc_id, ci
        ),
        sh AS (
            SELECT chunk_md5, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_sharing
            FROM ch GROUP BY chunk_md5
        )
        SELECT doc_id, chunk_idx, start, chunk_len, ch.chunk_md5, n_docs_sharing
        FROM ch JOIN sh USING (chunk_md5)
    """


def rare_bigram_ratio(
    documents: DataFrame,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, rare_permille) — corpus-LM quality signal:
    the per-document share of bigrams whose CORPUS frequency is below
    ``min_count``, in integer permille (floor). The integerized stand-in
    for KenLM-perplexity filtering (CCNet §4.3; Wenzek et al. 2020): a
    document whose word transitions are mostly corpus-rare is noise,
    boilerplate, or another language — exactly what LM-perplexity
    gates catch — but the score here is pure counting, so it stays
    hash-verifiable cross-engine (no floating log-probs).

    Plan shape: one exchange to count bigrams corpus-wide, then the
    frequent-bigram dictionary (count ≥ min_count — the HEAD of the
    Zipf curve, small by construction) broadcasts back and each doc's
    bigrams probe it MAP-SIDE; one final exchange re-groups per doc.
    At 100 TB the dictionary is min_count-bounded: raise min_count if
    the frequent head outgrows the broadcast budget. Documents with fewer
    than two tokens have no bigrams and are not emitted (documented;
    the oracle filters identically).
    """
    t = F.col("_t")  # materialized once below so the split isn't re-derived per use
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat(F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)),
    )
    exploded = (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.filter(words(text_col), lambda w: w != "").alias("_t"),
        )
        .filter(F.size("_t") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bigram"))
    )
    freq = (
        exploded.groupBy("bigram")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("bigram", F.lit(1).alias("_freq"))
    )
    probed = exploded.join(F.broadcast(freq), "bigram", "left")
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.when(F.col("_freq").isNull(), 1).otherwise(0)).alias("_rare"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("1000 * _rare div n_bigrams").alias("rare_permille"),
        )
    )


def synth_html(
    documents: DataFrame, words_per_para: int = 10, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, html) — deterministic HTML page per document: the text
    re-flowed into ``words_per_para``-word ``<p>`` blocks inside
    ``<div id="main">``, wrapped in the boilerplate a crawler actually
    sees (title, inline style + script, nav links, footer), entities
    encoded. Pure built-ins (split/slice/transform/concat) — the synth
    side of the WARC→text round trip that pins :func:`html_extract`."""
    t = F.filter(words("text"), lambda w: w != "")
    n_paras = F.expr(f"(size(_t) + {words_per_para - 1}) div {words_per_para}")
    para = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("_t"), i * words_per_para + 1, words_per_para), " "
    )
    enc = lambda c: F.replace(  # noqa: E731
        F.replace(F.replace(c, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"),
        F.lit("&gt;"),
    )
    paras = F.when(F.size("_t") == 0, F.lit("")).otherwise(
        F.aggregate(
            F.transform(F.sequence(F.lit(0), n_paras - 1), lambda i: enc(para(i))),
            F.lit(""),
            lambda acc, p: F.concat(acc, F.lit("<p>"), p, F.lit("</p>")),
        )
    )
    did = F.col(id_col).cast("string")
    return documents.withColumn("_t", t).select(
        F.col(id_col).alias("doc_id"),
        F.concat(
            F.lit("<html><head><title>Doc "), did, F.lit("</title>"),
            F.lit("<style>body { font: 14px sans-serif; }</style>"),
            F.lit("<script>var docId = "), did, F.lit(";</script></head>"),
            F.lit('<body><nav><a href="/">Home</a> | <a href="/s/'),
            F.col("source"), F.lit('">'), F.col("source"), F.lit("</a></nav>"),
            F.lit('<div id="main"><h1>Doc '), did, F.lit("</h1>"),
            paras,
            F.lit("</div><footer>&copy; corpus mirror ("), F.col("lang"),
            F.lit(")</footer></body></html>"),
        ).alias("html"),
    )


def html_extract(
    pages: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """(doc_id, title, clean_text) — boilerplate removal / main-content
    extraction (the trafilatura/jusText step of a crawl pipeline,
    relationally): drop ``<script>``/``<style>`` blocks, drop
    ``nav``/``header``/``footer`` elements, take the ``<title>`` and
    ONLY the ``<p>``-block text (headings and link chrome are
    boilerplate), decode entities, collapse whitespace. Every step is a
    JVM-side regexp over one column — no Python, no shuffle: the
    extraction is embarrassingly parallel at any corpus size, exactly
    how a WARC→text pass must behave at 100 TB.

    Pinned end-to-end by the :func:`synth_html` round trip: extracting
    a synthesized page must reproduce the original document text
    whitespace-normalized (hash-oracled in ``text_html_extract``)."""
    h = F.col(html_col)
    title = F.regexp_extract(h, "<title>(.*?)</title>", 1)
    stripped = F.regexp_replace(
        F.regexp_replace(h, r"(?s)<(script|style)[^>]*>.*?</\1>", " "),
        r"(?s)<(nav|header|footer)[^>]*>.*?</\1>",
        " ",
    )
    joined = F.array_join(
        F.regexp_extract_all(stripped, F.lit(r"(?s)<p>(.*?)</p>"), F.lit(1)), " "
    )
    dec = lambda c: F.replace(  # noqa: E731
        F.replace(F.replace(c, F.lit("&lt;"), F.lit("<")), F.lit("&gt;"), F.lit(">")),
        F.lit("&amp;"),
        F.lit("&"),
    )
    clean = F.trim(F.regexp_replace(dec(joined), r"\s+", " "))
    return pages.select(
        F.col(id_col).alias("doc_id"),
        dec(title).alias("title"),
        clean.alias("clean_text"),
    )


def intra_doc_dedup(
    documents: DataFrame,
    window_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_chunks, n_kept, clean_text) — IN-document repetition
    removal at a fixed token-window grain: the document is chunked into
    ``window_tokens``-token windows and every repeat of an
    already-seen window (within the same document) is dropped, first
    occurrence kept, order preserved.

    This is the removal twin of `repetition_stats` (which only scores)
    and the in-doc complement of the corpus-level `line_dedup` /
    `dedup_dup_spans` pair: model-junk documents (looping generations,
    scraped templates) often repeat long spans inside ONE document,
    which corpus-frequency rules never see.

    Scale shape: the whole operator is in-row higher-order functions —
    chunking via slice/sequence, the seen-set scan via an aggregate
    accumulator — so it is a zero-shuffle map over the corpus, no state
    crosses documents, and the per-doc cost is O(k²) on k = chunk
    count (k ≲ 10³ for real web documents at w=10). The oracle replays
    it relationally (unnest + first-occurrence window + ordered
    string_agg), so both formulations must agree chunk-for-chunk.
    """
    # NULL text behaves like empty text (one empty chunk kept) instead
    # of nulling the whole row — keeps the relational twin's shape.
    # The token array is materialized as a NAMED column before the
    # chunking lambda: an unnamed split() referenced inside a lambda is
    # re-evaluated per chunk (the Catalyst no-CSE-in-lambdas pitfall,
    # SCALE.md), turning per-doc cost quadratic.
    toks = F.col("_t")
    n_chunks = F.ceil(F.size(toks) / F.lit(window_tokens)).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.array_join(
            F.slice(toks, i * window_tokens + 1, window_tokens), " "
        ),
    )
    documents = documents.withColumn(
        "_t", F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    )
    kept = F.aggregate(
        chunks,
        F.struct(
            F.array().cast("array<string>").alias("seen"),
            F.array().cast("array<string>").alias("out"),
        ),
        lambda acc, x: F.when(
            F.array_contains(acc["seen"], x), acc
        ).otherwise(
            F.struct(
                F.array_append(acc["seen"], x).alias("seen"),
                F.array_append(acc["out"], x).alias("out"),
            )
        ),
        lambda acc: acc["out"],
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        n_chunks.alias("n_chunks"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def synth_html_linked(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, html) — :func:`synth_html` pages plus a deterministic
    related-links block: document *i* links to documents ``i div 2``,
    ``i div 3`` and ``i div 5`` (self-links dropped), giving the
    hub-biased DAG shape real link graphs have (low ids collect
    in-links). Pure id arithmetic, so a link-extraction pass over these
    pages is arithmetic-replayable in SQL — the synth side of the
    crawl → link-graph round trip."""
    did = F.col("doc_id")

    def link(dst):
        s = dst.cast("string")
        return F.when(
            dst != did,
            F.concat(F.lit('<a href="/doc/'), s, F.lit('">doc '), s, F.lit("</a>")),
        ).otherwise(F.lit(""))

    block = F.concat(
        F.lit('<div id="related">'),
        link(F.expr(f"{id_col} div 2")),
        link(F.expr(f"{id_col} div 3")),
        link(F.expr(f"{id_col} div 5")),
        F.lit("</div>"),
    )
    return synth_html(documents).withColumn(
        "html",
        F.replace(
            F.col("html"), F.lit("</div><footer>"), F.concat(block, F.lit("</div><footer>"))
        ),
    )


def html_links(
    pages: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """(doc_id, pos, href, anchor) — anchor extraction from rendered
    pages: the link-graph construction step of a crawl pipeline (the
    edges PageRank-style quality signals and frontier schedulers
    consume). Pure JVM regexps over one column — no Python, no
    shuffle; ``pos`` is the in-page link order so the output is
    deterministic row-for-row."""
    tags = F.regexp_extract_all(
        F.col(html_col), F.lit('<a href="[^"]*">[^<]*</a>'), 0
    )
    exploded = pages.select(
        F.col(id_col).alias("doc_id"), F.posexplode(tags).alias("pos", "_tag")
    )
    return exploded.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.regexp_extract(F.col("_tag"), '<a href="([^"]*)"', 1).alias("href"),
        F.regexp_extract(F.col("_tag"), ">([^<]*)</a>", 1).alias("anchor"),
    )


def quality_score_milli(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, score_milli) — the integer quality score alone, as a
    pure map (no aggregation), so it applies identically to a batch
    frame or an APPEND STREAM. score_milli =
    (min(n_words,100) · n_alpha · 1000) div (100 · n_chars); empty/null
    text scores 0."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.split(F.lower(t), " ")
    n_chars = F.length(t).cast("long")
    n_words = F.size(F.filter(toks, lambda x: x != "")).cast("long")
    n_alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", "")).cast("long")
    score = F.when(F.col("_nc") == 0, F.lit(0).cast("long")).otherwise(
        F.expr("(least(_nw, 100L) * _na * 1000L) div (100L * _nc)")
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("_nc"),
        n_words.alias("_nw"),
        n_alpha.alias("_na"),
    ).select("doc_id", score.alias("score_milli"))


def quality_gate_against_cutoff(
    documents: DataFrame,
    static_corpus: DataFrame,
    min_decile: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score_milli) of documents at or above the static
    corpus's ``min_decile`` quality cutoff — the decile gate in its
    STREAMING-compatible form: the cutoff value (smallest score_milli
    whose decile ≥ min_decile on the static corpus) is one broadcast
    row; the gate itself is a pure in-row score + compare, so
    ``documents`` may be an append stream (the temperature-gate
    pattern: learn on the static corpus, admit at ingest,
    stream == batch row for row)."""
    cut = (
        quality_deciles(static_corpus, id_col=id_col, text_col=text_col)
        .filter(F.col("decile") >= int(min_decile))
        .agg(F.min("score_milli").alias("_cut"))
        .localCheckpoint(eager=True)
    )
    scored = quality_score_milli(documents, id_col=id_col, text_col=text_col)
    return (
        scored.crossJoin(F.broadcast(cut))
        .filter(F.col("score_milli") >= F.col("_cut"))
        .select("doc_id", "score_milli")
    )


def quality_deciles(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, score_milli, decile) — exact value-bucket deciles of an
    integer quality score, the input every curriculum/filter-sweep step
    needs (FineWeb-style: train on the top deciles, or order batches
    easy→hard).

    score_milli = (min(n_words,100) · n_alpha · 1000) div (100 · n_chars)
    — the engine's length×cleanliness heuristic on the integer lattice
    (quality_score keeps the float twin for human consumption). The
    decile of a score VALUE v is (10 · #{docs with score < v}) div N —
    all ties share one decile, so the assignment is a pure function of
    the value distribution, independent of any row order.

    Scale shape — deliberately NOT a global rank window (that is a
    single-partition sort of the corpus): score_milli has ≤ 1001
    distinct values, so the cutoffs come from a BOUNDED histogram (one
    partial-aggregated groupBy), the cumulative rule runs over ≤ 1001
    rows, and the decile attaches back through a broadcast join — the
    corpus is scanned, never globally sorted."""
    from pyspark.sql import Window as W

    base = quality_score_milli(documents, id_col=id_col, text_col=text_col)
    # The ≤1001-row histogram feeds BOTH the total and the cumulative
    # cutoffs; without the checkpoint the corpus aggregation underneath
    # executes twice in the one plan (Catalyst does not share a subtree
    # between branches). Bounded rows → free.
    hist = (
        base.groupBy("score_milli")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .localCheckpoint()
    )
    w = W.orderBy("score_milli").rowsBetween(W.unboundedPreceding, -1)
    total = hist.agg(F.sum("_c").cast("long").alias("_n"))
    cuts = (
        hist.withColumn("_below", F.coalesce(F.sum("_c").over(w), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "score_milli",
            F.expr("(10 * _below) div _n").cast("long").alias("decile"),
        )
    )
    return base.join(F.broadcast(cuts), "score_milli").select(
        "doc_id", "score_milli", "decile"
    )

def normalize_text(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, norm_text, n_tokens) — the CCNet-style normalization
    pass that precedes hashing/dedup in every web-corpus pipeline
    (lowercase → strip URLs → strip non-alphanumerics → collapse
    whitespace → trim): two near-identical pages must normalize to one
    string BEFORE exact/MinHash dedup or the dedup only sees the byte
    noise. Pure JVM regexp chain over conservative character classes
    (identical semantics in Java regex and DuckDB's RE2) — zero
    shuffles, zero Python; null text normalizes to null (pass-through,
    the LEFT-JOIN discipline)."""
    t = F.col(text_col)
    norm = F.lower(t)
    norm = F.regexp_replace(norm, "https?://[^ ]*", " ")
    norm = F.regexp_replace(norm, "[^a-z0-9 ]", " ")
    norm = F.trim(F.regexp_replace(norm, " +", " "))
    n_tokens = F.when(norm == "", F.lit(0)).otherwise(
        F.size(F.split(norm, " "))
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        norm.alias("norm_text"),
        n_tokens.cast("long").alias("n_tokens"),
    )


def langid_confusion(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    true_lang_col: str = "lang",
) -> DataFrame:
    """(true_lang, pred_lang, n) — the confusion matrix of the
    stopword-vote language identifier against the corpus's labeled
    language column: the eval step that tells you whether the langid
    gate is safe to filter on (per-language precision/recall fall out
    of the matrix rows/columns). One langid pass + one tiny
    (true, pred)-grain rollup."""
    preds = language_id(documents, id_col=id_col, text_col=text_col).select(
        "doc_id", "pred_lang"
    )
    truth = documents.select(
        F.col(id_col).alias("doc_id"), F.col(true_lang_col).alias("true_lang")
    )
    return (
        truth.join(preds, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )

def gopher_quality_flags(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_words, mean_word_len_milli, symbol_word_ppm,
    alpha_word_ppm, stopword_hits, f_*, keep) — the canonical Gopher
    document-quality RULE SET (Rae et al. 2021 §A1.1, public paper),
    each rule an integer-decided flag (1 = violates):

      f_word_count      n_words outside [50, 100000]
      f_mean_word_len   mean word length outside [3, 10] chars
      f_symbol_ratio    '#'/'…'-to-word ratio > 0.1
      f_alpha_words     < 80% of words contain an alphabetic char
      f_stopwords       fewer than 2 stopword hits

    keep = 1 iff no flag fires. Every ratio is compared on the integer
    lattice (cross-multiplication, never float division), so the
    decision — the thing pipelines branch on — hashes identically on
    any engine; milli/ppm diagnostic columns are integer `div`s. Pure
    per-row expressions, zero shuffle: the 100 TB gate is one map pass.
    (The repetition half of §A1.1 is `repetition_stats`; the two
    compose as the full Gopher filter.)"""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(F.lower(t), " "), lambda x: x != "")
    n_words = F.size(toks).cast("long")
    # word-length stats over the token array (in-row)
    total_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_symbols = (
        F.length(t) - F.length(F.regexp_replace(t, "[#…]", ""))
    ).cast("long")
    alpha_words = F.size(
        F.filter(toks, lambda x: x.rlike("[a-z]"))
    ).cast("long")
    sw = lit_strings(all_stopwords())
    stop_hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x))).cast("long")

    f_word_count = ((n_words < 50) | (n_words > 100_000)).cast("long")
    # 3 <= total_chars/n_words <= 10  <=>  3*n <= chars AND chars <= 10*n
    f_mean_word_len = (
        (total_chars < 3 * n_words) | (total_chars > 10 * n_words)
    ).cast("long")
    # symbols/words > 0.1  <=>  10*symbols > words
    f_symbol_ratio = (10 * n_symbols > n_words).cast("long")
    # alpha_words/words < 0.8  <=>  5*alpha < 4*words
    f_alpha_words = (5 * alpha_words < 4 * n_words).cast("long")
    f_stopwords = (stop_hits < 2).cast("long")
    flags = f_word_count + f_mean_word_len + f_symbol_ratio + f_alpha_words + f_stopwords
    return documents.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        total_chars.alias("_tc"),
        n_symbols.alias("_ns"),
        alpha_words.alias("_aw"),
        stop_hits.alias("stopword_hits"),
        f_word_count.alias("f_word_count"),
        f_mean_word_len.alias("f_mean_word_len"),
        f_symbol_ratio.alias("f_symbol_ratio"),
        f_alpha_words.alias("f_alpha_words"),
        f_stopwords.alias("f_stopwords"),
        (flags == 0).cast("long").alias("keep"),
    ).select(
        "doc_id",
        "n_words",
        F.expr(
            "CASE WHEN n_words = 0 THEN 0L ELSE (_tc * 1000) div n_words END"
        ).alias("mean_word_len_milli"),
        F.expr(
            "CASE WHEN n_words = 0 THEN 0L ELSE (_ns * 1000000) div n_words END"
        ).alias("symbol_word_ppm"),
        F.expr(
            "CASE WHEN n_words = 0 THEN 0L ELSE (_aw * 1000000) div n_words END"
        ).alias("alpha_word_ppm"),
        "stopword_hits",
        "f_word_count",
        "f_mean_word_len",
        "f_symbol_ratio",
        "f_alpha_words",
        "f_stopwords",
        "keep",
    )


def c4_line_filter(
    pages: DataFrame,
    min_words_per_line: int = 3,
    min_kept_lines: int = 5,
    bad_words: list[str] | None = None,
    sep: str = "\n",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_lines, n_kept, f_lorem, f_brace, f_bad_words,
    f_too_few_lines, keep, clean_text) — the canonical C4 line-level
    cleaning rules (Raffel et al. 2020, JMLR §2.2 — the published
    recipe behind the C4 corpus; the reference has no text cleaning at
    all, its corpus stages end at MAG field rollups):

      line kept iff  it ends in a terminal punctuation mark
                     ('.', '!', '?', or a closing double quote),
                 AND  it has at least ``min_words_per_line`` words,
                 AND  it does not mention 'javascript';
      page kept iff  at least ``min_kept_lines`` lines survived,
                 AND  the raw page has no 'lorem ipsum', no '{', and
                      no token from the ``bad_words`` list.

    ``clean_text`` is the surviving lines rejoined in original order —
    this is an ACTION step (like ``line_dedup`` / ``strip_duplicate_
    spans``), not just a verdict: dropped pages keep their diagnostic
    row with clean_text = '' so downstream gates can count what died
    and why.

    Scale shape: every rule is an in-row array/string expression over
    the page — ZERO shuffles, zero joins, no Python; cleaning 100 TB is
    one map pass that composes with the scan (the same posture as
    ``gopher_quality_flags`` and ``normalize_text``). All decisions are
    integer/character comparisons, so the verdicts hash identically on
    any engine."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, sep)

    def _line_ok(l):
        last = F.substring(l, -1, 1)
        ends = last.isin(".", "!", "?", '"')
        words = F.size(F.filter(F.split(l, " "), lambda w: w != ""))
        no_js = F.instr(F.lower(l), "javascript") == 0
        return ends & (words >= min_words_per_line) & no_js

    kept = F.filter(lines, _line_ok)
    n_lines = F.size(lines).cast("long")
    n_kept = F.size(kept).cast("long")

    f_lorem = (F.instr(F.lower(t), "lorem ipsum") > 0).cast("long")
    f_brace = (F.instr(t, "{") > 0).cast("long")
    if bad_words:
        bw = lit_strings(sorted(set(bad_words)))
        toks = F.filter(F.split(F.lower(t), "[ \n]"), lambda x: x != "")
        f_bad = F.arrays_overlap(toks, bw).cast("long")
    else:
        f_bad = F.lit(0).cast("long")
    f_too_few = (n_kept < min_kept_lines).cast("long")
    keep = ((f_lorem + f_brace + f_bad + f_too_few) == 0).cast("long")

    return pages.select(
        F.col(id_col).alias("doc_id"),
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept"),
        f_lorem.alias("f_lorem"),
        f_brace.alias("f_brace"),
        f_bad.alias("f_bad_words"),
        f_too_few.alias("f_too_few_lines"),
        keep.alias("keep"),
        F.when(keep == 1, F.array_join(kept, sep)).otherwise(F.lit("")).alias(
            "clean_text"
        ),
    )


def span_corruption(
    documents: DataFrame,
    block: int = 20,
    offset_space: int = 17,
    max_span: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, n_spans, n_masked, input_text, targets_text)
    — T5-style span-corruption target synthesis (Raffel et al. 2020
    §3.1.4: mask contiguous token spans, replace each with a sentinel,
    emit the masked spans as the target sequence — the preprocessing
    step that turns a text corpus into denoising training pairs).

    Deterministic block-grid variant: tokens partition into ``block``-
    sized blocks; block k masks one span starting at offset
    fold(doc:k) mod ``offset_space`` of length 1 + fold(doc:k:len) mod
    ``max_span`` (clipped to the block), giving ≈ 2/20 = 10–15%
    corruption with non-overlapping spans BY CONSTRUCTION — no
    sequential not-already-inside-a-span state, so the whole transform
    stays in-row (T5 proper renumbers sentinels consecutively; here
    the sentinel carries the block index — documented deviation that
    keeps the op a pure per-row map). Blocks whose offset falls past
    their end mask nothing.

    input_text:   tokens with each span replaced by <extra_id_k>
    targets_text: <extra_id_k> followed by that span's tokens, in
                  block order

    Scale shape: pure in-row array expressions over a NAMED token
    column (the lambda-CSE rule) — zero shuffles; synthesizing
    training pairs for 100 TB is one map pass."""
    h = lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")  # noqa: E731
    d = F.col("doc_id")

    base = documents.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
            lambda t: t != "",
        ).alias("_t"),
    )
    t = F.col("_t")
    n = F.size(t)
    # greatest(1, ...) guards empty docs: sequence(0, -1) would DESCEND
    # and emit phantom blocks; a single degenerate block masks nothing
    nblocks = F.greatest(F.lit(1), F.ceil(n / block)).cast("int")

    def _block(k):
        bstart = k * block  # 0-based
        blen = F.least(F.lit(block), n - bstart)
        off = h(F.concat(d.cast("string"), F.lit(":"), k.cast("string"))) % offset_space
        ln = (
            h(F.concat(d.cast("string"), F.lit(":"), k.cast("string"), F.lit(":len")))
            % max_span
            + 1
        )
        has = off < blen
        l_eff = F.least(ln, blen - off)
        sent = F.concat(F.lit("<extra_id_"), k.cast("string"), F.lit(">"))
        pre = F.slice(t, (bstart + 1).cast("int"), F.when(has, off).otherwise(blen).cast("int"))
        post = F.when(
            has & (blen - off - l_eff > 0),
            F.slice(t, (bstart + off + l_eff + 1).cast("int"), (blen - off - l_eff).cast("int")),
        ).otherwise(F.array().cast("array<string>"))
        masked = F.when(has, F.slice(t, (bstart + off + 1).cast("int"), l_eff.cast("int"))).otherwise(
            F.array().cast("array<string>")
        )
        inp = F.concat(
            pre,
            F.when(has, F.array(sent)).otherwise(F.array().cast("array<string>")),
            post,
        )
        tgt = F.when(has, F.concat(F.array(sent), masked)).otherwise(
            F.array().cast("array<string>")
        )
        return F.struct(
            inp.alias("inp"),
            tgt.alias("tgt"),
            has.cast("long").alias("spans"),
            F.when(has, l_eff).otherwise(F.lit(0)).cast("long").alias("masked"),
        )

    # name the block array: four output columns consume it, and a
    # lambda-bearing expression gets no subexpression elimination (the
    # SCALE.md rule) — inline it and every md5/slice runs four times
    staged = base.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.transform(F.sequence(F.lit(0), nblocks - 1), _block).alias("_b"),
    )
    b = F.col("_b")
    return staged.select(
        "doc_id",
        "n_tokens",
        F.aggregate(
            b, F.lit(0).cast("long"), lambda acc, x: acc + x["spans"]
        ).alias("n_spans"),
        F.aggregate(
            b, F.lit(0).cast("long"), lambda acc, x: acc + x["masked"]
        ).alias("n_masked"),
        F.array_join(F.flatten(F.transform(b, lambda x: x["inp"])), " ").alias(
            "input_text"
        ),
        F.array_join(F.flatten(F.transform(b, lambda x: x["tgt"])), " ").alias(
            "targets_text"
        ),
    )


def bigram_surprisal(
    documents: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bigrams, surprisal_milli) — per-document integer
    surprisal under a bigram LM trained on the corpus itself: the
    CCNet-style perplexity filter (Wenzek et al. 2020 §4.3 — bucket
    documents by LM perplexity; here the LM is the corpus's own bigram
    table, the degenerate but deterministic form) on the integer
    lattice, so both engines replay it bit-for-bit.

    Per bigram occurrence (w1, w2):

        s = ilog2(ctx(w1)) - ilog2(c(w1, w2))   >= 0

    where ctx(w1) = Σ_x c(w1, x) is w1's left-context count, c the
    bigram count, and ilog2(x) = floor(log2 x) computed EXACTLY as
    ``length(bin(x)) - 1`` (minimal binary string in both Spark and
    DuckDB) — an integer-exact stand-in for -log2 p(w2|w1) that keeps
    the hash gate float-free (true logs differ across engines in the
    last ulp). Documents full of formulaic, repeated bigrams score
    near 0; documents of rare transitions score high — the same
    head/middle/tail separation CCNet buckets on.

        surprisal_milli = (1000 · Σ s) div n_bigrams

    Docs with < 2 tokens return (0, 0) via a map-side union off the
    same scan — no corpus self-join to re-attach them.

    Scale shape: the bigram/context tables are corpus-vocab-bounded
    aggregates (2 exchanges); scoring is two equi-joins on the bigram/
    context keys + the per-doc rollup. Trained-on-self means every
    document bigram exists in the table — no smoothing path needed.
    Stopword bigrams are the hot keys; the joins are AQE-skew-eligible
    (no salting shipped: the hot rows are counts, a few bytes each).
    No counterpart in the reference (its text surface ends at scalar
    string functions, StaticNet.scala:200-240)."""
    from pyspark.sql import Window as W

    t = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    base = documents.select(F.col(id_col).alias("doc_id"), t.alias("_t"))
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_t")) - 1),
        lambda i: F.struct(
            F.element_at(F.col("_t"), i).alias("w1"),
            F.element_at(F.col("_t"), i + 1).alias("w2"),
        ),
    )
    bg = (
        base.filter(F.size("_t") >= 2)
        .select("doc_id", F.explode(pair_arr).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # the LM: one corpus-grain aggregate; ctx(w1) = Σ_w2 c(w1,w2)
    # derives from the bigram table itself with a VOCAB-grain window —
    # no second corpus aggregate, and the probe join stays single
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("_cbg"))
    lm = bgc.withColumn(
        "_cctx", F.sum("_cbg").over(W.partitionBy("w1"))
    )
    scored = (
        bg.join(lm, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("1000L * sum(length(bin(_cctx)) - length(bin(_cbg))) div count(1)")
            .cast("long")
            .alias("surprisal_milli"),
        )
    )
    degenerate = base.filter(F.size("_t") < 2).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_bigrams"),
        F.lit(0).cast("long").alias("surprisal_milli"),
    )
    return scored.unionByName(degenerate)


def bigram_lm_topk(
    documents: DataFrame,
    k: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """[(w1, w2, s)] — the k most frequent corpus bigrams with their
    integer surprisal s = ilog2(ctx(w1)) - ilog2(c(w1,w2)): the PRUNED
    bigram LM (CCNet prunes its KenLM the same way — the hot head of
    the distribution carries the perplexity signal; the long tail is
    defaulted). Deterministic tie-break (count desc, w1 asc, w2 asc).

    Bounded model metadata: k rows collect to the driver (the
    classifier-weights / DSIR-histogram discipline) so the gate built
    from them is a PURE MAP — streamable, broadcast-free. Guarded at
    k ≤ 100_000."""
    if k > 100_000:
        raise ValueError(f"k={k}: the pruned LM is driver metadata; keep it bounded")
    from pyspark.sql import Window as W

    t = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    base = documents.select(F.col(id_col).alias("doc_id"), t.alias("_t"))
    pair_arr = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_t")) - 1),
        lambda i: F.struct(
            F.element_at(F.col("_t"), i).alias("w1"),
            F.element_at(F.col("_t"), i + 1).alias("w2"),
        ),
    )
    bg = (
        base.filter(F.size("_t") >= 2)
        .select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    lm = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("_cbg"))
        .withColumn("_cctx", F.sum("_cbg").over(W.partitionBy("w1")))
        .select(
            "w1",
            "w2",
            (F.length(F.bin(F.col("_cctx"))) - F.length(F.bin(F.col("_cbg"))))
            .cast("long")
            .alias("s"),
            "_cbg",
        )
        .orderBy(F.col("_cbg").desc(), "w1", "w2")
        .limit(int(k))
        .collect()
    )
    return [(r.w1, r.w2, r.s) for r in lm]


def bigram_surprisal_gate(
    documents: DataFrame,
    lm: list[tuple[str, str, int]],
    default_s: int = 10,
    cutoff_milli: int = 5000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, surprisal_milli) of documents passing the
    pruned-LM perplexity gate — the CCNet ingest filter in its
    STREAMING-compatible form: the LM is ``bigram_lm_topk``'s bounded
    literal table baked into the plan as a map literal, the score is a
    pure in-row fold (unseen bigrams take ``default_s``), so
    ``documents`` may be an APPEND STREAM (the temperature-gate
    pattern; stream == batch pinned in test_streaming). It keeps the
    head: documents scoring at most ``cutoff_milli`` (low perplexity
    under a reference LM). Zero exchanges."""
    t = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    # one parsed map literal (the lits.py discipline); the probe below
    # casts the looked-up value to long either way
    lm_map = (
        lit_str_long_map((f"{w1} {w2}", int(s)) for w1, w2, s in lm)
        if lm
        else F.create_map()
    )
    base = documents.select(F.col(id_col).alias("doc_id"), t.alias("_t"))
    # guard the sequence: Spark's sequence(1, 0) DESCENDS ([1, 0]) and
    # element_at(_t, 0) throws — <2-token docs get an empty key array
    pair_keys = F.when(
        F.size(F.col("_t")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_t")) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("_t"), i), F.element_at(F.col("_t"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    keyed = base.select("doc_id", F.size("_t").alias("_n"), pair_keys.alias("_k"))
    tot = F.aggregate(
        F.transform(
            F.col("_k"),
            lambda key: F.coalesce(
                F.element_at(lm_map, key).cast("long"), F.lit(int(default_s))
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # name _tot in its own projection (the lambda-CSE rule): the fold is
    # referenced by the milli division only, but keep the discipline
    scored = (
        keyed.select("doc_id", "_n", "_k", tot.alias("_tot"))
        .select(
            "doc_id",
            F.when(F.col("_n") >= 2, F.size("_k"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_bigrams"),
            F.when(F.col("_n") >= 2, F.expr("1000L * _tot div size(_k)"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("surprisal_milli"),
        )
    )
    return scored.filter(F.col("surprisal_milli") <= int(cutoff_milli))


def surprisal_buckets(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(doc_id, lang, surprisal_milli, bucket) — the CCNet
    head/middle/tail split (Wenzek et al. 2020 §4.3: bucket each
    language's documents into perplexity terciles under a reference
    LM; head = most-fluent third). Scores come from
    :func:`bigram_surprisal` (integer-exact), thresholds are VALUE
    cuts, not rank cuts: t_head(lang) is the smallest score whose
    per-language CDF reaches 1/3 (t_middle at 2/3), and every doc
    compares against its language's thresholds.

    Why value cuts: CCNet's buckets are threshold files applied as a
    pure map at ingest. Here the per-language CDF lives on the BOUNDED
    (lang, surprisal_milli) histogram — surprisal_milli has only a few
    thousand distinct values, so the cumulative window sorts a
    lang×score-grain table, never the corpus — and the threshold table
    (one row per language) broadcast-joins back. No doc-grain sort or
    ntile anywhere: at 100 TB the corpus is touched by one aggregate
    and one broadcast-join map. Ties share a bucket by construction
    (value semantics), so the result is engine-exact with no row-order
    sensitivity."""
    from pyspark.sql import Window as W

    scored = bigram_surprisal(documents, id_col=id_col, text_col=text_col)
    langs = documents.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    )
    # the scored table feeds BOTH the histogram and the final bucket
    # assignment — materialize it once or the whole bigram-LM scoring
    # pass (tokenize + in-row surprisal fold) executes twice (a plan
    # dump counted 16 parquet scans without the checkpoint, 8 with it)
    sl = (
        scored.join(langs, "doc_id")
        .select("doc_id", "lang", "surprisal_milli")
        .localCheckpoint()
    )
    hist = sl.groupBy("lang", "surprisal_milli").agg(F.count("*").alias("_c"))
    wcum = (
        W.partitionBy("lang")
        .orderBy("surprisal_milli")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cdf = hist.select(
        "lang",
        "surprisal_milli",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(W.partitionBy("lang")).alias("_n"),
    )
    thr = cdf.groupBy("lang").agg(
        F.min(
            F.when(F.col("_cum") * 3 >= F.col("_n"), F.col("surprisal_milli"))
        ).alias("_t_head"),
        F.min(
            F.when(F.col("_cum") * 3 >= 2 * F.col("_n"), F.col("surprisal_milli"))
        ).alias("_t_middle"),
    )
    return sl.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "surprisal_milli",
        F.when(F.col("surprisal_milli") <= F.col("_t_head"), F.lit("head"))
        .when(F.col("surprisal_milli") <= F.col("_t_middle"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# --- URL / domain curation (FineWeb-style) --------------------------------

WEB_TWO_LEVEL_SUFFIXES = ("co.uk", "ac.jp")
WEB_DOMAIN_BLOCKLIST = ("site3.com", "site7.co.uk")


def synth_urls(
    documents: DataFrame, id_col: str = "doc_id", source_col: str = "source"
) -> DataFrame:
    """(doc_id, url) — deterministic crawl URLs from id arithmetic (the
    :func:`synth_html` discipline: the container is fake, the parsing
    pipeline is real). Coverage by construction: http and https
    schemes, empty / single / multi-label subdomains, one- and
    two-level public suffixes (com/org/net vs co.uk/ac.jp), an
    occasional port, and a source-derived path — every branch the
    parser downstream has to take."""
    did = F.col(id_col)
    sub = (
        F.when(did % 4 == 0, F.lit("www."))
        .when(did % 4 == 1, F.lit("blog."))
        .when(did % 4 == 2, F.lit(""))
        .otherwise(F.lit("cdn.assets."))
    )
    suffix = (
        F.when(did % 5 == 0, F.lit("com"))
        .when(did % 5 == 1, F.lit("org"))
        .when(did % 5 == 2, F.lit("co.uk"))
        .when(did % 5 == 3, F.lit("net"))
        .otherwise(F.lit("ac.jp"))
    )
    scheme = F.when(did % 3 == 0, F.lit("http")).otherwise(F.lit("https"))
    port = F.when(did % 17 == 0, F.lit(":8080")).otherwise(F.lit(""))
    url = F.concat(
        scheme,
        F.lit("://"),
        sub,
        F.lit("site"),
        (did % 23).cast("string"),
        F.lit("."),
        suffix,
        port,
        F.lit("/"),
        F.col(source_col),
        F.lit("/page-"),
        (did % 7).cast("string"),
    )
    return documents.select(F.col(id_col).alias("doc_id"), url.alias("url"))


def _url_parts(url: Column) -> dict[str, Column]:
    """scheme / registrable domain / host / port-flag / path-depth off a
    URL column — plain regex + literal splits, identical semantics in
    Spark (Java regex) and DuckDB (RE2): the pattern set avoids every
    construct the two engines disagree on (no lookaround, no lazy
    quantifiers)."""
    scheme = F.regexp_extract(url, r"^([a-z]+)://", 1)
    host_port = F.regexp_extract(url, r"^[a-z]+://([^/]+)", 1)
    host = F.element_at(F.split(host_port, ":"), 1)
    has_port = F.size(F.split(host_port, ":")) > 1
    labels = F.split(host, r"\.")
    n = F.size(labels)
    # Guard the eTLD+1 lookbacks on label count: element_at(labels, -2)
    # on a single-label host (http://localhost/x) throws
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4's ANSI default;
    # real crawls contain such hosts. A 1-label host's registrable
    # domain is the host itself. CaseWhen evaluates branches lazily, so
    # the negative-index lookups never run when the guard fails.
    last2 = F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1)),
    ).otherwise(host)
    domain = F.when(
        (n >= 3) & last2.isin(*WEB_TWO_LEVEL_SUFFIXES),
        F.concat_ws(".", F.element_at(labels, -3), last2),
    ).otherwise(last2)
    path = F.regexp_extract(url, r"^[a-z]+://[^/]+(/.*)$", 1)
    depth = (F.size(F.split(path, "/")) - 1).cast("long")
    return {
        "scheme": scheme,
        "host": host,
        "has_port": has_port,
        "domain": domain,
        "depth": depth,
    }


def url_domain_stats(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """(domain, n_docs, n_hosts, n_http, blocked) — per-registrable-
    domain crawl statistics: the aggregation FineWeb's URL-filtering
    stage runs before deciding domain-level fates (Penedo et al. 2024
    §3.1 — blocklist lookups and per-domain counts over eTLD+1, not
    raw hosts, so subdomain farms collapse into one row).

    eTLD+1 comes from a LITERAL two-level-suffix table (the real
    public-suffix list is bounded metadata — same discipline as the
    stopword/classifier tables). One domain-grain aggregate; the
    distinct-host count rides the same exchange as a two-phase
    count-distinct. ``blocked`` is an int flag off the literal
    blocklist."""
    parts = _url_parts(F.col(url_col))
    rows = pages.select(
        parts["domain"].alias("domain"),
        parts["host"].alias("host"),
        parts["scheme"].alias("scheme"),
    )
    return rows.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.sum(F.when(F.col("scheme") == "http", 1).otherwise(0))
        .cast("long")
        .alias("n_http"),
        F.max(
            F.when(F.col("domain").isin(*WEB_DOMAIN_BLOCKLIST), 1).otherwise(0)
        )
        .cast("long")
        .alias("blocked"),
    )


def url_gate(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """(doc_id, url, domain) — the doc-level URL filter (FineWeb §3.1):
    keep https, no explicit port, path depth ≤ 2, registrable domain
    not in the literal blocklist. A PURE MAP — zero exchanges,
    streamable (the ingest-gate discipline): at 100 TB this runs as a
    scan-fused filter before any tokenization or dedup spends a cycle
    on a blocked page."""
    parts = _url_parts(F.col(url_col))
    return (
        pages.select(
            "doc_id",
            F.col(url_col).alias("url"),
            parts["domain"].alias("domain"),
            parts["scheme"].alias("scheme"),
            parts["has_port"].alias("has_port"),
            parts["depth"].alias("depth"),
        )
        .filter(
            (F.col("scheme") == "https")
            & ~F.col("has_port")
            & (F.col("depth") <= 2)
            & ~F.col("domain").isin(*WEB_DOMAIN_BLOCKLIST)
        )
        .select("doc_id", "url", "domain")
    )


def synth_urls_noisy(
    documents: DataFrame, id_col: str = "doc_id", source_col: str = "source"
) -> DataFrame:
    """(doc_id, url) — :func:`synth_urls` plus the crawl noise URL
    dedup exists to collapse: occasional UPPERCASE hosts, trailing
    slashes, tracking parameters (utm_*), stable parameters in
    unstable positions, and fragments. Pure id arithmetic (the synth
    discipline), so the canonicalization round trip is SQL-replayable.
    Distinct doc_ids produce byte-distinct urls (the id appears in the
    stable query param or the path), while ids congruent mod the
    branch periods share a CANONICAL form — real collisions for the
    dedup downstream."""
    did = F.col(id_col)
    host = F.concat(
        F.when(did % 4 == 0, F.lit("www."))
        .when(did % 4 == 1, F.lit("blog."))
        .otherwise(F.lit("")),
        F.lit("site"),
        (did % 23).cast("string"),
        F.when(did % 5 == 2, F.lit(".co.uk")).otherwise(F.lit(".com")),
    )
    url = F.concat(
        F.lit("https://"),
        F.when(did % 6 == 0, F.upper(host)).otherwise(host),
        F.lit("/"),
        F.col(source_col),
        F.lit("/page-"),
        (did % 7).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), (did % 11).cast("string")))
        .when(did % 3 == 1, F.concat(F.lit("?id="), (did % 11).cast("string")))
        .otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    return documents.select(F.col(id_col).alias("doc_id"), url.alias("url"))


def url_canonical(url: Column) -> Column:
    """The canonical URL key crawl dedup groups on: lowercased host
    (port stripped), path without its trailing slash, query params with
    tracking keys (utm_*) dropped and the rest SORTED, fragment
    dropped. Pure per-row string expressions — case-insensitive regex
    classes only (no lookaround), identical in Java regex and RE2."""
    host = F.lower(
        F.element_at(
            F.split(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1), ":"), 1
        )
    )
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/$", ""
    )
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(qs, "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    return F.concat(
        host, path, F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit(""))
    )


def url_dedup(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """(canonical_url, n_docs, keep_doc_id) — URL-level deduplication
    (the FIRST dedup stage FineWeb runs, before any content hashing:
    Penedo et al. 2024 §3.2 — the same page re-crawled with tracking
    params / case / slash noise collapses on the canonical key). One
    canonical-key aggregate over the in-row canonicalization; the
    keeper is min(doc_id) — deterministic, and at 100 TB the exchange
    carries (key, id) pairs only."""
    return (
        pages.select(
            url_canonical(F.col(url_col)).alias("canonical_url"),
            F.col("doc_id"),
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
    )


# --- WordPiece encoding ----------------------------------------------------

WORDPIECE_UNK = "[UNK]"
WORDPIECE_MAX_PIECE = 10


def wordpiece_vocab(
    documents: DataFrame,
    n_words: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list[str]:
    """The WordPiece vocabulary as bounded driver metadata (the
    ``bigram_lm_topk`` discipline): the ``n_words`` most frequent
    corpus words (count desc, word asc tie-break) plus every corpus
    character in both word-initial and continuation (``##c``) form —
    the alphabet guarantees every in-corpus word encodes without
    [UNK] unless it contains an out-of-alphabet character."""
    t = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    words = documents.select(F.explode(t).alias("w"))
    # ONE corpus pass: the distinct-word count table is checkpointed and
    # feeds both the top-k job and the alphabet job (distinct chars of
    # distinct words == distinct chars of all occurrences — the old char
    # pass re-tokenized and exploded EVERY corpus token occurrence)
    wf = words.groupBy("w").agg(F.count("*").alias("c")).localCheckpoint()
    top = wf.orderBy(F.col("c").desc(), "w").limit(int(n_words)).collect()
    chars = (
        wf.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.substring(F.col("w"), i, F.lit(1)),
                )
            ).alias("ch")
        )
        .distinct()
        .collect()
    )
    vocab: list[str] = [r.w for r in top]
    for r in chars:
        vocab.append(r.ch)
        vocab.append("##" + r.ch)
    return sorted(set(vocab))


def _wordpiece_word_encoder(
    vocab: list[str], max_piece: int = WORDPIECE_MAX_PIECE, max_word: int = 24
):
    """Column-builder for the greedy longest-match scan of ONE word —
    shared by the streamable map form (:func:`wordpiece_encode`) and
    the Zipf-leveraged batch form (:func:`wordpiece_encode_batch`)."""
    vset = sorted(set(vocab))
    # one parsed map literal (the lits.py discipline): only membership
    # is tested downstream, so the value type is immaterial
    vmap = lit_str_long_map((v, 1) for v in vset)

    def piece(w: Column, pos: Column, L: Column) -> Column:
        sub = F.substring(w, pos + 1, L)
        return F.when(pos == 0, sub).otherwise(F.concat(F.lit("##"), sub))

    def encode_word(w: Column) -> Column:
        n = F.length(w)
        init = F.struct(
            F.lit(0).alias("pos"),
            F.array().cast("array<string>").alias("parts"),
            F.lit(False).alias("unk"),
        )

        def step(acc: Column, _i: Column) -> Column:
            pos = acc["pos"]
            # Longest in-vocab piece at pos, or null. HOF expression
            # trees re-evaluate every column REFERENCE, so the old
            # shape (piece() inlined in both the lookup test and the
            # append, the whole inner fold referenced twice) cost 4
            # substr+concat and 2 map lookups per candidate; here each
            # candidate is sliced and looked up exactly once — the
            # 1-element filter(array(...)) binds the piece as evaluated
            # data — and the fold short-circuits after the first hit.
            hit = F.aggregate(
                F.sequence(
                    F.least(F.lit(int(max_piece)), n - pos), F.lit(1), F.lit(-1)
                ),
                F.lit(None).cast("string"),
                lambda b, L: F.when(b.isNotNull(), b).otherwise(
                    F.get(
                        F.filter(
                            F.array(piece(w, pos, L)),
                            lambda p: F.element_at(vmap, p).isNotNull(),
                        ),
                        0,
                    )
                ),
            )
            # bind `hit` once (transform lambda vars are evaluated
            # data) — referencing it in both the null test and the
            # advance would re-run the whole candidate fold
            stepped = F.get(
                F.transform(
                    F.array(hit),
                    lambda m: F.when(
                        m.isNull(),
                        F.struct(
                            n.cast("int").alias("pos"),
                            F.array(F.lit(WORDPIECE_UNK)).alias("parts"),
                            F.lit(True).alias("unk"),
                        ),
                    ).otherwise(
                        F.struct(
                            (
                                pos
                                + F.length(m)
                                - F.when(pos > 0, F.lit(2)).otherwise(F.lit(0))
                            )
                            .cast("int")
                            .alias("pos"),
                            F.array_append(acc["parts"], m).alias("parts"),
                            F.lit(False).alias("unk"),
                        )
                    ),
                ),
                0,
            )
            return F.when(acc["unk"] | (pos >= n), acc).otherwise(stepped)

        # words beyond max_word chars are [UNK] by contract (the oracle
        # unrolls exactly max_word rounds; one round consumes >= 1 char)
        return F.when(
            n > int(max_word), F.array(F.lit(WORDPIECE_UNK))
        ).otherwise(F.aggregate(F.sequence(F.lit(1), n), init, step)["parts"])

    return encode_word


def wordpiece_encode(
    documents: DataFrame,
    vocab: list[str],
    max_piece: int = WORDPIECE_MAX_PIECE,
    max_word: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_pieces, n_unk, pieces_fp) — WordPiece
    encoding (Wu et al. 2016, GNMT §4.1 — BERT's tokenizer): each word
    is consumed by GREEDY LONGEST-MATCH against the vocabulary, with
    continuation pieces prefixed ``##``; a word with no match at the
    current position becomes one [UNK]. Completes the tokenizer family
    next to BPE (:mod:`bpe` trains/encodes by merge rank; WordPiece
    encodes by longest match — different algorithms, both shipped).

    PURE MAP, zero exchanges, streamable: the vocabulary is a literal
    map baked into the plan (bounded driver metadata), and the whole
    greedy scan is one in-row fold — the outer fold advances ``pos``
    through the word (≤ len steps, struct accumulator), an inner fold
    tries candidate lengths LONGEST-FIRST (descending ``sequence``)
    and keeps the first hit. The DuckDB oracle replays the identical
    double fold (``wordpiece_oracle_sql``). ``pieces_fp`` is the md5
    of the space-joined piece stream (the span-corruption fingerprint
    discipline — hash the payload, don't ship it)."""
    encode_word = _wordpiece_word_encoder(vocab, max_piece, max_word)

    t = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    base = documents.select(F.col(id_col).alias("doc_id"), t.alias("_w"))
    enc = base.select(
        "doc_id",
        F.col("_w").alias("_w"),
        F.flatten(F.transform(F.col("_w"), encode_word)).alias("_p"),
    )
    return enc.select(
        "doc_id",
        F.size("_w").cast("long").alias("n_words"),
        F.size("_p").cast("long").alias("n_pieces"),
        F.size(F.filter(F.col("_p"), lambda p: p == WORDPIECE_UNK))
        .cast("long")
        .alias("n_unk"),
        F.md5(F.array_join(F.col("_p"), " ").cast("binary")).alias("pieces_fp"),
    )


def wordpiece_oracle_sql(
    n_words: int = 48,
    max_piece: int = WORDPIECE_MAX_PIECE,
    max_word: int = 24,
) -> str:
    """DuckDB replay of vocab derivation + the greedy longest-match.

    The greedy scan is UNROLLED as chained MATERIALIZED CTEs at
    DISTINCT-WORD grain (each unique word encoded once, state =
    (rest, parts, unk), each round consumes the longest matching
    prefix via a MAX(k) semi-join against the vocab — the
    ``text_bpe_vocab`` oracle discipline), then joined back to the
    token stream and re-flattened in token order. NOT a nested-lambda
    fold: DuckDB 1.0.0 miscompiles captured variables inside nested
    ``list_reduce`` lambdas at vector scale (rows receive other rows'
    words; the comprehension-over-document-words variant additionally
    SEGFAULTED on the 500-doc corpus) — the relational unroll is
    load-bearing, not an optimization. ``max_word`` rounds cover any
    word up to ``max_word`` chars (one round consumes ≥ 1 char);
    longer words are [UNK] by contract in BOTH engines."""
    ctes = [
        """tk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM documents
    )""",
        "wd AS MATERIALIZED (SELECT unnest(t) AS w FROM tk)",
        f"""topw AS (
        SELECT w FROM (SELECT w, COUNT(*) AS c FROM wd GROUP BY 1)
        ORDER BY c DESC, w LIMIT {int(n_words)}
    )""",
        "wd_d AS MATERIALIZED (SELECT DISTINCT w AS word FROM wd)",
        """ch AS MATERIALIZED (
        SELECT DISTINCT unnest([substring(word, i, 1)
                                for i in generate_series(1, len(word))]) AS c
        FROM wd_d
    )""",
        """vocab AS MATERIALIZED (
        SELECT w FROM topw
        UNION SELECT c FROM ch
        UNION SELECT '##' || c FROM ch
    )""",
        f"""s0 AS MATERIALIZED (
        SELECT word,
               CASE WHEN len(word) > {int(max_word)} THEN '' ELSE word END AS rest,
               CASE WHEN len(word) > {int(max_word)} THEN ['[UNK]']
                    ELSE CAST([] AS VARCHAR[]) END AS parts,
               len(word) > {int(max_word)} AS unk,
               true AS fst
        FROM wd_d
    )""",
    ]
    for t in range(1, int(max_word) + 1):
        p = t - 1
        ctes.append(
            f"""c{t} AS MATERIALIZED (
        SELECT s.word, MAX(g.k) AS bestk
        FROM s{p} s, generate_series(1, {int(max_piece)}) g(k)
        WHERE len(s.rest) > 0 AND NOT s.unk AND g.k <= len(s.rest)
          AND (CASE WHEN s.fst THEN substring(s.rest, 1, CAST(g.k AS INT))
                    ELSE '##' || substring(s.rest, 1, CAST(g.k AS INT)) END)
              IN (SELECT w FROM vocab)
        GROUP BY 1
    )"""
        )
        ctes.append(
            f"""s{t} AS MATERIALIZED (
        SELECT s.word,
               CASE WHEN len(s.rest) = 0 OR s.unk THEN s.rest
                    WHEN c.bestk IS NULL THEN ''
                    ELSE substring(s.rest, CAST(c.bestk AS INT) + 1,
                                   len(s.rest)) END AS rest,
               CASE WHEN len(s.rest) = 0 OR s.unk THEN s.parts
                    WHEN c.bestk IS NULL THEN ['[UNK]']
                    ELSE list_append(s.parts,
                         CASE WHEN s.fst THEN substring(s.rest, 1, CAST(c.bestk AS INT))
                              ELSE '##' || substring(s.rest, 1, CAST(c.bestk AS INT)) END)
                    END AS parts,
               CASE WHEN s.unk OR (len(s.rest) > 0 AND c.bestk IS NULL)
                    THEN true ELSE false END AS unk,
               false AS fst
        FROM s{p} s LEFT JOIN c{t} c USING (word)
    )"""
        )
    n = int(max_word)
    ctes.append(
        f"encw AS MATERIALIZED (SELECT word, parts AS pieces FROM s{n})"
    )
    ctes.append(
        """tok AS (
        SELECT doc_id, s.x.pos AS pos, s.x.word AS word
        FROM (SELECT doc_id,
                     unnest([{'pos': i, 'word': t[i]}
                             for i in generate_series(1, len(t))]) AS x
              FROM tk) s(doc_id, x)
    )"""
    )
    ctes.append(
        """agg AS (
        SELECT tok.doc_id,
               flatten(list(encw.pieces ORDER BY tok.pos)) AS p
        FROM tok JOIN encw USING (word) GROUP BY 1
    )"""
    )
    ctes.append(
        """outp AS (
        SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_words,
               COALESCE(agg.p, CAST([] AS VARCHAR[])) AS p
        FROM tk LEFT JOIN agg USING (doc_id)
    )"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT doc_id, n_words,
           CAST(len(p) AS BIGINT) AS n_pieces,
           CAST(len([x for x in p if x = '[UNK]']) AS BIGINT) AS n_unk,
           md5(array_to_string(p, ' ')) AS pieces_fp
    FROM outp
"""
    )


def wordpiece_encode_batch(
    documents: DataFrame,
    vocab: list[str],
    max_piece: int = WORDPIECE_MAX_PIECE,
    max_word: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Row-identical twin of :func:`wordpiece_encode` in the BATCH
    shape: the greedy fold runs once per DISTINCT word (the oracle's
    own grain), and the pieces join back to the token stream and
    re-flatten in token order. Zipf's law makes this the 100 TB batch
    winner — fold work scales with |vocabulary|, not corpus tokens
    (measured 3.5× at sf0.1 on a 31-word corpus; the gap grows with
    repetition). Costs ~3 exchanges and full-corpus lookahead, so the
    streamable zero-exchange map form remains the registered ingest
    gate; this is the backfill/batch path. Pinned row-identical in
    tests; shares the map form's oracle verbatim."""
    encode_word = _wordpiece_word_encoder(vocab, max_piece, max_word)
    t = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    base = documents.select(F.col(id_col).alias("doc_id"), t.alias("_w"))
    tok = base.select("doc_id", F.posexplode(F.col("_w")).alias("pos", "word"))
    encw = (
        tok.select("word")
        .distinct()
        .select("word", encode_word(F.col("word")).alias("pieces"))
    )
    per_doc = (
        tok.join(encw, "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                    lambda s: s["pieces"],
                )
            ).alias("_p")
        )
    )
    out = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.size("_w").cast("long").alias("n_words"),
        F.coalesce(F.col("_p"), F.array().cast("array<string>")).alias("_p"),
    )
    return out.select(
        "doc_id",
        "n_words",
        F.size("_p").cast("long").alias("n_pieces"),
        F.size(F.filter(F.col("_p"), lambda p: p == WORDPIECE_UNK))
        .cast("long")
        .alias("n_unk"),
        F.md5(F.array_join(F.col("_p"), " ").cast("binary")).alias("pieces_fp"),
    )


# --- SFT chat-template rendering ------------------------------------------

CHAT_TURN_TOKENS = 10


def synth_chat_turns(
    documents: DataFrame,
    turn_tokens: int = CHAT_TURN_TOKENS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, turns: array<struct<role,content>>) — deterministic
    chat transcripts from the document tokens (the synth discipline):
    consecutive ``turn_tokens``-token windows become alternating
    user/assistant turns (user first). Docs with no tokens get zero
    turns. Pure in-row arithmetic, SQL-replayable."""
    t = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    base = documents.select(F.col(id_col).alias("doc_id"), t.alias("_t"))
    n_turns = F.ceil(F.size("_t") / F.lit(int(turn_tokens))).cast("int")
    turns = F.transform(
        F.sequence(F.lit(1), n_turns),
        lambda k: F.struct(
            F.when(k % 2 == 1, F.lit("user")).otherwise(F.lit("assistant")).alias("role"),
            F.array_join(
                F.slice(F.col("_t"), (k - 1) * int(turn_tokens) + 1, int(turn_tokens)),
                " ",
            ).alias("content"),
        ),
    )
    return base.select(
        "doc_id",
        F.when(F.size("_t") > 0, turns)
        .otherwise(F.array().cast("array<struct<role:string,content:string>>"))
        .alias("turns"),
    )


def chat_render(
    chats: DataFrame,
    system_prompt: str = "you are a helpful assistant",
    id_col: str = "doc_id",
    turns_col: str = "turns",
) -> DataFrame:
    """(doc_id, n_turns, n_tokens, n_loss_tokens, rendered_fp) — the
    SFT data-prep step every instruction-tuning pipeline runs: render
    (system, user, assistant, …) turns into ONE training string under
    a ChatML-style template,

        <|im_start|>role\\ncontent<|im_end|>\\n   per turn,

    with the system prompt prepended, and compute the ASSISTANT-ONLY
    loss mask: ``n_tokens`` counts whitespace tokens of the full
    rendered string, ``n_loss_tokens`` counts only assistant-turn
    content tokens (+1 per assistant turn for its <|im_end|> sentinel)
    — the mask the trainer uses so loss never flows through user or
    system text. ``rendered_fp`` is the md5 of the rendered string
    (the fingerprint discipline — hash the payload, don't ship it).

    PURE MAP, zero exchanges, streamable: rendering is one in-row
    fold over the turn array; counting is in-row arithmetic. No
    counterpart in the reference (no chat surface); template per
    ChatML (public OpenAI spec) as used by open SFT stacks."""
    turns = F.col(turns_col)
    rendered_turn = lambda s: F.concat(  # noqa: E731
        F.lit("<|im_start|>"), s["role"], F.lit("\n"), s["content"], F.lit("<|im_end|>\n")
    )
    rendered = F.concat(
        F.lit(f"<|im_start|>system\n{system_prompt}<|im_end|>\n"),
        F.aggregate(
            turns,
            F.lit("").cast("string"),
            lambda acc, s: F.concat(acc, rendered_turn(s)),
        ),
    )
    tok_count = lambda c: F.size(  # noqa: E731
        F.filter(F.split(c, " "), lambda x: x != "")
    )
    loss = F.aggregate(
        turns,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(s["role"] == "assistant", (tok_count(s["content"]) + 1).cast("long"))
        .otherwise(F.lit(0).cast("long")),
    )
    out = chats.select(
        F.col(id_col).alias("doc_id"),
        F.size(turns).cast("long").alias("n_turns"),
        rendered.alias("_r"),
        loss.alias("n_loss_tokens"),
    )
    return out.select(
        "doc_id",
        "n_turns",
        F.size(F.filter(F.split(F.col("_r"), " "), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
        "n_loss_tokens",
        F.md5(F.col("_r").cast("binary")).alias("rendered_fp"),
    )
