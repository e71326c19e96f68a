"""Deduplication operators for large-scale training-data pipelines.

Not part of the reference's own surface (it has only row-level
``distinct``/``dropDuplicates`` — P9, /root/reference/src/notebooks/scala/
MagDwarf.scala:120,135); these are the spec's LLM-data-pipeline
extensions, built Spark-first over the ``documents`` / ``embeddings``
tables:

  - exact dedup: hash-groupBy on normalized text (md5);
  - n-gram Jaccard similarity join: word-shingle inverted index →
    shingle equi-join → |A∩B|/|A∪B| — the *relational* form, which
    scales as Σ postings², not O(n²) over documents;
  - MinHash+LSH: shingle → K permutation minhashes → banded signatures
    → bucket join for candidates → EXACT Jaccard verification of
    candidates (so precision is exact; recall is the LSH guarantee);
  - SimHash: per-token bit votes → 32-bit fingerprint;
  - embedding cosine near-dup: pairwise cosine over ``array<float>``.

Determinism discipline (the DuckDB oracle hash gate): every hash is
arithmetic both engines compute identically — md5 hex prefixes folded to
integers, universal hashing ``(a·x+b) mod p`` with p=2^31-1 (products
bounded < 2^62, no overflow), float products widened to double (exact)
and summed on an exact decimal lattice.

Scale posture: all shuffles key on shingle/band/bucket — high
cardinality, well-spread. The classic hot key is a stop-shingle shared
by everything: ``max_shingle_freq`` drops postings above a document-
frequency cap (standard practice; also what AQE skew-join would
otherwise fight). Signatures are fixed-width (K minhashes) regardless
of document length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from . import tiers

MERSENNE31 = 2_147_483_647  # 2^31 - 1
# Dot products quantize each double product to an integer lattice
# (×1e12, round, sum as BIGINT): sums are exact and order-independent,
# so both engines produce identical cosines. 64 dims × |x·y|≲10 →
# ≤6.4e14, far inside int64.
DOT_SCALE = 1_000_000_000_000.0

# Fixed universal-hash parameters (a, b) per permutation — literal so the
# SQL oracle can embed the same table. Generated once from a seeded LCG.
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2**31


def _lcg_params(num_perm: int) -> list[tuple[int, int, int]]:
    x = 42
    out = []
    for i in range(num_perm):
        x = (_LCG_A * x + _LCG_C) % _LCG_M
        a = x | 1  # odd, nonzero
        x = (_LCG_A * x + _LCG_C) % _LCG_M
        b = x
        out.append((i, a, b))
    return out


def perm_table_sql(num_perm: int) -> str:
    """VALUES clause of (i, a, b) rows for the DuckDB oracle."""
    rows = ", ".join(f"({i}, {a}, {b})" for i, a, b in _lcg_params(num_perm))
    return f"(VALUES {rows}) AS p(i, a, b)"


def words(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), " ")


def token_hash48(tok: Column) -> Column:
    """48-bit integer hash of a token: fold of the first 12 md5 hex chars.
    DuckDB equivalent: list_reduce over string_split_regex(substr(md5(t),1,12),'')."""
    return F.conv(F.substring(F.md5(tok), 1, 12), 16, 10).cast("long")


def shingle_table(
    documents: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """(doc_id, shingle) — distinct word n-gram shingles per document."""
    # short docs (fewer than n tokens) are FILTERED before the explode
    # rather than guarded with CASE WHEN ... ELSE []: a conditional
    # generator input defeats GenerateExec's evaluate-once path and the
    # whole array expression is re-evaluated per emitted element —
    # measured 80s vs 0.9s on the sf0.1 corpus. (The filter also covers
    # the sequence(1, 0) descending-sequence trap.)
    base = documents.select(
        F.col(id_col).alias("doc_id"), words(text_col).alias("_t")
    ).filter(F.size("_t") >= n)
    sh = F.transform(
        F.sequence(F.lit(1), F.size("_t") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, n)),
    )
    # dedup inside the array (map-side, per doc) instead of a global
    # .distinct(): rows (doc_id, shingle) are then unique by
    # construction, saving a full shuffle of the shingle table
    out = base.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    if max_shingle_freq is not None:
        # materialize the postings once: the df-count pass and the
        # semi-join probe would otherwise each recompute the tokenize+
        # explode lineage (measured ~1.6x on the sf0.1 bench)
        out = out.localCheckpoint()
        rare = (
            out.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_freq)
            .select("shingle")
        )
        out = out.join(rare, "shingle", "left_semi")
    return out


SHINGLE_W = 1_000_003  # Horner weight for composing token hashes


def hashed_shingle_arrays(
    documents: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shingles array<long>) — the per-document DISTINCT hashed
    shingle set as an array column, before any explode.

    This is the map-side-complete form: everything downstream that is
    per-document (MinHash minima, band signatures, sizes) can compute
    straight off the array with zero shuffle; only genuinely cross-
    document steps (the inverted-index join) need the exploded table.

    The token-hash array MUST be a named column (computed once per row):
    composing element_at over an inline ``transform`` re-evaluates the
    lambda per access — measured 20x SLOWER than string shingles.
    """
    base = _token_hash_base(documents, id_col, text_col)
    sh = F.when(
        F.col("_nt") >= n, _horner_shingles(n)
    ).otherwise(F.array().cast("array<long>"))
    return base.select("doc_id", F.array_distinct(sh).alias("shingles"))


def _token_hash_base(documents: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _th array<long>, _nt) — per-row token-hash array, named
    columns so downstream element_at hits a materialized array."""
    toks = words(text_col)
    th = F.transform(toks, lambda t: token_hash48(t) % MERSENNE31)
    return documents.select(
        F.col(id_col).alias("doc_id"), th.alias("_th"), F.size(toks).alias("_nt")
    )


def _horner_shingles(n: int) -> Column:
    """array<long> of n-gram hashes over the ``_th`` column (Horner
    composition of token hashes). Caller guarantees ``_nt >= n`` —
    either by filter (preferred around an explode: a CASE WHEN guard on
    a generator input defeats GenerateExec's evaluate-once path and
    re-evaluates the array per emitted element, measured 80s vs 0.9s at
    sf0.1) or by a WHEN wrapper for the array-column form."""

    def combine(i):
        acc = F.element_at(F.col("_th"), i)
        for k in range(1, n):
            acc = (acc * SHINGLE_W + F.element_at(F.col("_th"), i + k)) % MERSENNE31
        return acc

    return F.transform(F.sequence(F.lit(1), F.col("_nt") - (n - 1)), combine)


def hashed_shingle_table(
    documents: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """(doc_id, shingle) with 31-bit integer shingles — the default for
    the similarity-join family (the exploded posting-list form of
    :func:`hashed_shingle_arrays`).

    Each token hashes once (md5 fold % 2^31-1, the engine-portable
    discipline), then every n-gram combines its token hashes by Horner:
    ``acc = (acc·W + h_k) mod M``. Measured 3-4x faster to materialize
    than string shingles and ~3x narrower in the self-join shuffle.
    Collisions (~|shingles|²/2^32) perturb Jaccard infinitesimally and
    identically in both engines (the oracle composes the same hashes),
    so the parity gate is unaffected.
    """
    # build the exploded form directly (filter short docs, unguarded
    # transform as the generator input) instead of exploding
    # hashed_shingle_arrays: its WHEN-guarded array is re-evaluated per
    # element by GenerateExec (see _horner_shingles)
    base = _token_hash_base(documents, id_col, text_col).filter(F.col("_nt") >= n)
    out = base.select(
        "doc_id", F.explode(F.array_distinct(_horner_shingles(n))).alias("shingle")
    )
    if max_shingle_freq is not None:
        # materialize the postings once: the df-count pass and the
        # semi-join probe would otherwise each recompute the tokenize+
        # explode lineage (measured ~1.6x on the sf0.1 bench)
        out = out.localCheckpoint()
        rare = (
            out.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_freq)
            .select("shingle")
        )
        out = out.join(rare, "shingle", "left_semi")
    return out


def exact_dedup(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: (text_md5, n_docs, canonical_id=min id)."""
    return (
        documents.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def _pair_jaccard_arrays(witharr: DataFrame, threshold: float | None = None) -> DataFrame:
    """(id1, id2, jaccard) for id1<id2 pairs sharing ≥1 shingle, generated
    from the per-document DISTINCT shingle arrays ``(doc_id, _arr)`` —
    the array-native twin of :func:`_pair_jaccard`.

    Shape: sizes ride IN-ROW (``sz = size(_arr)``, exact because the
    array is the distinct shingle set), the postings group ONCE by
    shingle, and each group emits its id1<id2 pairs with both sizes
    attached via a two-level generate (posexplode × slice — per-row
    state stays O(df), never O(df²)). The old posting-list form paid a
    posting self-join (two exchanges + sorts), a separate size
    aggregate, and re-joined the Σdf²-row pair table against the sizes
    twice; this is one postings exchange + one pair exchange, no joins.

    ``threshold`` (when positive) enables the LOSSLESS length-ratio
    prefilter before the pair exchange: jaccard ≤ min(sz)/max(sz)
    exactly, and double rounding is monotone, so RN(min/max) < t ⇒
    RN(jaccard) ≤ RN(min/max) < t — a pair dropped here could never
    survive the caller's ``jaccard >= threshold`` filter. At t=0.5 this
    deletes every pair whose sizes differ by more than 2× from the
    shuffle.
    """
    p = witharr.select(
        "doc_id", F.size("_arr").alias("sz"), F.explode("_arr").alias("shingle")
    )
    g = (
        p.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("doc_id").alias("i"), F.col("sz").alias("s")))
            ).alias("_ds")
        )
        .filter(F.size("_ds") >= 2)
    )
    pe = g.select("_ds", F.posexplode("_ds").alias("_p", "_x"))
    pairs = pe.select(
        F.col("_x.i").alias("id1"),
        F.col("_x.s").alias("sz1"),
        F.explode(F.slice("_ds", F.col("_p") + 2, F.size("_ds"))).alias("_y"),
    ).select("id1", "sz1", F.col("_y.i").alias("id2"), F.col("_y.s").alias("sz2"))
    if threshold is not None and threshold > 0:
        # same double division + comparison semantics as the final
        # jaccard filter (see docstring for the monotonicity argument)
        pairs = pairs.filter(
            (F.least("sz1", "sz2") / F.greatest("sz1", "sz2")) >= F.lit(float(threshold))
        )
    return (
        pairs.groupBy("id1", "id2", "sz1", "sz2")
        .agg(F.count("*").alias("_i"))
        .select(
            "id1",
            "id2",
            (F.col("_i") / (F.col("sz1") + F.col("sz2") - F.col("_i"))).alias("jaccard"),
        )
    )


def _pair_jaccard(shingles: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """(id1, id2, jaccard) for id1<id2 pairs sharing ≥1 shingle (optionally
    restricted to a candidate ``pairs`` frame)."""
    if pairs is not None:
        # restrict the shingle table to candidate docs BEFORE the
        # self-join — otherwise the verify step enumerates every
        # co-shingle pair in the corpus (Σ df²) and the LSH candidate
        # generation saved nothing. A candidate doc keeps its full
        # shingle set, so sizes (the union denominator) are unchanged.
        cand_docs = (
            pairs.select(F.col("id1").alias("doc_id"))
            .unionByName(pairs.select(F.col("id2").alias("doc_id")))
            .distinct()
        )
        shingles = shingles.join(cand_docs, "doc_id", "left_semi")
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    s1 = shingles.select(F.col("doc_id").alias("id1"), "shingle")
    s2 = shingles.select(F.col("doc_id").alias("id2"), "shingle")
    inter = (
        s1.join(s2, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("inter"))
    )
    if pairs is not None:
        inter = inter.join(pairs, ["id1", "id2"], "left_semi")
    z1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    z2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    return (
        inter.join(z1, "id1")
        .join(z2, "id2")
        .select(
            "id1",
            "id2",
            (F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))).alias("jaccard"),
        )
    )


# Default document-frequency cap for the exact-Jaccard inverted-index
# join.  The co-shingle self-join is Σ df² over shingle postings; one
# boilerplate shingle shared by d documents alone contributes d² pairs,
# which is the classic skew/scale killer on a real corpus.  Capping df
# bounds the join at max_df · |postings| while only dropping shingles so
# common they carry almost no similarity signal.  Uncapped is an explicit
# opt-in (max_shingle_freq=None) for small/controlled corpora.
DEFAULT_MAX_SHINGLE_FREQ = 1000


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: (id1, id2, jaccard ≥ threshold).

    Recall contract: with the default df cap, a shingle occurring in more
    than ``max_shingle_freq`` documents contributes to neither the
    intersection nor the union, so pairs whose overlap is *only*
    boilerplate score lower (or disappear) versus the uncapped join —
    which is the curation-desired behavior (boilerplate is not
    similarity). Pairs sharing any sub-cap shingle are still produced
    and their Jaccard over the capped shingle universe is exact
    (`tests/test_llm_ops.py::test_ngram_cap_recall_contract` pins the
    delta on a boilerplate corpus). Pass ``max_shingle_freq=None`` to
    opt into the uncapped Σdf² join.

    Runs on the hashed shingles (md5-fold integers — the DuckDB oracle
    composes the identical hashes), in the array-native pair-generation
    shape (:func:`_pair_jaccard_arrays`): per-doc
    distinct shingle arrays carry their own size, the postings group
    once by shingle and emit id1<id2 pairs in-row with both sizes
    attached — one postings exchange + one pair exchange, no posting
    self-join, no size joins. The df cap removes the over-cap ("hot")
    shingle set — ≤ |postings|/cap distinct values, boilerplate — in a
    three-tier strategy: an EMPTY hot set costs nothing (the common
    production case at the default cap), a small one collects to a
    literal array and ``array_except`` strips it in-row (zero extra
    exchanges; bounded because Spark's ArrayExcept rebuilds its lookup
    set per row — measured 160 s at 26k hot × 50k docs, which is why
    big sets do NOT take this tier), and a large one broadcast-anti-
    joins the exploded postings and regroups per doc (one extra
    postings exchange, O(postings) total work at any hot size). All
    three tiers produce the identical capped shingle universe. The
    string-shingle ``shingle_table`` is kept for callers needing
    human-readable shingles; the fixture test proves both key types
    produce the same pair set.

    Eager jobs: with a df cap (the default) the call runs Spark jobs
    while it builds the frame, before any action on the result. It
    ``localCheckpoint``s the per-doc shingle arrays (one corpus
    tokenize) and runs ``hot_df.limit(513).collect()`` to pick the tier.
    A caller that builds the frame and never executes it still pays
    both. ``max_shingle_freq=None`` stays fully lazy.
    """
    base = _token_hash_base(documents, "doc_id", "text").filter(F.col("_nt") >= n)
    arr = base.select(
        "doc_id", F.array_distinct(_horner_shingles(n)).alias("_arr")
    )
    if max_shingle_freq is None:
        return _pair_jaccard_arrays(arr, threshold).filter(F.col("jaccard") >= threshold)
    # the df count and the pair pass both read the tokenized arrays:
    # materialize them once (one corpus tokenize at any scale)
    arr = arr.localCheckpoint()
    hot_df = (
        arr.select(F.explode("_arr").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_shingle_freq)
        .select("shingle")
    )
    hot_literal_limit = 512
    hot_rows = hot_df.limit(hot_literal_limit + 1).collect()
    if len(hot_rows) > hot_literal_limit:
        # big hot set: anti-join the exploded postings (broadcast-sized
        # build side in practice; the planner picks SMJ past that) and
        # regroup per doc so sizes stay exact over the capped universe
        witharr = (
            arr.select("doc_id", F.explode("_arr").alias("shingle"))
            .join(hot_df, "shingle", "left_anti")
            .groupBy("doc_id")
            .agg(F.collect_list("shingle").alias("_arr"))
        )
        return _pair_jaccard_arrays(witharr, threshold).filter(
            F.col("jaccard") >= threshold
        )
    if hot_rows:
        from ..functions.lits import lit_longs

        arr = arr.select(
            "doc_id", F.array_except("_arr", lit_longs(r[0] for r in hot_rows)).alias("_arr")
        )
    return _pair_jaccard_arrays(arr, threshold).filter(F.col("jaccard") >= threshold)


def minhash_signatures(shingles: DataFrame, num_perm: int = 16) -> DataFrame:
    """(doc_id, i, minhash) — K universal-hash minima per document.

    One wide aggregation: K ``min((a_i·h+b_i) mod p)`` expressions in a
    single groupBy pass (map-side combined), then an unpivot — instead of
    cross-joining a K-row permutation table (which multiplies the shuffle
    by K). Same results, 1/K the shuffled rows.
    """
    perms = _lcg_params(num_perm)
    # hashed shingle tables already carry 31-bit integer shingles;
    # string shingles hash here (same md5-fold discipline either way)
    dt = dict(shingles.dtypes).get("shingle", "string")
    h = (
        F.col("shingle")
        if dt in ("bigint", "int", "long")
        else token_hash48(F.col("shingle")) % MERSENNE31
    )
    hashed = shingles.select("doc_id", h.alias("h"))
    wide = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE31).alias(f"_m{i}")
            for i, a, b in perms
        ]
    )
    stack_expr = "stack({n}, {args}) as (i, minhash)".format(
        n=num_perm, args=", ".join(f"{i}, _m{i}" for i, _, _ in perms)
    )
    return wide.select("doc_id", F.expr(stack_expr))


def minhash_band_sigs_from_arrays(
    arrays: DataFrame, num_perm: int = 16, rows_per_band: int = 4,
    keep_shingles: bool = False,
) -> DataFrame:
    """(doc_id, band, band_sig) computed entirely map-side from the
    per-document shingle arrays — no explode, no groupBy.

    Each permutation minimum is ``array_min(transform(shingles, x →
    (a·x+b) mod p))`` and each band signature is the '-'-joined minima
    in permutation order (identical strings to the posting-list path,
    which the equivalence test pins). At scale this removes the entire
    postings shuffle from signature generation: the first exchange in
    the whole MinHash pipeline becomes the (band, band_sig) bucket join
    itself.

    Empty-shingle documents (fewer than n tokens) are dropped AFTER the
    stack, by ``band_sig != ''`` (their minima are all null, so
    concat_ws yields the empty string). Filtering ``size(shingles) > 0``
    up front — an earlier form — let Catalyst substitute the WHOLE
    shingle expression into a parquet DataFilter, where the interpreted
    per-row predicate re-ran tokenize→hash→Horner→distinct in the scan:
    measured 23–59 s vs 0.5 s at sf0.1 for the same result. A predicate
    on the generator's own output cannot be pushed below the Generate,
    so the cheap string test is also a structural pushdown barrier."""
    perms = _lcg_params(num_perm)

    def perm_min(a: int, b: int):
        # factory closure: transform's lambda must be unary (PySpark
        # infers HOF arity from the python signature — default args
        # would make it look ternary)
        return F.array_min(
            F.transform("shingles", lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE31)
        )

    carry = ["shingles"] if keep_shingles else []
    mins = arrays.select(
        "doc_id",
        *carry,
        *[perm_min(a, b).alias(f"_m{i}") for i, a, b in perms],
    )
    n_bands = num_perm // rows_per_band
    band_cols = []
    for b in range(n_bands):
        parts = ", ".join(
            f"CAST(_m{i} AS STRING)" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        band_cols.append(f"{b}, concat_ws('-', {parts})")
    stack_expr = f"stack({n_bands}, {', '.join(band_cols)}) as (band, band_sig)"
    return (
        mins.select("doc_id", *carry, F.expr(stack_expr))
        .filter(F.col("band_sig") != "")
    )


def lsh_candidate_pairs(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """Band the signature and bucket-join: (id1, id2) candidate pairs."""
    banded = signatures.withColumn("band", (F.col("i") / rows_per_band).cast("int"))
    band_sigs = (
        banded.groupBy("doc_id", "band")
        .agg(F.collect_list(F.struct("i", "minhash")).alias("_parts"))
        .select(
            "doc_id",
            "band",
            F.array_join(
                F.transform(F.array_sort("_parts"), lambda x: x["minhash"].cast("string")), "-"
            ).alias("band_sig"),
        )
    )
    b1 = band_sigs.select(F.col("doc_id").alias("id1"), "band", "band_sig")
    b2 = band_sigs.select(F.col("doc_id").alias("id2"), "band", "band_sig")
    return (
        b1.join(b2, ["band", "band_sig"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup join: LSH candidates, exact-Jaccard verified.

    Output (id1, id2, jaccard): precision exact; recall is the banding
    guarantee (pairs the LSH misses are absent — the scale/accuracy
    trade every production dedup makes).
    """
    if max_shingle_freq is None:
        # Array-native fast path: hash every token once into the
        # per-doc shingle array (checkpointed — the md5 work happens
        # exactly once), compute band signatures map-side with no
        # explode/groupBy. First exchange in the pipeline = the bucket
        # join. The verify is array-native too:
        # the candidate pair joins its two DISTINCT shingle arrays and
        # computes |A∩B| in-row — same Jaccard as the exploded
        # self-join + three aggregate/join steps it replaces (the
        # posting-list verify re-shuffled the exploded table per
        # candidate side; this joins only |candidates| rows).
        arrays = hashed_shingle_arrays(documents, n=n).localCheckpoint()
        band_sigs = minhash_band_sigs_from_arrays(
            arrays, num_perm=num_perm, rows_per_band=rows_per_band
        )
        b1 = band_sigs.select(F.col("doc_id").alias("id1"), "band", "band_sig")
        b2 = band_sigs.select(F.col("doc_id").alias("id2"), "band", "band_sig")
        cands = (
            b1.join(b2, ["band", "band_sig"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .distinct()
        )
        a1 = arrays.select(F.col("doc_id").alias("id1"), F.col("shingles").alias("_sh1"))
        a2 = arrays.select(F.col("doc_id").alias("id2"), F.col("shingles").alias("_sh2"))
        inter = (
            cands.join(a1, "id1")
            .join(a2, "id2")
            .withColumn("_i", F.size(F.array_intersect("_sh1", "_sh2")))
        )
        return (
            inter.select(
                "id1",
                "id2",
                (
                    F.col("_i") / (F.size("_sh1") + F.size("_sh2") - F.col("_i"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    # df-capped path: the cap is a global document-frequency filter, so
    # it runs over the posting lists (the exploded table feeds both the
    # signature aggregation and the verify)
    sh = hashed_shingle_table(documents, n=n, max_shingle_freq=max_shingle_freq).localCheckpoint()
    sigs = minhash_signatures(sh, num_perm=num_perm)
    cands = lsh_candidate_pairs(sigs, rows_per_band=rows_per_band)
    return _pair_jaccard(sh, pairs=cands).filter(F.col("jaccard") >= threshold)


def _union_find_rows(pdf):
    """Driver-side connected components for small edge sets: union-find
    with path compression over the collected (id1, id2) pairs, min-id
    canonical labels → (doc_id, cluster_id).

    Near-dup edge sets are orders of magnitude smaller than the corpus
    (only docs that matched something appear); when the pair table fits
    on the driver — the broadcast-join decision — one collect beats a
    multi-round distributed fixpoint of fixed per-job overhead.
    """
    import pandas as pd

    up: dict = {}

    def find(x):
        r = x
        while up.get(r, r) != r:
            r = up[r]
        while up.get(x, x) != x:
            up[x], x = r, up[x]
        return r

    nodes = set()
    for a, b in zip(pdf["id1"].tolist(), pdf["id2"].tolist()):
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            up[max(ra, rb)] = min(ra, rb)
    doc_ids = sorted(nodes)
    return pd.DataFrame({"doc_id": doc_ids, "cluster_id": [find(n) for n in doc_ids]})


def dedup_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id).

    ``pairs``: (id1, id2) undirected near-duplicate edges (from the
    Jaccard / LSH / cosine joins). ``cluster_id`` is the minimum doc id
    in the component — the canonical representative, so "keep one per
    cluster" is a filter on ``doc_id == cluster_id``.

    Min-label propagation with shortcutting (driver loop of distributed
    joins, like operators/graph.py): each round every node adopts the
    smallest label among itself and its neighbors, then pointer-jumps
    through the label map (label ← label's label), giving O(log
    diameter) convergence. Near-dup components are tiny (pairs/triples:
    2-3 rounds); the loop caps at ``max_iters`` regardless.

    Three-tier strategy (budgets in ``operators/tiers.py``): a pair
    table within the local budget is solved on the driver with
    path-compressed union-find; larger (or empty) sets run the
    distributed fixpoint, broadcast-hash per round within the broadcast
    budget and shuffle joins at web scale.

    The pair subtree — usually an expensive similarity join — is
    materialized ONCE up front (``tiers.gather``): the tier gate's count,
    the local tier's collect, and the distributed tier's both-directions
    union all read the checkpointed table instead of re-evaluating the
    join (the old count()-then-collect shape paid the join twice; a
    limit(threshold+1) probe was tried and is worse — CollectLimit runs
    serial incremental partition rounds when the limit is never hit).
    The local result comes back as one Arrow frame.
    """
    pdf, p2 = tiers.gather(pairs.select("id1", "id2"))
    if pdf is not None:
        t = dict(p2.dtypes)["id1"]
        return tiers.local_frame(
            p2.sparkSession, _union_find_rows(pdf), f"doc_id {t}, cluster_id {t}"
        )
    edges = (
        p2.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .unionByName(p2.select(F.col("id2").alias("a"), F.col("id1").alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    small = tiers.broadcastable(labels.count())
    for _ in range(max_iters):
        lab = F.broadcast(labels) if small else labels
        neighbor_min = (
            edges.join(lab, edges["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        if small:
            neighbor_min = F.broadcast(neighbor_min)
        merged = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("mid"),
        )
        # shortcut step (pointer jump on the label map): label ← label's
        # label. Turns O(diameter) rounds into O(log diameter) — a long
        # chain converges in ~5 rounds, not ~n.
        hop = merged.select(F.col("node").alias("h_node"), F.col("mid").alias("h_label"))
        if small:
            hop = F.broadcast(hop)
        # localCheckpoint (not persist): the loop references the previous
        # state 3x per round; persist keeps lineage and the logical plan
        # grows exponentially (plan *formatting* alone OOMs ~20 rounds in)
        new_labels = (
            merged.join(hop, merged["mid"] == hop["h_node"], "left")
            .select(
                "node",
                "old",
                F.least(F.col("mid"), F.coalesce(F.col("h_label"), F.col("mid"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def duplicate_spans(
    documents: DataFrame,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, span_start, span_end, n_grams) — EXACT substring-level
    duplication: the maximal token spans covered by n-grams that occur
    ``min_count``+ times anywhere in the corpus (including repeats
    within one document). This is the sub-document grain of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"
    (their suffix-array ExactSubstr pass, re-expressed relationally at
    n-gram resolution): document-level dedup keeps a page that pastes a
    duplicated paragraph into fresh text — this finds the paragraph.

    Span indices are 0-based token positions, inclusive: a duplicated
    n-gram at position p covers [p, p+n-1]; overlapping/adjacent
    duplicated grams merge into one maximal span by the classic
    gaps-and-islands rule (island id = pos − row_number per doc).

    Scale shape: gram hashes (Horner-composed 8-byte token hashes —
    the same integer lattice the shingle family rides, so the exchange
    carries BIGINT keys instead of 32-char md5 strings: ~4× narrower
    shuffle rows, measured 39 s → 17 s at sf1) explode map-side;
    frequency is one (hash → count) aggregation — hashes travel, never
    gram text; the duplicated-position filter is a self-join on the
    hash (duplicated grams are corpus-dependent, so no broadcast
    assumption); the island merge is one doc-keyed window +
    aggregation. Nothing quadratic, no suffix array materialization.
    """
    base = _token_hash_base(documents, id_col, text_col).filter(F.col("_nt") >= n)
    pos = base.select(
        "doc_id",
        F.posexplode(_horner_shingles(n)).alias("pos", "gh"),
    )
    freq = pos.groupBy("gh").agg(F.count("*").alias("c")).filter(F.col("c") >= min_count)
    dup = pos.join(freq.select("gh"), "gh").select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    island = (F.col("pos") - F.row_number().over(w)).alias("island")
    return (
        dup.select("doc_id", "pos", island)
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .drop("island")
        .select("doc_id", "span_start", "span_end", "n_grams")
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share at
    least one word ``n``-gram with any benchmark/eval document → (doc_id,
    n_shared_ngrams, n_benchmark_docs).

    The standard eval-leakage scan every LLM training pipeline runs
    (GPT-3 used 13-gram overlap; the synthetic corpus's short docs get
    n=5 by default). Relational form: hashed shingle tables on both
    sides, equi-join on the 31-bit shingle key, per-train-doc distinct
    counts. The benchmark side is an eval suite — tiny next to a 100 TB
    corpus — so it broadcasts by default and the train corpus is never
    shuffled; pass ``broadcast_benchmark=False`` if the benchmark side
    is itself corpus-sized.
    """
    sh_t = hashed_shingle_table(train, n=n, id_col=id_col, text_col=text_col)
    sh_b = hashed_shingle_table(benchmark, n=n, id_col=id_col, text_col=text_col).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    if broadcast_benchmark:
        sh_b = F.broadcast(sh_b)
    return (
        sh_t.join(sh_b, "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").cast("long").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").cast("long").alias("n_benchmark_docs"),
        )
    )


BLOOM_BITS = 1 << 20  # 2^20-bit filter = ~16.6k 63-bit words, ~130 KiB broadcast
BLOOM_HASHES = 4


def _bloom_positions(shingle: Column, num_hashes: int = BLOOM_HASHES, m_bits: int = BLOOM_BITS):
    """The k seeded-LCG bit positions of a shingle — same (a, b) literal
    table as the MinHash permutations (``_lcg_params``), so the SQL
    oracle replays them bit-for-bit."""
    return [
        ((F.lit(a) * shingle + F.lit(b)) % MERSENNE31) % m_bits
        for _i, a, b in _lcg_params(num_hashes)
    ]


def bloom_build(
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = BLOOM_HASHES,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """(word, bits) — a Bloom filter over the benchmark corpus's hashed
    word n-grams, packed 63 bits per BIGINT word (bit 63 never used, so
    no sign corner anywhere and any ANSI engine reproduces the words).

    Scale rationale: exact decontamination broadcasts EVERY benchmark
    shingle (the :func:`decontaminate` join side grows with the eval
    suite); the Bloom filter is a FIXED ~130 KiB bitset regardless of
    benchmark size — the membership-sketch trade (Bloom 1970, CACM):
    no false negatives, false-positive rate (1-e^{-kn/m})^k, measured
    against the exact scan in tests. Build is one distinct + one
    bit_or aggregation, both partial-aggregated map-side.
    """
    sh = hashed_shingle_table(benchmark, n=n, id_col=id_col, text_col=text_col).select(
        "shingle"
    ).distinct()
    pos = sh.select(
        F.explode(F.array(*_bloom_positions(F.col("shingle"), num_hashes, m_bits))).alias("pos")
    )
    return (
        pos.select(
            F.expr("pos div 63").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = BLOOM_HASHES,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """(doc_id, n_flagged_ngrams) — Bloom-filter decontamination: train
    documents whose word n-grams hit ALL k benchmark filter bits.

    A flagged shingle either appears in the benchmark (true leak) or is
    a false positive; by Bloom's guarantee the flagged set is a SUPERSET
    of :func:`decontaminate`'s exact matches (asserted in tests), so
    using it as an exclusion gate never lets contamination through —
    the safe direction for eval hygiene. The filter broadcasts at fixed
    size; the train corpus is never shuffled (one map-side probe +
    per-doc partial count).
    """
    bloom = F.broadcast(
        bloom_build(
            benchmark, n=n, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, m_bits=m_bits,
        )
    )
    sh_t = hashed_shingle_table(train, n=n, id_col=id_col, text_col=text_col)
    probes = sh_t.select(
        "doc_id",
        "shingle",
        F.explode(
            F.array(*_bloom_positions(F.col("shingle"), num_hashes, m_bits))
        ).alias("pos"),
    ).select(
        "doc_id",
        "shingle",
        F.expr("pos div 63").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias("mask"),
    )
    hit = (
        probes.join(bloom, "word", "left")
        .select(
            "doc_id",
            "shingle",
            F.coalesce((F.col("bits").bitwiseAND(F.col("mask")) != 0).cast("int"), F.lit(0)).alias(
                "bit_set"
            ),
        )
        .groupBy("doc_id", "shingle")
        .agg(F.sum("bit_set").alias("n_set"))
        .filter(F.col("n_set") == num_hashes)
    )
    return hit.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_flagged_ngrams")
    )


def bloom_oracle_sql(
    num_hashes: int = BLOOM_HASHES, m_bits: int = BLOOM_BITS
) -> str:
    """DuckDB twin of :func:`bloom_decontaminate` over the documents
    table with the standard benchmark split (doc_id % 10 = 0) — the
    identical shingles, LCG positions, 63-bit word packing, bit_or
    build, and all-k probe rule."""
    params = ", ".join(f"({i}, {a}, {b})" for i, a, b in _lcg_params(num_hashes))
    return f"""
        WITH th AS (
            SELECT doc_id,
                   [list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                        (a, b) -> a * 16 + b) % {MERSENNE31}
                    for tok in string_split(lower(text), ' ')] AS th
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, s AS shingle FROM (
                SELECT doc_id,
                       unnest([((((th[i] * 1000003 + th[i+1]) % {MERSENNE31} * 1000003 + th[i+2]) % {MERSENNE31} * 1000003 + th[i+3]) % {MERSENNE31} * 1000003 + th[i+4]) % {MERSENNE31}
                               for i in generate_series(1, len(th)-4)]) AS s
                FROM th
            )
        ),
        hp AS (SELECT * FROM (VALUES {params}) AS hp(i, a, b)),
        bpos AS (
            SELECT sh.doc_id, sh.shingle,
                   ((hp.a * sh.shingle + hp.b) % {MERSENNE31}) % {m_bits} AS pos
            FROM sh CROSS JOIN hp
        ),
        bloom AS (
            SELECT pos // 63 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
            FROM bpos WHERE doc_id % 10 = 0
            GROUP BY 1
        ),
        probe AS (
            SELECT p.doc_id, p.shingle,
                   CASE WHEN (b.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 63 AS INT))) <> 0
                        THEN 1 ELSE 0 END AS bit_set
            FROM (SELECT * FROM bpos WHERE doc_id % 10 <> 0) p
            LEFT JOIN bloom b ON b.word = p.pos // 63
        ),
        flagged AS (
            SELECT doc_id, shingle
            FROM probe GROUP BY 1, 2
            HAVING SUM(bit_set) = {num_hashes}
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_ngrams
        FROM flagged GROUP BY 1
    """


def simhash32(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) — 32-bit SimHash over distinct word tokens.

    Bit b of the fingerprint is set iff more than half the tokens have
    bit b set in their 48-bit hash (majority vote, unweighted).

    Computed entirely map-side: the distinct-token hash array is a named
    per-row column and each bit's vote is an ``aggregate`` fold over it —
    no token explode, no 32x bit-row blowup, ZERO shuffles (the earlier
    relational form paid a distinct plus two groupBy shuffles on 32x the
    token rows). Same integers; the fingerprint oracles are unchanged.
    """
    th = F.transform(F.array_distinct(words(text_col)), lambda t: token_hash48(t))
    base = documents.select(F.col(id_col).alias("doc_id"), th.alias("_th"))
    total = F.size("_th")

    def ones(b: int):
        # majority-vote numerator for bit b: fold of (h >> b) & 1
        return F.aggregate(
            "_th", F.lit(0).cast("long"), lambda acc, x: acc + F.shiftright(x, b) % 2
        )

    sim = F.lit(0).cast("long")
    for b in range(32):
        sim = sim + F.when(ones(b) * 2 > total, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return base.select("doc_id", sim.alias("simhash"))


def embedding_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine near-dup pairs (id1, id2, cosine ≥ threshold).

    Float elements widen to double (exact, 24+24 < 53 mantissa bits),
    products quantize to the integer lattice (×DOT_SCALE, round, sum as
    BIGINT — exact, order-independent), so both engines produce the same
    cosine, bit for bit. Brute force is the correctness baseline — the
    scale path is the LSH-bucketed variant in operators/similarity.py.
    """
    def _scaled(x: Column, y: Column) -> Column:
        return F.round(x.cast("double") * y.cast("double") * F.lit(DOT_SCALE)).cast("long")

    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: _scaled(x, x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    e = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sq.alias("sq"))
    # The triangular pair join is a nested-loop; a single-file parquet
    # table arrives as ONE partition, which would serialize the whole
    # O(n²) fan-out onto one core. Spread the streamed side explicitly.
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    e1 = e.select(F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("sq").alias("sq1")).repartition(par)
    e2 = e.select(F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("sq").alias("sq2"))
    dot = F.aggregate(
        F.zip_with("v1", "v2", _scaled),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = e1.join(e2, F.col("id1") < F.col("id2")).select(
        "id1",
        "id2",
        (dot / F.sqrt(F.col("sq1").cast("double") * F.col("sq2").cast("double"))).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup join: (id1, id2, hamming ≤ max_hamming).

    The classic completion of the fingerprint: band the 32-bit simhash
    into 4 bytes — any pair within Hamming distance 3 must agree on at
    least one whole byte (pigeonhole), so an equi-join per band finds
    every candidate without an O(n²) comparison — then verify with
    exact ``bit_count(xor)``. Same candidate→verify architecture as
    MinHash-LSH, over bit-sketches instead of shingle sets; shuffle
    keys are (band index, byte value) — 1024 buckets spread by content.
    """
    fp = simhash32(documents, id_col=id_col, text_col=text_col)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.expr(f"(simhash >> {8 * i}) & 255").alias("bv"),
                )
                for i in range(4)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
    b1 = bands.select(
        F.col("doc_id").alias("id1"), F.col("simhash").alias("s1"), "band", "bv"
    )
    b2 = bands.select(
        F.col("doc_id").alias("id2"), F.col("simhash").alias("s2"), "band", "bv"
    )
    cands = (
        b1.join(b2, ["band", "bv"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "s1", "s2")
        .distinct()
    )
    return cands.select(
        "id1",
        "id2",
        F.bit_count(F.expr("s1 ^ s2")).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def minhash_lsh_incremental(
    corpus: DataFrame,
    new_docs: DataFrame,
    n: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental MinHash dedup: (corpus_id, new_id, jaccard) — which
    documents of an incoming batch near-duplicate the EXISTING corpus.

    The production shape for continuously-crawled data: the corpus side
    (band signatures + shingle-set sizes) is the persisted dedup index a
    deployment writes once and reuses per batch; only the new batch is
    shingled fresh, and candidates come from the cross-side band-bucket
    join — corpus×corpus pairs are never generated or verified. Verify
    is exact Jaccard restricted to candidate docs, same as the batch
    operator, so (given disjoint id spaces) the result equals the
    cross-side slice of ``minhash_lsh_pairs`` over the concatenation —
    which is exactly how the oracle states it.
    """
    ca = hashed_shingle_arrays(corpus, n=n, id_col=id_col, text_col=text_col).localCheckpoint()
    na = hashed_shingle_arrays(new_docs, n=n, id_col=id_col, text_col=text_col).localCheckpoint()
    cs = minhash_band_sigs_from_arrays(ca, num_perm=num_perm, rows_per_band=rows_per_band).select(
        F.col("doc_id").alias("corpus_id"), "band", "band_sig"
    )
    ns = minhash_band_sigs_from_arrays(na, num_perm=num_perm, rows_per_band=rows_per_band).select(
        F.col("doc_id").alias("new_id"), "band", "band_sig"
    )
    # array-native verify (same as minhash_lsh_pairs): each candidate
    # pair joins its two DISTINCT shingle arrays and computes |A∩B|
    # in-row — the exploded cross-side posting join + groupBy + semi-join +
    # two size joins it
    # replaces shuffled the posting table per side. cands now has ONE
    # consumer, so it needs no checkpoint against recomputation.
    cands = cs.join(ns, ["band", "band_sig"]).select("corpus_id", "new_id").distinct()
    a1 = ca.select(F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("_sh1"))
    a2 = na.select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("_sh2"))
    inter = (
        cands.join(a1, "corpus_id")
        .join(a2, "new_id")
        .withColumn("_i", F.size(F.array_intersect("_sh1", "_sh2")))
    )
    return (
        inter.select(
            "corpus_id",
            "new_id",
            (
                F.col("_i") / (F.size("_sh1") + F.size("_sh2") - F.col("_i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_prefix_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact all-pairs Jaccard join with PREFIX FILTERING (Bayardo,
    Ma & Srikant, WWW 2007 "Scaling Up All Pairs Similarity Search") —
    the lossless alternative to the df cap: identical output to the
    uncapped ``ngram_jaccard_pairs`` (pinned by test and by sharing its
    oracle), at a fraction of the candidate volume.

    Pruning rule: order every document's shingles by GLOBAL document
    frequency, rarest first. If J(x,y) ≥ t then |x∩y| ≥ ceil(t·|x|),
    so x must share a shingle inside its first |x| − ceil(t·|x|) + 1
    ordered shingles (pigeonhole) — only that prefix is indexed, and
    candidate pairs come from the prefix-postings self-join plus the
    length filter t·max(|x|,|y|) ≤ min(|x|,|y|). Verification then
    computes exact Jaccard over the FULL shingle sets for candidates
    only. Frequent (boilerplate) shingles land at the END of every
    ordering, so the quadratic Σdf² blow-up the df cap fights lossily
    is avoided losslessly: hot shingles simply never enter the index
    unless a document consists almost entirely of them.

    Exactness guard: ceil(t·|x|) is evaluated in DECIMAL, not double —
    a float ceil of 0.3·10 = 3.0000000000000004 would overestimate the
    overlap bound and silently drop true pairs.

    Plan shape: one df-count exchange, one per-doc window to rank the
    ordering, one prefix-postings self-join keyed by (rare) shingle,
    then the bounded candidate verify. All joins keyed by 8-byte ints.
    """
    t_dec = F.lit(threshold).cast("decimal(10,6)")
    sh = hashed_shingle_table(
        documents, n=n, id_col=id_col, text_col=text_col, max_shingle_freq=None
    ).localCheckpoint()
    freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    w = W.partitionBy("doc_id").orderBy("_df", "shingle")
    ranked = (
        sh.join(freq, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w).alias("_pos"),
            F.count("*").over(W.partitionBy("doc_id")).alias("_sz"),
        )
    )
    alpha = F.ceil(t_dec * F.col("_sz")).cast("long")
    prefix = ranked.filter(F.col("_pos") <= F.col("_sz") - alpha + 1).select(
        "doc_id", "shingle", "_sz"
    )
    p1 = prefix.select(
        F.col("doc_id").alias("id1"), "shingle", F.col("_sz").alias("_sz1")
    )
    p2 = prefix.select(
        F.col("doc_id").alias("id2"), "shingle", F.col("_sz").alias("_sz2")
    )
    cand = (
        p1.join(p2, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .filter(
            t_dec * F.greatest("_sz1", "_sz2")
            <= F.least("_sz1", "_sz2").cast("decimal(20,6)")
        )
        .select("id1", "id2")
        .distinct()
    )
    # Verify by PER-PAIR array intersection, not the posting self-join:
    # _pair_jaccard's s1⋈s2-on-shingle step enumerates Σdf² co-shingle
    # pairs BEFORE its candidate semi-join can prune, so on a corpus
    # where candidates touch most documents (the near-dup-replica
    # shape) it silently degenerates to the uncapped join the prefix
    # filter exists to avoid (measured: 482 s at sf1
    # vs 42.9 s with this form; uncapped posting join 253 s, df-capped 310 s). Cost here is O(|candidates| · |d|):
    # join each candidate pair to its two shingle ARRAYS and intersect
    # in-row.
    arrays = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("_ss"), F.count("*").alias("_sz")
    )
    a1 = arrays.select(
        F.col("doc_id").alias("id1"), F.col("_ss").alias("_ss1"), F.col("_sz").alias("_sza")
    )
    a2 = arrays.select(
        F.col("doc_id").alias("id2"), F.col("_ss").alias("_ss2"), F.col("_sz").alias("_szb")
    )
    inter = F.size(F.array_intersect("_ss1", "_ss2")).cast("long")
    return (
        cand.join(a1, "id1")
        .join(a2, "id2")
        .select(
            "id1",
            "id2",
            (inter / (F.col("_sza") + F.col("_szb") - inter)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def bloom_bits_array(
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = BLOOM_HASHES,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """ONE row (bloom_bits array<long>) — the :func:`bloom_build` filter
    densified into a word-indexed array (missing words = 0), the
    broadcastable in-row-probe form of the bitset."""
    spark = benchmark.sparkSession
    n_words = (m_bits + 62) // 63
    bloom = bloom_build(
        benchmark, n=n, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, m_bits=m_bits,
    )
    dense = (
        spark.range(n_words)
        .select(F.col("id").alias("word"))
        .join(bloom, "word", "left")
        .select("word", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
    )
    return dense.agg(
        F.array_sort(F.collect_list(F.struct("word", "bits"))).alias("_wb")
    ).select(F.transform("_wb", lambda s: s["bits"]).alias("bloom_bits"))


def bloom_decontaminate_inrow(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = BLOOM_HASHES,
    m_bits: int = BLOOM_BITS,
) -> DataFrame:
    """(doc_id, n_flagged_ngrams) — :func:`bloom_decontaminate` with the
    probe evaluated IN-ROW: the densified bitset broadcasts as one
    array row and each document tests its (distinct) shingle array with
    a higher-order filter — no probe explode, no per-(doc, shingle)
    groupBy, no per-doc count aggregation. Output pinned identical to
    the join form by test.

    This is the STREAMING-compatible shape: zero aggregation means the
    crawl-ingest gate runs in watermark-free append mode (a streaming
    groupBy would demand a watermark the gate has no use for), and the
    batch plan drops two exchanges as a bonus. The k bit tests per
    shingle are cheap integer ops; if a profile ever shows the HOF
    lambda dominating (the Catalyst interpreted-lambda pathology), the
    numpy mapInPandas twin is the known fix — at the current k=4 the
    probe is a rounding error next to shingling.
    """
    from functools import reduce as _reduce

    bits = F.broadcast(
        bloom_bits_array(
            benchmark, n=n, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, m_bits=m_bits,
        )
    )
    arrays = hashed_shingle_arrays(train, n=n, id_col=id_col, text_col=text_col)

    def all_bits_set(s):
        conds = []
        for _i, a, b in _lcg_params(num_hashes):
            pos = ((F.lit(a) * s + F.lit(b)) % MERSENNE31) % m_bits
            word_idx = (pos - pos % 63) / 63  # exact integer-valued double
            mask = F.call_function(
                "shiftleft", F.lit(1).cast("long"), (pos % 63).cast("int")
            )
            elem = F.element_at(F.col("bloom_bits"), word_idx.cast("int") + 1)
            conds.append(elem.bitwiseAND(mask) != 0)
        return _reduce(lambda x, y: x & y, conds)

    flagged = F.size(F.filter(F.col("shingles"), all_bits_set)).cast("long")
    return (
        arrays.crossJoin(bits)
        .select("doc_id", flagged.alias("n_flagged_ngrams"))
        .filter(F.col("n_flagged_ngrams") >= 1)
    )


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_contained, id_container, inter, size_contained,
    containment_pct) — exact CONTAINMENT join: ordered pairs where
    |x∩y| / |x| ≥ threshold on n-gram shingle sets. The asymmetric
    twin of the Jaccard family: symmetric similarity misses a short
    document duplicated INSIDE a long one (syndicated articles, quoted
    posts, page-in-crawl-of-site), because the union in J's
    denominator is dominated by the long side. This is the
    sub-document-grain complement of dedup_dup_spans at whole-doc
    grain.

    Pruning: the prefix rule applies to the CONTAINED side only —
    C(x→y) ≥ t forces x to share a shingle within its |x|−⌈t·|x|⌉+1
    globally-rarest shingles (pigeonhole; ceil in DECIMAL so float
    error can never over-prune) — while the container side must be
    fully indexed (no length bound constrains y). Candidates =
    prefix(x) ⋈ postings(y); hot shingles only reach the join when a
    document consists almost entirely of boilerplate (they sort to the
    END of every prefix ordering). Verification intersects the two
    full shingle ARRAYS per candidate pair — O(|candidates|·|d|), the
    SCALE.md verify rule.
    """
    t_dec = F.lit(threshold).cast("decimal(10,6)")
    arrs = hashed_shingle_arrays(
        documents, n=n, id_col=id_col, text_col=text_col
    ).withColumn("_sz", F.size("shingles").cast("long")).localCheckpoint()

    posting = arrs.select(
        F.col("doc_id").alias("id_container"), F.explode("shingles").alias("shingle")
    )
    freq = posting.groupBy("shingle").agg(F.count("*").alias("_df"))
    x_post = arrs.select(
        F.col("doc_id").alias("id_contained"),
        F.col("_sz"),
        F.explode("shingles").alias("shingle"),
    )
    w = W.partitionBy("id_contained").orderBy("_df", "shingle")
    min_inter = F.ceil(t_dec * F.col("_sz")).cast("long")
    prefix = (
        x_post.join(freq, "shingle")
        .withColumn("_pos", F.row_number().over(w))
        .filter(F.col("_pos") <= F.col("_sz") - min_inter + 1)
        .select("id_contained", "shingle")
    )
    cands = (
        prefix.join(posting, "shingle")
        .filter(F.col("id_contained") != F.col("id_container"))
        .select("id_contained", "id_container")
        .distinct()
    )
    a_x = arrs.select(
        F.col("doc_id").alias("id_contained"),
        F.col("shingles").alias("_sx"),
        F.col("_sz").alias("size_contained"),
    )
    a_y = arrs.select(
        F.col("doc_id").alias("id_container"), F.col("shingles").alias("_sy")
    )
    inter = F.size(F.array_intersect("_sx", "_sy")).cast("long")
    keep = F.col("inter") >= F.ceil(t_dec * F.col("size_contained")).cast("long")
    return (
        cands.join(a_x, "id_contained")
        .join(a_y, "id_container")
        .withColumn("inter", inter)
        .filter(keep)
        .select(
            "id_contained",
            "id_container",
            "inter",
            "size_contained",
            F.expr("(inter * 100) div size_contained").alias("containment_pct"),
        )
    )


def minhash_band_sig_array(num_perm: int = 16, rows_per_band: int = 4):
    """array<string> Column of per-band signature strings (index =
    band + 1) computed IN-ROW from a ``shingles`` column — the same
    permutation minima and '-'-joined signatures as
    :func:`minhash_band_sigs_from_arrays` (pinned by test), but kept as
    one array per document instead of exploded rows. This is what lets
    a STREAM probe a broadcast bucket index with one scalar-key hash
    join per band — no explode, no cross-band duplicate pairs, no
    streaming state (streaming/documents.py). Empty-shingle documents
    yield '' signatures, which match nothing (the row form filters
    band_sig != '' out of the index)."""
    perms = _lcg_params(num_perm)

    def perm_min(a: int, b: int):
        return F.array_min(
            F.transform("shingles", lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE31)
        )

    mins = [perm_min(a, b) for _, a, b in perms]
    n_bands = num_perm // rows_per_band
    return F.array(
        *[
            F.concat_ws(
                "-",
                *[
                    mins[i].cast("string")
                    for i in range(band * rows_per_band, (band + 1) * rows_per_band)
                ],
            )
            for band in range(n_bands)
        ]
    )


def minhash_recall_eval(
    documents: DataFrame,
    n: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ONE-row recall/precision audit of the MinHash-LSH banding against
    exact Jaccard ground truth — the measurement every production dedup
    should publish next to its index parameters (banding trades recall
    for scale; this quantifies the trade on the actual corpus instead
    of the iid-minhash formula):

      (n_true_pairs, n_candidates, n_found_pairs, n_missed,
       recall_ppm, cand_precision_ppm)

    n_true = exact-Jaccard pairs ≥ threshold over the UNCAPPED shingle
    universe; n_candidates = distinct banded bucket-join pairs; n_found
    = candidates that verify ≥ threshold. Because the LSH verify
    computes Jaccard over the same full shingle sets, found ⊆ true, so
    missed = true − found without an anti-join and output precision is
    1 by construction — cand_precision_ppm measures the WASTED verify
    work instead (candidates that fail the threshold).

    Plan: the shingle arrays build ONCE (checkpointed) and feed the
    exploded exact join, the signatures, and the array-native verify;
    the three counts are 1-row aggregates broadcast-crossed into the
    single output row — audit cost ≈ one exact join + one LSH pass,
    nothing new. At 100 TB
    run it on a stratified sample (`sampling.stratified_hash_sample`)
    — the banding recall is a per-pair property, so a content-hash
    sample estimates it unbiasedly; the full exact join stays a
    small-corpus/sample tool by nature (Σ df²).
    """
    arrays = hashed_shingle_arrays(
        documents, n=n, id_col=id_col, text_col=text_col
    ).localCheckpoint()
    sh = arrays.select("doc_id", F.explode("shingles").alias("shingle")).localCheckpoint()
    exact = _pair_jaccard(sh).filter(F.col("jaccard") >= threshold)
    band_sigs = minhash_band_sigs_from_arrays(
        arrays, num_perm=num_perm, rows_per_band=rows_per_band
    )
    b1 = band_sigs.select(F.col("doc_id").alias("id1"), "band", "band_sig")
    b2 = band_sigs.select(F.col("doc_id").alias("id2"), "band", "band_sig")
    cands = (
        b1.join(b2, ["band", "band_sig"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
        .localCheckpoint()
    )
    # array-native verify (the minhash_lsh_pairs form): each
    # candidate pair joins its two DISTINCT shingle arrays and computes
    # |A∩B| in-row — same Jaccard as the posting-list verify, which
    # re-shuffled the exploded table per candidate side; zero-overlap
    # candidates score 0 and fail the (positive) threshold exactly as
    # the posting join's share-a-shingle contract dropped them
    a1 = arrays.select(F.col("doc_id").alias("id1"), F.col("shingles").alias("_sh1"))
    a2 = arrays.select(F.col("doc_id").alias("id2"), F.col("shingles").alias("_sh2"))
    fi = (
        cands.join(a1, "id1")
        .join(a2, "id2")
        .withColumn("_i", F.size(F.array_intersect("_sh1", "_sh2")))
    )
    found = fi.select(
        (F.col("_i") / (F.size("_sh1") + F.size("_sh2") - F.col("_i"))).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    n_true = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    n_cand = cands.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_found = found.agg(F.count(F.lit(1)).cast("long").alias("n_found_pairs"))
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_found))
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_found_pairs",
            (F.col("n_true_pairs") - F.col("n_found_pairs")).alias("n_missed"),
            F.expr(
                "CASE WHEN n_true_pairs = 0 THEN -1L "
                "ELSE (n_found_pairs * 1000000) div n_true_pairs END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN n_candidates = 0 THEN -1L "
                "ELSE (n_found_pairs * 1000000) div n_candidates END"
            ).alias("cand_precision_ppm"),
        )
    )


def strip_duplicate_spans(
    documents: DataFrame,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, clean_text, n_tokens, n_removed) — the ACTION step of
    the ExactSubstr pass (Lee et al. 2022 §4.2: having found the
    corpus-duplicated spans, cut them out of the training text):
    every token position covered by a :func:`duplicate_spans` span is
    removed and the survivors re-join on single spaces. Documents with
    no duplicated span pass through UNCHANGED (bit-identical text,
    nulls included) — the pass is a targeted excision, not a rewrite.

    Scale shape: rides duplicate_spans' plan (gram-hash frequency +
    island merge — BIGINT keys through every exchange) plus ONE
    (doc_id)-grain join of the span list back onto the corpus; spans
    per doc are a handful of (start, end) structs, so the excision is
    an in-row filter/transform over the token array — no explode, no
    per-token shuffle. Maximal islands are disjoint by construction,
    so each token tests against non-overlapping intervals.
    """
    spans = duplicate_spans(
        documents, n=n, min_count=min_count, id_col=id_col, text_col=text_col
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_sp")
    )
    # named token-array column: lambdas get no CSE (SCALE.md), an
    # inline split would re-tokenize per element access
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_text"),
        F.split(F.col(text_col), " ").alias("_t"),
    ).join(per_doc, "doc_id", "left")
    idx = F.sequence(F.lit(0), F.size("_t") - 1)
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_sp"),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    kept_idx = F.filter(idx, lambda i: ~covered(i))
    clean = F.concat_ws(
        " ", F.transform(kept_idx, lambda i: F.element_at("_t", (i + 1).cast("int")))
    )
    n_tokens = F.size("_t").cast("long")
    return base.select(
        "doc_id",
        F.when(F.col("_sp").isNull(), F.col("_text"))
        .otherwise(clean)
        .alias("clean_text"),
        F.when(n_tokens < 0, F.lit(0)).otherwise(n_tokens).cast("long").alias("n_tokens"),
        F.when(F.col("_sp").isNull(), F.lit(0))
        .otherwise(n_tokens - F.size(kept_idx))
        .cast("long")
        .alias("n_removed"),
    )


def minhash_index_upsert(
    index: DataFrame,
    new_docs: DataFrame,
    n: int = 3,
    num_perm: int = 16,
    rows_per_band: int = 4,
    drop_near_dups: bool = True,
    threshold: float = 0.5,
) -> DataFrame:
    """The crawl-loop INDEX MAINTENANCE step: fold a new crawl batch
    into the persisted MinHash index and return the next index version
    — (doc_id, band, band_sig, shingles, origin).

    ``index`` is the current persisted index (same columns, origin
    'corpus'); ``new_docs`` is the raw (doc_id, text) batch. Semantics:

    1. signatures + shingle arrays for the batch compute map-side
       (the zero-explode array form);
    2. when ``drop_near_dups``, batch docs that near-duplicate the
       EXISTING corpus (band-bucket candidates, exact array-Jaccard ≥
       threshold — exactly `minhash_lsh_incremental`'s rule) are NOT
       admitted: the index stays a canonical-document index instead of
       accreting every mirror of itself (the production crawl
       contract);
    3. survivors union in with origin 'new'; doc_ids already present
       keep their EXISTING rows (idempotent re-ingest — a re-crawled
       id never duplicates or flips its signature rows).

    Scale shape: batch-side work is map-side; the candidate join keys
    on (band, band_sig); the id-dedup is one left-anti on doc_id; the
    corpus index is touched only through those joins — never rebuilt.
    In production the result lands via ``lakehouse.write_snapshot``,
    giving versioned/time-travelable index generations.
    """
    na = hashed_shingle_arrays(new_docs, n=n).localCheckpoint()
    nsigs = minhash_band_sigs_from_arrays(
        na, num_perm=num_perm, rows_per_band=rows_per_band, keep_shingles=True
    )
    if drop_near_dups:
        csigs = index.select(
            F.col("doc_id").alias("corpus_id"),
            "band",
            "band_sig",
            F.col("shingles").alias("corpus_shingles"),
        )
        inter = F.size(F.array_intersect("shingles", "corpus_shingles"))
        union = F.size("shingles") + F.size("corpus_shingles") - inter
        dup_ids = (
            nsigs.join(csigs, ["band", "band_sig"])
            .select("doc_id", "corpus_id", "shingles", "corpus_shingles")
            .dropDuplicates(["doc_id", "corpus_id"])
            .filter((inter / union) >= threshold)
            .select("doc_id")
            .distinct()
        )
        nsigs = nsigs.join(dup_ids, "doc_id", "left_anti")
    admitted = nsigs.join(
        index.select("doc_id").distinct(), "doc_id", "left_anti"
    ).select("doc_id", "band", "band_sig", "shingles", F.lit("new").alias("origin"))
    return index.select(
        "doc_id", "band", "band_sig", "shingles", F.lit("corpus").alias("origin")
    ).unionByName(admitted)


def minhash_index_build(
    corpus: DataFrame, n: int = 3, num_perm: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, band_sig, shingles) — the persisted-index layout
    :func:`minhash_index_upsert` maintains, built from scratch (the
    bootstrap generation). Map-side signatures off the array form."""
    ca = hashed_shingle_arrays(corpus, n=n)
    return minhash_band_sigs_from_arrays(
        ca, num_perm=num_perm, rows_per_band=rows_per_band, keep_shingles=True
    ).select("doc_id", "band", "band_sig", "shingles")


def keep_best_per_cluster(
    scored: DataFrame,
    clusters: DataFrame,
    score_col: str = "score_milli",
    broadcast_clusters: bool = True,
) -> DataFrame:
    """(doc_id, cluster_id, <score_col>, keep) — quality-aware
    canonical selection: inside every near-dup cluster keep exactly the
    member with the HIGHEST score (ties to the smallest doc_id);
    unclustered documents are their own singleton and always keep.

    ``dedup_clusters``' min-id canonical answers "keep one per
    cluster"; this is the quality-aware refinement the published web
    pipelines actually run (RefinedWeb §3.3 / FineWeb keep one document
    per duplicate cluster — and when a quality signal exists, the kept
    one should be the best, not the arbitrary smallest id).

    Scale shape: the argmax runs ONLY over the clustered slice — near-
    dup clusters are orders of magnitude smaller than the corpus, so
    ``clusters`` broadcasts (map-side inner join), the one per-cluster
    window exchanges slice rows only, and the verdicts broadcast back
    onto the corpus-grain ``scored`` frame: the corpus itself is never
    reshuffled. ``broadcast_clusters=False`` falls back to shuffle
    joins if a pathological corpus makes the dup slice huge."""
    from pyspark.sql import Window as W

    cl = F.broadcast(clusters) if broadcast_clusters else clusters
    clustered = scored.join(cl, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.asc("doc_id")
    )
    verdicts = (
        clustered.withColumn("_rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            (F.col("_rk") == 1).cast("long").alias("keep"),
        )
    )
    if broadcast_clusters:
        verdicts = F.broadcast(verdicts)
    return scored.join(verdicts, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        score_col,
        F.coalesce("keep", F.lit(1)).cast("long").alias("keep"),
    )
