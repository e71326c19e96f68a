"""Sparse lexical retrieval over the ``documents`` table.

BM25 top-k with *exact integer arithmetic*: the classic
Robertson/Spärck-Jones BM25 (k1=1.2, b=0.75) rewritten as a rational
expression whose numerator and denominator are pure BIGINT products, so
Spark and any ANSI-SQL oracle produce bit-identical scores (the same
discipline as ``g_pagerank_int`` — integer ``div``, no floats anywhere).

With k1 = 6/5 and b = 3/4 the per-term score

    idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

becomes, after clearing fractions with avgdl = total_len/N,

    idf_num * 44 * tf * total_len
    -----------------------------------------------------
    idf_den * (20*tf*total_len + 6*total_len + 18*dl*N)

with idf_num = 2N - 2df + 1, idf_den = 2df + 1 — i.e. the RAW
+0.5-smoothed ratio (N - df + 0.5)/(df + 0.5), always positive.
**Deliberate deviation from standard Robertson idf: the logarithm is
dropped** so the whole score stays on the integer lattice and any
ANSI-SQL oracle reproduces it bit-for-bit.  Consequence: rare terms
are weighted linearly instead of logarithmically, so multi-term
rankings can diverge from log-idf BM25 when document-frequency spans
are wide; for the corpus-search / hard-negative-mining use case here
the trade (engine-exact verifiability over textbook weighting) is the
point.  Each term contributes
``(SCALE * num) div den`` and the floored contributions sum per
document — deterministic, order-independent, engine-independent.

Overflow bound: SCALE*44*tf*total_len*idf_num must stay below 2^63.
With SCALE=1e5 that holds to ~1e4 docs × 1e5 total tokens; shrink SCALE
(it only quantizes the score, ranking is unaffected beyond the
quantum) for larger corpora.

Scale shape: document length comes from ``size(split(...))`` per row
(no shuffle); only tokens matching the query terms are exploded (the
filter happens inside the array before the generator, so the shuffle
carries |terms|·|docs| rows at most); df and the corpus stats are
broadcast single-digit-row frames; the final top-k is a sort+limit
(TakeOrderedAndProject), never a single-partition global window.

The reference has no retrieval surface (its text artifact is the
unqueried inverted index, /root/reference/data/samples/
PaperAbstractsInvertedIndex.txt:1); this is a spec extension for the
training-data use case (corpus search / hard-negative mining).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .dedup import words

BM25_SCALE = 100_000


def bm25_topk(
    documents: DataFrame,
    query_terms: list[str],
    k: int = 20,
    scale: int = BM25_SCALE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, bm25_scaled, rank) — top-k documents for a bag-of-words
    query under integer-exact BM25 (see module docstring).

    Ties break on doc_id ascending; documents matching no term are not
    returned (their score is 0).
    """
    terms = sorted(set(query_terms))
    terms_arr = F.array(*[F.lit(t) for t in terms])
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        words(F.col(text_col)).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        F.filter("toks", lambda x: F.array_contains(terms_arr, x)).alias("hits"),
    )
    # Corpus stats: one broadcastable row (N docs, total token count).
    stats = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    # tf is hit-grain (≤ matching-docs × |terms| rows) and feeds BOTH
    # the df table and the scoring join; without the checkpoint the
    # corpus tokenization + hit aggregation underneath runs a second
    # time in the joined plan (Catalyst does not share a subtree
    # between branches). The stats pass above keeps its own
    # scan (it must count non-matching docs too), so the corpus is
    # tokenized exactly twice, never three times.
    tf = (
        base.select("doc_id", "dl", F.explode("hits").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("long").alias("tf"), F.max("dl").alias("dl"))
        .localCheckpoint()
    )
    df_tbl = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    scored = (
        tf.join(F.broadcast(df_tbl), "tok")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "ts",
            F.expr(
                f"(CAST({scale} AS BIGINT) * 44 * tf * total_len * (2*n_docs - 2*df + 1)) div "
                "((2*df + 1) * (20*tf*total_len + 6*total_len + 18*dl*n_docs))"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("ts").cast("long").alias("bm25_scaled"))
    )
    topk = scored.orderBy(F.col("bm25_scaled").desc(), F.col("doc_id")).limit(k)
    w = W.orderBy(F.col("bm25_scaled").desc(), F.col("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def bm25_oracle_sql(query_terms: list[str], k: int = 20, scale: int = BM25_SCALE) -> str:
    """DuckDB twin of :func:`bm25_topk` (same integer lattice; BIGINT
    ``//`` in DuckDB matches BIGINT ``div`` in Spark for positive
    operands)."""
    terms = sorted(set(query_terms))
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS dl,
                   list_filter(string_split(lower(text), ' '), x -> x IN ({in_list})) AS hits
            FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS total_len
            FROM base
        ),
        tf AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf, max(dl) AS dl
            FROM (SELECT doc_id, dl, unnest(hits) AS tok FROM base)
            GROUP BY doc_id, tok
        ),
        dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        term AS (
            SELECT tf.doc_id,
                   (CAST({scale} AS BIGINT) * 44 * tf.tf * s.total_len
                    * (2*s.n_docs - 2*dfr.df + 1))
                   // ((2*dfr.df + 1)
                       * (20*tf.tf*s.total_len + 6*s.total_len + 18*tf.dl*s.n_docs)) AS ts
            FROM tf JOIN dfr USING (tok) CROSS JOIN stats s
        ),
        sc AS (
            SELECT doc_id, CAST(sum(ts) AS BIGINT) AS bm25_scaled
            FROM term GROUP BY doc_id
        ),
        r AS (
            SELECT doc_id, bm25_scaled,
                   CAST(ROW_NUMBER() OVER (ORDER BY bm25_scaled DESC, doc_id) AS BIGINT) AS rank
            FROM sc
        )
        SELECT doc_id, bm25_scaled, rank FROM r WHERE rank <= {k}
    """


def bm25_embed_rerank(
    documents: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    k_candidates: int = 20,
    k: int = 10,
    scale: int = BM25_SCALE,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval: BM25 candidate generation, embedding rerank.

    (doc_id, bm25_scaled, cosine, rerank) — the standard two-stage
    search stack: the lexical stage returns ``k_candidates`` docs, the
    best-ranked candidate THAT HAS AN EMBEDDING ROW becomes the
    semantic anchor (so a missing-embedding top hit degrades to the
    next candidate instead of silently emptying the result), and the
    candidates rerank by integer-lattice cosine to it (ties →
    lexical rank, then doc_id). Candidates without embeddings drop
    out of the rerank while an anchor exists; if NO candidate has an
    embedding row, the lexical stage's output survives as-is with a
    null cosine (ordered by rank — a passthrough, so the
    dense stage degrades to pure BM25 instead of an empty result).
    Everything stays engine-exact: BM25 is all-BIGINT, cosines come
    off the product lattice.

    Scale shape: stage 1 is the bm25_topk plan (scan + tiny shuffles +
    TakeOrdered); stage 2 touches only k_candidates rows — the anchor
    vector and the candidate set both broadcast against the embedding
    table (two id-equi joins), and the final sort is k_candidates rows
    (the no-embedding flag is a one-row broadcast aggregate of those
    same rows).
    """
    from .dedup import DOT_SCALE

    def _scaled(x, y):
        return F.round(x.cast("double") * y.cast("double") * F.lit(DOT_SCALE)).cast("long")

    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: _scaled(x, x)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    cand = bm25_topk(
        documents, query_terms, k=k_candidates, scale=scale, id_col=id_col, text_col=text_col
    )
    vecs = embeddings.select(
        F.col(vec_id_col).alias("doc_id"), F.col(vec_col).alias("v"), sq.alias("sq")
    )
    # Anchor = best-ranked candidate with an embedding (not blindly
    # rank 1): TakeOrdered over <= k_candidates joined rows, so a
    # missing-embedding lexical winner falls back instead of producing
    # an empty cross-join and a silently empty result.
    # localCheckpoint: four downstream subtrees (anchor, scored, n_emb,
    # fallback) read this ≤ k_candidates-row frame; without it each one
    # re-runs the full stage-1 lexical scan+shuffle.
    joined = cand.join(vecs, "doc_id", "left").localCheckpoint()
    anchor = (
        joined.filter(F.col("v").isNotNull())
        .orderBy("rank")
        .limit(1)
        .select(F.col("v").alias("a_v"), F.col("sq").alias("a_sq"))
    )
    dot = F.aggregate(
        F.zip_with("v", "a_v", _scaled), F.lit(0).cast("long"), lambda a, x: a + x
    )
    scored = (
        joined.filter(F.col("v").isNotNull())
        .crossJoin(F.broadcast(anchor))
        .select(
            "doc_id",
            "bm25_scaled",
            "rank",
            (dot / F.sqrt(F.col("sq").cast("double") * F.col("a_sq").cast("double"))).alias(
                "cosine"
            ),
        )
    )
    # All-candidates-missing passthrough: when not one candidate has an
    # embedding row the anchor (and so `scored`) is empty; these rows
    # exist exactly then, carrying the lexical result with null cosine.
    n_emb = joined.agg(F.count("v").alias("n_emb"))
    fallback = (
        joined.crossJoin(F.broadcast(n_emb))
        .filter(F.col("n_emb") == 0)
        .select(
            "doc_id",
            "bm25_scaled",
            "rank",
            F.lit(None).cast("double").alias("cosine"),
        )
    )
    order = [F.col("cosine").desc_nulls_last(), F.col("rank"), F.col("doc_id")]
    topk = scored.unionByName(fallback).orderBy(*order).limit(k)
    return topk.withColumn(
        "rerank", F.row_number().over(W.orderBy(*order)).cast("long")
    ).select("doc_id", "bm25_scaled", "cosine", "rerank")
