"""Approximate-nearest-neighbor search over embedding columns.

Spec extension (not in the reference, which has no vector surface):
top-k cosine neighbors for a query set over ``embeddings.embedding``
(array<float>).

Two paths:
  - ``brute_force_topk`` — exact baseline: query×corpus join, cosine on
    the integer product lattice (see operators/dedup.py), windowed
    row_number ≤ k. Correctness anchor and the right answer up to ~1e6
    corpus rows per executor.
  - ``lsh_topk`` — scale path: random-hyperplane LSH. Each vector gets a
    B-bit signature (sign of dot with B fixed pseudo-random planes);
    candidates share the query's bucket, then exact cosine + top-k
    within the bucket. The plane table is a literal (seeded) so the SQL
    oracle replicates it exactly. At 100 TB the bucket join replaces the
    full cartesian — cost drops by ~2^B for unit recall loss on
    well-separated neighbors.

Determinism: cosines come off the integer lattice; top-k ties break on
neighbor id; hyperplane coefficients are literal integers in [-8, 8].
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from . import tiers
from .dedup import DOT_SCALE
from ..functions.lits import (
    d2_fold_longs,
    dot_fold_doubles,
    dot_fold_longs,
    lattice_longs,
    lit_longs,
)

N_PLANES = 8
_DIM = 64


def _plane_coeffs(
    n_planes: int = N_PLANES, dim: int = _DIM, table: int = 0
) -> list[tuple[int, int, int]]:
    """(plane, i, coeff) — seeded literal integer coefficients in [-8, 8].

    ``table`` offsets the seed: independent plane sets for multi-table
    LSH. Table 0 is the original set (the SQL oracle embeds it)."""
    rng = random.Random(20240813 + 1_000_003 * table)
    out = []
    for p in range(n_planes):
        for i in range(1, dim + 1):
            out.append((p, i, rng.randint(-8, 8)))
    return out


def plane_table_sql(n_planes: int = N_PLANES, dim: int = _DIM, table: int = 0) -> str:
    rows = ", ".join(
        f"({p}, {i}, {c})" for p, i, c in _plane_coeffs(n_planes, dim, table=table)
    )
    return f"(VALUES {rows}) AS pl(plane, i, coeff)"


def _scaled_prod(x: Column, y: Column) -> Column:
    return F.round(x.cast("double") * y.cast("double") * F.lit(DOT_SCALE)).cast("long")


def _sqnorm_expr(col_sql: str) -> Column:
    # _scaled_prod(x, x) summed from 0L, one parsed expression (the
    # lits.py discipline) — identical tree to the lambda form
    return F.expr(
        f"aggregate(transform({col_sql}, x -> "
        f"CAST(round(CAST(x AS double) * CAST(x AS double) * {DOT_SCALE!r}D) "
        "AS bigint)), 0L, (acc, x) -> acc + x)"
    )


def _with_sqnorm(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    sq = _sqnorm_expr(f"`{vec_col}`")
    return embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sq.alias("sq"))


def _cosine(dot_col: Column) -> Column:
    return dot_col / F.sqrt(F.col("q.sq").cast("double") * F.col("c.sq").cast("double"))


def _topk(pairs: DataFrame, k: int) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank"))
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors (self excluded) for each query vector.

    ``queries``: frame with the same (id_col, vec_col) schema.
    Returns (query_id, neighbor_id, cosine, rank).
    """
    # spread the corpus side — a single-file table would otherwise run
    # the whole query×corpus nested loop in one task
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    corpus = _with_sqnorm(embeddings, id_col, vec_col).repartition(par).alias("c")
    qs = _with_sqnorm(queries, id_col, vec_col).alias("q")
    dot = F.aggregate(
        F.zip_with(F.col("q.v"), F.col("c.v"), _scaled_prod),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        qs.join(corpus, F.col("q.id") != F.col("c.id"))
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("neighbor_id"),
            _cosine(dot).alias("cosine"),
        )
    )
    return _topk(pairs, k)


def _lsh_bucket_expr(
    vec_col: str, table: int = 0, n_planes: int = N_PLANES, dim: int = _DIM
) -> Column:
    """The B-bit hyperplane signature as ONE in-row parsed expression.

    Value-identical to the historical posexplode → join(planes) →
    groupBy-SUM → collect form: each per-element product rounds to the
    int64 lattice exactly as ``_scaled_prod`` does, and int64 addition is
    order-independent, so the per-plane dot — and every sign bit — is
    bit-for-bit the same.  SUM's skip-NULLs semantics are replayed by
    ``coalesce(x, 0L)`` in the fold (a zip_with pad past either array's
    end also folds as 0, matching the inner join on element index).
    Callers must keep the explode-drop contract themselves: filter
    NULL/empty vectors, which the old form dropped by never emitting an
    exploded row for them.
    """
    coeffs = _plane_coeffs(n_planes=n_planes, dim=dim, table=table)
    rows: dict[int, list[int]] = {}
    for p, _i, c in coeffs:
        rows.setdefault(p, []).append(c)
    v = f"`{vec_col}`"
    bits = ",".join(
        f"CASE WHEN aggregate(zip_with({v}, array("
        + ",".join(str(int(c)) for c in rows[p])
        + "), (x, c) -> CAST(round(CAST(x AS double) * CAST(c AS double) * "
        + f"{DOT_SCALE!r}D) AS bigint)), 0L, (acc, x) -> acc + coalesce(x, 0L)) >= 0"
        " THEN '1' ELSE '0' END"
        for p in range(int(n_planes))
    )
    return F.expr(f"concat({bits})")


def _non_empty_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """The explode-drop contract of the historical signature: a NULL or
    empty vector never produced an exploded element, so its id carried
    no signature row and inner joins on id dropped it."""
    return df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))


def lsh_signature(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """(id, bucket) — B-bit random-hyperplane signature as a string key.

    Computed in-row off the vector column (``_lsh_bucket_expr``): the
    whole signature composes with the scan as a pure map — zero
    exchanges, where the posexplode + plane-join + two-aggregation form
    this replaced paid two shuffles of the exploded element table per
    call (values bit-identical, see ``_lsh_bucket_expr``).
    """
    return _non_empty_vectors(embeddings, vec_col).select(
        F.col(id_col).alias("id"),
        _lsh_bucket_expr(vec_col, table=table, n_planes=n_planes).alias("bucket"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 8,
    n_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding column → (c_id, c_v) centroids.

    Two tiers, both deterministic given the data: when the corpus fits
    inside the deterministic hash sample the Lloyd rounds run driver-
    locally in numpy (zero extra Spark jobs — the FAISS posture, which
    trains IVF centroids on a sample regardless); otherwise each
    iteration is a fused map-side argmax over centroid literals plus
    ONE partial-aggregated groupBy(c_id) — only the K×dim centroid
    matrix crosses the driver boundary each round, bounded metadata,
    never the data.

    Feeds ``ivf_assign(centroids=...)`` / ``ivf_topk(centroids=...)`` as
    the real-centroid scale path (recall-tested on clustered fixtures in
    tests/test_ann_recall.py).
    """
    spark = embeddings.sparkSession
    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # Farthest-point (k-center greedy) seeding: start from the smallest
    # id, then repeatedly take the point least similar to its nearest
    # chosen seed (ties → smallest id). Deterministic, and unlike
    # smallest-K-ids init it cannot start with K points from one cluster
    # (which makes Lloyd's collapse cells together).
    #
    # ONE deterministic hash-sample pass feeds a local (numpy) greedy:
    # orderBy(md5(id)).limit(seed_sample) is a single TakeOrdered job —
    # the earlier formulation ran K-1 sequential full-corpus scans, each
    # collecting one row, which is needlessly serial at scale. When the
    # corpus fits in the sample (every test fixture and the sf
    # testdata), the sample IS the corpus, so results are identical to
    # the exhaustive greedy.  The +1 probe row tells us which case we
    # are in without a separate count() job.
    import numpy as np

    seed_sample = max(10_000, 100 * n_cells)
    samp = (
        e.select("id", "v", F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 12), 16, 10).alias("_h"))
        .orderBy("_h", "id")
        .limit(seed_sample + 1)
        .collect()
    )
    corpus_fits_sample = len(samp) <= seed_sample
    samp = samp[:seed_sample]  # TakeOrdered is sorted → prefix == limit(seed_sample)
    samp.sort(key=lambda r: r.id)
    V = np.array([list(r.v) for r in samp], dtype=np.float64)
    norms = np.sqrt((V * V).sum(axis=1))
    norms[norms == 0.0] = 1.0  # zero vectors: sim 0 to everything
    U = V / norms[:, None]
    chosen = [0]  # samp sorted by id → index 0 is the smallest id
    nearest = U @ U[0]
    for _ in range(n_cells - 1):
        # argmin nearest_sim, ties → smallest id (samp is id-sorted)
        nxt = int(np.argmin(nearest))
        chosen.append(nxt)
        nearest = np.maximum(nearest, U @ U[nxt])
    seeds = [[float(x) for x in V[i]] for i in chosen]
    cents = list(enumerate(seeds))
    dim = len(seeds[0])
    # Local tier: when the whole corpus sits in the sample (the common
    # test/driver case, and what FAISS-style IVF training does on a
    # sample anyway), the Lloyd rounds run entirely in numpy — same
    # assignment rule (argmax cosine, ties → smallest c_id: np.argmax
    # takes the first max) and same update rule (per-cell mean, empty
    # cells keep the previous centroid) as the distributed loop below.
    # Results can differ from the distributed tier only in float
    # summation order (last-ulp); the query is rows-only + recall-
    # tested, and this drops N_iters Spark jobs to zero.
    if corpus_fits_sample:
        C = np.array([cv for _, cv in cents], dtype=np.float64)
        for _ in range(n_iters):
            cn = np.sqrt((C * C).sum(axis=1))
            cn[cn == 0.0] = 1.0
            sims = U @ (C / cn[:, None]).T
            best = np.argmax(sims, axis=1)
            C = np.array(
                [
                    V[best == cid].mean(axis=0) if (best == cid).any() else C[cid]
                    for cid in range(len(C))
                ]
            )
        cents = [(cid, [float(x) for x in C[cid]]) for cid in range(len(C))]
        return spark.createDataFrame(cents, "c_id int, c_v array<double>")
    # Fused Lloyd iteration: centroids live on the driver between rounds
    # anyway (bounded K×dim metadata), so embed them as LITERALS —
    # assignment becomes a map-side argmax over a K-element expression
    # array (no broadcast cross join, no K× row blowup, no per-id window
    # shuffle), and the update is ONE partial-aggregated groupBy on
    # c_id (K groups): per-position sums + count, means divided on the
    # driver. Per iteration: 1 shuffle of K×(dim+1) partial rows — was 3
    # shuffles incl. a full-data window sort (measured 3.6s → ~1s at
    # sf0.01; the plan, not the constant, is what mattered at scale).
    import math

    vnorm = F.sqrt(
        F.aggregate(F.transform(F.col("v"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    for _ in range(n_iters):
        sims = []
        for cid, cv in cents:
            cn = math.sqrt(sum(x * x for x in cv))
            # one parsed fold per centroid (lits.py discipline)
            dot = dot_fold_doubles("v", cv)
            sims.append(
                F.struct(
                    (dot / (vnorm * F.lit(cn))).alias("sim"),
                    F.lit(float(-cid)).alias("negc"),
                )
            )
        # array_max on (sim, -c_id) structs == orderBy(sim desc, c_id asc) rn=1
        best = F.array_max(F.array(*sims))
        assign = e.select((-best["negc"]).cast("int").alias("c_id"), "v")
        agg = assign.groupBy("c_id").agg(
            F.count("*").alias("n"),
            # one parsed array-of-sums expression (lits.py discipline)
            F.expr(
                "array(" + ",".join(f"sum(v[{i}])" for i in range(dim)) + ")"
            ).alias("s"),
        ).collect()
        updated = {r["c_id"]: [r["s"][i] / r["n"] for i in range(dim)] for r in agg}
        # empty cells keep their previous centroid
        cents = [(cid, updated.get(cid, v)) for cid, v in cents]
    return spark.createDataFrame(cents, "c_id int, c_v array<double>")


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_assign: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(id, cell) — IVF cell assignment against fixed pseudo-centroids.

    Centroids default to the vectors with the ``n_cells`` smallest ids —
    fixed and data-deterministic, so both engines (and successive runs)
    agree; the DuckDB oracles replicate exactly this. Pass
    ``centroids=kmeans_centroids(...)`` (schema ``c_id, c_v``) for real
    learned cells — same assignment/search machinery (argmin over
    broadcast centroids, cell-restricted probe), which is the part that
    must scale.

    ``n_assign > 1`` returns each vector's top-n nearest cells (one row
    per cell) — the multi-probe side of ``ivf_topk(nprobe=...)``.
    """
    e = _with_sqnorm(embeddings, id_col, vec_col)
    if centroids is not None:
        csq = F.aggregate(
            F.transform(F.col("c_v"), lambda x: _scaled_prod(x, x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        centroids = centroids.select(
            F.col("c_id"), F.col("c_v").cast("array<float>").alias("c_v"), csq.alias("c_sq")
        )
    else:
        # seed BEFORE the sqnorm projection: the fold in _with_sqnorm
        # sits below the TakeOrdered otherwise and runs corpus-wide
        # just to seed n_cells pseudo-centroids (as in pq_codes); one
        # TakeOrderedAndProject over the full row beats
        # the id-restrict + broadcast-semi form's second corpus scan
        seed = embeddings.orderBy(id_col).limit(n_cells)
        centroids = _with_sqnorm(seed, id_col, vec_col).select(
            F.col("id").alias("c_id"), F.col("v").alias("c_v"), F.col("sq").alias("c_sq")
        )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("c_v"), _scaled_prod),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    sim = dot / F.sqrt(F.col("sq").cast("double") * F.col("c_sq").cast("double"))
    scored = e.crossJoin(F.broadcast(centroids)).select("id", F.col("c_id"), sim.alias("sim"))
    w = W.partitionBy("id").orderBy(F.col("sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_assign)
        .select("id", F.col("c_id").alias("cell"))
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the query's ``nprobe`` nearest cells.

    Cost drops by ~n_cells/nprobe vs brute force; recall is bounded by
    how often true neighbors land in a probed cell — nprobe is the
    standard recall/cost dial (each +1 probes one more cell's posting
    list). Corpus vectors keep a single cell, so multi-probe cannot
    duplicate (query, neighbor) pairs. ``centroids`` (from
    ``kmeans_centroids``) switches to learned cells."""
    if centroids is None:
        # pin the default pseudo-centroids to the CORPUS here, so query
        # vectors outside the corpus still assign against corpus cells;
        # localCheckpoint the n_cells rows once — they feed BOTH assign
        # calls (corpus + queries), each of which would otherwise
        # re-run the corpus TakeOrdered (the multi-consumer rule)
        centroids = (
            embeddings.select(
                F.col(id_col).alias("c_id"),
                F.col(vec_col).cast("array<double>").alias("c_v"),
            )
            .orderBy("c_id")
            .limit(n_cells)
            .localCheckpoint()
        )
    assign = ivf_assign(embeddings, n_cells, id_col, vec_col, centroids=centroids)
    corpus = _with_sqnorm(embeddings, id_col, vec_col).join(assign, "id").alias("c")
    qs = (
        _with_sqnorm(queries, id_col, vec_col)
        .join(
            ivf_assign(
                queries, n_cells, id_col, vec_col, n_assign=nprobe, centroids=centroids
            ),
            "id",
        )
        .alias("q")
    )
    dot = F.aggregate(
        F.zip_with(F.col("q.v"), F.col("c.v"), _scaled_prod),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        qs.join(corpus, (F.col("q.cell") == F.col("c.cell")) & (F.col("q.id") != F.col("c.id")))
        .select(
            F.col("q.id").alias("query_id"),
            F.col("c.id").alias("neighbor_id"),
            _cosine(dot).alias("cosine"),
        )
    )
    return _topk(pairs, k)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share the query's
    hyperplane bucket; exact cosine + top-k within the bucket.

    ``n_tables > 1`` is the standard recall dial: candidates are the
    UNION over independent plane sets (a single B-bit signature splits a
    cluster whose center sits near a hyperplane; an independent table
    re-rolls the planes). Candidate generation stays id-pairs-only —
    vectors are re-joined once for the exact-cosine verify, which is the
    scale-correct shape (tiny candidate shuffle, one verify join)."""
    corpus = _with_sqnorm(embeddings, id_col, vec_col)
    qs0 = _with_sqnorm(queries, id_col, vec_col)
    if n_tables == 1:
        # bucket attached IN the sqnorm projection (one map over the
        # scan) — the join-the-signature-back-on-id form re-read each
        # side and paid the signature aggregation's exchanges
        corpus_b = _with_sqnorm(
            _non_empty_vectors(embeddings, vec_col), id_col, vec_col
        ).withColumn("bucket", _lsh_bucket_expr("v")).alias("c")
        qs = _with_sqnorm(
            _non_empty_vectors(queries, vec_col), id_col, vec_col
        ).withColumn("bucket", _lsh_bucket_expr("v")).alias("q")
        dot = F.aggregate(
            F.zip_with(F.col("q.v"), F.col("c.v"), _scaled_prod),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        pairs = (
            qs.join(
                corpus_b,
                (F.col("q.bucket") == F.col("c.bucket")) & (F.col("q.id") != F.col("c.id")),
            )
            .select(
                F.col("q.id").alias("query_id"),
                F.col("c.id").alias("neighbor_id"),
                _cosine(dot).alias("cosine"),
            )
        )
        return _topk(pairs, k)
    # multi-table candidates: ALL T signatures computed in ONE
    # projection per side and posexploded to (id, table, bucket) rows,
    # so the union over tables is a single (table, bucket) equi-join —
    # the per-table loop re-scanned each side T times (a plan dump
    # counted 3 corpus + 3 query scans → 1 + 1); the exploded rows are narrow
    # (id + B-char key) next to the vectors the scans carried
    def _sigs(df: DataFrame) -> DataFrame:
        return _non_empty_vectors(df, vec_col).select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.array(
                    *[_lsh_bucket_expr(vec_col, table=t) for t in range(n_tables)]
                )
            ).alias("t", "bucket"),
        )

    cs = _sigs(embeddings).alias("cs")
    qsig = _sigs(queries).alias("qs")
    cand = (
        qsig.join(
            cs,
            (F.col("qs.t") == F.col("cs.t"))
            & (F.col("qs.bucket") == F.col("cs.bucket"))
            & (F.col("qs.id") != F.col("cs.id")),
        )
        .select(F.col("qs.id").alias("query_id"), F.col("cs.id").alias("neighbor_id"))
        .distinct()
    )
    qv = qs0.select(F.col("id").alias("query_id"), F.col("v").alias("q_v"), F.col("sq").alias("q_sq"))
    cv = corpus.select(F.col("id").alias("neighbor_id"), F.col("v").alias("c_v"), F.col("sq").alias("c_sq"))
    dot = F.aggregate(
        F.zip_with(F.col("q_v"), F.col("c_v"), _scaled_prod),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot / F.sqrt(F.col("q_sq").cast("double") * F.col("c_sq").cast("double"))
    pairs = (
        cand.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    return _topk(pairs, k)


def semdedup_prune(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic pruning: (vec_id, cell, keep).

    Cluster-then-prune (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication" — public
    arXiv 2303.09540): vectors land in cells (here the deterministic
    random-hyperplane signature; the paper uses k-means — the engine's
    ``ivf_assign`` is the drop-in alternative), and within each cell a
    vector is pruned when a *lower-id* vector in the same cell has
    cosine ≥ threshold. keep=1 marks the retained corpus; every
    duplicate group keeps exactly its minimum-id representative against
    the members it directly covers (greedy per-pair rule, not
    transitive closure — closure is ``dedup.dedup_clusters``).

    Scale shape: the pairwise pass is cell-scoped (equi-join on the
    signature), never all-pairs; cosines are integer-lattice exact, so
    an ANSI oracle reproduces keep bit-for-bit. At 100 TB the cell key
    partitions the self-join; skewed cells fall back to raising B
    (more planes → smaller cells).
    """
    # bucket attached in the sqnorm projection (one map over the scan;
    # values bit-identical to the historical signature join — see
    # _lsh_bucket_expr), then materialized ONCE: e feeds three consumers
    # (both pair sides + the final keep join), so without the checkpoint
    # each re-runs the scan + the B×dim signature fold (the historical
    # form instead triplicated a two-exchange aggregation subtree —
    # 30 Exchange nodes; interleaved sf0.1 A/B: unmaterialized map
    # 2.56 s, checkpointed 1.80 s, historical 2.32 s)
    e = (
        _with_sqnorm(_non_empty_vectors(embeddings, vec_col), id_col, vec_col)
        .withColumn("bucket", _lsh_bucket_expr("v", table=table))
        .localCheckpoint()
    )
    lo = e.select(
        F.col("id").alias("id1"), F.col("v").alias("v1"),
        F.col("sq").alias("sq1"), F.col("bucket"),
    )
    hi = e.select(
        F.col("id").alias("id2"), F.col("v").alias("v2"),
        F.col("sq").alias("sq2"), F.col("bucket"),
    )
    dot = F.aggregate(
        F.zip_with("v1", "v2", _scaled_prod), F.lit(0).cast("long"), lambda a, x: a + x
    )
    cos = dot / F.sqrt(F.col("sq1").cast("double") * F.col("sq2").cast("double"))
    pruned = (
        lo.join(hi, "bucket")
        .filter(F.col("id1") < F.col("id2"))
        .select("id2", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(F.col("id2").alias("id"))
        .distinct()
        .withColumn("pruned", F.lit(1))
    )
    return (
        e.join(pruned, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.col("bucket").alias("cell"),
            F.when(F.col("pruned").isNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("long")
            .alias("keep"),
        )
    )


def pq_codes(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebook + code assignment (Jégou et al.
    2011, "Product quantization for nearest neighbor search" — public
    TPAMI/INRIA paper).

    The vector splits into ``m`` contiguous subvectors; each subspace
    gets a ``n_codes``-entry codebook and every corpus subvector is
    assigned its nearest codeword by squared L2 — computed entirely on
    the integer product lattice (d = sq_x - 2*dot + sq_c with every
    product rounded to BIGINT), so assignment ties and the ADC
    distances below are engine-exact.

    Codebook discipline: the subvectors of the ``n_codes`` lowest-id
    corpus vectors, selected with a true order-by-id/limit (a
    TakeOrderedAndProject over the full row, so the rule holds on any
    id space — not just one starting at 0); the same deterministic
    seeding the IVF oracle path uses.  A
    production deployment would swap in per-subspace k-means —
    ``kmeans_centroids`` — at the cost of float centroids and a
    rows-only check.

    Returns (codebook, codes):
      codebook — (sub, c_id, c_v, c_sq): m*n_codes rows, broadcastable.
      codes    — (id, sub, c_id): m rows per corpus vector.
    """
    dim_over_m = F.floor(F.size(F.col(vec_col)) / m).cast("int")

    def _sub_explode(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.slice(
                        F.col(vec_col), s * dim_over_m + 1, dim_over_m
                    ),
                )
            ).alias("sub", "sv"),
        ).withColumn(
            "sv_sq",
            F.aggregate(
                F.transform("sv", lambda x: _scaled_prod(x, x)),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        )

    subs = _sub_explode(embeddings)
    # ids are the table key (unique by contract), so the n_codes seed
    # rows come from ONE TakeOrderedAndProject carrying the vector —
    # the semi-join form (restrict ids, broadcast-semi the raw rows)
    # read the corpus twice for the same 16 rows; the heap
    # only ever holds n_codes (id, vec) pairs per partition, so
    # carrying the vector through the ordering is free.
    seed_rows = embeddings.orderBy(id_col).limit(n_codes)
    # the codebook feeds TWO broadcast consumers (the assignment join
    # below and the caller's ADC distance table); localCheckpoint the
    # m*n_codes rows once so each consumer reads the materialized seed
    # table instead of re-running the corpus TakeOrdered (the
    # multi-consumer rule).
    codebook = (
        _sub_explode(seed_rows)
        .select(
            "sub",
            F.col("id").alias("c_id"),
            F.col("sv").alias("c_v"),
            F.col("sv_sq").alias("c_sq"),
        )
        .localCheckpoint()
    )
    dot = F.aggregate(
        F.zip_with("sv", "c_v", _scaled_prod), F.lit(0).cast("long"), lambda a, x: a + x
    )
    scored = (
        subs.join(F.broadcast(codebook), "sub")
        .select(
            "id", "sub", "c_id", "c_sq",
            (F.col("sv_sq") - 2 * dot + F.col("c_sq")).alias("d"),
        )
    )
    # argmin as min(struct(d, c_id)): lexicographic struct ordering IS
    # the (distance, codeword-id) tie rule, and a partial-aggregating
    # groupBy beats a window sort over the |corpus|*m*n_codes fan-out
    codes = (
        scored.groupBy("id", "sub")
        .agg(F.min(F.struct("d", "c_id")).alias("best"))
        .select("id", "sub", F.col("best.c_id").alias("c_id"))
    )
    return codebook, codes


def _dtable_hint(dtable: DataFrame, queries: DataFrame, m: int, n_codes: int) -> DataFrame:
    """The ADC distance table is |queries|·m·n_codes rows. Broadcasting
    it is the right plan for bounded query sets (the common case: a
    search batch), but it GROWS WITH THE QUERY SET — at a million
    queries × 8 subs × 256 codes it is 2×10⁹ rows and would kill every
    executor. Beyond ``tiers.BROADCAST_ROWS`` the broadcast hint is
    withheld, so the candidate⋈dtable join degrades to a shuffle on the
    (query_id, sub, c_id) key — slower, unbounded-safe (gate-tested in
    tests/test_ann_recall.py). One count() job on the query table pays
    for the decision."""
    if tiers.broadcastable(queries.count() * m * n_codes):
        return F.broadcast(dtable)
    return dtable


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, approx_d_scaled, rank) — IVF-PQ: the
    FAISS IVFADC composition (Jégou et al. 2011 §IV): the IVF stage
    prunes the corpus to the query's ``nprobe`` nearest cells, and PQ
    ADC scores ONLY those candidates through their m codes.

    This is the production ANN memory/compute stack in one plan: cell
    assignment is an argmin over broadcast centroids (no corpus
    shuffle), the distance table broadcasts within the broadcast budget
    (it is |queries|·m·n_codes rows — bounded by the SEARCH BATCH, not
    the corpus; above the budget it shuffle-joins instead, see
    ``_dtable_hint``), candidates carry
    m BIGINT codes instead of the raw vector, and the only shuffle is the
    (query, candidate) partial-sum — over the ~nprobe/n_cells fraction
    of the corpus the IVF stage kept, which is the multiplicative win
    over plain PQ at 100 TB. Deterministic seeds everywhere (lowest-id
    pseudo-centroids and codebooks, the ivf_assign/pq_codes
    discipline), so ADC sums are engine-exact and the composed oracle
    replays the identical pipeline. Smaller-is-nearer; ties on
    neighbor id.
    """
    # the pseudo-centroids feed both assign calls: materialize the
    # n_cells rows once instead of re-running the corpus TakeOrdered
    # per consumer (the multi-consumer rule)
    centroids = (
        embeddings.select(
            F.col(id_col).alias("c_id"),
            F.col(vec_col).cast("array<double>").alias("c_v"),
        )
        .orderBy("c_id")
        .limit(n_cells)
        .localCheckpoint()
    )
    corpus_cells = ivf_assign(
        embeddings, n_cells, id_col, vec_col, centroids=centroids
    ).select(F.col("id"), F.col("cell"))
    query_cells = ivf_assign(
        queries, n_cells, id_col, vec_col, n_assign=nprobe, centroids=centroids
    ).select(F.col("id").alias("query_id"), F.col("cell"))
    cand = (
        query_cells.join(corpus_cells, "cell")
        .filter(F.col("query_id") != F.col("id"))
        .select("query_id", "id")
    )
    codebook, codes = pq_codes(embeddings, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col)
    dim_over_m = F.floor(F.size(F.col(vec_col)) / m).cast("int")
    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col(vec_col), s * dim_over_m + 1, dim_over_m),
            )
        ).alias("sub", "qv"),
    ).withColumn(
        "qv_sq",
        F.aggregate(
            F.transform("qv", lambda x: _scaled_prod(x, x)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    qdot = F.aggregate(
        F.zip_with("qv", "c_v", _scaled_prod), F.lit(0).cast("long"), lambda a, x: a + x
    )
    dtable = qsubs.join(F.broadcast(codebook), "sub").select(
        "query_id", "sub", "c_id",
        (F.col("qv_sq") - 2 * qdot + F.col("c_sq")).alias("d"),
    )
    sums = (
        cand.join(codes, "id")
        .join(
            _dtable_hint(dtable, queries, m, n_codes),
            ["query_id", "sub", "c_id"],
        )
        .groupBy("query_id", "id")
        .agg(F.sum("d").alias("approx_d_scaled"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_d_scaled").asc(), F.col("id").asc())
    return (
        sums.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "approx_d_scaled",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, approx_d_scaled, rank) — asymmetric
    distance computation (ADC) top-k over PQ codes: each query builds a
    distance table to all m*n_codes codewords; a corpus vector's
    approximate squared distance is the sum over subspaces of the
    query-to-assigned-codeword entries. All BIGINT on the product
    lattice — no floats, exact oracle.

    Scale shape: corpus vectors are touched only through their m codes
    (the memory-compression point of PQ — 8 bytes/vector here vs 256);
    the distance table (|queries|·m·n_codes rows) broadcasts while that
    product stays within the broadcast budget and joins
    by shuffle beyond it (see ``_dtable_hint`` — the table grows with
    the query set, so an unbounded query table must not broadcast);
    the only shuffle besides that gate is the (query_id, id)
    partial-sum aggregation, and top-k is a per-query window.
    Smaller-is-nearer; ties break on neighbor id.
    """
    codebook, codes = pq_codes(embeddings, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col)
    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(
                    F.col(vec_col),
                    s * F.floor(F.size(F.col(vec_col)) / m).cast("int") + 1,
                    F.floor(F.size(F.col(vec_col)) / m).cast("int"),
                ),
            )
        ).alias("sub", "qv"),
    ).withColumn(
        "qv_sq",
        F.aggregate(
            F.transform("qv", lambda x: _scaled_prod(x, x)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )
    qdot = F.aggregate(
        F.zip_with("qv", "c_v", _scaled_prod), F.lit(0).cast("long"), lambda a, x: a + x
    )
    dtable = qsubs.join(F.broadcast(codebook), "sub").select(
        "query_id", "sub", "c_id",
        (F.col("qv_sq") - 2 * qdot + F.col("c_sq")).alias("d"),
    )
    sums = (
        codes.join(
            _dtable_hint(dtable, queries, m, n_codes),
            ["sub", "c_id"],
        )
        .filter(F.col("query_id") != F.col("id"))
        .groupBy("query_id", "id")
        .agg(F.sum("d").alias("approx_d_scaled"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_d_scaled").asc(), F.col("id").asc())
    return (
        sums.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "approx_d_scaled",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "pandas",
    max_bench_rows: int = 1_000_000,
) -> DataFrame:
    """(vec_id, n_bench_hits, max_bench_cosine) — embedding-space
    benchmark decontamination: corpus vectors whose cosine to ANY
    benchmark vector reaches ``threshold``. The semantic completion of
    the 5-gram/Bloom decontamination pair (operators/dedup.decontaminate)
    — paraphrased eval leakage shares no exact n-gram but sits next to
    the benchmark in embedding space (SemDeDup's cross-set cousin;
    Abbas et al. 2023 prune WITHIN the corpus, this prunes AGAINST a
    protected set).

    Plan shape — built for a tiny eval set against a 100 TB corpus: the
    benchmark side collapses to ONE row holding an array of (id, vec,
    sqnorm) structs, broadcast to every task; each corpus vector scans
    that array with in-row higher-order functions (filter/transform/
    array_max). ZERO shuffles, no join fan-out, no regroup — the flag
    pass is embarrassingly parallel and the corpus is read exactly once.
    Contrast the join+groupBy form: a bench×corpus nested-loop whose
    per-hit rows must be re-aggregated per corpus id through an
    exchange. Eval suites are O(10⁴–10⁵) vectors — at 64–1024 dims the
    broadcast is a few hundred MB worst-case; shard the bench side and
    union flags if it ever outgrows the executor budget.

    Cosines come off the integer product lattice (round(x·y·DOT_SCALE)
    summed as BIGINT, see operators/dedup.embedding_cosine_pairs) so
    both engines agree bit-for-bit; max over identical doubles is
    engine-portable.

    ``impl='pandas'`` (default) runs the same lattice arithmetic as a
    vectorized numpy scan inside one mapInPandas pass — measured ~20×
    the interpreted higher-order-function form (7.2 s → 0.4 s at sf0.1:
    Catalyst evaluates per-element lambda trees row-at-a-time, the same
    constant-factor pathology as ``lakehouse.hilbert_value``). The bench
    side is collected driver-side (bounded by ``max_bench_rows`` — eval suites
    are small by contract; raise the gate consciously or shard+union if
    a protected set ever exceeds it). Rounding is explicitly HALF_UP
    (floor(v+0.5) / ceil(v-0.5)) to match Spark's F.round, not numpy's
    banker's rounding — equivalence with ``impl='expr'`` is pinned
    row-for-row in tests.
    """
    if impl == "pandas":
        return _semantic_decontaminate_pandas(
            corpus, bench, threshold, id_col, vec_col, max_bench_rows
        )
    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: _scaled_prod(x, x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    bench_pack = bench.agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("bid"), F.col(vec_col).alias("bv"), sq.alias("bsq")
            )
        ).alias("_bench")
    )
    dot_b = lambda b: F.aggregate(  # noqa: E731
        F.zip_with(F.col(vec_col), b["bv"], _scaled_prod),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos_b = lambda b: dot_b(b) / F.sqrt(  # noqa: E731
        F.col("_sq").cast("double") * b["bsq"].cast("double")
    )
    cosines = F.transform(F.col("_bench"), cos_b)
    hits = F.filter(cosines, lambda c: c >= F.lit(float(threshold)))
    return (
        corpus.withColumn("_sq", sq)
        .crossJoin(F.broadcast(bench_pack))
        .withColumn("_hits", hits)
        .filter(F.size("_hits") >= 1)
        .select(
            F.col(id_col).alias("vec_id"),
            F.size("_hits").cast("long").alias("n_bench_hits"),
            F.array_max("_hits").alias("max_bench_cosine"),
        )
    )


def _semantic_decontaminate_pandas(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    max_bench_rows: int,
) -> DataFrame:
    """Vectorized twin of the expression form — identical lattice, numpy
    inner loop. See :func:`semantic_decontaminate` for the contract."""
    from pyspark.sql import types as T

    bench_rows = (
        bench.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .limit(max_bench_rows + 1)
        .collect()
    )
    if len(bench_rows) > max_bench_rows:
        raise ValueError(
            f"bench side exceeds max_bench_rows={max_bench_rows}; shard the "
            "protected set and union the flags, or raise the gate consciously"
        )
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("n_bench_hits", T.LongType(), False),
            T.StructField("max_bench_cosine", T.DoubleType(), False),
        ]
    )
    scale = float(DOT_SCALE)
    thr = float(threshold)

    def flag(batches):
        import numpy as np
        import pandas as pd

        cols = ["vec_id", "n_bench_hits", "max_bench_cosine"]

        def _half_up(v):
            # Spark's F.round: HALF_UP (away from zero), not banker's
            return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))

        if not bench_rows:
            bv = None
        else:
            bv = np.array([list(r[1]) for r in bench_rows], dtype=np.float64)
            bsq = _half_up(bv * bv * scale).astype(np.int64).sum(axis=1)
        for pdf in batches:
            if bv is None or not len(pdf):
                yield pd.DataFrame([], columns=cols)
                continue
            X = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            xsq = _half_up(X * X * scale).astype(np.int64).sum(axis=1)
            # chunk so the (B, M, D) product temp stays bounded
            m, d = bv.shape
            step = max(1, 33_554_432 // max(1, m * d))
            parts = []
            for lo in range(0, len(X), step):
                xc = X[lo : lo + step]
                dots = (
                    _half_up(xc[:, None, :] * bv[None, :, :] * scale)
                    .astype(np.int64)
                    .sum(axis=2)
                )
                cos = dots / np.sqrt(
                    xsq[lo : lo + step, None].astype(np.float64)
                    * bsq[None, :].astype(np.float64)
                )
                mask = cos >= thr
                n_hits = mask.sum(axis=1)
                keep = n_hits >= 1
                if keep.any():
                    max_cos = np.where(mask[keep], cos[keep], -np.inf).max(axis=1)
                    parts.append(
                        pd.DataFrame(
                            {
                                "vec_id": ids[lo : lo + step][keep].astype("int64"),
                                "n_bench_hits": n_hits[keep].astype("int64"),
                                "max_bench_cosine": max_cos,
                            }
                        )
                    )
            yield (
                pd.concat(parts, ignore_index=True)
                if parts
                else pd.DataFrame([], columns=cols)
            )

    return corpus.select(F.col(id_col).alias(id_col), F.col(vec_col)).mapInPandas(
        flag, out_schema
    )


def hard_negative_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — HARD-NEGATIVE mining for
    contrastive training (the DPR/SimCSE batch-construction step): for
    each query vector, the top-k most cosine-similar corpus vectors
    with a DIFFERENT label. The closest wrong-label examples are the
    gradient-richest negatives; random negatives go stale after the
    first epochs.

    Same exact-lattice brute scan as :func:`brute_force_topk` with the
    label-inequality predicate pushed into the join (which also
    excludes self — a vector shares its own label). The scale path
    composes the same way the positives do: swap the corpus side for
    the LSH/IVF-pruned candidate set and mine negatives within buckets.
    """
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: _scaled_prod(x, x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mk = lambda df: df.select(  # noqa: E731
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sq.alias("sq"),
        F.col(label_col).alias("lbl"),
    )
    corpus = mk(embeddings).repartition(par).alias("c")
    qs = mk(queries).alias("q")
    dot = F.aggregate(
        F.zip_with(F.col("q.v"), F.col("c.v"), _scaled_prod),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = qs.join(corpus, F.col("q.lbl") != F.col("c.lbl")).select(
        F.col("q.id").alias("query_id"),
        F.col("c.id").alias("neighbor_id"),
        _cosine(dot).alias("cosine"),
    )
    return _topk(pairs, k)


def kmeans_int_assign(
    embeddings: DataFrame,
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """See :func:`kmeans_int_centroids` (training) and
    :func:`kmeans_int_assign_against` (assignment) — this is their
    composition, and the docstring below describes the whole loop."""
    cents = kmeans_int_centroids(
        embeddings, n_cells=n_cells, n_iters=n_iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    return kmeans_int_assign_against(
        embeddings, cents, scale=scale, id_col=id_col, vec_col=vec_col
    )


def _kmeans_int_argmin(cs, q_col: str = "q"):
    """struct(d2, c_id) argmin expression over centroid literals: the
    map-side assignment shared by training and serving — ties break to
    the smallest c_id because array_min orders structs field-wise."""
    structs = []
    for cid, cv in cs:
        # one parsed fold per centroid (lits.py discipline)
        d2 = d2_fold_longs(f"`{q_col}`", cv)
        structs.append(F.struct(d2.alias("d2"), F.lit(cid).cast("long").alias("c_id")))
    return F.array_min(F.array(*structs))


def _kmeans_int_update_plan(e: DataFrame, cs, dim: int) -> DataFrame:
    """One Lloyd centroid-update round as a SINGLE plan: argmin over
    centroid literals computed in the same projection that carries
    ``q``, then a partial-aggregated groupBy(c_id) — ZERO joins, so the
    corpus is scanned once and only the K×(dim+1)-row aggregate moves.
    (The previous form recovered ``q`` by re-joining
    the assignment back to the corpus — two full-corpus exchanges + an
    SMJ per iteration, all avoidable because the argmin already reads
    ``q``. test_plans.py pins this plan join-free.)"""
    best = _kmeans_int_argmin(cs)
    return (
        e.select(best["c_id"].alias("c_id"), F.col("q"))
        .groupBy("c_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # one parsed array-of-sums expression (lits.py discipline):
            # dim py4j-built agg columns cost ~0.3 s of driver time per
            # Lloyd round
            F.expr(
                "array(" + ",".join(f"sum(q[{i}])" for i in range(dim)) + ")"
            ).alias("s"),
        )
    )


def kmeans_int_centroids(
    embeddings: DataFrame,
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """(vec_id, c_id, d2) — Lloyd's k-means ON THE INTEGER LATTICE: the
    hash-oracled twin of :func:`kmeans_centroids` (the same
    float→integer move as graph.pagerank_int vs graph.pagerank).
    Components quantize once to ``round(x·scale)``
    BIGINTs; every Lloyd round is then exact integer arithmetic both
    engines replay bit-for-bit:

        assignment: argmin_c Σ_i (q_i − c_i)²   (ties → smallest c_id)
        update:     c'_i = Σ_{v∈cell} q_i div |cell|   (trunc div;
                    empty cells keep their previous centroid)

    seeded by the farthest-point (k-center greedy) rule the float
    trainer uses — smallest-id seeding can start all K seeds inside one
    cluster when ids correlate with content — run over the same
    deterministic md5-ordered sample and on the SAME integer lattice
    (squared L2, ties → smallest id), so the oracle replays seeding
    too. Returns the assignment under the FINAL centroids with its
    exact squared distance, so any drift anywhere in the loop breaks
    the hash — :func:`kmeans_int_oracle_sql` unrolls seeding and rounds
    as chained CTEs.

    Scale shape (the kmeans_centroids distributed-tier discipline):
    the seed sample is ONE TakeOrdered job (bounded ``seed_sample``
    rows to the driver — the FAISS posture: train on a sample);
    centroids are bounded K×dim driver metadata embedded as plan
    literals each round — assignment is a map-side argmin over a
    K-element expression array computed in the same projection that
    carries the quantized vector, and the update is ONE
    partial-aggregated groupBy(c_id) collecting K rows
    (:func:`_kmeans_int_update_plan`, pinned join-free in
    test_plans.py). Per iteration: one K×(dim+1)-row exchange; the
    corpus is scanned, never moved. (Weights-as-literals also sidesteps the exponential
    planner blow-up chained iterative DataFrames hit — see
    featurize.train_linear_classifier.)
    """
    import numpy as np

    q = lattice_longs(f"`{vec_col}`", int(scale))
    base = embeddings.select(F.col(id_col).alias("id"), q.alias("q"))
    k = int(n_cells)
    seed_sample = max(10_000, 100 * k)
    V, corpus_fits_sample = _kmeans_int_sample_matrix(base, seed_sample)
    cents = _kmeans_int_greedy_seed(V, k)
    dim = len(cents[0][1])

    # Local tier: when the WHOLE corpus sits in
    # the sample — every test fixture and the driver/bench scales — the
    # Lloyd rounds run on the already-collected int64 matrix: same
    # argmin (np.argmin → first min = smallest c_id on tie), same
    # trunc-div update, same empty-cell carry, all integer-EXACT, so
    # the centroids are bit-identical to the distributed rounds while
    # n_iters collect jobs (plus the corpus checkpoint) drop to zero.
    # Above the sample threshold the distributed loop below is
    # unchanged — training still sees the full corpus.
    if corpus_fits_sample:
        return _kmeans_int_lloyd_local(V, cents, int(n_iters))

    e = base.localCheckpoint(eager=True)
    for _ in range(int(n_iters)):
        agg = _kmeans_int_update_plan(e, cents, dim).collect()
        upd = {
            int(r["c_id"]): [_kmeans_tdiv(int(r["s"][i]), int(r["n"])) for i in range(dim)]
            for r in agg
        }
        cents = [(cid, upd.get(cid, cv)) for cid, cv in cents]
    return cents


def _kmeans_int_sample_matrix(base: DataFrame, seed_sample: int):
    """Collect the deterministic md5-ordered training sample of ``base``
    (columns ``id``, ``q``) as an id-sorted int64 matrix, plus the
    +1-probe-row verdict on whether the WHOLE corpus fit in the sample.
    The md5 order depends only on ids, so a full-dim sample sliced
    per subspace is row-identical to sampling each sliced frame —
    the trained-PQ trainer exploits that to pay ONE sample job for all
    m subspaces."""
    import numpy as np

    h = F.conv(
        F.substring(F.md5(F.col("id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    # +1 probe row tells us whether the corpus fits inside the sample
    # without a separate count() job (the kmeans_centroids trick)
    samp = (
        base.select("id", "q", h.alias("_h"))
        .orderBy("_h", "id")
        .limit(seed_sample + 1)
        .collect()
    )
    corpus_fits_sample = len(samp) <= seed_sample
    samp = samp[:seed_sample]  # TakeOrdered is sorted → prefix == limit(seed_sample)
    samp.sort(key=lambda r: r["id"])
    # int64 lattice throughout: |q| ≤ scale·max|x| (~16k here), so d²
    # sums stay ≤ dim·(2·|q|)² ≪ 2^63 and numpy int64 is EXACT — the
    # vectorized greedy is value-identical to the scalar python loop
    V = np.array([[int(x) for x in r["q"]] for r in samp], dtype=np.int64)
    return V, corpus_fits_sample


def _kmeans_int_greedy_seed(V, k: int) -> list:
    """Greedy k-center on the lattice: start at the smallest sampled id,
    then repeatedly take the point FARTHEST from its nearest chosen
    seed (ties → smallest id; np.argmax takes the first max on the
    id-sorted sample)."""
    import numpy as np

    chosen = [0]
    d0 = V - V[0]
    nearest = (d0 * d0).sum(axis=1)
    for _ in range(k - 1):
        nxt = int(np.argmax(nearest))
        chosen.append(nxt)
        dn = V - V[nxt]
        nearest = np.minimum(nearest, (dn * dn).sum(axis=1))
    return [(cid, [int(x) for x in V[i]]) for cid, i in enumerate(chosen)]


def _kmeans_tdiv(a: int, b: int) -> int:
    qq = abs(a) // b
    return qq if a >= 0 else -qq


def _kmeans_int_lloyd_local(V, cents: list, n_iters: int) -> list:
    """The driver-local Lloyd tier over the already-collected sample
    matrix — bit-identical to the distributed rounds (np.argmin → first
    min = smallest c_id on tie, trunc-div update, empty-cell carry)."""
    import numpy as np

    k = len(cents)
    C = np.array([cv for _, cv in cents], dtype=np.int64)
    for _ in range(n_iters):
        diff = V[:, None, :] - C[None, :, :]
        best = np.argmin((diff * diff).sum(axis=2), axis=1)
        for cid in range(k):
            mask = best == cid
            if mask.any():
                s = V[mask].sum(axis=0)
                n = int(mask.sum())
                C[cid] = np.array(
                    [_kmeans_tdiv(int(x), n) for x in s], dtype=np.int64
                )
    return [(cid, [int(x) for x in C[cid]]) for cid in range(k)]


def kmeans_int_assign_against(
    embeddings: DataFrame,
    cents: list,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, c_id, d2) — the assignment half of the integer k-means
    alone, against PRECOMPUTED centroid literals: a pure map (quantize
    + argmin over a K-element expression array — zero joins, zero
    aggregation), so ``embeddings`` may be an APPEND STREAM: the
    embed-at-ingest cell router (shard incoming vectors into IVF cells
    as they arrive), stream == batch row for row."""
    q = lattice_longs(f"`{vec_col}`", int(scale))
    structs = []
    for cid, cv in cents:
        # one parsed fold per centroid (lits.py discipline)
        d2 = d2_fold_longs("_q", cv)
        structs.append(F.struct(d2.alias("d2"), F.lit(cid).cast("long").alias("c_id")))
    best = F.array_min(F.array(*structs))
    return embeddings.select(
        F.col(id_col).alias("vec_id"), q.alias("_q")
    ).select("vec_id", best["c_id"].alias("c_id"), best["d2"].alias("d2"))


def kmeans_int_oracle_ctes(
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    dim: int = _DIM,
    table: str = "embeddings",
    prefix: str = "",
) -> tuple[str, str]:
    """CTE-body form of the :func:`kmeans_int_assign` replay, for
    COMPOSITION: returns (cte_body, final_cte) where final_cte holds
    (vec_id, c_id, d2). ``prefix`` namespaces every CTE so several
    replays chain inside ONE ``WITH`` (the trained-PQ oracle runs one
    per subspace); :func:`kmeans_int_oracle_sql` below keeps the
    standalone contract. MATERIALIZED throughout (chained CTEs
    re-inline exponentially otherwise — the featurize.train_oracle_sql
    lesson)."""
    k, it, sc, d = int(n_cells), int(n_iters), int(scale), int(dim)
    p = prefix
    seed_sample = max(10_000, 100 * k)
    head = f"""
    {p}qx AS MATERIALIZED (
        SELECT vec_id, CAST(r.range AS BIGINT) AS pos,
               CAST(ROUND(CAST(embedding[r.range] AS DOUBLE) * {sc}) AS BIGINT) AS qv
        FROM {table}, range(1, {d + 1}) r
    ),
    {p}sampids AS MATERIALIZED (
        SELECT vec_id FROM (
            SELECT vec_id,
                   list_reduce(
                       [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                        for c in string_split_regex(
                            substr(md5(CAST(vec_id AS VARCHAR)), 1, 12), '')],
                       (a, b) -> a * 16 + b
                   ) AS _h
            FROM {table}
            ORDER BY _h, vec_id LIMIT {seed_sample}
        )
    ),
    {p}sq AS MATERIALIZED (
        SELECT q.* FROM {p}qx q JOIN {p}sampids USING (vec_id)
    ),
    {p}pick0 AS (SELECT MIN(vec_id) AS vec_id FROM {p}sq),
    {p}sv0 AS MATERIALIZED (
        SELECT pos, qv FROM {p}sq WHERE vec_id = (SELECT vec_id FROM {p}pick0)
    ),
    {p}nd0 AS MATERIALIZED (
        SELECT v.vec_id, CAST(SUM((v.qv - c.qv) * (v.qv - c.qv)) AS BIGINT) AS m
        FROM {p}sq v JOIN {p}sv0 c USING (pos) GROUP BY 1
    )"""
    seed_blocks = []
    for j in range(1, k):
        seed_blocks.append(f"""
    {p}pick{j} AS (SELECT vec_id FROM {p}nd{j - 1} ORDER BY m DESC, vec_id ASC LIMIT 1),
    {p}sv{j} AS MATERIALIZED (
        SELECT pos, qv FROM {p}sq WHERE vec_id = (SELECT vec_id FROM {p}pick{j})
    ),
    {p}sd{j} AS MATERIALIZED (
        SELECT v.vec_id, CAST(SUM((v.qv - c.qv) * (v.qv - c.qv)) AS BIGINT) AS dj
        FROM {p}sq v JOIN {p}sv{j} c USING (pos) GROUP BY 1
    ),
    {p}nd{j} AS MATERIALIZED (
        SELECT n.vec_id, LEAST(n.m, s.dj) AS m
        FROM {p}nd{j - 1} n JOIN {p}sd{j} s USING (vec_id)
    )""")
    c0 = f"""
    {p}c0 AS MATERIALIZED (
        {" UNION ALL ".join(f"SELECT CAST({j} AS BIGINT) AS c_id, pos, qv FROM {p}sv{j}" for j in range(k))}
    )"""
    head = head + "," + ",".join(seed_blocks) + "," + c0
    blocks = []
    for t in range(1, it + 2):
        prev = t - 1
        blocks.append(f"""
    {p}d{t} AS MATERIALIZED (
        SELECT v.vec_id, c.c_id,
               CAST(SUM((v.qv - c.qv) * (v.qv - c.qv)) AS BIGINT) AS d2
        FROM {p}qx v JOIN {p}c{prev} c USING (pos) GROUP BY 1, 2
    ),
    {p}a{t} AS MATERIALIZED (
        SELECT vec_id, CAST(c_id AS BIGINT) AS c_id, d2 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY d2 ASC, c_id ASC) AS rn
            FROM {p}d{t}
        ) WHERE rn = 1
    )""")
        if t == it + 1:
            break
        blocks.append(f"""
    {p}u{t} AS (
        SELECT a.c_id, q.pos,
               CAST(SUM(q.qv) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS qv
        FROM {p}a{t} a JOIN {p}qx q USING (vec_id) GROUP BY 1, 2
    ),
    {p}c{t} AS MATERIALIZED (
        SELECT c.c_id, c.pos, COALESCE(u.qv, c.qv) AS qv
        FROM {p}c{prev} c LEFT JOIN {p}u{t} u ON u.c_id = c.c_id AND u.pos = c.pos
    )""")
    return head + "," + ",".join(blocks), f"{p}a{it + 1}"


def kmeans_int_oracle_sql(
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    dim: int = _DIM,
    table: str = "embeddings",
) -> str:
    """ANSI-SQL replay of :func:`kmeans_int_assign`: quantize → greedy
    k-center seeding over the md5-ordered sample (k−1 unrolled argmax
    blocks) → ``n_iters`` unrolled (distance, argmin, update) CTE
    blocks → final assignment (see :func:`kmeans_int_oracle_ctes` for
    the composable body)."""
    body, final = kmeans_int_oracle_ctes(
        n_cells=n_cells, n_iters=n_iters, scale=scale, dim=dim, table=table
    )
    return "WITH" + body + f"\n    SELECT vec_id, c_id, d2 FROM {final}"


def kmeans_cluster_eval(
    embeddings: DataFrame,
    n_cells: int = 8,
    n_iters: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(c_id, n, top_label, top_n, purity_ppm) — clustering quality
    against a labeled column: per learned cell, the size, the majority
    label (ties → smallest label), and its integer-ppm share. The
    measurement that tells you whether IVF cells are usable as topic
    shards / dedup blocks before building on them — the clustering
    member of the eval trio (classifier sweep, banding audit, this).

    Plan: one :func:`kmeans_int_assign` pass (exact, hash-replayable),
    one (cell, label) rollup, one ≤ K·|labels| argmax — everything
    after the assignment is label-dimension-sized."""
    assign = kmeans_int_assign(
        embeddings, n_cells=n_cells, n_iters=n_iters, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    labeled = assign.join(
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(label_col).cast("long").alias("label")
        ),
        "vec_id",
    )
    # Checkpoint the ≤ K·|labels|-row rollup: tot and top below each
    # reference it, and without the barrier the whole upstream
    # (quantize + argmin assignment over the corpus + label join)
    # executes TWICE in the one joined plan (Catalyst does not share a
    # subtree between branches). The checkpointed frame
    # is label-dimension-sized, so the barrier is free.
    per = labeled.groupBy("c_id", "label").agg(
        F.count(F.lit(1)).cast("long").alias("ln")
    ).localCheckpoint()
    from pyspark.sql import Window as W

    w = W.partitionBy("c_id").orderBy(F.col("ln").desc(), F.col("label").asc())
    tot = per.groupBy("c_id").agg(F.sum("ln").cast("long").alias("n"))
    top = (
        per.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("c_id", F.col("label").alias("top_label"), F.col("ln").alias("top_n"))
    )
    return (
        tot.join(top, "c_id")
        .select(
            "c_id",
            "n",
            "top_label",
            "top_n",
            F.expr("(top_n * 1000000) div n").cast("long").alias("purity_ppm"),
        )
    )


def pq_trained_codes(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    n_iters: int = 2,
    scale: int = 1000,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sub, c_id, d2) — product quantization with TRAINED
    per-subspace codebooks: the production form :func:`pq_codes`'
    docstring promises ("a production deployment would swap in
    per-subspace k-means"), delivered with the integer-lattice Lloyd
    machinery so the whole thing stays hash-exact (the trained-twin
    pattern of the classifier and k-means).

    Each vector splits into ``m`` contiguous ``dim/m``-wide subvectors;
    subspace ``s`` trains its own ``n_codes``-entry codebook with
    :func:`kmeans_int_centroids` (greedy k-center seeding over the
    md5-ordered sample, ``n_iters`` exact integer Lloyd rounds) and
    assigns codes with :func:`kmeans_int_assign_against` — so the
    output IS the PQ code matrix plus each subvector's exact squared
    quantization error (Σ over subs of d2 = the vector's total
    distortion, the quantity PQ recall arguments are written in).

    Scale shape: training pays ONE bounded sample job for ALL m
    subspaces (the md5 sample order depends only on ids, so the
    full-dim sample sliced per subspace is row-identical to sampling
    each sliced frame — ``_pq_trained_cents``); assignment is a pure
    map computing every subspace's argmin in the SAME projection and
    exploding m (sub, c_id, d2) structs, so the corpus is scanned ONCE
    (the per-subspace union form re-scanned it m times) and never
    shuffled. Codebook metadata totals
    m·n_codes·(dim/m) integers on the driver."""
    assert dim % m == 0, "dim must split evenly into m subspaces"
    w = dim // m
    cents_per_sub = _pq_trained_cents(
        embeddings, int(m), w, n_codes, n_iters, scale, id_col, vec_col
    )
    return _pq_trained_assign_fused(
        embeddings, cents_per_sub, w, scale, id_col, vec_col, with_d2=True
    )


def _pq_trained_cents(
    embeddings: DataFrame,
    m: int,
    w: int,
    n_codes: int,
    n_iters: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> list:
    """Per-subspace trained codebooks with ONE sample job: collect the
    full-dim md5-ordered sample once and train each subspace's greedy
    seed + local Lloyd on its column slice (the lattice quantization is
    per-component, so slice-then-quantize == quantize-then-slice and
    the result is bit-identical to per-subspace sampling). Above the
    sample threshold the unchanged per-subspace distributed trainer
    runs (bounded sample per subspace + distributed Lloyd rounds)."""
    q = lattice_longs(f"`{vec_col}`", int(scale))
    base = embeddings.select(F.col(id_col).alias("id"), q.alias("q"))
    seed_sample = max(10_000, 100 * int(n_codes))
    V, fits = _kmeans_int_sample_matrix(base, seed_sample)
    if fits:
        out = []
        for s in range(m):
            Vs = V[:, s * w : (s + 1) * w]
            seeds = _kmeans_int_greedy_seed(Vs, int(n_codes))
            out.append(_kmeans_int_lloyd_local(Vs, seeds, int(n_iters)))
        return out
    out = []
    for s in range(m):
        sub = embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.slice(F.col(vec_col), s * w + 1, w).alias("embedding"),
        )
        out.append(
            kmeans_int_centroids(sub, n_cells=n_codes, n_iters=n_iters, scale=scale)
        )
    return out


def _pq_trained_assign_fused(
    embeddings: DataFrame,
    cents_per_sub: list,
    w: int,
    scale: int,
    id_col: str,
    vec_col: str,
    with_d2: bool,
) -> DataFrame:
    """All m subspace code assignments in ONE corpus scan: quantize the
    full vector once, compute each subspace's argmin over its centroid
    literals on the lattice slice, explode the m (sub, c_id[, d2])
    structs — the same multiset of rows the per-subspace union form
    produced from m scans."""
    q = lattice_longs(f"`{vec_col}`", int(scale))
    entries = []
    for s, cents in enumerate(cents_per_sub):
        structs = [
            F.struct(
                d2_fold_longs(f"slice(_q, {s * w + 1}, {w})", cv).alias("d2"),
                F.lit(cid).cast("long").alias("c_id"),
            )
            for cid, cv in cents
        ]
        best = F.array_min(F.array(*structs))
        fields = [F.lit(s).cast("long").alias("sub"), best["c_id"].alias("c_id")]
        if with_d2:
            fields.append(best["d2"].alias("d2"))
        entries.append(F.struct(*fields))
    cols = ["vec_id", "_e.sub", "_e.c_id"] + (["_e.d2"] if with_d2 else [])
    return (
        embeddings.select(F.col(id_col).alias("vec_id"), q.alias("_q"))
        .select("vec_id", F.explode(F.array(*entries)).alias("_e"))
        .select(*cols)
    )


def pq_trained_oracle_sql(
    m: int = 4,
    n_codes: int = 8,
    n_iters: int = 2,
    scale: int = 1000,
    dim: int = _DIM,
    table: str = "embeddings",
) -> str:
    """ANSI-SQL replay of :func:`pq_trained_codes`: one prefixed
    :func:`kmeans_int_oracle_ctes` chain per subspace over a sliced
    view of the embeddings, unioned with the subspace index."""
    assert dim % m == 0
    w = dim // m
    parts = []
    finals = []
    for s in range(int(m)):
        sub_table = f"pqsub{s}"
        parts.append(
            f"""
    {sub_table} AS MATERIALIZED (
        SELECT vec_id, embedding[{s * w + 1}:{(s + 1) * w}] AS embedding
        FROM {table}
    )"""
        )
        body, final = kmeans_int_oracle_ctes(
            n_cells=n_codes,
            n_iters=n_iters,
            scale=scale,
            dim=w,
            table=sub_table,
            prefix=f"s{s}_",
        )
        parts.append(body)
        finals.append((s, final))
    union = "\n    UNION ALL ".join(
        f"SELECT vec_id, CAST({s} AS BIGINT) AS sub, c_id, d2 FROM {final}"
        for s, final in finals
    )
    return "WITH" + ",".join(parts) + "\n    " + union


def pq_trained_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 8,
    n_iters: int = 2,
    scale: int = 1000,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, approx_d, rank) — asymmetric-distance
    (ADC) top-``k`` retrieval against TRAINED per-subspace codebooks:
    the serving half of :func:`pq_trained_codes` (Jégou et al. 2011
    §III with learned codebooks, on the integer lattice so both
    engines replay it bit-for-bit).

    approx_d(q, v) = Σ_s d2(q_s, codebook_s[code_s(v)]) — the query
    touches each corpus vector only through its m one-byte codes.

    Scale shape: training pays ONE bounded sample job for all m
    subspaces (``_pq_trained_cents``); corpus codes are ONE map pass
    computing every subspace's argmin in the same projection (the
    corpus is scanned once, never shuffled, to be CODED — the
    per-subspace union form re-scanned it m times);
    the query distance table is queries × m × n_codes rows — tiny,
    built by ONE query scan exploding the m·n_codes struct lattice —
    and BROADCASTS onto the code matrix, so the only exchange is the
    (query, vector) partial-sum rollup, exactly ann_pq_topk's shape.
    Ranking ties break (approx_d asc, neighbor_id asc); the query's
    own row is excluded."""
    assert dim % m == 0
    w = dim // m
    cents_per_sub = _pq_trained_cents(
        embeddings, int(m), w, n_codes, n_iters, scale, id_col, vec_col
    )
    codes = _pq_trained_assign_fused(
        embeddings, cents_per_sub, w, scale, id_col, vec_col, with_d2=False
    )
    qlat = lattice_longs(f"`{vec_col}`", int(scale))
    dstructs = [
        F.struct(
            F.lit(s).cast("long").alias("sub"),
            F.lit(cid).cast("long").alias("c_id"),
            # one parsed fold per (sub, centroid) pair (lits.py discipline)
            d2_fold_longs(f"slice(_q, {s * w + 1}, {w})", cv).alias("qd2"),
        )
        for s, cents in enumerate(cents_per_sub)
        for cid, cv in cents
    ]
    dtab = (
        queries.select(F.col(id_col).alias("query_id"), qlat.alias("_q"))
        .select("query_id", F.explode(F.array(*dstructs)).alias("_e"))
        .select("query_id", "_e.sub", "_e.c_id", "_e.qd2")
    )

    from pyspark.sql import Window as W

    sums = (
        codes.join(F.broadcast(dtab), ["sub", "c_id"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd2").cast("long").alias("approx_d"))
    )
    win = W.partitionBy("query_id").orderBy(
        F.asc("approx_d"), F.asc("vec_id")
    )
    return (
        sums.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "approx_d",
            "rank",
        )
    )


def pq_trained_topk_oracle_sql(
    k: int = 5,
    m: int = 4,
    n_codes: int = 8,
    n_iters: int = 2,
    scale: int = 1000,
    dim: int = _DIM,
    table: str = "embeddings",
    query_pred: str = "vec_id % 50 = 0",
) -> str:
    """ANSI-SQL replay of :func:`pq_trained_topk`: the per-subspace
    training chains (prefixed :func:`kmeans_int_oracle_ctes` — their
    ``{p}qx`` quantized tables and ``{p}c{n_iters}`` final codebooks
    are reused directly), then the ADC join + per-query ranking."""
    assert dim % m == 0
    w = dim // m
    it = int(n_iters)
    parts = []
    code_selects = []
    qd_selects = []
    for s in range(int(m)):
        sub_table = f"pqsub{s}"
        parts.append(
            f"""
    {sub_table} AS MATERIALIZED (
        SELECT vec_id, embedding[{s * w + 1}:{(s + 1) * w}] AS embedding
        FROM {table}
    )"""
        )
        body, final = kmeans_int_oracle_ctes(
            n_cells=n_codes,
            n_iters=it,
            scale=scale,
            dim=w,
            table=sub_table,
            prefix=f"s{s}_",
        )
        parts.append(body)
        code_selects.append(
            f"SELECT vec_id, CAST({s} AS BIGINT) AS sub, c_id FROM {final}"
        )
        qd_selects.append(
            f"""SELECT q.vec_id AS query_id, CAST({s} AS BIGINT) AS sub, c.c_id,
               CAST(SUM((q.qv - c.qv) * (q.qv - c.qv)) AS BIGINT) AS qd2
        FROM s{s}_qx q JOIN qids USING (vec_id) JOIN s{s}_c{it} c USING (pos)
        GROUP BY 1, 2, 3"""
        )
    tail = f""",
    qids AS (SELECT vec_id FROM {table} WHERE {query_pred}),
    codes AS MATERIALIZED ({" UNION ALL ".join(code_selects)}),
    dtab AS MATERIALIZED ({" UNION ALL ".join(qd_selects)}),
    sums AS (
        SELECT d.query_id, c.vec_id AS neighbor_id,
               CAST(SUM(d.qd2) AS BIGINT) AS approx_d
        FROM codes c JOIN dtab d ON d.sub = c.sub AND d.c_id = c.c_id
        WHERE d.query_id <> c.vec_id
        GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY approx_d ASC, neighbor_id ASC
        ) AS rnk
        FROM sums
    )
    SELECT query_id, neighbor_id, approx_d, CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= {int(k)}"""
    return "WITH" + ",".join(parts) + tail


def embedding_audit(
    embeddings: DataFrame,
    dim: int = _DIM,
    clip: float = 4.0,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, n_dims, norm2, n_clipped, f_dim, f_zero, f_clipped,
    keep) — per-vector ingest validation, the vector-side twin of the
    text quality gates: wrong dimensionality, zero vectors (cosine
    undefined; they poison normalization), and clipped/saturated
    components (|x| ≥ ``clip`` — embedding models emit bounded
    activations, mass at the bound means truncation upstream) are the
    three corruption shapes every vector store checks before indexing.

    All decisions on the integer lattice (components quantize to
    round(x·scale) exactly as the k-means/ANN family), so the verdicts
    hash identically on any engine. norm2 is the exact integer squared
    norm of the quantized vector. Pure per-row expressions, zero
    shuffle: the 100 TB gate is one map pass that composes with the
    scan, and ``embeddings`` may be an APPEND STREAM (validate at
    ingest — the classifier/quality/temperature-gate pattern)."""
    q = lattice_longs(f"`{vec_col}`", int(scale))
    base = embeddings.select(F.col(id_col).alias("vec_id"), q.alias("_q"))
    n_dims = F.size(F.col("_q")).cast("long")
    norm2 = F.aggregate(
        F.col("_q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    bound = int(round(float(clip) * scale))
    n_clipped = F.size(
        F.filter(F.col("_q"), lambda x: F.abs(x) >= F.lit(bound))
    ).cast("long")
    f_dim = (n_dims != int(dim)).cast("long")
    f_zero = (norm2 == 0).cast("long")
    f_clipped = (n_clipped > 0).cast("long")
    keep = ((f_dim + f_zero + f_clipped) == 0).cast("long")
    return base.select(
        "vec_id",
        n_dims.alias("n_dims"),
        norm2.alias("norm2"),
        n_clipped.alias("n_clipped"),
        f_dim.alias("f_dim"),
        f_zero.alias("f_zero"),
        f_clipped.alias("f_clipped"),
        keep.alias("keep"),
    )


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 16,
    in_dim: int = _DIM,
    scale: int = 1000,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding) — Johnson-Lindenstrauss dimensionality
    reduction with a DETERMINISTIC ±1 sign matrix (Achlioptas 2003:
    dense Rademacher projections preserve pairwise distances within
    (1±ε) at out_dim = O(log n / ε²); the sign matrix here derives
    from the engine's md5 fold of 'seed:j:i', so it is a pure function
    of (seed, shape) that any engine re-derives — no stored model, no
    RNG state).

    y_j = Σ_i sign(j,i) · round(x_i · scale) — computed on the
    quantized lattice (exact integers), then divided back to float so
    the projected frame drops into the existing ANN family unchanged
    (|y| ≤ in_dim·max|q| keeps the float32 round trip exact).

    Scale shape: the sign matrix is out_dim×in_dim driver literals; the
    projection is a pure map over a NAMED quantized column (the
    lambda-CSE rule) — zero shuffles, composes with the scan, and cuts
    every downstream distance computation by in_dim/out_dim."""
    import hashlib

    signs = [
        [
            1
            if int(
                hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:12], 16
            )
            % 2
            == 0
            else -1
            for i in range(int(in_dim))
        ]
        for j in range(int(out_dim))
    ]
    q = lattice_longs(f"`{vec_col}`", int(scale))
    base = embeddings.select(F.col(id_col).alias("vec_id"), q.alias("_q"))
    # the WHOLE projected array as one parsed expression (lits.py
    # discipline, batched: out_dim separate folds cost one py4j
    # round-trip each; the single array costs one total)
    folds = ",".join(
        "CAST(CAST(aggregate(zip_with(_q, array("
        + ",".join(f"{int(c)}L" for c in signs[j])
        + "), (x, c) -> x * c), 0L, (acc, x) -> acc + x) AS double)"
        + f" / {float(scale)!r}D AS float)"
        for j in range(int(out_dim))
    )
    return base.select("vec_id", F.expr(f"array({folds})").alias("embedding"))


RP_LSH_TABLE = 7  # independent seed stream from the 64-dim tables 0..3


def rp_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    out_dim: int = 16,
    in_dim: int = _DIM,
    n_planes: int = N_PLANES,
    seed: int = 0,
    scale: int = 1000,
    table: int = RP_LSH_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JL projection composed UNDER a hyperplane candidate generator —
    the scale form of :func:`random_projection` retrieval (JL reduces
    the cost of each distance, not the number of candidates; this op
    adds the candidate reducer so the quadratic
    :func:`brute_force_topk`-over-projected plan — registered as
    ``ann_rp_topk`` — becomes a truth baseline only).

    Shape, per side (corpus and queries):
      1. project 64 → ``out_dim`` dims once (deterministic ±1 md5 sign
         matrix, integer lattice — ``random_projection``);
      2. bucket IN the projected space: B sign bits of integer dots
         with seeded literal planes (``_plane_coeffs(table=7)``,
         ``out_dim`` coefficients each) — computed IN-ROW off the
         named lattice column, no explode/groupBy (cheaper than
         ``lsh_signature``'s two aggregations: the plane table is
         B×out_dim literals, so the whole signature is a pure map);
      3. candidates = bucket-equality join; exact cosine verify in the
         projected space (identical integer-lattice cosine to
         ``ann_rp_topk``, so its all-pairs result is the exact recall
         reference), windowed top-k.

    100 TB: steps 1–2 compose with the scan (zero exchanges — plan
    test pins it); the only corpus-sized exchange is the bucket join,
    ~2^B cheaper than the all-pairs form; distances are out_dim/in_dim
    cheaper than bucketing in the original space. The lambda-CSE rule
    is observed by NAMING the projected array and its lattice in
    separate selects — each is a multi-referenced non-cheap alias, so
    CollapseProject keeps them computed once per row."""
    coeffs = _plane_coeffs(n_planes, int(out_dim), table=table)
    rows: dict[int, list[int]] = {}
    for p, _i, c in coeffs:
        rows.setdefault(p, []).append(c)

    def prep(df: DataFrame) -> DataFrame:
        proj = random_projection(
            df, out_dim=out_dim, in_dim=in_dim, scale=scale, seed=seed,
            id_col=id_col, vec_col=vec_col,
        )
        base = _with_sqnorm(proj, "vec_id", "embedding")
        lat = lattice_longs("v", int(scale))
        w = base.select("id", "v", "sq", lat.alias("_y"))
        # the WHOLE bucket signature as one parsed expression (lits.py
        # discipline, batched)
        bits = ",".join(
            "CASE WHEN aggregate(zip_with(_y, array("
            + ",".join(f"{int(c)}L" for c in rows[p])
            + "), (x, c) -> x * c), 0L, (acc, x) -> acc + x) >= 0"
            " THEN '1' ELSE '0' END"
            for p in range(int(n_planes))
        )
        return w.select("id", "v", "sq", F.expr(f"concat({bits})").alias("bucket"))

    corpus = prep(embeddings).alias("c")
    qs = prep(queries).alias("q")
    dot = F.aggregate(
        F.zip_with(F.col("q.v"), F.col("c.v"), _scaled_prod),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = qs.join(
        corpus,
        (F.col("q.bucket") == F.col("c.bucket")) & (F.col("q.id") != F.col("c.id")),
    ).select(
        F.col("q.id").alias("query_id"),
        F.col("c.id").alias("neighbor_id"),
        _cosine(dot).alias("cosine"),
    )
    return _topk(pairs, k)


# --- multi-vector ("late interaction") retrieval -------------------------
#
# ColBERT-style MaxSim (Khattab & Zaharia 2020, SIGIR — "ColBERT:
# Efficient and Effective Passage Search via Contextualized Late
# Interaction"): a document is a BAG of token vectors, and the score of
# (query, doc) is  Σ_{q∈Q} max_{d∈D} cos(q, d)  — every query token
# finds its best-matching document token. No counterpart in the
# reference (its surface has no vector ops at all); this is the modern
# training-data / retrieval shape the single-vector ANN family above
# cannot express.

MAXSIM_TOKENS = 4
MAXSIM_LSH_TABLE = 11  # independent seed stream for the token bucketer


def multivector_docs(
    embeddings: DataFrame,
    m: int = MAXSIM_TOKENS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(tdoc, vecs, sqs) — multi-vector documents formed by folding
    every ``m`` consecutive vectors (``tdoc = id div m``, token slot
    ``id % m``) into one ordered token-vector array, with the aligned
    integer-lattice squared norms.

    One groupBy on the synthetic doc key — the only exchange; the sort
    inside each doc is an in-row ``array_sort`` over ≤ m structs, keyed
    on the unique token slot, so the array order (and every downstream
    MaxSim fold) is deterministic."""
    sq = _sqnorm_expr(f"`{vec_col}`")
    toks = embeddings.select(
        F.expr(f"{id_col} div {int(m)}").alias("tdoc"),
        (F.col(id_col) % int(m)).alias("tok"),
        F.col(vec_col).alias("v"),
        sq.alias("sq"),
    )
    arr = F.array_sort(F.collect_list(F.struct("tok", "v", "sq")))
    return (
        toks.groupBy("tdoc")
        .agg(arr.alias("_a"))
        .select(
            "tdoc",
            F.transform(F.col("_a"), lambda s: s["v"]).alias("vecs"),
            F.transform(F.col("_a"), lambda s: s["sq"]).alias("sqs"),
        )
    )


def maxsim_topk(
    corpus_docs: DataFrame,
    query_docs: DataFrame,
    k: int = 5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, maxsim, rank) — exact late-interaction
    top-k: maxsim = Σ over query tokens (in token order) of the max
    token-pair cosine against the candidate document.

    ``candidates`` is a (query_id, neighbor_id) frame from a bucketed
    generator (:func:`maxsim_lsh_candidates`); ``None`` scores EVERY
    query×corpus pair — the quadratic truth baseline, registered only
    as the recall reference (the ``ann_brute_topk`` discipline).

    Engine-exact: token-pair dots come off the integer product
    lattice; the per-query-token max is order-independent; the final
    sum folds the query tokens in array order starting at 0.0, which
    the DuckDB oracle replays with ``list_prepend(0.0, …)`` +
    ``list_reduce``. The whole score is one in-row expression over the
    two token arrays — the joins move (m·dim)-wide doc rows, never
    token-grain rows."""
    c = corpus_docs.select(
        F.col("tdoc").alias("c_tdoc"),
        F.col("vecs").alias("c_vecs"),
        F.col("sqs").alias("c_sqs"),
    )
    q = query_docs.select(
        F.col("tdoc").alias("q_tdoc"),
        F.col("vecs").alias("q_vecs"),
        F.col("sqs").alias("q_sqs"),
    )
    if candidates is None:
        pairs = q.join(c, F.col("q_tdoc") != F.col("c_tdoc"))
    else:
        cand = candidates.select(
            F.col("query_id").alias("q_tdoc"),
            F.col("neighbor_id").alias("c_tdoc"),
        )
        pairs = cand.join(q, "q_tdoc").join(c, "c_tdoc")

    # the whole late-interaction score as ONE parsed expression (lits.py
    # discipline): per query token (zip q_vecs/q_sqs), the max over
    # candidate tokens of the lattice cosine, summed from 0.0 in token
    # order — identical tree to the nested-lambda form
    maxsim = F.expr(
        "aggregate(zip_with(q_vecs, q_sqs, (qv, qsq) -> "
        "array_max(zip_with(c_vecs, c_sqs, (cv, csq) -> "
        "CAST(aggregate(zip_with(qv, cv, (x, y) -> "
        f"CAST(round(CAST(x AS double) * CAST(y AS double) * {DOT_SCALE!r}D) "
        "AS bigint)), 0L, (acc, x) -> acc + x) AS double) "
        "/ sqrt(CAST(qsq AS double) * CAST(csq AS double))))), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    scored = pairs.select(
        F.col("q_tdoc").alias("query_id"),
        F.col("c_tdoc").alias("neighbor_id"),
        maxsim.alias("maxsim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("maxsim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            "query_id",
            "neighbor_id",
            "maxsim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


MAXSIM_MIN_PLANES = 6
MAXSIM_MAX_PLANES = 10


def maxsim_auto_planes(
    n_docs: int,
    lo: int = MAXSIM_MIN_PLANES,
    hi: int = MAXSIM_MAX_PLANES,
) -> int:
    """Default plane count for MaxSim candidate generation as a
    function of corpus size: ``clamp(ilog2(n_docs) - 2, lo, hi)``.

    The dial, measured at sf1 (5k docs, m=4): 6 planes -> 601k
    candidate pairs, 98.7 s; 10 planes -> 51k, 36.8 s — doubling the
    corpus roughly doubles per-bucket occupancy, so one extra plane
    (halving bucket collision odds, P(pair) ~ 1-(1-2^-B)^(m^2))
    keeps the candidate rate flat. ilog2 keeps the policy integer and
    SQL-replayable (the oracle computes the same B from the same
    count); the [6, 10] clamp pins the driver/bench scales to the
    hash-proven 6-plane table (sf0.01: 125 docs, sf0.1: 500 docs)
    and sf1 to the measured 10-plane sweet spot."""
    return min(int(hi), max(int(lo), (int(n_docs).bit_length() - 1) - 2))


def maxsim_lsh_candidates(
    embeddings: DataFrame,
    query_pred: Column,
    m: int = MAXSIM_TOKENS,
    n_planes: int | None = 6,
    table: int = MAXSIM_LSH_TABLE,
    in_dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id) — candidate document pairs for MaxSim
    from TOKEN-level hyperplane buckets: two docs are candidates iff
    any query token and any corpus token share a sign bucket (the
    ColBERT serving shape — first-stage retrieval runs per query
    token, the doc-level MaxSim only scores the union of hits).

    ``query_pred`` selects the query documents by their ``tdoc`` id.
    Fewer planes than the single-vector family (6 → 64 buckets): token
    hits are OR-ed across m query tokens, so per-token recall can be
    lower for the same doc-level recall.

    The signature is computed IN-ROW (the ``rp_lsh_topk`` trick: one
    integer fold per plane against a literal coefficient array) —
    value-identical to ``lsh_signature``'s explode + plane-join + two
    aggregations (integer sums reorder freely; candidate sets pinned
    equal in the A/B) but with ZERO token-grain exchanges before the
    bucket join, which is then the plan's only corpus-sized exchange.
    Measured 1.14× end-to-end at sf0.1, and the two exchanges it
    removes are the ones that grow with the corpus.

    ``n_planes=None`` applies :func:`maxsim_auto_planes` to the
    corpus's distinct-document count (one bounded aggregate job) —
    the scale-aware default. The plane-coefficient RNG draws
    sequentially per plane, so any auto-chosen B is a PREFIX of the
    ``MAXSIM_MAX_PLANES`` table and the oracle can replay the policy
    by filtering one literal table."""
    if n_planes is None:
        n_docs = (
            embeddings.select(
                F.expr(f"{id_col} div {int(m)}").alias("_td")
            )
            .distinct()
            .count()
        )
        n_planes = maxsim_auto_planes(n_docs)
    coeffs = _plane_coeffs(int(n_planes), int(in_dim), table=table)
    rows: dict[int, list[int]] = {}
    for p, _i, c in coeffs:
        rows.setdefault(p, []).append(c)
    # the WHOLE bucket signature as one parsed expression (lits.py
    # discipline, batched); the fold body is _scaled_prod rendered as SQL
    bits = ",".join(
        "CASE WHEN aggregate(zip_with(`" + vec_col + "`, array("
        + ",".join(f"{int(c)}L" for c in rows[p])
        + "), (x, y) -> CAST(round(CAST(x AS double) * CAST(y AS double) * "
        + f"{DOT_SCALE!r}D) AS bigint)), 0L, (acc, x) -> acc + x) >= 0"
        " THEN '1' ELSE '0' END"
        for p in range(int(n_planes))
    )
    sig = embeddings.select(
        F.expr(f"{id_col} div {int(m)}").alias("tdoc"),
        F.expr(f"concat({bits})").alias("bucket"),
    )
    qt = sig.filter(query_pred).select(
        F.col("tdoc").alias("query_id"), "bucket"
    )
    ct = sig.select(F.col("tdoc").alias("neighbor_id"), "bucket")
    return (
        qt.join(ct, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


# --- quantized-embedding serving: SQ8 + binary quantization ---------------
#
# The two standard lossy-compression paths every production vector store
# ships next to PQ (FAISS ScalarQuantizer QT_8bit; Cohere/"BQ" sign
# quantization with Hamming pre-ranking): SQ8 stores each component as
# one byte (4x vs float32), BQ as one BIT (32x). Like the PQ family
# above, everything runs on the integer lattice so both engines replay
# training, coding, and serving bit-for-bit. No counterpart in the
# reference (no vector surface there).

SQ_LEVELS = 255  # 8-bit code range [0, 255]
SQ8_LSH_TABLE = 13  # independent seeded plane stream for the candidate bucketer
BQ_BANDS = 8  # 64 bits -> 8 bands x 8 bits (multi-index pigeonhole)


def _lattice(col_sql: str, scale: int) -> Column:
    # one parsed expression (the lits.py discipline) — identical tree to
    # the F.transform(..., round-lambda) form
    return lattice_longs(f"`{col_sql}`", int(scale))


def sq8_train(
    embeddings: DataFrame,
    scale: int = 1000,
    dim: int = _DIM,
    vec_col: str = "embedding",
) -> tuple[list[int], list[int]]:
    """Per-dimension (lo, rng) integer bounds of the quantized corpus —
    the SQ8 "codebook" (FAISS ScalarQuantizer RangeStat_minmax).

    One aggregation job: 2*dim min/max expressions over the named
    lattice column reduce map-side to a SINGLE row (the 100 TB shape —
    a full scan but the shuffle carries 2*dim longs per partition);
    the bounds become plan literals, exactly the kmeans_int centroid
    discipline. rng==0 marks constant dimensions (code 0, exact)."""
    q = _lattice(vec_col, scale)
    row = (
        embeddings.select(q.alias("_q"))
        .agg(
            # one parsed expression per array (the lits.py discipline):
            # 2*dim py4j-built agg columns cost ~0.5 s of driver time
            F.expr(
                "array(" + ",".join(f"min(_q[{i}])" for i in range(int(dim))) + ")"
            ).alias("lo"),
            F.expr(
                "array(" + ",".join(f"max(_q[{i}])" for i in range(int(dim))) + ")"
            ).alias("hi"),
        )
        .collect()[0]
    )
    if row["lo"][0] is None:
        raise ValueError("sq8_train: empty corpus (no vectors to bound)")
    lo = [int(x) for x in row["lo"]]
    rng = [int(h) - int(l) for l, h in zip(lo, row["hi"])]
    return lo, rng


def sq8_codes(
    embeddings: DataFrame,
    bounds: tuple[list[int], list[int]] | None = None,
    scale: int = 1000,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes, recon, err2) — 8-bit scalar quantization of each
    component against the trained per-dim bounds:

        code_i  = floor((q_i - lo_i) * 255 / rng_i)        in [0, 255]
        recon_i = lo_i + floor(code_i * rng_i / 255)

    plus the vector's exact integer squared distortion
    err2 = sum_i (q_i - recon_i)^2 — the quantity SQ recall arguments
    are written in. All operands are non-negative at the divisions, so
    floor == truncation and any engine agrees; magnitudes stay far
    below 2^53, so the double-division floor is exact.

    Scale shape: training is the bounded :func:`sq8_train` reduce;
    coding is a PURE MAP over the named lattice column (bounds are
    plan literals) — zero exchanges, composes with the scan, and the
    emitted codes are 1 byte/dim: the 4x-smaller serving artifact."""
    lo, rng = bounds if bounds is not None else sq8_train(
        embeddings, scale=scale, dim=dim, vec_col=vec_col
    )
    lo_lit = lit_longs(lo)
    rng_lit = lit_longs(rng)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _lattice(vec_col, scale).alias("_q")
    )
    code = F.transform(
        F.col("_q"),
        lambda x, i: F.when(F.element_at(rng_lit, i + 1) == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                (x - F.element_at(lo_lit, i + 1))
                * F.lit(int(SQ_LEVELS))
                / F.element_at(rng_lit, i + 1)
            )
        ),
    )
    w = base.select("vec_id", "_q", code.alias("codes"))
    recon = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(lo_lit, i + 1)
        + F.floor(c * F.element_at(rng_lit, i + 1) / F.lit(int(SQ_LEVELS))),
    )
    w = w.select("vec_id", "_q", "codes", recon.alias("recon"))
    err2 = F.aggregate(
        F.zip_with(F.col("_q"), F.col("recon"), lambda x, r: (x - r) * (x - r)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return w.select("vec_id", "codes", "recon", err2.alias("err2"))


def sq8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = N_PLANES,
    table: int = SQ8_LSH_TABLE,
    scale: int = 1000,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, approx_d, rank) — asymmetric top-k over
    the SQ8-compressed corpus: hyperplane-bucket candidates, then the
    exact-integer asymmetric distance

        approx_d(q, v) = sum_i (q_i - recon_i(v))^2

    where the corpus side is touched ONLY through its 1-byte codes
    (reconstructed in-row from the literal bounds) — the query keeps
    full precision, the standard SQ serving asymmetry.

    Scale shape: index build (codes + an in-row B-bit sign bucket off
    the full-precision lattice, the rp_lsh_topk trick with the
    table-13 seeded planes) is a pure map that composes with the scan;
    serving's only corpus-sized exchange is the bucket equi-join
    (~2^B cheaper than all-pairs); ADC runs on candidates only.
    Ties break (approx_d asc, neighbor_id asc); self excluded."""
    lo, rng = sq8_train(embeddings, scale=scale, dim=dim, vec_col=vec_col)
    coeffs = _plane_coeffs(n_planes, int(dim), table=table)
    rows: dict[int, list[int]] = {}
    for p, _i, c in coeffs:
        rows.setdefault(p, []).append(c)

    def bucket_col() -> Column:
        # the WHOLE bucket signature as one parsed expression (lits.py
        # discipline, batched)
        bits = ",".join(
            "CASE WHEN aggregate(zip_with(_q, array("
            + ",".join(f"{int(c)}L" for c in rows[p])
            + "), (x, c) -> x * c), 0L, (acc, x) -> acc + x) >= 0"
            " THEN '1' ELSE '0' END"
            for p in range(int(n_planes))
        )
        return F.expr(f"concat({bits})")

    coded = sq8_codes(
        embeddings, bounds=(lo, rng), scale=scale, dim=dim,
        id_col=id_col, vec_col=vec_col,
    ).select("vec_id", "recon")
    corpus = (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            _lattice(vec_col, scale).alias("_q"),
        )
        .select("vec_id", bucket_col().alias("bucket"))
        .join(coded, "vec_id")
        .select(
            F.col("vec_id").alias("cid"), F.col("bucket").alias("cbucket"), "recon"
        )
    )
    qs = queries.select(
        F.col(id_col).alias("qid"), _lattice(vec_col, scale).alias("_q")
    ).select("qid", "_q", bucket_col().alias("qbucket")).select(
        "qid", F.col("_q").alias("qv"), "qbucket"
    )
    approx_d = F.aggregate(
        F.zip_with(F.col("qv"), F.col("recon"), lambda x, r: (x - r) * (x - r)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = qs.join(
        corpus,
        (F.col("qbucket") == F.col("cbucket")) & (F.col("qid") != F.col("cid")),
    ).select(
        F.col("qid").alias("query_id"),
        F.col("cid").alias("neighbor_id"),
        approx_d.alias("approx_d"),
    )
    win = W.partitionBy("query_id").orderBy(F.asc("approx_d"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "approx_d", "rank")
    )


def bq_train(
    embeddings: DataFrame,
    scale: int = 1000,
    dim: int = _DIM,
    vec_col: str = "embedding",
) -> tuple[list[int], int]:
    """Per-dimension integer lattice SUMS plus the row count — the
    trained binary-quantization thresholds in division-free form: the
    bit test is  q_i * n >= sum_i  (equivalent to q_i >= mean_i but
    exact on any engine, no floor-vs-truncate hazard). One bounded
    reduce, same discipline as :func:`sq8_train`. The product q_i*n
    stays in int64 for corpora up to ~10^15 rows at |q| <= 10^4."""
    q = _lattice(vec_col, scale)
    row = (
        embeddings.select(q.alias("_q"))
        .agg(
            F.expr(
                "array(" + ",".join(f"sum(_q[{i}])" for i in range(int(dim))) + ")"
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    if int(row["n"]) == 0:
        raise ValueError("bq_train: empty corpus (no vectors to threshold)")
    return [int(x) for x in row["s"]], int(row["n"])


def bq_bands(
    df: DataFrame,
    thresholds: tuple[list[int], int],
    bands: int = BQ_BANDS,
    scale: int = 1000,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, sq, bands) — the BQ INDEX-BUILD map: sign bits against
    the trained (sums, n) thresholds (division-free bit test) packed
    into ``bands`` band words, riding with the float vector and its
    integer squared norm for downstream rescoring.

    Pure per-row expressions with literal thresholds — zero
    exchanges, composes with the scan, and admits an APPEND STREAM:
    the quantize-at-ingest gate for BQ (stream == batch pinned), the
    1-bit/dim sibling of :func:`sq8_codes_frozen`'s ingest path."""
    sums, n = thresholds
    assert int(dim) % int(bands) == 0, "dim must split evenly into bands"
    width = int(dim) // int(bands)
    assert width <= 62, "band words must fit in int64"
    s_lit = lit_longs(sums)
    lat = _with_sqnorm(df, id_col, vec_col).select(
        "id", "v", "sq", _lattice("v", scale).alias("_q")
    )
    bits = F.transform(
        F.col("_q"),
        lambda x, i: F.when(
            x * F.lit(int(n)) >= F.element_at(s_lit, i + 1),
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    wb = lat.select("id", "v", "sq", bits.alias("_bits"))
    # one parsed expression for all band words (the lits.py discipline:
    # the dim-term py4j-built sum chain cost ~0.5 s of driver time)
    band_sql = ",".join(
        "(" + "+".join(f"_bits[{b * width + j}]*{1 << j}L" for j in range(width)) + ")"
        for b in range(int(bands))
    )
    return wb.select("id", "v", "sq", F.expr(f"array({band_sql})").alias("bands"))


def bq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bands: int = BQ_BANDS,
    oversample: int = 4,
    scale: int = 1000,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, hamming, cosine, rank) — binary
    quantization with the three-stage serving funnel every BQ vector
    store runs:

      1. candidates: each vector's dim sign bits (threshold = trained
         per-dim mean, division-free bit test) pack into ``bands``
         8-bit band values; (band, value) equi-join = multi-index
         pigeonhole — any neighbor within Hamming radius bands-1
         shares at least one exact band, everything touched at
         1 bit/dim (32x compression);
      2. Hamming pre-rank: popcount of XORed band words, keep the
         ``oversample*k`` closest codes per query (ties: hamming asc,
         neighbor_id asc) — still code-only;
      3. exact rescore: full-precision integer-lattice cosine on the
         surviving candidates, final top-k (cosine desc, neighbor_id).

    Scale shape: training is one bounded reduce; bits/bands are a pure
    map; the band explode is bands rows/vector (the MinHash-LSH
    banding grain); exchanges are the band join + candidate distinct +
    two id-grain hydration joins + two per-query windows — all at
    candidate grain except the band join. Never all-pairs."""
    sums, n = bq_train(embeddings, scale=scale, dim=dim, vec_col=vec_col)

    def prep(df: DataFrame) -> DataFrame:
        return bq_bands(
            df, (sums, n), bands=bands, scale=scale, dim=dim,
            id_col=id_col, vec_col=vec_col,
        )

    w = prep(embeddings)
    wq = prep(queries)
    qb = wq.select(
        F.col("id").alias("query_id"), F.posexplode("bands").alias("b", "bv")
    )
    cb = w.select(
        F.col("id").alias("neighbor_id"), F.posexplode("bands").alias("b", "bv")
    )
    cand = (
        qb.join(cb, ["b", "bv"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("qw.bands"),
            F.col("cw.bands"),
            lambda a, c: F.bit_count(a.bitwiseXOR(c)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ham = (
        cand.join(wq.alias("qw"), cand["query_id"] == F.col("qw.id"))
        .join(w.alias("cw"), cand["neighbor_id"] == F.col("cw.id"))
        .select(
            "query_id",
            "neighbor_id",
            hamming.alias("hamming"),
            F.col("qw.v").alias("_qv"),
            F.col("qw.sq").alias("_qsq"),
            F.col("cw.v").alias("_cv"),
            F.col("cw.sq").alias("_csq"),
        )
    )
    pre = W.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("neighbor_id"))
    kept = ham.withColumn("_pr", F.row_number().over(pre)).filter(
        F.col("_pr") <= int(oversample) * int(k)
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), _scaled_prod),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cos = dot / F.sqrt(F.col("_qsq").cast("double") * F.col("_csq").cast("double"))
    scored = kept.select(
        "query_id", "neighbor_id", "hamming", cos.alias("cosine")
    )
    fin = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(fin).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "hamming", "cosine", "rank")
    )


def sq8_codes_frozen(
    embeddings: DataFrame,
    bounds: tuple[list[int], list[int]],
    scale: int = 1000,
    dim: int = _DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes, err2, n_clamped, max_overshoot) — SQ8 coding of
    a NEW vector batch against FROZEN bounds: the production
    index-update shape (the index's (lo, rng) trained once on the base
    corpus; new arrivals are coded without re-training, so components
    may fall OUTSIDE the trained range and must clamp to [0, 255]).

    The drift telemetry every SQ store watches before scheduling a
    re-train rides along: n_clamped counts out-of-range components and
    max_overshoot is the worst integer distance past either bound
    (0 when the batch sits inside the trained range — then the output
    row equals :func:`sq8_codes`' exactly). err2 is the exact
    distortion INCLUDING clamping loss. On a CONSTANT trained
    dimension (rng == 0, a point range) every code is 0 and any
    deviation from the trained lo is out-of-range by definition — such
    components count toward n_clamped with overshoot |q - lo|, so
    drift on constant dims trips the retrain signal instead of hiding
    behind the zero code (err2 already carried the loss; the telemetry
    was blind).

    Pure map with literal bounds — zero exchanges, streamable: the
    quantize-at-ingest gate (stream == batch pinned)."""
    lo, rng = bounds
    lo_lit = lit_longs(lo)
    rng_lit = lit_longs(rng)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), _lattice(vec_col, scale).alias("_q")
    )
    raw = F.transform(
        F.col("_q"),
        lambda x, i: F.when(F.element_at(rng_lit, i + 1) == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                (x - F.element_at(lo_lit, i + 1))
                * F.lit(int(SQ_LEVELS))
                / F.element_at(rng_lit, i + 1)
            )
        ),
    )
    w = base.select("vec_id", "_q", raw.alias("_raw"))
    codes = F.transform(
        F.col("_raw"),
        lambda c: F.greatest(
            F.lit(0).cast("long"), F.least(F.lit(int(SQ_LEVELS)).cast("long"), c)
        ),
    )
    w = w.select("vec_id", "_q", "_raw", codes.alias("codes"))
    recon = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(lo_lit, i + 1)
        + F.floor(c * F.element_at(rng_lit, i + 1) / F.lit(int(SQ_LEVELS))),
    )
    w = w.select("vec_id", "_q", "_raw", "codes", recon.alias("recon"))
    err2 = F.aggregate(
        F.zip_with(F.col("_q"), F.col("recon"), lambda x, r: (x - r) * (x - r)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # per-dim out-of-range distance: raw-code overshoot past [0, 255]
    # on live dims; |q - lo| on constant (rng == 0) dims, where raw is
    # pinned to 0 and ANY deviation from lo is outside the point range
    over = F.transform(
        F.col("_q"),
        lambda x, i: F.when(
            F.element_at(rng_lit, i + 1) == 0,
            F.abs(x - F.element_at(lo_lit, i + 1)).cast("long"),
        ).otherwise(
            F.greatest(
                -F.element_at(F.col("_raw"), i + 1),
                F.element_at(F.col("_raw"), i + 1)
                - F.lit(int(SQ_LEVELS)).cast("long"),
                F.lit(0).cast("long"),
            )
        ),
    )
    w = w.select("vec_id", "_q", "_raw", "codes", "recon", over.alias("_over"))
    n_clamped = F.size(F.filter(F.col("_over"), lambda o: o > 0)).cast("long")
    overshoot = F.aggregate(
        F.col("_over"),
        F.lit(0).cast("long"),
        lambda acc, x: F.greatest(acc, x),
    )
    return w.select(
        "vec_id",
        "codes",
        err2.alias("err2"),
        n_clamped.alias("n_clamped"),
        overshoot.alias("max_overshoot"),
    )
