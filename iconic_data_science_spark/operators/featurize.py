"""Text featurization: the hashing trick and broadcast taxonomy tagging.

Two classic pipeline steps between raw text and a trainable model:

- ``hashed_tfidf`` — fixed-dimension sparse tf-idf vectors via feature
  hashing (Weinberger et al., ICML'09): every token maps to
  ``md5-fold(token) mod dim`` with a ±1 sign drawn from the next hash
  bit, so the vocabulary never materializes and the feature space is
  bounded up front — the property that makes the step viable at 100 TB
  (a true vocabulary is unbounded and skewed; ``dim`` is a constant).
  idf runs on an integer lattice (``N·10⁶ div df``) so scores are
  engine-exact integers, never floats.

- ``keyword_tags`` — topic tagging against a small keyword taxonomy
  (the FineWeb-Edu-style domain/topic gate): the taxonomy broadcasts,
  the corpus is probed map-side, and the only shuffle is the final
  (doc, topic) partial-aggregated rollup.

The reference has no featurization stage (its pipelines end at MAG
rollups, magNets.scala:1-80); these extend the engine's text family
for the training-data use case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lits import lit_longs
from . import tiers


def _fold(col) -> "F.Column":
    """48-bit md5-prefix fold — the engine's portable content hash
    (same convention as operators/text.hash_bucket)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def hashed_tfidf(
    documents: DataFrame,
    dim: int = 1024,
    top_k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, feature, value, score, rank): the ``top_k`` hashed
    tf-idf features per document.

    feature = fold(token) mod dim; sign = +1/−1 from the next hash bit
    (``(fold div dim) mod 2``), so colliding tokens cancel in
    expectation instead of biasing the bucket (signed feature hashing).
    value = Σ signs over the document's tokens; df = distinct docs per
    feature; score = value · (N·10⁶ div df) — all integer arithmetic.

    Plan shape: one corpus shuffle to the (doc, feature) grain (partial
    hash-aggregated map-side), a ≤``dim``-row df/idf table that
    BROADCASTs back, and a per-doc window whose k-cut is
    WindowGroupLimit-pushed.  Ranking ties break on (|score| desc,
    feature asc) so the output is total-order deterministic.
    """
    toks = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
    base = documents.select(F.col(id_col).alias("doc_id"), toks).filter(
        F.col("token") != ""
    )
    pairs = base.select(
        "doc_id", _fold(F.col("token")).alias("_h")
    ).select(
        "doc_id",
        F.expr(f"_h % {int(dim)}").alias("feature"),
        # Sign from the next hash bit above the bucket — exact integer
        # `div` (a float divide would drift for non-power-of-two dims).
        F.expr(f"CASE WHEN (_h div {int(dim)}) % 2 = 0 THEN 1 ELSE -1 END").alias(
            "sign"
        ),
    )
    # values feeds BOTH the ≤dim-row df table and the scoring join —
    # checkpoint it or the corpus (doc, feature) shuffle runs twice in
    # the one plan (Catalyst does not share a subtree between branches)
    values = pairs.groupBy("doc_id", "feature").agg(
        F.sum("sign").cast("long").alias("value")
    ).localCheckpoint()
    df_tbl = values.groupBy("feature").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = documents.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    idf = df_tbl.crossJoin(F.broadcast(n_docs)).select(
        "feature", F.expr("(n_docs * 1000000) div df").alias("idf_scaled")
    )
    scored = (
        values.join(F.broadcast(idf), "feature")
        .withColumn("score", F.col("value") * F.col("idf_scaled"))
        .select("doc_id", "feature", "value", "score")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(
        F.abs(F.col("score")).desc(), F.col("feature").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
    )


def keyword_tags(
    documents: DataFrame,
    taxonomy: dict[str, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, topic, hits): per-document topic hit counts against a
    keyword taxonomy.  The taxonomy is a literal (broadcast, never
    shuffled); docs match map-side through a broadcast-hash join on
    the token; the (doc, topic) rollup partial-aggregates before its
    one tiny exchange.  Multi-topic keywords tag every owning topic."""
    spark = documents.sparkSession
    rows = [
        (kw, topic)
        for topic, kws in sorted(taxonomy.items())
        for kw in sorted(set(kws))
    ]
    kw_tbl = spark.createDataFrame(rows, "token string, topic string")
    toks = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
    base = documents.select(F.col(id_col).alias("doc_id"), toks)
    return (
        base.join(F.broadcast(kw_tbl), "token")
        .groupBy("doc_id", "topic")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )


def linear_classifier_gate(
    documents: DataFrame,
    weights_micro: list[int],
    bias_micro: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, logit_micro, keep) — linear text-classifier
    INFERENCE over hashed features: the quality-classifier gate every
    modern curation recipe runs at full corpus scale (DCLM / FineWeb-Edu
    style — train small offline, score everything online).  The model
    is ``len(weights_micro)`` integer micro-weights over the same
    signed feature-hashing space as :func:`hashed_tfidf`; since the
    dot product distributes over tokens,

        logit = bias + Σ_buckets value_b · w_b
              = bias + Σ_tokens sign(tok) · w[fold(tok) mod dim]

    the whole forward pass runs IN-ROW (one aggregate HOF per document,
    the weight vector a plan literal): zero shuffles, zero joins, no
    Python — scoring 100 TB is exactly one map pass.  keep = logit > 0.
    Integer micro-units end to end, so any engine replays it
    bit-for-bit."""
    dim = len(weights_micro)
    w_arr = lit_longs(weights_micro)
    # NULL text scores like empty text (n_tokens 0, logit = bias) —
    # without the coalesce the whole row would null out while a SQL
    # twin's LEFT-JOIN shape emits 0s.
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda t: t != "",
    )
    h = lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long")  # noqa: E731
    # hash each token ONCE into an array, then fold — lambdas get no
    # common-subexpression elimination (the Catalyst duplication
    # pitfall in SCALE.md), so referencing h(t) twice inside the
    # aggregate would run md5 twice per token.
    hashes = F.transform(toks, h)
    # integer floor(h/dim) without a drift-prone float divide: the
    # numerator h - h%dim is an exact multiple of dim, so the IEEE
    # quotient is the exact integer for ANY dim (not just powers of 2)
    hdiv = lambda hv: ((hv - hv % dim) / dim).cast("long")  # noqa: E731
    contrib = lambda hv: (  # noqa: E731
        F.when(hdiv(hv) % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
        * F.element_at(w_arr, (hv % dim + 1).cast("int"))
    )
    logit = F.aggregate(
        hashes, F.lit(int(bias_micro)).cast("long"), lambda acc, hv: acc + contrib(hv)
    )
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        logit.alias("logit_micro"),
        (logit > 0).cast("long").alias("keep"),
    )


def hashed_features(
    documents: DataFrame,
    dim: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, feature, x) — the signed hashed bag-of-words at the
    (doc, bucket) grain: x = Σ over the doc's tokens of ±1 with
    feature = fold(token) mod dim, sign from the next hash bit — the
    SAME feature space :func:`linear_classifier_gate` scores in-row and
    :func:`hashed_tfidf` weighs.  Factored out so the trainer and the
    oracle share one definition.  One corpus shuffle (map-side partial
    to ≤ dim rows per doc)."""
    toks = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token")
    base = documents.select(F.col(id_col).alias("doc_id"), toks).filter(
        F.col("token") != ""
    )
    return (
        base.select("doc_id", _fold(F.col("token")).alias("_h"))
        .select(
            "doc_id",
            F.expr(f"_h % {int(dim)}").alias("feature"),
            F.expr(f"CASE WHEN (_h div {int(dim)}) % 2 = 0 THEN 1 ELSE -1 END").alias(
                "sign"
            ),
        )
        .groupBy("doc_id", "feature")
        .agg(F.sum("sign").cast("long").alias("x"))
    )


def _train_linear_local(
    spark, pairs_pdf, labels_pdf, d: int, ep: int, lr_milli: int
):
    """Driver-side replica of the distributed pocket-perceptron epochs —
    bit-exact by construction:

    - margins accumulate with ``np.add.at`` in int64 (exact integer
      adds, like the pagerank local tier) at UNIQUE-doc grain, then map
      back to label rows, so duplicate doc ids see the distributed
      semantics (dup labels share the merged doc's margin; a doc id
      appearing k times in the misclassified set contributes its pairs
      k times to the gradient — the join multiplicity);
    - a NULL label row is never misclassified, never an error, and
      contributes nothing to either gradient (SUM/COUNT skip NULLs);
      NULL labels route to the ``nan``-free masked arrays below;
    - the harmonic step uses truncation toward zero (`div`), and a
      feature with no misclassified pair rows keeps its weight — which
      equals applying a zero step, so no presence mask is needed;
    - every epoch proves its int64 envelope with exact python-int
      bounds (max |x| · max |w| · max pairs-per-doc, and the gradient /
      next-weight bounds); if the data could overflow, return ``None``
      and let the caller run the overflow-safe distributed path (Spark
      longs there stay within range for the same reason the bound
      holds, and the oracle is the witness).
    """
    import numpy as np

    ld = labels_pdf["doc_id"].to_numpy(dtype=np.int64)
    y_raw = labels_pdf["y"]
    if y_raw.isna().any():
        y_valid = ~y_raw.isna().to_numpy()
    else:
        y_valid = np.ones(ld.shape[0], dtype=bool)
    y = np.where(y_valid, y_raw.fillna(0).to_numpy(dtype=np.int64), 0)
    pdoc = pairs_pdf["doc_id"].to_numpy(dtype=np.int64)
    pf = pairs_pdf["feature"].to_numpy(dtype=np.int64)
    px = pairs_pdf["x"].to_numpy(dtype=np.int64)
    uniq = np.unique(np.concatenate([ld, pdoc])) if ld.size or pdoc.size else ld
    li = np.searchsorted(uniq, ld)  # label row -> unique doc slot
    pi = np.searchsorted(uniq, pdoc)  # pair row -> unique doc slot
    nu = int(uniq.shape[0])
    xmax = int(np.abs(px).max(initial=0))
    nnz_doc = int(np.bincount(pi, minlength=max(nu, 1)).max(initial=0)) if px.size else 0
    n_pairs = int(px.size)
    dups_max = int(np.bincount(li, minlength=max(nu, 1)).max(initial=0)) if ld.size else 0

    ymax = int(np.abs(y).max(initial=0))

    def _tdiv(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q

    LIM = 2**62
    w = np.zeros(d, dtype=np.int64)
    b = 0
    best_w, best_b, best_err = w.copy(), 0, None
    for t in range(ep + 1):
        wmax = int(np.abs(w).max(initial=0))
        # exact python-int bounds for every int64 expression this epoch
        # (labels are not guaranteed ±1 — ymax scales the gradient and
        # the y*m product)
        margin_bound = xmax * wmax * max(nnz_doc, 1) + abs(b)
        grad_bound = xmax * n_pairs * max(dups_max, 1) * max(ymax, 1)
        next_w_bound = wmax + _tdiv(grad_bound * lr_milli, 1)
        if max(margin_bound * max(ymax, 1), grad_bound, next_w_bound) >= LIM:
            return None  # envelope at risk: distributed path decides
        mu = np.zeros(max(nu, 1), dtype=np.int64)
        if px.size:
            np.add.at(mu, pi, px * w[pf])
        m = mu[li] + b if ld.size else np.zeros(0, dtype=np.int64)
        err = int(np.count_nonzero(y_valid & ((m > 0) != (y == 1))))
        if best_err is None or err < best_err:
            best_w, best_b, best_err = w.copy(), b, err
        if t == ep:
            break
        mis = y_valid & ((y * m) <= 0)
        # per-unique-doc sum of misclassified label-row y (join multiplicity)
        s = np.zeros(max(nu, 1), dtype=np.int64)
        if ld.size:
            np.add.at(s, li[mis], y[mis])
        if px.size:
            g = np.zeros(d, dtype=np.int64)
            np.add.at(g, pf, px * s[pi])
        else:
            g = np.zeros(d, dtype=np.int64)
        bias_g = int(y[mis].sum()) if ld.size else 0
        lr = int(lr_milli)
        gq = np.abs(g) * lr // (t + 1)
        w = w + np.where(g >= 0, gq, -gq)
        b = b + _tdiv(bias_g * lr, t + 1)
    out = [(-1, int(best_b))] + [(f, int(best_w[f])) for f in range(d)]
    return spark.createDataFrame(sorted(out), "feature long, weight_micro long")


def train_linear_classifier(
    documents: DataFrame,
    label_col,
    dim: int = 256,
    epochs: int = 12,
    lr_milli: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(feature, weight_micro) — a DISTRIBUTED pocket-perceptron trainer
    for :func:`linear_classifier_gate`, closing the train half of the
    DCLM/FineWeb-Edu recipe (train small offline, score everything
    online; the reference trains nothing — its pipelines end at MAG
    rollups, magNets.scala:1-80).  ``label_col`` is a Column evaluating
    to y ∈ {+1, −1} over ``documents`` (e.g. a heuristic quality rule —
    exactly how real curation classifiers bootstrap their labels).

    The recurrence is full-batch, all-integer, and therefore
    deterministic, partitioning-invariant, and replayable by any SQL
    engine (:func:`train_oracle_sql` unrolls it as chained CTEs):

        w_0 = 0,  b_0 = 0
        m_i       = b_t + Σ_f x_if · w_tf                  (margins)
        err_t     = #{ i : (m_i > 0) ≠ (y_i = 1) }         (pocket stat)
        M         = { i : y_i · m_i ≤ 0 }                  (update set)
        w_{t+1,f} = w_tf + (lr·Σ_{i∈M} y_i·x_if) div (t+1) (harmonic step)
        b_{t+1}   = b_t  + (lr·Σ_{i∈M} y_i) div (t+1)

    returning the POCKET weights: the w_t with the smallest err_t over
    t ∈ {0..epochs}, earliest epoch on ties.  Full-batch perceptron
    updates oscillate (the step magnitude is comparable to ‖w‖); the
    harmonic 1/t decay damps the orbit and the pocket rule makes the
    output the best iterate rather than the last — both pieces exact
    integer arithmetic (`div` truncation matches DuckDB's `//`), no
    float, no sampling, no seed.  The bias is emitted as feature −1.

    Scale shape (the k-means driver-tier discipline, similarity.py:283):
    the (doc, feature) design matrix and the label table materialize
    ONCE before the loop, repartitioned by doc_id so the per-epoch
    margin aggregate and the mis→pairs join are both co-partitioned.
    The weight vector itself lives as ≤ dim+1 INTEGERS on the driver —
    bounded by construction (dim is a compile-time constant, the same
    bound that lets the gate embed it as a plan literal) — entering
    each epoch as a broadcast LocalRelation and leaving as one
    collected ≤ dim+1-row gradient.  Chaining epochs as lineage
    (weights_t a DataFrame referenced 5× by epoch t+1) was measured
    EXPONENTIAL in Spark's planner past ~10 epochs even with
    per-epoch localCheckpoints (4.5×/epoch planning blow-up, driver
    OOM at 16) — the literal-weights form makes every epoch's plan
    independent and O(1).  Per epoch: one co-partitioned doc-grain
    aggregate + one ≤ dim-row collect.  Corpus-sized data never
    reaches the driver; the classifier itself never sees this loop —
    scoring 100 TB remains the gate's single map pass.
    """
    spark = documents.sparkSession
    d, ep = int(dim), int(epochs)
    # Driver-local tier (as in kmeans_int, unigram and the graph
    # loops): the whole training state is the checkpointed
    # (doc, feature, x) table; when it fits the driver-local budget
    # (tiers.gather counts it on its checkpoint job), the IDENTICAL
    # integer recurrence runs in numpy instead of paying (epochs+1) x 2
    # serial Spark jobs.  The replica covers the full distributed
    # semantics (duplicate doc ids, NULL labels, int64 envelope) or
    # falls back — see _train_linear_local.
    pairs_pdf, pairs = tiers.gather(
        hashed_features(documents, dim=d, id_col=id_col, text_col=text_col)
        .repartition("doc_id")
    )
    labels = (
        documents.select(
            F.col(id_col).alias("doc_id"), label_col.cast("long").alias("y")
        )
        .repartition("doc_id")
        .localCheckpoint(eager=True)
    )
    if pairs_pdf is not None:
        local = _train_linear_local(
            spark, pairs_pdf, labels.toPandas(), d, ep, int(lr_milli)
        )
        if local is not None:
            return local

    def _tdiv(a: int, b: int) -> int:
        # truncation toward zero — Spark `div` / DuckDB `//` semantics
        # (Python's // floors, which differs for negative gradients)
        q = abs(a) // b
        return q if a >= 0 else -q

    def _margins(w: dict[int, int]):
        w_df = spark.createDataFrame(
            [(f, w[f]) for f in range(d)], "feature long, wv long"
        )
        sums = (
            pairs.join(F.broadcast(w_df), "feature")
            .groupBy("doc_id")
            .agg(F.sum(F.col("x") * F.col("wv")).cast("long").alias("s"))
        )
        return labels.join(sums, "doc_id", "left").select(
            "doc_id",
            "y",
            (F.coalesce(F.col("s"), F.lit(0)) + F.lit(w[-1]).cast("long")).alias("m"),
        )

    w = {f: 0 for f in range(-1, d)}
    best_w, best_err = dict(w), None
    for t in range(ep + 1):
        # Materialize the doc-grain margins ONCE per epoch: the stats
        # union below references the margins subtree three times
        # (gradient join, bias aggregate, pocket error count) and
        # Catalyst does no cross-branch CSE, so the lazy form recomputed
        # the pairs⋈weights groupBy 3× inside the one job. One extra
        # materialization job per epoch buys each reference a cached
        # scan — measured 9.9 s → 8.0 s (sf0.01, 12 epochs), weights
        # bit-identical.
        margins = _margins(w).localCheckpoint(eager=True)
        mis = margins.filter(F.col("y") * F.col("m") <= 0)
        # ONE distributed pass per epoch: the pocket error count, the
        # bias gradient, and the ≤ dim-row feature gradient collect
        # together (the gradient rows are the only driver traffic).
        stats = (
            pairs.join(mis.select("doc_id", "y"), "doc_id")
            .groupBy("feature")
            .agg(F.sum(F.col("y") * F.col("x")).cast("long").alias("g"))
            .unionByName(
                margins.agg(
                    F.lit(-1).cast("long").alias("feature"),
                    F.coalesce(
                        F.sum(F.when(F.col("y") * F.col("m") <= 0, F.col("y"))),
                        F.lit(0),
                    ).cast("long").alias("g"),
                )
            )
            .unionByName(
                margins.agg(
                    F.lit(-2).cast("long").alias("feature"),
                    F.count(
                        F.when((F.col("m") > 0) != (F.col("y") == 1), F.lit(1))
                    ).cast("long").alias("g"),
                )
            )
        ).collect()
        grad = {int(r["feature"]): int(r["g"]) for r in stats}
        err = grad.pop(-2)
        if best_err is None or err < best_err:
            best_w, best_err = dict(w), err
        if t == ep:
            break
        for f, g in grad.items():
            w[f] = w[f] + _tdiv(g * int(lr_milli), t + 1)
    return spark.createDataFrame(
        sorted((f, wv) for f, wv in best_w.items()),
        "feature long, weight_micro long",
    )


def train_oracle_sql(
    label_sql: str,
    dim: int = 256,
    epochs: int = 12,
    lr_milli: int = 1000,
    table: str = "documents",
) -> str:
    """The ANSI-SQL replay of :func:`train_linear_classifier`: the epoch
    recurrence unrolled as chained CTEs (m0/e0 → g0 → w1 → m1/e1 → …),
    one block per epoch, then the pocket argmin over the unioned
    (t, err) rows — the same generated-oracle pattern as
    kmv_sliding_oracle_sql.  ``label_sql`` is a SQL expression over the
    ``documents`` row yielding y ∈ {+1, −1}.  DuckDB's integer ``//``
    truncates toward zero exactly like Spark's ``div``, so the harmonic
    step replays bit-for-bit."""
    d, ep = int(dim), int(epochs)
    head = f"""
    WITH tk AS MATERIALIZED (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM {table}
    ),
    hashed AS MATERIALIZED (
        SELECT doc_id,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(token), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS h
        FROM tk WHERE token <> ''
    ),
    px AS MATERIALIZED (
        SELECT doc_id, h % {d} AS f,
               CAST(SUM(CASE WHEN (h // {d}) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS x
        FROM hashed GROUP BY 1, 2
    ),
    lab AS MATERIALIZED (SELECT doc_id, CAST({label_sql} AS BIGINT) AS y FROM {table}),
    w0 AS MATERIALIZED (SELECT CAST(range AS BIGINT) AS f, CAST(0 AS BIGINT) AS wv
           FROM range(-1, {d}))"""
    blocks = []
    for t in range(ep + 1):
        blocks.append(f"""
    mm{t} AS MATERIALIZED (
        SELECT p.doc_id, CAST(SUM(p.x * w.wv) AS BIGINT) AS s
        FROM px p JOIN w{t} w ON w.f = p.f GROUP BY 1
    ),
    m{t} AS MATERIALIZED (
        SELECT l.doc_id, l.y,
               COALESCE(mm.s, 0) + (SELECT wv FROM w{t} WHERE f = -1) AS m
        FROM lab l LEFT JOIN mm{t} mm USING (doc_id)
    ),
    e{t} AS MATERIALIZED (
        SELECT CAST({t} AS BIGINT) AS t, CAST(COUNT(*) FILTER (
            WHERE (m > 0) <> (y = 1)) AS BIGINT) AS err
        FROM m{t}
    )""")
        if t == ep:
            break
        blocks.append(f"""
    g{t} AS MATERIALIZED (
        SELECT p.f, CAST(SUM(m.y * p.x) AS BIGINT) AS g
        FROM px p JOIN m{t} m USING (doc_id)
        WHERE m.y * m.m <= 0 GROUP BY 1
        UNION ALL
        SELECT CAST(-1 AS BIGINT),
               CAST(COALESCE(SUM(y), 0) AS BIGINT)
        FROM m{t} WHERE y * m <= 0
    ),
    w{t + 1} AS MATERIALIZED (
        SELECT w.f,
               CAST(w.wv + (COALESCE(g.g, 0) * {int(lr_milli)}) // {t + 1}
                    AS BIGINT) AS wv
        FROM w{t} w LEFT JOIN g{t} g USING (f)
    )""")
    all_err = " UNION ALL ".join(f"SELECT * FROM e{t}" for t in range(ep + 1))
    all_w = " UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS t, f, wv FROM w{t}" for t in range(ep + 1)
    )
    return (
        head + "," + ",".join(blocks)
        + f""",
    allerr AS ({all_err}),
    best AS (SELECT t FROM allerr ORDER BY err ASC, t ASC LIMIT 1),
    allw AS ({all_w})
    SELECT f AS feature, wv AS weight_micro
    FROM allw WHERE t = (SELECT t FROM best)"""
    )


def window_cooccurrence(
    documents: DataFrame,
    window: int = 3,
    min_count: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(w1, w2, pair_n, w1_n, w2_n, lift_ppm) — ordered word
    co-occurrence counts within a ``window``-token forward window: the
    corpus statistic GloVe/PMI embeddings and collocation extractors
    are built from.

    Scale shape: pairs are constructed IN-ROW (slice/transform over
    the token array — no positional self-join, which would shuffle the
    corpus against itself), then partial-aggregated into ONE (w1, w2)
    rollup; unigram counts join back broadcast (a min-count-gated
    vocabulary is small by construction at any corpus size).

    lift_ppm is DEFINED as the nested integer expression
    ``((pair_n·10⁶ div w1_n) · T) div w2_n`` (T = total pair slots) so
    every engine computes the identical value; the first factor is ≤
    10⁶, so the product stays under 2⁶³ for T < ~9·10¹² pair slots —
    shard or rescale beyond that (docstring contract, not a silent
    overflow: DuckDB raises, Spark wraps)."""
    k = int(window)
    # Materialize the token array as a NAMED column before the lambda
    # tree: an unnamed split() referenced inside transform/slice
    # lambdas is re-evaluated per lambda call (the Catalyst
    # no-CSE-in-lambdas pitfall, SCALE.md) — per-doc cost went
    # quadratic in tokens; a column reference evaluates once per row.
    tok_col = F.col("_t")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(tok_col) - 1),
            lambda i: F.transform(
                F.slice(tok_col, i + 2, k),
                lambda w2: F.struct(
                    F.element_at(tok_col, (i + 1).cast("int")).alias("w1"),
                    w2.alias("w2"),
                ),
            ),
        )
    )
    toked = documents.select(F.split(F.lower(F.col(text_col)), " ").alias("_t"))
    pairs = (
        toked.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
        .filter(F.col("pair_n") >= min_count)
    )
    uni = (
        documents.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    total = pairs.agg(F.sum("pair_n").cast("long").alias("_t"))
    return (
        pairs.join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("n").alias("w1_n"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("n").alias("w2_n"))), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "pair_n",
            "w1_n",
            "w2_n",
            F.expr("(((pair_n * 1000000) div w1_n) * _t) div w2_n").alias("lift_ppm"),
        )
    )


def classifier_threshold_eval(
    documents: DataFrame,
    weights_micro: list[int],
    label_col,
    bias_micro: int = 0,
    thresholds_micro: tuple[int, ...] = (-2000, -1000, 0, 1000, 2000),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(thr_micro, tp, fp, fn, tn, precision_ppm, recall_ppm) — the
    operating-curve sweep that closes the train→eval→deploy loop for
    the quality gate: confusion counts and integer-ppm precision/recall
    of ``logit > thr`` against ``label_col`` (y ∈ {+1, −1}) at each
    candidate threshold. This is how a real curation pipeline picks the
    gate's keep-rate/quality trade-off before burning a 100 TB scoring
    pass on it.

    Plan shape: ONE in-row scoring pass (the gate's zero-shuffle
    forward pass via :func:`linear_classifier_gate`), each scored row
    fans out over the literal threshold array (≤ |thresholds|×, tiny
    constant), and one partial-aggregated groupBy(thr) — a ≤
    |thresholds|-row exchange. Ratios are integer ppm (``n·10⁶ div
    d``), division-by-zero → −1 sentinel, so the sweep hash-matches any
    engine."""
    scored = linear_classifier_gate(
        documents, weights_micro, bias_micro=bias_micro,
        id_col=id_col, text_col=text_col,
    ).select("doc_id", "logit_micro")
    labels = documents.select(
        F.col(id_col).alias("doc_id"), label_col.cast("long").alias("y")
    )
    thr = F.explode(
        F.array(*[F.lit(int(t)).cast("long") for t in thresholds_micro])
    ).alias("thr_micro")
    base = scored.join(labels, "doc_id").select("logit_micro", "y", thr)
    pred_pos = F.col("logit_micro") > F.col("thr_micro")
    actual_pos = F.col("y") == 1
    counts = base.groupBy("thr_micro").agg(
        F.count(F.when(pred_pos & actual_pos, 1)).cast("long").alias("tp"),
        F.count(F.when(pred_pos & ~actual_pos, 1)).cast("long").alias("fp"),
        F.count(F.when(~pred_pos & actual_pos, 1)).cast("long").alias("fn"),
        F.count(F.when(~pred_pos & ~actual_pos, 1)).cast("long").alias("tn"),
    )
    return counts.select(
        "thr_micro", "tp", "fp", "fn", "tn",
        F.expr(
            "CASE WHEN tp + fp = 0 THEN -1L ELSE (tp * 1000000) div (tp + fp) END"
        ).alias("precision_ppm"),
        F.expr(
            "CASE WHEN tp + fn = 0 THEN -1L ELSE (tp * 1000000) div (tp + fn) END"
        ).alias("recall_ppm"),
    )


def tokens_array(text_col_expr) -> "F.Column":
    """Empty-filtered, lowercased token array for one document. NAME
    the result in its own projection before handing it to
    :func:`bigram_buckets` — an attribute reference inside a lambda is
    free, while inlining this split+filter into the bigram lambdas
    re-executes it PER ELEMENT (no subexpression elimination inside
    higher-order functions — the lambda-CSE rule; measured 15× at
    sf0.1: 7.3 s → 0.5 s for the bigram pass)."""
    return F.filter(
        F.split(F.lower(F.coalesce(text_col_expr, F.lit(""))), " "),
        lambda t: t != "",
    )


def bigram_buckets(
    tokens_col, dim: int = 256
) -> "F.Column":
    """In-row array of hashed-BIGRAM buckets for one document:
    fold(tok_i + ' ' + tok_{i+1}) mod dim over a NAMED token-array
    column from :func:`tokens_array` (Xie et al. 2023's feature space
    for DSIR). Tokens hash once per PAIR (the bigram string
    concatenates first, so there is no double-md5 per token);
    documents with < 2 tokens get an empty array (the naive
    sequence(0, n-2) would DESCEND for n < 2 and emit phantom
    pairs)."""
    pair = lambda i: F.concat(  # noqa: E731
        F.element_at(tokens_col, (i + 1).cast("int")),
        F.lit(" "),
        F.element_at(tokens_col, (i + 2).cast("int")),
    )
    h = lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")  # noqa: E731
    n = F.size(tokens_col)
    return F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(0), n - 2), lambda i: h(pair(i)) % dim),
    ).otherwise(F.array().cast("array<bigint>"))


def dsir_bucket_weights(
    documents: DataFrame,
    target,
    dim: int = 256,
    scale: int = 10**6,
    text_col: str = "text",
) -> list[int]:
    """Per-bucket integer importance weights for DSIR-style data
    selection (Xie et al., NeurIPS 2023: importance resampling from the
    raw corpus toward a target domain, with hashed-bigram bag-of-words
    likelihoods). ``target`` is a boolean Column marking the
    target-domain rows INSIDE ``documents``.

    weight_b = (scale · (c_t(b)+1) · (N_s+dim)) div ((c_s(b)+1) · (N_t+dim))

    — the Laplace-smoothed target/source probability RATIO on the
    integer ``scale`` lattice. DSIR proper sums log-ratios; the log is
    the one step no integer lattice can replay exactly, so the engine
    keeps the per-bucket ratio itself (monotone in the same direction
    per bucket) and documents the deviation — the selection rule stays
    a pure integer function both engines agree on bit-for-bit.

    Scale shape: ONE corpus aggregation to the ≤``dim``-row bucket
    grain (map-side partial: bigram arrays build in-row, explode fuses
    with the scan), collected driver-side — bounded model metadata as
    driver literals, the same discipline as the trained classifier
    weights. The corpus is scanned once and never reshuffled."""
    rows = (
        documents.select(
            tokens_array(F.col(text_col)).alias("_toks"),
            target.cast("long").alias("is_t"),
        )
        .select(
            F.explode(bigram_buckets(F.col("_toks"), dim=dim)).alias("b"),
            "is_t",
        )
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c_s"),
            F.sum("is_t").cast("long").alias("c_t"),
        )
        .collect()
    )
    c_s = {r.b: r.c_s for r in rows}
    c_t = {r.b: r.c_t for r in rows}
    n_s = sum(c_s.values())
    n_t = sum(c_t.values())
    return [
        (scale * (c_t.get(b, 0) + 1) * (n_s + dim))
        // ((c_s.get(b, 0) + 1) * (n_t + dim))
        for b in range(dim)
    ]


def dsir_select(
    documents: DataFrame,
    weights: list[int],
    n_keep: int,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, dsir_score) — the ``n_keep`` documents whose
    hashed-bigram importance score is highest: the DSIR selection step
    run against weights from :func:`dsir_bucket_weights`.

    score = Σ over the document's bigram occurrences of weight[bucket]
    — the forward pass is IN-ROW (one aggregate HOF, the weight vector
    a plan literal, exactly the :func:`linear_classifier_gate`
    posture): zero shuffles, zero joins, no Python. Selection is a
    global top-``n_keep`` by (score desc, md5(seed:doc_id), doc_id) —
    a TakeOrdered, never a global sort; the md5 term makes ties at the
    cut a seeded lottery instead of an id-order bias (the
    ``global_uniform_n`` recipe).

    Like DSIR's log-ratio sums, scores accumulate over occurrences and
    therefore scale with document length — select within
    comparable-length strata (chunk or pack first) when lengths vary
    widely, exactly as the paper does with fixed-size excerpts."""
    return (
        dsir_scores(documents, weights, id_col=id_col, text_col=text_col)
        .orderBy(
            F.desc("dsir_score"),
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .limit(n_keep)
    )


def dsir_scores(
    documents: DataFrame,
    weights: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, dsir_score) — the DSIR importance score as a
    PURE MAP (no ordering, no cut): one named-column projection of the
    bigram array, then the in-row weighted fold. Batch frames and
    append streams run it identically, so select-at-ingest needs no
    batch rescoring (the classifier/temperature/quality-gate
    pattern)."""
    dim = len(weights)
    w_arr = lit_longs(weights)
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        tokens_array(F.col(text_col)).alias("_toks"),
    ).select(
        "doc_id", bigram_buckets(F.col("_toks"), dim=dim).alias("_bs")
    )
    score = F.aggregate(
        F.col("_bs"),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(w_arr, (b + 1).cast("int")),
    )
    return base.select(
        "doc_id",
        F.size("_bs").cast("long").alias("n_bigrams"),
        score.alias("dsir_score"),
    )


def dsir_gate_against_cutoff(
    documents: DataFrame,
    weights: list[int],
    cutoff: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents whose DSIR score is at or above ``cutoff`` — the
    top-n selection in its STREAMING-compatible form: learn ``weights``
    and the cutoff (e.g. the n-th best score) once on the static
    corpus, then admit at ingest with a pure in-row score + compare.
    ``documents`` may be an append stream; stream == batch row for row
    (pinned in test_streaming)."""
    return dsir_scores(
        documents, weights, id_col=id_col, text_col=text_col
    ).filter(F.col("dsir_score") >= int(cutoff))


def dsir_pipeline(
    documents: DataFrame,
    target,
    n_keep: int,
    dim: int = 256,
    scale: int = 10**6,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`dsir_bucket_weights` + :func:`dsir_select` with the
    corpus hashed ONCE: the (doc_id, bigram-bucket array) frame
    localCheckpoints and feeds BOTH the weight histogram and the
    scoring plan — the two-pass form runs the md5 fold over every
    bigram twice (Catalyst does not share a subtree between branches). Same
    bits out as the two primitives; measured ~1.7× at sf0.1. The
    checkpoint is corpus-grain but narrow (ids + one long per bigram —
    the ``hashed_tfidf`` ``values`` precedent)."""
    base = (
        documents.select(
            F.col(id_col).alias("doc_id"),
            target.cast("long").alias("_is_t"),
            tokens_array(F.col(text_col)).alias("_toks"),
        )
        .select(
            "doc_id",
            "_is_t",
            bigram_buckets(F.col("_toks"), dim=dim).alias("_bs"),
        )
        .localCheckpoint()
    )
    rows = (
        base.select(F.explode("_bs").alias("b"), "_is_t")
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c_s"),
            F.sum("_is_t").cast("long").alias("c_t"),
        )
        .collect()
    )
    c_s = {r.b: r.c_s for r in rows}
    c_t = {r.b: r.c_t for r in rows}
    n_s = sum(c_s.values())
    n_t = sum(c_t.values())
    weights = [
        (scale * (c_t.get(b, 0) + 1) * (n_s + dim))
        // ((c_s.get(b, 0) + 1) * (n_t + dim))
        for b in range(dim)
    ]
    w_arr = lit_longs(weights)
    score = F.aggregate(
        F.col("_bs"),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(w_arr, (b + 1).cast("int")),
    )
    return (
        base.select(
            "doc_id",
            F.size("_bs").cast("long").alias("n_bigrams"),
            score.alias("dsir_score"),
        )
        .orderBy(
            F.desc("dsir_score"),
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .limit(n_keep)
    )
