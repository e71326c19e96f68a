"""Corpus mixing: temperature-smoothed multilingual sampling.

Multilingual training corpora are never used at their natural language
proportions — high-resource languages would drown everything else, so
the standard recipe (mBERT/XLM-R/mT5 style exponential smoothing) draws
language *l* with probability

    q_l  ∝  p_l ** alpha,        p_l = tokens_l / total_tokens

for a temperature ``alpha`` in (0, 1].  The reference has no
multilingual pipeline (its corpus ops are MAG-notebook Scala,
magNets.scala:1-80); this is a forward-looking engine capability for
the 100 TB use case, built so the *plan is tiny* and the *arithmetic is
exact*:

- The per-language aggregate is one partial+final groupBy over ≲10³
  languages — the only data-sized shuffle, and it is map-side combined.
- Smoothing runs on an integer lattice: alpha = 1/2**k is computed as k
  nested ``floor(sqrt(·))`` steps.  IEEE-754 ``sqrt`` is a correctly-
  rounded operation, so ``floor(sqrt(bigint))`` is bit-identical on the
  JVM, in DuckDB, and in any other engine — no float drift can reach
  the emitted rates, which are integer ppm (``1e6 * w_l // Σw``).
- The document-level sampler composes the learned per-language rate
  with the engine's reproducible Bernoulli draw (md5-fold of doc_id):
  keep iff  u * n_tokens_l * Σw  <  B * w_l * S,  every term integer,
  compared in DECIMAL so it is overflow-safe far past int64 (the same
  contract as sampling.weighted_bernoulli_sample).  Expected kept
  tokens per language ≈ B * q_l: the temperature-resampled corpus.

Plan shape for the sampler: token counting is map-side; one small
aggregate per language; the ≲10³-row rate table broadcast-joins back
onto the corpus (no corpus shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import hash_bucket


def _nested_floor_sqrt(col, k: int):
    """alpha = 1/2**k smoothing on the integer lattice: k nested
    floor(sqrt(·)) steps, each exact on every IEEE-754 engine."""
    c = col.cast("double")
    for _ in range(k):
        c = F.floor(F.sqrt(c)).cast("double")
    return c.cast("long")


def temperature_mix_rates(
    documents: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    sqrt_steps: int = 1,
    budget_tokens: int = 1_000_000,
    materialize_stats: bool = True,
) -> DataFrame:
    """Per-language mixing plan: (lang, n_docs, n_tokens, weight,
    rate_ppm, alloc_tokens) where weight = n_tokens smoothed by
    alpha = 1/2**sqrt_steps, rate_ppm = 1e6*w//Σw and alloc_tokens =
    budget*w//Σw.  One language-grain aggregate + a 1-row global sum
    broadcast back; nothing data-sized moves twice."""
    ws_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    per_lang = (
        documents.select(F.col(lang_col).alias("lang"), ws_tokens.alias("_t"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
        .withColumn("weight", _nested_floor_sqrt(F.col("n_tokens"), sqrt_steps))
    )
    if materialize_stats:
        # The language-stats table is ≲10³ rows but every frame derived
        # from it (global weight sum here; the sampler's keep rule)
        # would otherwise re-run the corpus-wide token count — one full
        # 100 TB scan per derivation.  Pin it once.
        per_lang = per_lang.localCheckpoint(eager=True)
    total = per_lang.agg(F.sum("weight").cast("long").alias("_w_sum"))
    # Integer division via SQL `div` (DuckDB `//`): bigint-exact on both
    # engines — a double `/` + floor could land one off at a quotient
    # boundary.  1e6 * w stays < 2**63 up to w ~ sqrt(1e15) token corpora.
    return (
        per_lang.crossJoin(F.broadcast(total))
        .withColumn("rate_ppm", F.expr("(1000000 * weight) div _w_sum"))
        .withColumn(
            "alloc_tokens", F.expr(f"({int(budget_tokens)} * weight) div _w_sum")
        )
        .select("lang", "n_docs", "n_tokens", "weight", "rate_ppm", "alloc_tokens")
    )


def temperature_sample(
    documents: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    sqrt_steps: int = 1,
    budget_tokens: int = 1_000_000,
    bucket_space: int = 1_000_000,
) -> DataFrame:
    """Temperature-resampled corpus subset: documents kept by a
    reproducible Bernoulli draw at their language's smoothed rate,
    r_l = budget * w_l / (Σw * n_tokens_l), targeting ``budget_tokens``
    expected kept tokens distributed ∝ w_l across languages.

    Keep rule (all integers, DECIMAL compare — engine-exact):

        u(doc) * n_tokens_l * Σw  <  budget * w_l * S

    u ∈ [0, S) is the md5-fold bucket of doc_id.  Returns (doc_id,
    lang, n_tokens) of kept docs.  The rate table is ≲10³ rows and
    broadcast — the corpus itself is filtered map-side, zero corpus
    shuffles."""
    rates = temperature_mix_rates(
        documents, lang_col, text_col, sqrt_steps, budget_tokens
    )
    return temperature_sample_against_rates(
        documents, rates, lang_col, text_col, id_col, budget_tokens, bucket_space
    )


def temperature_sample_against_rates(
    documents: DataFrame,
    rates: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    budget_tokens: int = 1_000_000,
    bucket_space: int = 1_000_000,
) -> DataFrame:
    """The keep rule of :func:`temperature_sample` applied against a
    PRECOMPUTED rate table (the output frame of
    :func:`temperature_mix_rates`, usually built once on the static
    corpus). Because the filter is a pure map over the input behind a
    broadcast — zero aggregation — ``documents`` may be a STREAM: the
    crawl-ingest resampling gate runs in watermark-free append mode,
    admitting each arriving document at its language's learned rate,
    stream == batch row for row."""
    # Precision budget (Spark tracks decimal precision through ×):
    # u(7) × lang_toks(16) × w_sum(12) → 7+16+1+12+1 = 37 ≤ 38, so the
    # product is exact — no silent precision-loss rounding can occur.
    # Every cast below is guarded: under Spark's non-ANSI semantics a
    # decimal overflow is a silent NULL, which here would make the keep
    # predicate NULL and return an EMPTY sample instead of erroring.
    # bucket_space and budget are Python ints → validated eagerly;
    # weight is data → guarded with raise_error on the tiny rates table.
    if bucket_space > 10_000_000:
        raise ValueError(
            f"bucket_space={bucket_space} exceeds 1e7; u is compared in "
            "decimal(7,0) and larger spaces would overflow to NULL"
        )
    if int(budget_tokens) * int(bucket_space) >= 10**28:
        raise ValueError(
            f"budget_tokens*bucket_space = {int(budget_tokens) * int(bucket_space)} "
            "exceeds the decimal(28,0) literal budget"
        )
    r = rates.select(
        F.col("lang").alias("lang"),
        F.col("n_tokens").cast("decimal(16,0)").alias("_lang_toks"),
        F.when(
            F.col("weight") > F.lit(999_999_999),
            F.raise_error(
                F.concat(
                    F.lit("temperature_sample_against_rates: weight overflows "
                          "decimal(9,0) for lang="),
                    F.col("lang").cast("string"),
                )
            ).cast("decimal(9,0)"),
        )
        .otherwise(F.col("weight").cast("decimal(9,0)"))
        .alias("_w"),
    )
    total_w = r.agg(F.sum("_w").cast("decimal(12,0)").alias("_w_sum"))
    r = r.crossJoin(F.broadcast(total_w))

    # hash over the post-select alias: the keep filter runs after the
    # frame renames id_col -> "doc_id", so referencing id_col would be
    # unresolved for any non-default caller. Same values,
    # same hash.
    u = hash_bucket("doc_id", bucket_space).cast("decimal(7,0)")
    doc_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    # budget*space as decimal(28,0): 28 + 9 + 1 = 38 on the RHS product,
    # exact up to the validated 1e28 bound (a 100 TB-scale budget of
    # 1e14 tokens × the 1e7 max bucket space = 1e21 fits with room).
    keep = (u * F.col("_lang_toks") * F.col("_w_sum")) < (
        F.lit(str(int(budget_tokens) * int(bucket_space))).cast("decimal(28,0)")
        * F.col("_w")
    )
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.col(lang_col).alias("lang"),
            doc_tokens.alias("n_tokens"),
        )
        .join(F.broadcast(r), "lang")
        .filter(keep)
        .select("doc_id", "lang", "n_tokens")
    )


def domain_reweight(
    domain_losses: DataFrame,
    rounds: int = 5,
    eta_milli: int = 500,
    domain_col: str = "domain",
    loss_col: str = "loss_ppm",
) -> DataFrame:
    """(domain, loss_ppm, w_ppm) — multiplicative-weights domain
    reweighting on the integer lattice: the DoReMi idea (Xie et al.
    2023, public NeurIPS paper — upweight the domains the proxy model
    finds HARD) reduced to its deterministic core, a Hedge update over
    per-domain excess-loss statistics:

        w ← w · (1000 + (eta · loss) div 10⁶) div 1000      (tilt)
        w ← (w · 10⁶) div Σw                                 (normalize)

    ``rounds`` iterations from uniform w = 10⁶ ppm. Every step is
    truncating integer arithmetic, so the rounds do NOT collapse into
    one closed-form power (each normalization re-truncates) and any
    SQL engine replays them exactly — the oracle unrolls the rounds as
    chained CTEs over the ≤ |domains|-row table.

    Scale shape: the DISTRIBUTED work is upstream (whatever corpus
    pass produced ``domain_losses`` — e.g. the per-source gate failure
    rates in the registered query); domains are bounded metadata
    (10²-10³), so the rounds run on collected integers and the result
    re-enters the plan as a literal frame (the trainer/k-means driver
    tier — chaining 5 tiny DataFrame rounds through the planner is
    the measured exponential pitfall, featurize.py)."""
    spark = domain_losses.sparkSession
    rows = sorted(
        (r[domain_col], int(r[loss_col]))
        for r in domain_losses.select(domain_col, loss_col).collect()
    )

    def _tdiv(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q

    w = {d: 1_000_000 for d, _ in rows}
    loss = dict(rows)
    for _ in range(int(rounds)):
        for d in w:
            w[d] = _tdiv(
                w[d] * (1000 + _tdiv(int(eta_milli) * loss[d], 1_000_000)), 1000
            )
        s = sum(w.values())
        for d in w:
            w[d] = _tdiv(w[d] * 1_000_000, s)
    return spark.createDataFrame(
        [(d, loss[d], w[d]) for d, _ in rows],
        f"{domain_col} string, loss_ppm long, w_ppm long",
    )


def domain_reweight_oracle_sql(
    loss_cte: str,
    rounds: int = 5,
    eta_milli: int = 500,
) -> str:
    """ANSI-SQL replay of :func:`domain_reweight`: ``loss_cte`` must
    SELECT (domain, loss_ppm); the rounds unroll as chained CTEs
    (MATERIALIZED — the usual inline-explosion guard, though the
    tables are tiny)."""
    head = f"""
    WITH losses AS MATERIALIZED ({loss_cte}),
    w0 AS MATERIALIZED (
        SELECT domain, loss_ppm, CAST(1000000 AS BIGINT) AS w FROM losses
    )"""
    blocks = []
    for t in range(1, int(rounds) + 1):
        p = t - 1
        blocks.append(f"""
    t{t} AS MATERIALIZED (
        SELECT domain, loss_ppm,
               (w * (1000 + ({int(eta_milli)} * loss_ppm) // 1000000)) // 1000 AS w
        FROM w{p}
    ),
    w{t} AS MATERIALIZED (
        SELECT domain, loss_ppm,
               CAST((w * 1000000) // (SELECT SUM(w) FROM t{t}) AS BIGINT) AS w
        FROM t{t}
    )""")
    return (
        head + "," + ",".join(blocks)
        + f"\n    SELECT domain, loss_ppm, w AS w_ppm FROM w{int(rounds)}"
    )


def unimax_allocation(
    documents: DataFrame,
    budget_tokens: int = 500_000,
    max_epochs: int = 2,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """(lang, n_docs, n_tokens, cap_tokens, alloc_tokens) — UniMax
    budget allocation (Chung et al., ICLR 2023: spread the token budget
    as UNIFORMLY as possible across languages subject to at most
    ``max_epochs`` passes over any language — the fairness-first
    alternative to temperature sampling, which still over-allocates to
    head languages at any alpha).

    Integer waterfilling closed form, identical in both engines: with
    languages ordered by cap = max_epochs·n_tokens (asc, ties by lang),
    share_i = max(B − cumcap_{i−1}, 0) div (n−i+1); a language is
    capped iff cap_i ≤ share_i; k = last capped index; capped languages
    get their cap, the rest split the remainder evenly (min'd against
    their cap — truncation guards). All `div`s on non-negative
    integers, so Python, Spark and DuckDB agree bit-for-bit.

    Scale shape: ONE language-grain aggregate (bounded ≤10³ rows)
    collected driver-side — the bounded-metadata discipline; the
    waterfill runs on the driver and the plan returns as a literal
    frame."""
    ws_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    rows = (
        documents.select(F.col(lang_col).alias("lang"), ws_tokens.alias("_t"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_t").cast("long").alias("n_tokens"),
        )
        .collect()
    )
    E, B = int(max_epochs), int(budget_tokens)
    stats = sorted(
        ((int(r.n_tokens) * E, r.lang, int(r.n_docs), int(r.n_tokens)) for r in rows),
    )
    n = len(stats)
    cum_prev, shares, capped = 0, [], []
    for i, (cap, _lang, _nd, _nt) in enumerate(stats, start=1):
        share = max(B - cum_prev, 0) // (n - i + 1)
        shares.append(share)
        capped.append(cap <= share)
        cum_prev += cap
    k = max((i for i, c in enumerate(capped, start=1) if c), default=0)
    cum_k = sum(s[0] for s in stats[:k])
    final_share = max(B - cum_k, 0) // (n - k) if k < n else 0
    out = []
    for i, (cap, lang, nd, nt) in enumerate(stats, start=1):
        alloc = cap if i <= k else min(cap, final_share)
        out.append((lang, nd, nt, cap, alloc))
    return documents.sparkSession.createDataFrame(
        out,
        "lang string, n_docs long, n_tokens long, cap_tokens long, "
        "alloc_tokens long",
    )


def unimax_sample(
    documents: DataFrame,
    budget_tokens: int = 500_000,
    max_epochs: int = 2,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_space: int = 1_000_000,
) -> DataFrame:
    """(doc_id, lang, n_tokens) — the corpus resampled at each
    language's UniMax rate: keep iff u(doc)·n_tokens_l <
    alloc_l·bucket_space, u the md5-fold bucket of doc_id — the
    reproducible Bernoulli form of :func:`unimax_allocation` (expected
    kept tokens per language = alloc, capped at one pass: allocations
    above 1 epoch keep everything here, and the extra passes are
    realized downstream by ``mix_epochs`` — a filter cannot replicate).

    The allocation table is ≤10³ rows and broadcasts; the keep rule is
    a pure map, so ``documents`` may be an APPEND STREAM (the
    temperature-gate pattern). DECIMAL compare keeps the product exact:
    u(7) × n_tokens_l(16) vs alloc(16) × space(7) — both ≤ 24 digits,
    no silent overflow."""
    alloc = unimax_allocation(
        documents, budget_tokens, max_epochs, lang_col, text_col
    )
    return unimax_sample_against(
        documents, alloc, lang_col, text_col, id_col, bucket_space
    )


def unimax_sample_against(
    documents: DataFrame,
    alloc: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_space: int = 1_000_000,
) -> DataFrame:
    """The UniMax keep rule against a PRECOMPUTED allocation table
    (the :func:`unimax_allocation` frame, built once on the static
    corpus): a pure map behind a broadcast — zero aggregation — so
    ``documents`` may be a STREAM, admitting each arriving document at
    its language's allocated rate (the temperature-gate pattern;
    stream == batch pinned in test_streaming)."""
    if bucket_space > 10_000_000:
        raise ValueError(
            f"bucket_space={bucket_space} exceeds 1e7; u is compared in "
            "decimal(7,0) and larger spaces would overflow to NULL"
        )
    a = alloc.select(
        "lang",
        F.col("n_tokens").cast("decimal(16,0)").alias("_lang_toks"),
        F.col("alloc_tokens").cast("decimal(16,0)").alias("_alloc"),
    )
    # hash over the post-select alias: the keep filter runs after the
    # frame renames id_col -> "doc_id", so referencing id_col would be
    # unresolved for any non-default caller. Same values,
    # same hash.
    u = hash_bucket("doc_id", bucket_space).cast("decimal(7,0)")
    doc_tokens = F.size(F.split(F.col(text_col), " ")).cast("long")
    keep = (u * F.col("_lang_toks")) < (
        F.col("_alloc") * F.lit(int(bucket_space)).cast("decimal(7,0)")
    )
    return (
        documents.select(
            F.col(id_col).alias("doc_id"),
            F.col(lang_col).alias("lang"),
            doc_tokens.alias("n_tokens"),
        )
        .join(F.broadcast(a), "lang")
        .filter(keep)
        .select("doc_id", "lang", "n_tokens")
    )
