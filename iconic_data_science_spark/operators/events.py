"""Batch event-analytics operators over the ``events`` table.

Beyond the reference's surface (its only temporal analysis is
year-grained bibliometrics — ProfileConversion.scala:91-143); these are
the product-analytics shapes an events pipeline needs, expressed as
pure DataFrame ops so Catalyst handles pushdown and join strategy. The
streaming twins live in streaming/events.py; these batch forms are the
backfill / replay path over the same parquet.

Determinism discipline: timestamps are only compared, never emitted;
week arithmetic is integer days-since-epoch-date ``div`` 7 (date_trunc
week-start conventions differ across engines, integer division does
not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EPOCH = "2024-01-01"  # cohort day-0 anchor (first day of the dataset)


def funnel(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    checkpoint_stages: bool = True,
) -> DataFrame:
    """Ordered-funnel conversion: (stage, n_users) — users counted at a
    stage only if they performed it strictly AFTER their entry into the
    previous stage (min-timestamp chaining, the standard product-funnel
    semantics: a click before any view is not funnel progress).

    One aggregation per stage on (user_id), each joined to the previous
    stage's entry time — user_id-keyed shuffles throughout, no window
    over raw events, state bounded by users, not events. Each stage's
    entry table is checkpointed: it feeds BOTH its own count row and
    the next stage's join, and the lazy form re-executed every earlier
    stage inside every later one (O(k²) stage scans across the union:
    Catalyst does not share a subtree between branches).
    ``checkpoint_stages=False`` keeps
    the lazy form: it exposes the stage scans in the final plan (each
    scan must show the pushed event_type filter — pinned in
    test_plans), at the cost of the O(k²) re-execution.
    """
    prev: DataFrame | None = None
    out_rows: list[DataFrame] = []
    spark = events.sparkSession
    for idx, stage in enumerate(stages):
        e = events.filter(F.col("event_type") == stage)
        if prev is not None:
            e = e.join(prev, "user_id").filter(F.col("ts") > F.col("_entry_ts"))
        entered = e.groupBy("user_id").agg(F.min("ts").alias("_entry_ts"))
        if checkpoint_stages:
            entered = entered.localCheckpoint()
        cnt = entered.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(idx).cast("long").alias("stage_idx"),
            F.lit(stage).alias("stage"),
            "n_users",
        )
        out_rows.append(cnt)
        prev = entered
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionByName(df)
    return out


def retention_cohorts(
    events: DataFrame, cohort_event: str = "signup", epoch: str = EPOCH
) -> DataFrame:
    """Weekly retention triangle: (cohort_week, week_offset, n_users) —
    users bucketed by the week of their first ``cohort_event``, counted
    once per later week in which they have ANY event.

    Weeks are ``datediff(day, epoch) div 7`` — integer arithmetic both
    engines share (date_trunc('week') week-start conventions do not
    match across engines/locales). The activity set dedups map-side to
    (user, week) before the count — the shuffle carries user×week rows,
    not raw events.
    """
    # Integer week arithmetic (never floor-of-double): subtract
    # pmod(d,7) so the `div` is an exact floored division — identical
    # to DuckDB's integer `//` for EVERY d including pre-epoch negative
    # day counts (bare `div` truncates toward zero and would diverge
    # there; floor(double/7) was the old bug this replaces).
    def _week(date_expr: str):
        d = f"datediff({date_expr}, date '{epoch}')"
        return F.expr(f"({d} - pmod({d}, 7)) div 7").cast("long")

    wk = _week("to_date(ts)")
    first = (
        events.filter(F.col("event_type") == cohort_event)
        .groupBy("user_id")
        .agg(F.min("ts").alias("_first_ts"))
        .select("user_id", _week("to_date(_first_ts)").alias("cohort_week"))
    )
    act = (
        events.select("user_id", wk.alias("week"))
        .distinct()
        .join(first, "user_id")
        .filter(F.col("week") >= F.col("cohort_week"))
    )
    return act.groupBy(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
    ).agg(F.countDistinct("user_id").cast("long").alias("n_users"))


def quota_sample(
    events: DataFrame,
    key_col: str = "event_type",
    quota: int = 50,
    two_phase: bool = False,
) -> DataFrame:
    """(key, event_id, seq) — per-key ingestion quota: the first
    ``quota`` rows per key in deterministic (ts, event_id) order are
    admitted with their admission index, the rest are dropped. The
    crawl/pipeline budget-control shape: cap what each source may
    contribute to a build, reproducibly (unlike rate limiters keyed on
    wall-clock arrival). ``streaming.events.quota_sampler_state`` is
    the continuous twin — explicit per-key admitted-count state — and
    stream==batch over a single backfill batch is pinned in
    tests/test_streaming.py.

    Scale shape: one shuffle on the key; the window ranks only within
    keys and the filter drops everything past the quota before any
    downstream work. ``two_phase=True`` bounds that shuffle the way
    kmv_partial_minima bounds the sketch build: an Arrow-batched
    map-side partial keeps only each key's ``quota`` smallest
    (ts, event_id) rows PER INPUT PARTITION, so the exchange carries
    ≤ quota·P rows per key instead of the key's full row count — the
    difference between ranking 50 rows and sorting a hot source's
    billions. min-quota of a union == min-quota of per-partition
    min-quotas, so the result is row-identical (pinned by test);
    the price is Python workers in a previously pure-JVM plan —
    measured SLOWER at bench scales (0.38→0.54 s sf0.1, 0.47→1.10 s
    sf1: the JVM sorts a million rows faster than Arrow round-trips
    them), so it stays opt-in for the regime it exists for: per-key
    volumes that dwarf the quota AND an exchange too big to sort.
    """
    from pyspark.sql import Window as W

    if two_phase:
        events = _quota_partial(events, key_col=key_col, quota=quota)
    w = W.partitionBy(key_col).orderBy("ts", "event_id")
    return (
        events.withColumn("seq", F.row_number().over(w).cast("long"))
        .filter(F.col("seq") <= quota)
        .select(F.col(key_col).alias("key"), "event_id", "seq")
    )


def _quota_partial(events: DataFrame, key_col: str, quota: int) -> DataFrame:
    """Map-side bounded partial for :func:`quota_sample`: ≤ ``quota``
    smallest (ts, event_id) rows per key per input partition, held as
    per-partition state in ``mapInPandas`` (no shuffle here — the
    exchange after this carries ≤ quota·P rows per key)."""

    def partial(batches):
        import pandas as pd

        # Sort key mirrors the JVM single-phase orderBy("ts","event_id")
        # EXACTLY, including its NULLS FIRST default: a null ts arrives
        # here as pandas NaT, whose comparisons are unordered — raw
        # tuple sort would diverge from (and crash against) the pinned
        # row-identical contract. (is-not-null, ts-or-sentinel, id):
        # null-ts rows sort first among themselves by event_id.
        def _jvm_order(pair):
            ts, eid = pair
            isna = pd.isna(ts)
            return (not isna, 0 if isna else ts, eid)

        state: dict = {}
        for pdf in batches:
            for k, g in pdf.groupby(key_col, sort=False, dropna=False):
                key = None if (k is None or (isinstance(k, float) and k != k)) else k
                cand = state.setdefault(key, [])
                cand.extend(zip(g["ts"], g["event_id"]))
                cand.sort(key=_jvm_order)
                del cand[quota:]
        rows = [
            {key_col: k, "ts": ts, "event_id": int(eid)}
            for k, pairs in state.items()
            for ts, eid in pairs
        ]
        yield pd.DataFrame(rows, columns=[key_col, "ts", "event_id"])

    kt = events.schema[key_col].dataType.simpleString()
    return events.select(key_col, "ts", "event_id").mapInPandas(
        partial, f"{key_col} {kt}, ts timestamp, event_id long"
    )


def last_touch_attribution(
    events: DataFrame,
    lookback_s: int = 3600,
    touch_types: tuple[str, ...] = ("click", "view"),
) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click/view at or before the purchase, within
    a ``lookback_s``-second window; purchases with no touch in the
    window stay unattributed (null columns).

    (event_id, user_id, ts_us, amount, attributed_id, attributed_type,
    attributed_ts_us). Deterministic tie-break: equal-time touches →
    the largest event_id wins.

    Implementation is the as-of pattern (operators/asof.py): union
    touches and purchases, one window per user ordered by
    (ts, side, touch-id) carrying ``last(..., ignorenulls=True)`` — a
    single user-keyed shuffle, no per-purchase join fan-out, no range
    join. At 100 TB the window partitions are users (high-cardinality);
    a mega-user is the same salting case as every user-keyed window.
    """
    from pyspark.sql import Window as W

    touches = events.filter(F.col("event_type").isin(*touch_types)).select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("_side"),
        F.col("event_id").alias("_tid"),
        F.col("event_type").alias("_ttype"),
        F.col("ts").alias("_tts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_tid"),
        F.lit(None).cast("string").alias("_ttype"),
        F.lit(None).cast("timestamp").alias("_tts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "_side", "_tid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    u = touches.unionByName(purchases)
    tagged = (
        u.withColumn("_l_tid", F.last("_tid", ignorenulls=True).over(w))
        .withColumn("_l_ttype", F.last("_ttype", ignorenulls=True).over(w))
        .withColumn("_l_tts", F.last("_tts", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )
    in_window = F.col("_l_tts") >= (
        F.col("ts") - F.expr(f"INTERVAL {lookback_s} SECOND")
    )
    return tagged.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").alias("amount"),
        F.when(in_window, F.col("_l_tid")).alias("attributed_id"),
        F.when(in_window, F.col("_l_ttype")).alias("attributed_type"),
        F.when(in_window, F.unix_micros("_l_tts")).alias("attributed_ts_us"),
    )


def winsorize_values(
    events: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    pct: int = 95,
) -> DataFrame:
    """(event_id, event_type, value, cutoff, clipped) — per-group
    winsorization at an EXACT rank-based percentile: the metric-
    robustness step before any mean/σ-based anomaly or normalization
    pass (one fat-fingered 1e9 value otherwise owns the group mean).

    The cutoff is the value at rank ceil(pct·n/100) in ascending order
    — computed with integer arithmetic ((pct·n + 99) div 100), never a
    float multiply, so every engine selects the same row. Values are
    only COMPARED and SELECTED, never arithmetically combined, so raw
    doubles stay hash-exact (the discipline float aggregation can't
    offer). clipped = least(value, cutoff).

    Plan: one shuffle to the group grain; the rank and the cutoff
    broadcast within each window partition. For heavy-tailed group
    cardinalities prefer the sketch twin (ev_value_quantiles, GK-style
    bounded error) — this operator is the exact small-group-count /
    audit-grade form.
    """
    from pyspark.sql import Window as W

    w_rank = W.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    w_grp = W.partitionBy(group_col)
    ranked = events.select(
        F.col(id_col).alias("event_id"),
        F.col(group_col).alias("event_type"),
        F.col(value_col).alias("value"),
    ).withColumn("_rk", F.row_number().over(w_rank)).withColumn(
        "_n", F.count(F.lit(1)).over(w_grp)
    )
    cut_rank = F.expr(f"({int(pct)} * _n + 99) div 100")
    cutoff = F.max(F.when(F.col("_rk") == cut_rank, F.col("value"))).over(w_grp)
    return (
        ranked.withColumn("cutoff", cutoff)
        .withColumn("clipped", F.least(F.col("value"), F.col("cutoff")))
        .select("event_id", "event_type", "value", "cutoff", "clipped")
    )


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, n, from_n, prob_ppm) — the user-journey
    transition matrix (the Markov/Sankey step of product analytics):
    consecutive event pairs per user in deterministic (ts, event_id)
    order, rolled up to transition counts and integer-ppm conditional
    probabilities (n·10⁶ div from_n, so the matrix hashes identically
    on any engine).

    Plan: ONE shuffle to the user grain (the lag window), then a tiny
    (from, to) rollup that partial-aggregates map-side; the from-grain
    marginal joins back broadcast (≤ |event types|² rows end to end).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    pairs = (
        events.select(
            F.col(user_col).alias("u"),
            F.col(type_col).alias("to_type"),
            F.col(ts_col).alias("_ts"),
            F.col(id_col).alias("_id"),
        )
        .withColumn("from_type", F.lag("to_type").over(
            W.partitionBy("u").orderBy(F.col("_ts").asc(), F.col("_id").asc())
        ))
        .filter(F.col("from_type").isNotNull())
    )
    counts = (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # ≤ |event types|² rows; both the marginal and the final join
        # derive from it — pin so the user-grain window runs once.
        .localCheckpoint(eager=True)
    )
    marginal = counts.groupBy("from_type").agg(F.sum("n").cast("long").alias("from_n"))
    return (
        counts.join(F.broadcast(marginal), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "from_n",
            F.expr("(n * 1000000) div from_n").alias("prob_ppm"),
        )
    )
