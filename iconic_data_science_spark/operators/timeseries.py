"""Time-series rollup operators (hypertable-style continuous aggregates).

The reference's temporal analysis is year-grained panel data
(ProfileConversion.scala:91-143); an events stream at 100 TB needs the
multi-granularity rollup every time-series store precomputes. Expressed
as ONE scan: each event emits (grain, bucket) structs via an array
explode, then a single grouped count — instead of a UNION ALL of three
aggregations re-scanning the source per grain. At scale the explode
triples shuffle rows but map-side partial aggregation collapses them to
~(grains × buckets × types) before the exchange, so the shuffle stays
dimension-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GRAINS = ("minute", "hour", "day")


def multi_grain_counts(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    grains: tuple[str, ...] = GRAINS,
) -> DataFrame:
    """(grain, bucket_us, event_type, n_events) for every grain in one
    pass. ``bucket_us`` is the truncated bucket start as unix micros."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(g).alias("grain"),
                F.unix_micros(F.date_trunc(g, F.col(ts_col))).alias("bucket_us"),
            )
            for g in grains
        ]
    )
    return (
        events.select(F.explode(pairs).alias("gb"), F.col(type_col).alias("event_type"))
        .groupBy("gb.grain", "gb.bucket_us", "event_type")
        .agg(F.count("*").alias("n_events"))
    )


def anomaly_hours(
    events: DataFrame,
    z: float = 2.0,
    ts_col: str = "ts",
) -> DataFrame:
    """(window_start_us, n_events, deviation, is_anomaly) — hourly event
    volumes flagged when they sit more than ``z`` standard deviations
    from the corpus-wide hourly mean (the monitoring/drift primitive a
    continuously-ingesting pipeline runs over every feed).

    Determinism discipline: hourly counts are BIGINT; the global mean
    and population variance derive from two BIGINT sums (Σn, Σn²) in one
    broadcastable row, so ``deviation = (n - mean)/sd`` is the same
    fixed-order double expression in both engines — no double
    aggregation anywhere. ``is_anomaly`` is BIGINT 0/1 for hashing.

    Scale shape: one hour-keyed partial-aggregated shuffle; the stats
    row broadcasts back (never a global window over the fact side).
    """
    # hourly feeds BOTH the stats row and the flagged output — without
    # the checkpoint the event aggregation underneath runs twice in the
    # one crossJoined plan (Catalyst does not share a subtree between
    # branches); hours-grain rows → the barrier is free
    hourly = (
        events.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col(ts_col))).alias("window_start_us")
        )
        .agg(F.count("*").cast("long").alias("n_events"))
        .localCheckpoint()
    )
    stats = hourly.agg(
        F.count("*").cast("long").alias("h"),
        F.sum("n_events").cast("long").alias("tot"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("sqtot"),
    )
    mean = F.col("tot").cast("double") / F.col("h").cast("double")
    var = F.col("sqtot").cast("double") / F.col("h").cast("double") - mean * mean
    # zero variance (every hour identical) → deviation 0 by definition;
    # the unguarded 0/0 would be NaN with engine-dependent comparison
    # semantics. Guard on var (not sqrt(var)): double rounding can put
    # a true-zero variance at -ε, and sqrt(-ε) is NaN in Spark but an
    # error in DuckDB.
    dev = F.when(
        var > 0, (F.col("n_events").cast("double") - mean) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return (
        hourly.crossJoin(F.broadcast(stats))
        .select(
            "window_start_us",
            "n_events",
            dev.alias("deviation"),
            F.when(F.abs(dev) > F.lit(z), F.lit(1)).otherwise(F.lit(0))
            .cast("long")
            .alias("is_anomaly"),
        )
    )


def mad_anomaly_hours(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    k: int = 3,
) -> DataFrame:
    """(event_type, hour, n, med, mad, anomalous) — ROBUST hourly
    volume anomaly flags via the median absolute deviation: flag hour
    h iff |n_h − median| > k·MAD. The robust twin of the z-score
    flags (ts_anomaly_hours): one fat-fingered or outage hour owns a
    mean/σ rule's baseline, but breaks neither median.

    Everything is INTEGER — counts, the lower median (the value at
    rank ⌈m/2⌉ with a deterministic (value, hour) tie order), MAD of
    integer deviations, and the k·MAD compare — so any engine replays
    it bit-for-bit; no float enters at any step. MAD = 0 (a majority
    of identical hourly counts) flags every deviating hour, the
    documented degenerate behavior of the estimator.

    Plan: one hourly-count rollup off the scan, then two rank windows
    over the (type, hour) grain — dimension-sized (types × hours), not
    data-sized."""
    from pyspark.sql import Window as W

    hour = F.expr(f"unix_timestamp({ts_col}) div 3600")
    counts = (
        events.select(F.col(type_col).alias("event_type"), hour.alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        # dimension-sized (types × hours); four frames derive from it
        .localCheckpoint(eager=True)
    )
    w_grp = W.partitionBy("event_type")
    w_med = w_grp.orderBy(F.col("n").asc(), F.col("hour").asc())
    med_tbl = (
        counts.withColumn("_rk", F.row_number().over(w_med))
        .withColumn("_m", F.count(F.lit(1)).over(w_grp))
        .withColumn(
            "_med_val",
            F.max(F.when(F.col("_rk") == F.expr("(_m + 1) div 2"), F.col("n"))).over(
                w_grp
            ),
        )
        .select("event_type", "hour", "n", F.col("_med_val").alias("med"))
    )
    dev = med_tbl.withColumn("_d", F.abs(F.col("n") - F.col("med")))
    w_mad = w_grp.orderBy(F.col("_d").asc(), F.col("hour").asc())
    mad_tbl = (
        dev.withColumn("_rk", F.row_number().over(w_mad))
        .withColumn("_m", F.count(F.lit(1)).over(w_grp))
        .withColumn(
            "_mad_val",
            F.max(F.when(F.col("_rk") == F.expr("(_m + 1) div 2"), F.col("_d"))).over(
                w_grp
            ),
        )
    )
    return mad_tbl.select(
        "event_type",
        "hour",
        "n",
        "med",
        F.col("_mad_val").alias("mad"),
        (F.col("_d") > F.lit(int(k)) * F.col("_mad_val")).cast("long").alias("anomalous"),
    )


def gap_fill(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """(event_type, bucket_h, observed_cents, locf_cents, interp_cents)
    — the TimescaleDB ``time_bucket_gapfill`` + ``locf`` +
    ``interpolate`` triple over hourly value sums: the dense per-type
    hour spine from first to last observation, each missing hour
    carrying (a) the last observed value (locf) and (b) the linear
    interpolation between its observed neighbors.

    Integer-exact: values go through the cents cast
    (decimal(12,2)·100 — the :mod:`decay` discipline), and the
    interpolation is the WEIGHTED-AVERAGE form

        (prev·(next_h − h) + next·(h − prev_h)) div (next_h − prev_h)

    whose numerator terms are non-negative for non-negative values, so
    Spark's truncating ``div`` and DuckDB's flooring ``//`` agree
    (negative values would split them — documented precondition, and
    the fixture's values are non-negative by contract). Hours before
    the first / after the last observation keep NULL locf / interp
    respectively — gap-fill never invents data outside the observed
    range.

    Scale shape: ONE events-grain aggregate (type × hour rollup);
    the spine explode, both fill windows, and the neighbor lookups all
    run on the BOUNDED type×hour table (types × ≤ span rows), so the
    corpus-sized work is exactly one exchange. The per-type window
    sorts the spine, not the events."""
    from pyspark.sql import Window as W

    hour = F.expr(f"unix_timestamp({ts_col}) div 3600")
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("long")
    hourly = (
        events.select(
            F.col(type_col).alias("event_type"), hour.alias("h"), cents.alias("c")
        )
        .groupBy("event_type", "h")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("mn", "mx")).alias("h")
    )
    j = spine.join(hourly, ["event_type", "h"], "left")
    wprev = (
        W.partitionBy("event_type").orderBy("h").rowsBetween(W.unboundedPreceding, 0)
    )
    wnext = (
        W.partitionBy("event_type").orderBy("h").rowsBetween(0, W.unboundedFollowing)
    )
    base = j.select(
        "event_type",
        F.col("h").alias("bucket_h"),
        "v",
        F.last("v", ignorenulls=True).over(wprev).alias("_pv"),
        F.last(F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True)
        .over(wprev)
        .alias("_ph"),
        F.first("v", ignorenulls=True).over(wnext).alias("_nv"),
        F.first(F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True)
        .over(wnext)
        .alias("_nh"),
    )
    interp = F.when(F.col("v").isNotNull(), F.col("v")).when(
        F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
        F.expr("(_pv * (_nh - bucket_h) + _nv * (bucket_h - _ph)) div (_nh - _ph)"),
    )
    return base.select(
        "event_type",
        F.col("bucket_h").cast("long").alias("bucket_h"),
        F.col("v").cast("long").alias("observed_cents"),
        F.col("_pv").cast("long").alias("locf_cents"),
        interp.cast("long").alias("interp_cents"),
    )
