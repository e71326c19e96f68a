"""Mergeable-sketch operators: count-min heavy hitters and
histogram quantiles.

The single-pass, fixed-memory summaries a 100 TB event feed needs
(Cormode & Muthukrishnan 2005, "An improved data stream summary: the
count-min sketch and its applications" — public JALG paper). Both
sketches here are *deterministic integer* structures: hash parameters
are seeded literals (the same table the SQL oracle embeds), counts are
BIGINTs, so estimates hash-match across engines — unlike the HLL
surface (`a2_approx_distinct`), which stays rows-only because Spark's
sketch bytes are engine-internal.

Scale shape: a CMS is a (d × w) grid of partial-aggregated counts —
the shuffle carries at most d·w rows per partition regardless of input
size, and grids merge by cell-wise addition (the mergeability that
makes sketches work on a 1000-executor cluster). The histogram is the
same story with one row per (group, bin).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .dedup import MERSENNE31

CMS_DEPTH = 4
CMS_WIDTH = 64


def _cms_params(depth: int = CMS_DEPTH) -> list[tuple[int, int, int]]:
    """(row, a, b) — seeded literal LCG coefficients, shared with the
    SQL oracle via :func:`cms_param_table_sql`."""
    rng = random.Random(20250814)
    return [
        (i, rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for i in range(depth)
    ]


def cms_param_table_sql(depth: int = CMS_DEPTH) -> str:
    rows = ", ".join(f"({i}, {a}, {b})" for i, a, b in _cms_params(depth))
    return f"(VALUES {rows}) AS cp(row_i, a, b)"


def _bucket(key: Column, a: int, b: int, width: int) -> Column:
    return ((F.lit(a) * key + F.lit(b)) % MERSENNE31) % width


def cms_heavy_hitters(
    events: DataFrame,
    key_col: str = "user_id",
    threshold: int = 80,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(user_id, est_count, true_count) for keys whose count-min
    estimate reaches ``threshold``.

    est_count = min over the d rows of the key's bucket counts — the
    classic one-sided estimate (est ≥ true, overshoot bounded by
    collisions ≈ N/w per row). ``true_count`` is included so callers
    (and the tests) can see the overestimate property directly; a
    production deployment at 100 TB would skip it — the sketch is the
    point: d·w cells of state however large the stream.
    """
    params = _cms_params(depth)
    key = F.col(key_col).cast("long")
    cells = events.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"), _bucket(key, a, b, width).alias("bucket")
                    )
                    for i, a, b in params
                ]
            )
        ).alias("c")
    ).select("c.row_i", "c.bucket")
    sketch = cells.groupBy("row_i", "bucket").agg(F.count("*").cast("long").alias("cnt"))
    keys = events.select(key.alias("k")).distinct()
    probes = keys.select(
        "k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_i"),
                        _bucket(F.col("k"), a, b, width).alias("bucket"),
                    )
                    for i, a, b in params
                ]
            )
        ).alias("p"),
    ).select("k", "p.row_i", "p.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["row_i", "bucket"])
        .groupBy("k")
        .agg(F.min("cnt").alias("est_count"))
    )
    true = events.groupBy(key.alias("k")).agg(F.count("*").cast("long").alias("true_count"))
    return (
        est.join(true, "k")
        .filter(F.col("est_count") >= threshold)
        .select(F.col("k").alias(key_col), "est_count", "true_count")
    )


KMV_K = 64
KMV_A = 1_103_515_245
KMV_B = 12_345


def kmv_hashes(
    events: DataFrame, key_col: str = "user_id", group_col: str = "event_type"
) -> DataFrame:
    """(grp, h) — the seeded-LCG hash stream :func:`kmv_distinct`
    sketches. The key reduces mod M BEFORE the multiply so the product
    stays under 2⁶³ for any BIGINT key; for keys already in [0, M) the
    value is unchanged from the pre-reduction form."""
    km = ((F.col(key_col) % MERSENNE31) + MERSENNE31) % MERSENNE31
    h = (km * F.lit(KMV_A) + F.lit(KMV_B)) % MERSENNE31
    return events.select(F.col(group_col).alias("grp"), h.cast("long").alias("h"))


def kmv_partial_minima(
    hashed: DataFrame, k: int = KMV_K, group_cols: tuple = ("grp",)
) -> DataFrame:
    """Map-side bounded partial: ≤ k smallest DISTINCT hashes per group
    PER INPUT PARTITION, held as Arrow-batched per-partition state in
    ``mapInPandas`` (the only bounded-state aggregation Spark exposes
    without a JVM Aggregator). No shuffle here — the exchange after
    this step carries ≤ k·P rows per group instead of the full distinct
    (group, hash) cardinality. Null keys contribute no hash.

    ``group_cols`` may name several columns — a composite group (e.g.
    (event_type, pane_hour) in :func:`kmv_sliding_distinct`) is carried
    as real typed columns, never packed into a delimited string (a key
    value containing the delimiter would silently corrupt the panes)."""
    cols = list(group_cols)

    def _norm(v):
        # Normalize a group key element: a numeric column with nulls
        # reaches pandas as float64 + NaN, and NaN keys (a) don't merge
        # across batches (NaN != NaN) and (b) fail the Arrow cast back
        # to the declared type. Null groups stay a single None-keyed
        # group, matching what GROUP BY does JVM-side.
        return None if (v is None or (isinstance(v, float) and v != v)) else v

    def partial_topk(batches):
        import numpy as np
        import pandas as pd

        state: dict = {}
        for pdf in batches:
            for grp, s in pdf.groupby(cols, sort=False, dropna=False)["h"]:
                arr = s.dropna().to_numpy(dtype="int64")
                if not len(arr):
                    continue
                key = tuple(
                    _norm(v) for v in (grp if isinstance(grp, tuple) else (grp,))
                )
                prev = state.get(key)
                merged = np.unique(arr if prev is None else np.concatenate([prev, arr]))
                state[key] = merged[:k]  # np.unique sorts → k smallest distinct
        yield pd.DataFrame(
            [(*grp, int(hv)) for grp, mins in state.items() for hv in mins],
            columns=[*cols, "h"],
        )

    fields = ", ".join(
        f"{c} {hashed.schema[c].dataType.simpleString()}" for c in cols
    )
    return hashed.mapInPandas(partial_topk, f"{fields}, h long")


def kmv_distinct(
    events: DataFrame,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = KMV_K,
) -> DataFrame:
    """(group, est_distinct) — k-minimum-values distinct-count sketch
    (Bar-Yossef et al. 2002, "Counting distinct elements in a data
    stream" — public RANDOM'02 paper), on the integer lattice so the
    estimate hash-matches any ANSI-SQL oracle.

    This is the engine-exact twin of the HLL surface
    (`a2_approx_distinct`, rows-only because Spark's HLL sketch bytes
    are engine-internal): hash each key with a seeded-literal LCG into
    [0, 2^31-1), keep the k smallest DISTINCT hashes per group, and
    estimate N ≈ (k-1)·M / h_k where h_k is the k-th minimum (exact
    BIGINT division). Groups with fewer than k distinct hashes return
    the exact count (the standard KMV small-set rule).

    Scale shape — the mergeability the sketch exists for, realized in
    the plan: a map-side Arrow-batched partial (``mapInPandas``, the
    only way to hold bounded per-partition state in Spark without a
    JVM Aggregator) keeps ≤ k smallest DISTINCT hashes per group per
    input partition, so the exchange carries ≤ k·P rows per group —
    NOT the full distinct (group, hash) cardinality. k-minima of a
    union == k-minima of the per-partition k-minima, so the estimate
    is bit-identical to the unbounded form (pinned by
    tests/test_llm_ops.py). At 10⁹ distinct keys per group the shuffle
    moves ~k rows per partition instead of 10⁹.

    The LCG reduces the key mod M BEFORE multiplying so the product
    stays under 2⁶³ for any BIGINT key (|key| beyond ~8.4e9 used to
    wrap silently in Spark while the DuckDB oracle raised); for keys
    already in [0, M) the value is unchanged.
    """
    hashed = kmv_hashes(events, key_col=key_col, group_col=group_col)
    # ≤ k·P rows per group after the bounded partial; ONE exchange:
    # distinct + rank-window + count/max (3 passes over the shuffled
    # rows) collapse into slice(array_sort(collect_set), 1, k) — the
    # same k smallest distinct hashes, held in-row
    topk = (
        kmv_partial_minima(hashed, k=k)
        .groupBy("grp")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("_hs"))
    )
    return topk.select(
        F.col("grp").alias(group_col),
        F.when(F.size("_hs") < k, F.size("_hs").cast("long"))
        .otherwise(
            F.expr(f"CAST({(k - 1) * MERSENNE31} AS BIGINT) div element_at(_hs, -1)")
        )
        .cast("long")
        .alias("est_distinct"),
    )


def kmv_oracle_sql(
    key_col: str = "user_id",
    group_col: str = "event_type",
    table: str = "events",
    k: int = KMV_K,
) -> str:
    """DuckDB twin of :func:`kmv_distinct` (same LCG literals — key
    reduced mod M before the multiply so the product never overflows
    BIGINT — same rank filter, same BIGINT division, same null-key
    drop: the Spark partial's dropna means a NULL key contributes no
    hash, so the oracle filters NULL keys too — a NULL-h row would
    otherwise inflate n_seen for groups with < k distinct hashes)."""
    return f"""
        WITH d AS (
            SELECT DISTINCT {group_col} AS grp,
                   ((({key_col} % {MERSENNE31}) + {MERSENNE31}) % {MERSENNE31}
                    * {KMV_A} + {KMV_B}) % {MERSENNE31} AS h
            FROM {table}
            WHERE {key_col} IS NOT NULL
        ),
        r AS (
            SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
            FROM d
        ),
        t AS (
            SELECT grp, COUNT(*) AS n_seen, MAX(h) AS h_k
            FROM r WHERE rn <= {k} GROUP BY grp
        )
        SELECT grp AS {group_col},
               CAST(CASE WHEN n_seen < {k} THEN n_seen
                    ELSE {(k - 1) * MERSENNE31} // h_k END AS BIGINT) AS est_distinct
        FROM t
    """


def kmv_overlap(
    events: DataFrame,
    key_col: str = "user_id",
    group_col: str = "event_type",
    k: int = KMV_K,
) -> DataFrame:
    """(type_a, type_b, est_a, est_b, est_union, est_inter) — pairwise
    distinct-key overlap between groups, estimated ENTIRELY from the
    per-group KMV sketches: the k-minima of A ∪ B are the k smallest of
    the two sketches' minima merged (the KMV union rule, Bar-Yossef et
    al. 2002 / Beyer et al. 2007 SIGMOD "distinct-value synopses"), and
    |A∩B| falls out by inclusion–exclusion (clamped at 0).

    This is the mergeability story made queryable: after the one
    bounded-shuffle sketch build (:func:`kmv_distinct`'s plan), every
    pairwise overlap is computed from ≤ k rows per group — the data is
    never rescanned, which is the whole point of sketching a 100 TB
    feed. Integer lattice throughout, so the SQL oracle reproduces the
    estimates bit-for-bit.
    """
    hashed = kmv_hashes(events, key_col=key_col, group_col=group_col)
    # one exchange builds the per-group sketch as ONE ROW holding its
    # sorted k-minima array (the distinct + rank-window + per-pair
    # re-join-by-h + second window all collapse — the union sketch of a
    # pair is an IN-ROW merge of two arrays, which is the mergeability
    # rule itself). ≤ |groups| rows thereafter; checkpointed once.
    sk = (
        kmv_partial_minima(hashed, k=k)
        .groupBy("grp")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("_hs"))
        .localCheckpoint()
    )

    def est_sql(c: str) -> str:
        # exact BIGINT div, same literals as the oracle
        return (
            f"CAST(CASE WHEN size({c}) < {k} THEN size({c}) "
            f"ELSE {(k - 1) * MERSENNE31} div element_at({c}, -1) END AS BIGINT)"
        )

    pairs = (
        sk.select(F.col("grp").alias("ga"), F.col("_hs").alias("_ha"))
        .crossJoin(
            sk.select(F.col("grp").alias("gb"), F.col("_hs").alias("_hb"))
        )
        .filter(F.col("ga") < F.col("gb"))
        .withColumn(
            "_hu",
            F.slice(F.array_sort(F.array_distinct(F.concat("_ha", "_hb"))), 1, k),
        )
    )
    return pairs.selectExpr(
        "ga AS type_a",
        "gb AS type_b",
        est_sql("_ha") + " AS est_a",
        est_sql("_hb") + " AS est_b",
        est_sql("_hu") + " AS est_union",
    ).withColumn(
        "est_inter",
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).cast("long"),
        ),
    )


def kmv_overlap_oracle_sql(
    key_col: str = "user_id",
    group_col: str = "event_type",
    table: str = "events",
    k: int = KMV_K,
) -> str:
    """DuckDB twin of :func:`kmv_overlap` — same sketches, same union
    rule, same inclusion–exclusion clamp, same null-key drop (see
    :func:`kmv_oracle_sql`)."""
    est = (
        f"CAST(CASE WHEN n_seen < {k} THEN n_seen "
        f"ELSE {(k - 1) * MERSENNE31} // h_k END AS BIGINT)"
    )
    return f"""
        WITH d AS (
            SELECT DISTINCT {group_col} AS grp,
                   ((({key_col} % {MERSENNE31}) + {MERSENNE31}) % {MERSENNE31}
                    * {KMV_A} + {KMV_B}) % {MERSENNE31} AS h
            FROM {table}
            WHERE {key_col} IS NOT NULL
        ),
        sk AS (
            SELECT grp, h FROM (
                SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
                FROM d
            ) WHERE rn <= {k}
        ),
        pg AS (
            SELECT grp, {est} AS est FROM (
                SELECT grp, COUNT(*) AS n_seen, MAX(h) AS h_k FROM sk GROUP BY 1
            )
        ),
        pr AS (
            SELECT a.grp AS ga, b.grp AS gb
            FROM (SELECT DISTINCT grp FROM sk) a, (SELECT DISTINCT grp FROM sk) b
            WHERE a.grp < b.grp
        ),
        mu_src AS (
            SELECT DISTINCT pr.ga, pr.gb, sk.h
            FROM pr JOIN sk ON sk.grp = pr.ga OR sk.grp = pr.gb
        ),
        mu AS (
            SELECT ga, gb, {est} AS est_union FROM (
                SELECT ga, gb, COUNT(*) AS n_seen, MAX(h) AS h_k FROM (
                    SELECT ga, gb, h FROM (
                        SELECT ga, gb, h,
                               ROW_NUMBER() OVER (
                                   PARTITION BY ga, gb ORDER BY h) AS rn
                        FROM mu_src
                    ) WHERE rn <= {k}
                ) GROUP BY 1, 2
            )
        )
        SELECT mu.ga AS type_a, mu.gb AS type_b,
               ea.est AS est_a, eb.est AS est_b, mu.est_union,
               GREATEST(CAST(0 AS BIGINT),
                        CAST(ea.est + eb.est - mu.est_union AS BIGINT)) AS est_inter
        FROM mu
        JOIN pg ea ON ea.grp = mu.ga
        JOIN pg eb ON eb.grp = mu.gb
    """


def histogram_quantiles(
    events: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    percentiles: tuple[int, ...] = (50, 90, 99),
    max_bin: int = 1000,
) -> DataFrame:
    """(group, p_pct, q_bin) — approximate percentiles from a unit-width
    integer-bin histogram: q_bin is the smallest bin whose cumulative
    count covers p% of the group (error ≤ one bin width by
    construction).

    All comparisons are BIGINT (`100·cum ≥ p·N` instead of a float
    ceil), so the result is engine-exact. The histogram is the
    mergeable state: one row per (group, bin), single pass, fixed
    memory — the same t-digest/KLL niche with a deterministic answer.
    """
    bin_col = F.least(F.floor(F.col(value_col)).cast("long"), F.lit(max_bin))
    # bounded (grp × ≤max_bin+1)-row histogram feeds BOTH the cumulative
    # window and the totals; checkpoint it or the raw-event aggregation
    # underneath runs twice in the joined plan (Catalyst does not share
    # a subtree between branches)
    hist = (
        events.select(F.col(group_col).alias("grp"), bin_col.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint()
    )
    w = W.partitionBy("grp").orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.withColumn("cum", F.sum("cnt").over(w).cast("long"))
    totals = hist.groupBy("grp").agg(F.sum("cnt").cast("long").alias("n"))
    ps = F.explode(F.array(*[F.lit(p) for p in percentiles])).alias("p_pct")
    return (
        cum.join(F.broadcast(totals), "grp")
        .select("grp", "bin", "cum", "n", ps)
        .filter(F.lit(100) * F.col("cum") >= F.col("p_pct") * F.col("n"))
        .groupBy(F.col("grp").alias(group_col), F.col("p_pct").cast("long").alias("p_pct"))
        .agg(F.min("bin").alias("q_bin"))
    )


def kmv_sliding_distinct(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    window_hours: int = 3,
    k: int = KMV_K,
) -> DataFrame:
    """(event_type, win_end_hour, n_panes, est_distinct) — sliding-
    window distinct counts from MERGED per-hour KMV sketches: the
    estimate for window ending at hour *w* covers hours
    [w-window_hours+1, w], and is computed by merging the hourly pane
    sketches — the raw data is scanned ONCE to build panes; every
    window estimate after that touches only sketch rows (≤ k per
    pane). This is the property sketches exist for at 100 TB: a naive
    sliding COUNT(DISTINCT) rescans each event ``window_hours`` times
    and shuffles raw keys; here the re-use is free because k-minima of
    a union == k-minima of the per-pane k-minima (the same merge rule
    `kmv_overlap` uses across groups, applied across TIME).

    Window end hours are the observed pane hours per type (no empty
    windows emitted). Hours are epoch hours (unix div 3600) — TZ-free.
    Same LCG/estimator literals as :func:`kmv_distinct`, so the DuckDB
    twin replays everything exactly.
    """
    hour = F.expr(f"unix_timestamp({ts_col}) div 3600")
    # (event_type, pane_hour) carried as two real columns — a delimited
    # concat_ws key would silently corrupt panes for any event_type
    # containing the delimiter.
    hashed = events.filter(F.col(key_col).isNotNull()).select(
        F.col(type_col).alias("event_type"),
        hour.cast("long").alias("pane_hour"),
        (
            (((F.col(key_col) % MERSENNE31) + MERSENNE31) % MERSENNE31)
            * F.lit(KMV_A)
            + F.lit(KMV_B)
        ).cast("long").__mod__(MERSENNE31).alias("h"),
    )
    # bounded map-side partial, then ONE exchange builds each pane's
    # sketch as ONE ROW holding its sorted k-minima array (the
    # distinct + rank-window pair collapsed into
    # slice(array_sort(collect_set), 1, k), same k smallest distinct
    # hashes). The pane table — one row per pane — is pinned: the
    # fan-out, the observed-hours semi-join build side, and the window
    # merge all read it instead of re-running the raw scan + partial.
    # This is the "build the sketch ONCE" half of the mergeability
    # contract.
    panes = (
        kmv_partial_minima(hashed, k=k, group_cols=("event_type", "pane_hour"))
        .groupBy("event_type", "pane_hour")
        .agg(F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("_hs"))
        .localCheckpoint(eager=True)
    )
    # fan each pane's sketch ROW into the window_hours windows it
    # serves — sketch-sized data, not raw data
    fanned = panes.select(
        "event_type",
        F.explode(
            F.sequence(F.col("pane_hour"), F.col("pane_hour") + (window_hours - 1))
        ).alias("win_end_hour"),
        "_hs",
    )
    observed = panes.select("event_type", F.col("pane_hour").alias("win_end_hour"))
    merged = fanned.join(observed, ["event_type", "win_end_hour"], "left_semi")
    # ONE aggregate per window (it was distinct + window + two
    # aggregations + a final join): the window's k-minima are the k
    # smallest distinct values across its panes' arrays — an in-row
    # merge — and n_panes is the row count (one row per pane by
    # construction).
    return (
        merged.groupBy("event_type", "win_end_hour")
        .agg(
            F.count("*").cast("long").alias("n_panes"),
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("_hs")))), 1, k
            ).alias("_top"),
        )
        .select(
            "event_type",
            "win_end_hour",
            "n_panes",
            F.when(F.size("_top") < k, F.size("_top").cast("long"))
            .otherwise(
                F.expr(f"CAST({(k - 1) * MERSENNE31} AS BIGINT) div element_at(_top, -1)")
            )
            .cast("long")
            .alias("est_distinct"),
        )
    )


def kmv_sliding_oracle_sql(
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    table: str = "events",
    window_hours: int = 3,
    k: int = KMV_K,
) -> str:
    """DuckDB twin of :func:`kmv_sliding_distinct` — same LCG, same
    pane→window fan-out, same merge (distinct minima re-ranked), same
    estimator and small-set rule."""
    return f"""
        WITH d AS (
            SELECT DISTINCT {type_col} AS event_type,
                   CAST(floor(epoch({ts_col})) AS BIGINT) // 3600 AS pane_hour,
                   ((({key_col} % {MERSENNE31}) + {MERSENNE31}) % {MERSENNE31}
                    * {KMV_A} + {KMV_B}) % {MERSENNE31} AS h
            FROM {table}
            WHERE {key_col} IS NOT NULL
        ),
        pane AS (
            SELECT event_type, pane_hour, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type, pane_hour ORDER BY h) AS rn
            FROM d
        ),
        panes AS (SELECT event_type, pane_hour, h FROM pane WHERE rn <= {k}),
        observed AS (SELECT DISTINCT event_type, pane_hour FROM panes),
        fanned AS (
            SELECT p.event_type, p.pane_hour + g.i AS win_end_hour, p.pane_hour, p.h
            FROM panes p, LATERAL (
                SELECT UNNEST(range(0, {window_hours})) AS i
            ) g
        ),
        merged AS (
            SELECT f.* FROM fanned f
            JOIN observed o ON o.event_type = f.event_type
                           AND o.pane_hour = f.win_end_hour
        ),
        topk AS (
            SELECT event_type, win_end_hour, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type, win_end_hour ORDER BY h) AS rn
            FROM (SELECT DISTINCT event_type, win_end_hour, h FROM merged)
        ),
        np AS (
            SELECT event_type, win_end_hour,
                   CAST(COUNT(DISTINCT pane_hour) AS BIGINT) AS n_panes
            FROM merged GROUP BY 1, 2
        ),
        est AS (
            SELECT event_type, win_end_hour, COUNT(*) AS n_seen, MAX(h) AS h_k
            FROM topk WHERE rn <= {k} GROUP BY 1, 2
        )
        SELECT e.event_type, e.win_end_hour, np.n_panes,
               CAST(CASE WHEN e.n_seen < {k} THEN e.n_seen
                    ELSE {(k - 1) * MERSENNE31} // e.h_k END AS BIGINT) AS est_distinct
        FROM est e JOIN np USING (event_type, win_end_hour)
    """
