"""Skew and co-location utilities — the 100 TB posture toolkit.

The reference has no skew handling (SURVEY.md §4: "a 'big author' skews
every groupBy(paper)/self-join; unhandled"). The engine's first line of
defense is AQE skew-join splitting (on in session.py); these helpers
cover the cases AQE can't fix:

  - ``salted_aggregate``: two-phase aggregation for skewed groupBy keys —
    partial-agg on (key, salt), final agg on key. Works for any
    decomposable aggregate (sum/count/min/max).
  - ``salt_join_skewed_left``: replicate the small side R times and salt
    the skewed left side, so one hot key spreads over R reducers.
  - ``write_bucketed``: bucketed table layout so repeated joins on the
    bucket key co-locate without a shuffle (the parquet-era equivalent
    of the reference's abandoned partitionBy attempt,
    PersonalNet_2.scala:157-158).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, col_name: str = "_salt") -> DataFrame:
    """Deterministic salt in [0, buckets): spreads rows of one key.
    Uses a hash of the full row's monotonic id-free content via
    spark_partition_id + a per-partition counter-free hash — here simply
    a uniform hash of all columns, which is deterministic per row
    content."""
    return df.withColumn(col_name, F.pmod(F.hash(*df.columns), F.lit(buckets)))


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase groupBy for skewed keys.

    ``aggs``: output_name → "sum(col)" | "count(*)" | "min(col)" | "max(col)".
    Phase 1 aggregates on (keys + salt) — hot keys split across
    ``buckets`` reducers; phase 2 merges partials on keys alone.
    """
    salted = with_salt(df, buckets)
    phase1_exprs: list[Column] = []
    phase2_exprs: list[Column] = []
    for name, spec in aggs.items():
        fn, _, arg = spec.partition("(")
        arg = arg.rstrip(")")
        tmp = f"_p_{name}"
        if fn == "count":
            phase1_exprs.append(F.count("*").alias(tmp))
            phase2_exprs.append(F.sum(tmp).alias(name))
        elif fn in ("sum", "min", "max"):
            phase1_exprs.append(getattr(F, fn)(arg).alias(tmp))
            phase2_exprs.append(getattr(F, fn)(tmp).alias(name))
        else:
            raise ValueError(f"non-decomposable aggregate: {spec}")
    partial = salted.groupBy(*keys, "_salt").agg(*phase1_exprs)
    return partial.groupBy(*keys).agg(*phase2_exprs)


def salt_join_skewed_left(
    left: DataFrame,
    right: DataFrame,
    key: str,
    buckets: int = 8,
) -> DataFrame:
    """Equi-join where ``left[key]`` is skewed: salt left, replicate right
    ``buckets``× with an exploded salt column, join on (key, salt)."""
    l = left.withColumn("_salt", F.pmod(F.hash(*left.columns), F.lit(buckets)))
    r = right.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
    out = l.join(r, [key, "_salt"]).drop("_salt")
    return out


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist with bucketing so later joins/aggs on ``bucket_cols``
    co-locate shuffle-free (requires a metastore-backed saveAsTable)."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)
