"""Mapping of the driver's TPC-H-ish star schema onto the MAG shapes.

The engine's operators are written against the reference's abstract shapes
(paa bridge, paper→year dim, author dim, country dim). The driver's
synthetic tables (TESTDATA.md) map onto them as FIXTURES.md §6 prescribes:

    paa      ≈ lineitem  (paper=l_orderkey, author=l_suppkey)
    papers   ≈ orders    (id=o_orderkey, year=year(o_orderdate))
    authors  ≈ supplier
    country  ≈ nation via s_nationkey (affiliation country enrichment)
    pr       ≈ self-FK pairs on orders (citation edges)

Everything returns lazy DataFrames; year is BIGINT everywhere so Spark and
the DuckDB oracle agree on output schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog

# Bucketed-layout fast path (SURVEY §4 partitioned-layout row, the
# 100 TB answer to the paa self-join): when SPARK_GRAFT_BUCKETED=1 and
# the session's warehouse holds the pre-bucketed tables (perfbench's
# mag_bibliometrics setup writes them once per run, see
# perfbench/workloads.py; prepare_bucketed_tables below), paa/paper_years
# read the bucketed layout — same rows, but hash-partitioned by paper on
# disk, so the pairing self-join, the distinct and the aggregates on
# paper plan without an exchange (the small year side is broadcast
# either way). Both tables take one bucket count, sized from the paa
# frame by bucket_count: the split count a plain scan of it would take.
# A bridge under one file split (sf0.01) is one bucket, so each bucketed
# stage runs one task instead of one per bucket; at scale the count
# grows with the data and the joins stay co-located bucket to bucket.
# Queries are otherwise byte-identical.
BUCKETED_PAA = "ids_b_paa"
BUCKETED_PY = "ids_b_py"


def _bucketed_table(cat: Catalog, table: str) -> DataFrame | None:
    if os.environ.get("SPARK_GRAFT_BUCKETED") != "1":
        return None
    # a missing table is False; any other catalog failure propagates
    if cat.spark.catalog.tableExists(table):
        return cat.spark.table(table)
    return None


def split_count(
    size: int, max_partition_bytes: int, open_cost: int, parallelism: int, max_buckets: int
) -> int:
    """The number of splits a plain file scan of ``size`` bytes takes
    (Spark's ``FilePartition.maxSplitBytes``), clamped to [1,
    ``max_buckets``]."""
    split = min(max_partition_bytes, max(open_cost, size // parallelism))
    return max(1, min(max_buckets, -(-size // split)))


def bucket_count(df: DataFrame) -> int:
    """Buckets for a bucketed copy of ``df``: as many as a plain scan of
    it would split into, so the layout adds no task the data does not
    ask for. ``size`` is Catalyst's estimate, so no job runs."""
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    return split_count(
        int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()),
        int(conf.filesMaxPartitionBytes()),
        int(conf.filesOpenCostInBytes()),
        spark.sparkContext.defaultParallelism,
        int(conf.bucketingMaxBuckets()),
    )


def prepare_bucketed_tables(cat: Catalog) -> None:
    """Write the paa bridge and paper-year dim bucketed by paper, both
    with the bucket count of the paa frame (one count → co-located
    joins). One-time layout cost, exactly what a production deployment
    would pay at ingest."""
    import shutil
    from urllib.parse import urlparse

    from .operators.skew import write_bucketed

    cat.spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # a previous session may have left the managed locations behind
    # without catalog entries — drop both the table and the directory
    wh = urlparse(cat.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")).path
    for t in (BUCKETED_PAA, BUCKETED_PY):
        cat.spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    paa_df = paa_raw(cat)
    n = bucket_count(paa_df)
    write_bucketed(paa_df, BUCKETED_PAA, ["paper"], num_buckets=n)
    write_bucketed(paper_years_raw(cat), BUCKETED_PY, ["paper"], num_buckets=n)


def paa_raw(cat: Catalog) -> DataFrame:
    """paa straight off the parquet scan (ignores the bucketed layout —
    used to build it)."""
    return cat.lineitem.select(
        F.col("l_orderkey").alias("paper"),
        F.col("l_suppkey").alias("author"),
    )


def paa(cat: Catalog) -> DataFrame:
    """paper↔author bridge (models.scala:24 shape) from lineitem; serves
    the bucketed layout when prepared (same rows, shuffle-free joins on
    paper)."""
    b = _bucketed_table(cat, BUCKETED_PAA)
    return b if b is not None else paa_raw(cat)


def paper_years_raw(cat: Catalog) -> DataFrame:
    """(paper, year) straight off the parquet scan."""
    return cat.orders.select(
        F.col("o_orderkey").alias("paper"),
        F.year("o_orderdate").cast("long").alias("year"),
    )


def paper_years(cat: Catalog) -> DataFrame:
    """(paper, year) dim from orders; year as BIGINT for oracle parity;
    serves the bucketed layout when prepared."""
    b = _bucketed_table(cat, BUCKETED_PY)
    return b if b is not None else paper_years_raw(cat)


def years_dim(cat: Catalog) -> DataFrame:
    """Tiny year dimension (distinct order years) — broadcast everywhere."""
    return cat.orders.select(F.year("o_orderdate").cast("long").alias("year")).distinct()


def citation_edges(cat: Catalog) -> DataFrame:
    """pr-shaped citation graph (models.scala:28): a later order of a
    customer 'cites' each earlier order of the same customer. Temporal
    direction (citing strictly after cited) makes it a DAG, like real
    citations. (citing, cited, cite_year)."""
    o1 = cat.orders.alias("o1")
    o2 = cat.orders.alias("o2")
    return (
        o1.join(
            o2,
            (F.col("o1.o_custkey") == F.col("o2.o_custkey"))
            & (F.col("o2.o_orderdate") > F.col("o1.o_orderdate")),
        )
        .select(
            F.col("o2.o_orderkey").alias("citing"),
            F.col("o1.o_orderkey").alias("cited"),
            F.year("o2.o_orderdate").cast("long").alias("cite_year"),
        )
    )


def author_country(cat: Catalog) -> DataFrame:
    """author → country code (the PySparkles country enrichment,
    /root/reference/src/notebooks/python/PySparkles.ipynb cell 41)."""
    return (
        cat.supplier.join(cat.nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("s_suppkey").alias("author"), F.col("n_name").alias("country"))
    )
