"""SparkSession builder.

Local mode is one JVM with N executor threads; the same configuration keys
govern a real cluster, so everything scale-relevant (AQE, adaptive skew
join, shuffle partition sizing, Arrow transfer) is set here rather than
sprinkled through operators.

Scale posture (100 TB):
  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
    dynamic broadcast conversion.
  - ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
    real cluster pass ``shuffle_partitions≈2-3× total cores``.
  - UTC session timezone pinned so timestamp semantics are stable across
    engines (DuckDB oracle comparisons, parquet instant semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "iconic-data-science-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # TIMESTAMP(NANOS) parquet columns (events.ts) read as long nanos;
        # the catalog normalizes them to micros timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# AQE's partition coalescing targets BYTES: with parallelismFirst (default
# true) the post-shuffle target size is max(totalBytes / defaultParallelism,
# minPartitionSize), with minPartitionSize defaulting to 1 MB.  For
# expression-dense stages — the MaxSim late-interaction fold (~1k FP ops per
# sub-KB candidate row), the pruned-bigram-LM gate fold — the byte heuristic
# under-parallelizes AT ANY SCALE: a few-MB shuffle output collapses to 1-2
# tasks and the dense fold runs serially while the rest of the machine idles
# (measured at sf0.1/local[32]: ann_maxsim_rerank 3.8 -> 1.1 s,
# curation_pipeline_v10 execution 3.2 -> 0.3 s).  Queries whose hot stage is
# compute-dense opt in to a smaller floor via mark_compute_dense() at
# construction; ensure_engine_conf() resets the floor, so the opt-in lasts
# exactly from that query's construction to the next query's.  The floor
# stays scale-adaptive: once totalBytes/defaultParallelism exceeds it (every
# large shuffle), the conf is a no-op.
AQE_MIN_PARTITION_SIZE_DEFAULT = "1m"  # Spark's own default, restated
DENSE_MIN_PARTITION_SIZE = os.environ.get(
    "SPARK_GRAFT_DENSE_MIN_PARTITION_SIZE", "4k"
)


def mark_compute_dense(spark: SparkSession) -> SparkSession:
    """Lower the AQE coalescing floor for a compute-dense query (see the
    comment above).  Call AFTER ensure_engine_conf / catalog construction,
    before any eager job (localCheckpoint partitioning is decided when the
    checkpoint materializes)."""
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            DENSE_MIN_PARTITION_SIZE,
        )
    except Exception:
        pass  # restricted conf — keep the default floor
    return spark


def configure_object_store(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """S13: cloud-storage credential/endpoint passthrough.

    The reference hardcodes ADLS OAuth keys in notebooks
    (/root/reference/src/notebooks/scala/StaticNet.scala:16-39,
    MagDwarf.scala:41-53); the engine form takes S3A/ABFS/GCS Hadoop
    conf pairs and applies them to the active context, e.g.
    ``{"fs.s3a.endpoint": ..., "fs.s3a.access.key": ...}``.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        hconf.set(k, v)
    return spark


# Keys the oracle hashes depend on (timestamp semantics, parquet nanos).
CORRECTNESS_CONF = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
)


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable conf on an externally created session.

    The driver harness hands us its own SparkSession; timestamp semantics
    (session timezone) and AQE must still hold for oracle parity, so set
    every runtime-mutable key defensively.  The performance keys are
    best-effort; a ``CORRECTNESS_CONF`` key that does not read back as
    set raises ``RuntimeError``.
    """
    for k, v in (
        *CORRECTNESS_CONF,
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", str(default_parallelism())),
        # reset the compute-dense floor a previous query may have opted
        # into (mark_compute_dense)
        (
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            AQE_MIN_PARTITION_SIZE_DEFAULT,
        ),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static or restricted conf on this session — keep going
    for k, v in CORRECTNESS_CONF:
        got = spark.conf.get(k, None)
        if got != v:
            raise RuntimeError(f"ensure_engine_conf: {k} is {got!r}, need {v!r}")
    return spark
