"""Sinks (S5-S8) with the reference's output shapes.

  S5 parquet (StaticNet.scala:428-429), S6 CSV export
  (PersonalNet_2.scala:159; ProfileConversion.scala:178), S7 partitioned
  CSV (PersonalNet_2.scala:157-158 — attempted then abandoned for "too
  many partitions"; here with a guard), S8 single-file text
  (jsNets.scala:106; MagDwarf.scala:152-154).

Scale notes: ``coalesce(1)`` single-file writes serialize the job tail —
only for small exports (GEXF docs, samples). Partitioned writes must key
on low-cardinality columns; the guard makes the reference's mistake
(partitionBy author ≈ millions of dirs) loud instead of slow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_csv(df: DataFrame, path: str, header: bool = True, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", header).csv(path)


def write_partitioned_csv(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_partitions: int = 10_000,
    mode: str = "overwrite",
) -> None:
    """S7 with a cardinality guard (the reference abandoned
    partitionBy("author") — every author a directory)."""
    n = df.select(*partition_cols).distinct().count()
    if n > max_partitions:
        raise ValueError(
            f"partitionBy({partition_cols}) would create {n} partitions "
            f"(> {max_partitions}); pick a lower-cardinality key"
        )
    df.write.mode(mode).partitionBy(*partition_cols).option("header", True).csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format LLM-data tooling expects
    (one JSON object per line; splittable, schema-on-read). Beyond the
    reference's own sinks; compresses well with the default codec and
    every line is independently parseable, so downstream tokenizer /
    filtering jobs can stream it."""
    df.write.mode(mode).json(path)


def read_jsonl(spark, path: str, schema=None) -> DataFrame:
    """JSON-lines scan. Pass an explicit ``schema`` in production —
    schema inference reads the data twice and types drift across shards;
    with a schema the read is single-pass and columns prune (unneeded
    JSON fields are never materialized)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_single_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S8: one text file (small exports only — serializes the write)."""
    df.coalesce(1).write.mode(mode).text(path)


def write_curated_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    max_partitions: int = 10_000,
    mode: str = "overwrite",
) -> None:
    """Curated parquet layout for 100 TB base tables (SURVEY §4): hive
    partitioning on low-cardinality keys (year, region) so reads with a
    partition-key predicate skip whole directories (partition pruning —
    asserted in tests/test_plans.py), plus optional
    ``sortWithinPartitions`` so parquet row-group min/max stats make
    point/range predicates skip pages within each file. Cardinality
    guard as in ``write_partitioned_csv`` (the reference's
    partitionBy("author") mistake, PersonalNet_2.scala:157-158)."""
    n = df.select(*partition_cols).distinct().count()
    if n > max_partitions:
        raise ValueError(
            f"partitionBy({partition_cols}) would create {n} partitions "
            f"(> {max_partitions}); pick a lower-cardinality key"
        )
    if sort_cols:
        df = df.repartition(*[df[c] for c in partition_cols]).sortWithinPartitions(*sort_cols)
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
