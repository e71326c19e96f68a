"""External enrichment sources: JDBC (S14) and REST geocoding (S15).

S14: the reference pushes parameterized SQL to Postgres per coauthor
(/root/reference/src/python/personal_network.py:18-23,38-45) — a
client-side nested loop. The engine form is a single ``spark.read.jdbc``
partitioned scan joined relationally (J11 → J3/J4 rewrite).

S15: Geocoding.ipynb (cells 1, 12-15) calls the ArcGIS geocoder per row
from pandas. The engine form batches rows through ``mapInPandas`` with a
session-reused client and an explicit cache table. Network access and
the geocoder library are absent here, so the transport is injectable:
tests and offline runs pass a deterministic ``lookup_fn``; calling
without one raises rather than silently faking production geocodes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S14: partitioned JDBC scan (replaces per-row client SQL). Needs
    the target database's JDBC driver jar on the classpath; external DB
    jars (Postgres etc.) are absent here, but Spark's bundled Derby jar
    serves an in-process database, so the scan — including the
    partitioned read path — is executably verified
    (tests/test_sources.py::test_jdbc_roundtrip_embedded_derby)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound if lower_bound is not None else 0)
            .option("upperBound", upper_bound if upper_bound is not None else 1_000_000)
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


GEOCODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("address", T.StringType(), True),
        T.StructField("country_code", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
    ]
)


def geocode(
    affiliations: DataFrame,
    lookup_fn: Callable[[str], tuple[str | None, str | None]] | None = None,
    id_col: str = "id",
    address_col: str = "address",
) -> DataFrame:
    """S15: batched geocoding over mapInPandas.

    ``lookup_fn(address) -> (country_code, city)`` is the injectable
    transport (a real deployment wraps an HTTP client created once per
    partition — exactly how the closure below is structured). Without
    one this raises: no network, no silent fakes.
    """
    if lookup_fn is None:
        raise NotImplementedError(
            "geocoding needs a transport: pass lookup_fn (no network/geocoder "
            "library in this environment)"
        )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        fn = lookup_fn  # one closure per partition ≈ one client per partition
        for pdf in batches:
            cc, city = zip(*(fn(a) for a in pdf[address_col])) if len(pdf) else ((), ())
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "address": pdf[address_col],
                    "country_code": list(cc),
                    "city": list(city),
                }
            )

    return affiliations.select(id_col, address_col).mapInPandas(run, GEOCODE_SCHEMA)


def geocode_cached(
    affiliations: DataFrame,
    cache: DataFrame | None,
    lookup_fn: Callable[[str], tuple[str | None, str | None]] | None = None,
    id_col: str = "id",
    address_col: str = "address",
) -> tuple[DataFrame, DataFrame]:
    """Cache-through geocoding: resolve from the cache table first and
    call the external service only for misses — the batch/cost policy a
    production enrichment needs (the reference's notebook re-geocodes
    every run, Geocoding.ipynb cells 12-15).

    ``cache`` is (address, country_code, city), typically a parquet
    table from previous runs. Returns ``(resolved, new_cache)``:
    ``resolved`` covers every input row (cache hits + fresh lookups);
    ``new_cache`` is the union of the old cache and the fresh successful
    lookups, ready to be written back. Only successful lookups enter the
    cache, so transient failures are retried on the next run."""
    from pyspark.sql import functions as F

    rows = affiliations.select(id_col, address_col)
    if cache is None:
        cache = rows.sparkSession.createDataFrame(
            [], "address string, country_code string, city string"
        )
    cache = cache.select("address", "country_code", "city")
    hits = rows.join(F.broadcast(cache), rows[address_col] == cache["address"]).select(
        rows[id_col].alias("id"),
        rows[address_col].alias("address"),
        "country_code",
        "city",
    )
    misses = rows.join(cache, rows[address_col] == cache["address"], "left_anti")
    fresh = geocode(misses, lookup_fn, id_col=id_col, address_col=address_col)
    resolved = hits.unionByName(fresh)
    new_cache = cache.unionByName(
        fresh.filter(F.col("country_code").isNotNull())
        .select("address", "country_code", "city")
        .distinct()
    ).distinct()
    return resolved, new_cache
