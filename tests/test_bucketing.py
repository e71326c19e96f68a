"""Bucketed-layout co-location: a join between two tables bucketed on
the join key must plan WITHOUT a shuffle exchange — the 100 TB answer to
repeated joins on the same key (SURVEY §4 partitioned-layout row)."""

from __future__ import annotations

import contextlib

import pytest

from iconic_data_science_spark.catalog import Catalog
from iconic_data_science_spark.operators.skew import write_bucketed
from iconic_data_science_spark.plans import inspect

from .oracle_utils import FORCED_TIERS, forced_tier


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.select("l_orderkey", "l_quantity")
    od = cat.orders.select("o_orderkey", "o_totalprice")
    try:
        write_bucketed(li, "b_lineitem", ["l_orderkey"], num_buckets=8)
        write_bucketed(od.withColumnRenamed("o_orderkey", "l_orderkey"), "b_orders",
                       ["l_orderkey"], num_buckets=8)
        joined = spark.table("b_lineitem").join(spark.table("b_orders"), "l_orderkey")
        n_shuffles = inspect.shuffle_count(joined)
        # co-located buckets: sort-merge join needs sorts but NO exchange
        assert n_shuffles == 0, inspect.formatted_plan(joined)
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_dedup_clusters_fixture(spark):
    from iconic_data_science_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        # two components: {1,2,3,9} (chain), {5,7}
        [(1, 2), (2, 3), (3, 9), (5, 7)],
        "id1 long, id2 long",
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 7: 5}


def test_ngram_jaccard_hashed_equals_string_shingles(spark):
    """The hashed-shingle default must produce the same pair set and
    jaccard values as a string-shingle reference run (collision-free on
    the fixture, so the two key types are equivalent)."""
    from pyspark.sql import functions as F
    from iconic_data_science_spark.operators.dedup import (
        _pair_jaccard,
        ngram_jaccard_pairs,
        shingle_table,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "a completely different sentence with no overlap at all"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    key = lambda df: {
        (r.id1, r.id2): round(r.jaccard, 9) for r in df.collect()
    }
    string_ref = _pair_jaccard(shingle_table(docs, n=3)).filter(F.col("jaccard") >= 0.3)
    assert key(ngram_jaccard_pairs(docs, threshold=0.3)) == key(string_ref)


@pytest.mark.usefixtures("arrow_strict")
@pytest.mark.parametrize("tier", sorted(FORCED_TIERS))
def test_dedup_clusters_local_equals_distributed(spark, monkeypatch, tier):
    """Union-find fast path vs the min-label fixpoint under each forced
    distributed tier: identical labels, including on a star, a long
    chain (several productive rounds), and merged components."""
    from iconic_data_science_spark.operators.dedup import dedup_clusters

    edges = (
        [(0, i) for i in range(1, 8)]              # star at 0
        + [(100 + i, 101 + i) for i in range(20)]  # chain
        + [(7, 100)]                               # merge star into chain
        + [(500, 501), (502, 501)]                 # separate triple
    )
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    local = {(r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect()}
    with forced_tier(spark, monkeypatch, tier):
        dist = {(r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect()}
    assert local == dist


def test_bucketed_paa_layout_same_results_fewer_shuffles(spark, sf_dir, monkeypatch):
    """The bench's bucketed fast path (magmap.prepare_bucketed_tables +
    SPARK_GRAFT_BUCKETED=1) must return byte-identical g1 results while
    removing pairing-join exchanges from the plan."""
    from iconic_data_science_spark import magmap
    from iconic_data_science_spark.operators.coauthor import coauthor_edges

    cat = Catalog(spark, sf_dir)
    monkeypatch.delenv("SPARK_GRAFT_BUCKETED", raising=False)
    plain_df = coauthor_edges(magmap.paa(cat), magmap.paper_years(cat))
    plain = {(r.ego, r.alter_id): (r.papers_together, r.first_year) for r in plain_df.collect()}
    plain_shuffles = inspect.shuffle_count(plain_df)
    try:
        magmap.prepare_bucketed_tables(cat)
        monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
        b_df = coauthor_edges(magmap.paa(cat), magmap.paper_years(cat))
        bucketed = {(r.ego, r.alter_id): (r.papers_together, r.first_year) for r in b_df.collect()}
        assert bucketed == plain
        b_shuffles = inspect.shuffle_count(b_df)
        assert b_shuffles < plain_shuffles, (b_shuffles, plain_shuffles)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {magmap.BUCKETED_PAA}")
        spark.sql(f"DROP TABLE IF EXISTS {magmap.BUCKETED_PY}")


_MB = 1 << 20


def test_bucket_rule_is_the_file_split_count():
    """magmap.split_count is Spark's FilePartition.maxSplitBytes rule:
    split = min(maxPartitionBytes, max(openCost, size / parallelism)),
    n = ceil(size / split), clamped to [1, maxBuckets]."""
    from iconic_data_science_spark.magmap import split_count

    def rule(size, par, max_pb=128 * _MB, open_cost=4 * _MB, max_buckets=100_000):
        split = min(max_pb, max(open_cost, size // par))
        return max(1, min(max_buckets, -(-size // split)))

    for size in (0, 1, 215_682, 4 * _MB, 10 * _MB, 1 << 30, 77 * (1 << 30) + 5):
        for par in (1, 4, 64, 1000):
            assert split_count(size, 128 * _MB, 4 * _MB, par, 100_000) == rule(size, par)
    # Catalyst's size estimate of the sf0.01 paa frame
    assert split_count(215_682, 128 * _MB, 4 * _MB, 4, 100_000) == 1
    assert split_count(10 * _MB, 128 * _MB, 4 * _MB, 4, 100_000) == 3  # openCost floor
    assert split_count(1 << 30, 128 * _MB, 4 * _MB, 64, 100_000) == 64  # size / cores
    assert split_count(1 << 30, 128 * _MB, 4 * _MB, 4, 100_000) == 8  # maxPartitionBytes cap
    assert split_count(100 << 40, 128 * _MB, 4 * _MB, 4, 100_000) == 100_000  # maxBuckets cap


# 4 KB splits: the test-scale tables then span several splits
_SMALL_SPLITS = {
    "spark.sql.files.maxPartitionBytes": "4096",
    "spark.sql.files.openCostInBytes": "1024",
}


@contextlib.contextmanager
def _conf(spark, settings):
    old = {k: spark.conf.get(k) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_bucket_count_reads_the_session_and_runs_no_job(spark, sf_dir, jobs_launched):
    """At the test scale the paa bridge is under one split → 1 bucket,
    estimated from Catalyst statistics without a job; the session's
    split confs and maxBuckets feed the rule."""
    from iconic_data_science_spark import magmap

    paa = magmap.paa_raw(Catalog(spark, sf_dir))
    counts = []
    assert jobs_launched(lambda: counts.append(magmap.bucket_count(paa))) == 0
    assert counts == [1]

    size = int(paa._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    parallelism = spark.sparkContext.defaultParallelism
    with _conf(spark, _SMALL_SPLITS):
        n = magmap.bucket_count(paa)
        assert n == magmap.split_count(size, 4096, 1024, parallelism, 100_000) > 1
        with _conf(spark, {"spark.sql.sources.bucketing.maxBuckets": "2"}):
            assert magmap.bucket_count(paa) == 2


def test_bucketed_tables_share_the_paa_bucket_count(spark, sf_dir):
    """Both bucketed tables take the count derived from the paa frame
    (sized small here so the count is > 1 and the paper-year frame,
    sized on its own, would get fewer)."""
    from iconic_data_science_spark import magmap

    def num_buckets(table):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        return [int(r.data_type) for r in rows if r.col_name == "Num Buckets"]

    cat = Catalog(spark, sf_dir)
    try:
        with _conf(spark, _SMALL_SPLITS):
            want = magmap.bucket_count(magmap.paa_raw(cat))
            assert want > magmap.bucket_count(magmap.paper_years_raw(cat))
            magmap.prepare_bucketed_tables(cat)
        assert num_buckets(magmap.BUCKETED_PAA) == [want]
        assert num_buckets(magmap.BUCKETED_PY) == [want]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {magmap.BUCKETED_PAA}")
        spark.sql(f"DROP TABLE IF EXISTS {magmap.BUCKETED_PY}")


def test_bucketed_table_propagates_catalog_errors(monkeypatch):
    """A missing bucketed table reads as False from tableExists; any
    other catalog failure must surface instead of silently falling back
    to the unbucketed layout."""
    from types import SimpleNamespace

    from iconic_data_science_spark import magmap

    def table_exists(name):
        raise RuntimeError("metastore unavailable")

    cat = SimpleNamespace(
        spark=SimpleNamespace(catalog=SimpleNamespace(tableExists=table_exists))
    )
    monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
    with pytest.raises(RuntimeError, match="metastore unavailable"):
        magmap._bucketed_table(cat, magmap.BUCKETED_PAA)
