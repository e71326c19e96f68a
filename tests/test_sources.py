"""Source/sink tests: MAG schemas, TSV parsing semantics (S1/S3/S4),
defaulted casts (P8), JSON abstract index (F7), geocode plumbing (S15)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iconic_data_science_spark import schemas
from iconic_data_science_spark.sources import sinks, tsv
from iconic_data_science_spark.sources.enrich import geocode


def test_all_mag_schemas_parse(spark):
    for table in schemas.TABLES:
        st = schemas.struct_type(table)
        assert len(st.fields) >= 2, table


def test_read_tsv_with_schema(spark, tmp_path):
    p = str(tmp_path / "pr.tsv")
    with open(p, "w") as f:
        f.write("citing\tcited\n1\t2\n3\t4\n")
    df = tsv.read_tsv(spark, p, schemas.DDL["pr"])
    assert {(r.citing, r.cited) for r in df.collect()} == {(1, 2), (3, 4)}


def test_read_raw_split_defaulted_casts(spark, tmp_path):
    """P8: malformed numeric -> 0, not null (StaticNet.scala:83-85)."""
    p = str(tmp_path / "raw.tsv")
    with open(p, "w") as f:
        f.write("1\tok\t2.5\n")
        f.write("oops\tname with space\tNaN-ish\n")  # malformed numerics
        f.write("3\t\t\n")  # empty trailing fields
    df = tsv.read_raw_split(spark, p, "id BIGINT, name STRING, score DOUBLE")
    rows = {r.id: (r.name, r.score) for r in df.collect()}
    assert rows[1] == ("ok", 2.5)
    assert rows[0][1] == 0.0  # malformed id -> 0, malformed score -> 0.0
    assert rows[3] == ("", 0.0)


def test_abstract_inverted_index_json(spark):
    """F7: the PaperAbstractsInvertedIndex JSON shape parses into
    map<string, array<int>> (data/samples/PaperAbstractsInvertedIndex.txt:1)."""
    raw = spark.createDataFrame(
        [(1, '{"IndexLength": 5, "InvertedIndex": {"the": [0, 3], "graph": [1]}}')],
        schemas.DDL["paper_abstracts"],
    )
    parsed = raw.select(
        "paper", F.from_json("indexed_abstract", schemas.ABSTRACT_INDEX_SCHEMA).alias("a")
    ).select("paper", "a.IndexLength", F.map_keys("a.InvertedIndex").alias("words"))
    row = parsed.collect()[0]
    assert row.IndexLength == 5 and sorted(row.words) == ["graph", "the"]


def test_parse_country_tuple_unicode(spark):
    from iconic_data_science_spark.operators.text import parse_country_tuple

    df = spark.createDataFrame(
        [(1, "('CAN', 'Grande Prairie')"), (2, "('TWN', '三芝區')"), (3, "garbage")],
        "id long, raw string",
    ).select("id", parse_country_tuple("raw").alias("t"))
    rows = {r.id: (r.t.countryCode, r.t.city) for r in df.collect()}
    assert rows[1] == ("CAN", "Grande Prairie")
    assert rows[2] == ("TWN", "三芝區")
    assert rows[3] == ("", "")  # malformed → empty fields, not error


def test_reconstruct_abstract(spark):
    from iconic_data_science_spark.operators.text import reconstruct_abstract

    raw = '{"IndexLength": 5, "InvertedIndex": {"the": [0, 3], "graph": [1], "of": [2], "spark": [4]}}'
    df = spark.createDataFrame([(1, raw)], "paper long, idx string").select(
        reconstruct_abstract("idx").alias("text")
    )
    assert df.collect()[0].text == "the graph of the spark"


def test_geocode_injected_transport(spark):
    affs = spark.createDataFrame(
        [(1, "Str. Academiei 14, Bucharest"), (2, "5th Ave, NYC")], "id long, address string"
    )
    out = geocode(affs, lookup_fn=lambda a: ("RO", "Bucharest") if "Bucharest" in a else ("US", "NYC"))
    rows = {r.id: (r.country_code, r.city) for r in out.collect()}
    assert rows == {1: ("RO", "Bucharest"), 2: ("US", "NYC")}
    with pytest.raises(NotImplementedError):
        geocode(affs)  # no transport -> loud


def test_partitioned_sink_guard(spark, tmp_path):
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("k"))
    sinks.write_partitioned_csv(df, str(tmp_path / "ok"), ["k"])
    assert os.path.isdir(str(tmp_path / "ok"))
    with pytest.raises(ValueError):
        sinks.write_partitioned_csv(df, str(tmp_path / "bad"), ["id"], max_partitions=50)


def test_dwarf_star_fk_consistent(spark, sf_dir):
    """The full-star dwarf must be referentially closed and
    deterministic (MagDwarf semantics, engine-level)."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.joins import dwarf_star

    d = dwarf_star(Catalog(spark, sf_dir), pct=20)
    li, o = d["lineitem"], d["orders"]
    assert li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti").count() == 0
    c = d["customer"]
    assert o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti").count() == 0
    s = d["supplier"]
    assert li.join(s, li["l_suppkey"] == s["s_suppkey"], "left_anti").count() == 0
    assert 0 < o.count() < Catalog(spark, sf_dir).orders.count()
    # deterministic across constructions
    d2 = dwarf_star(Catalog(spark, sf_dir), pct=20)
    assert d2["orders"].count() == o.count()


def test_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "alpha", [1, 2]), (2, "beta", [])],
        "id bigint, name string, xs array<bigint>",
    )
    p = str(tmp_path / "docs_jsonl")
    sinks.write_jsonl(df, p)
    back = sinks.read_jsonl(spark, p, schema=df.schema)
    assert {(r.id, r.name, tuple(r.xs)) for r in back.collect()} == {
        (1, "alpha", (1, 2)), (2, "beta", ())}


def test_geocode_cached_only_calls_transport_for_misses(spark):
    from iconic_data_science_spark.sources.enrich import geocode_cached

    def lookup(addr):
        # runs in executor workers — prove cache hits never reach the
        # transport by failing loudly on the cached address
        if addr == "a st":
            raise AssertionError("cache hit re-fetched")
        return ("us", addr.upper())

    aff = spark.createDataFrame(
        [(1, "a st"), (2, "b ave"), (3, "c blvd")], "id long, address string"
    )
    cache = spark.createDataFrame(
        [("a st", "ro", "CACHED")], "address string, country_code string, city string"
    )
    resolved, new_cache = geocode_cached(aff, cache, lookup)
    got = {r.id: (r.country_code, r.city) for r in resolved.collect()}
    assert got == {1: ("ro", "CACHED"), 2: ("us", "B AVE"), 3: ("us", "C BLVD")}
    cached_addrs = {r.address for r in new_cache.collect()}
    assert cached_addrs == {"a st", "b ave", "c blvd"}


def test_jdbc_roundtrip_embedded_derby(spark):
    """S14 executable verification: Spark's bundled Derby jar serves an
    in-process JDBC database — write a table through df.write.jdbc, read
    it back with read_jdbc_table including a partitioned scan."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.sources.enrich import read_jdbc_table

    url = "jdbc:derby:memory:idsjdbc;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = spark.range(100).select(F.col("id").alias("ID"), (F.col("id") % 7).alias("GRP"))
    src.write.jdbc(url, "T_SRC", mode="overwrite", properties=props)

    back = read_jdbc_table(spark, url, "T_SRC", properties=props)
    assert sorted((r[0], r[1]) for r in back.collect()) == [(i, i % 7) for i in range(100)]

    part = read_jdbc_table(
        spark, url, "T_SRC",
        partition_column="ID", num_partitions=4, lower_bound=0, upper_bound=100,
        properties=props,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 100


def test_catalog_memo_invalidates_on_rewrite(spark, tmp_path):
    """The per-session relation memo must never serve a stale relation
    after a base table is rewritten in place (the fuzz gates overwrite
    <dir>/<table>.parquet between hypothesis examples)."""
    import duckdb
    from iconic_data_science_spark.catalog import Catalog

    d = str(tmp_path)

    def write(n):
        con = duckdb.connect()
        con.execute("CREATE TABLE e (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
        con.executemany(
            "INSERT INTO e VALUES (?, ?, ?)",
            [(i, [float(i % 5)] * 8, i % 3) for i in range(n)],
        )
        con.execute(f"COPY e TO '{d}/embeddings.parquet' (FORMAT PARQUET)")
        con.close()

    write(10)
    df1 = Catalog(spark, d).embeddings
    assert df1.count() == 10
    write(29)
    df2 = Catalog(spark, d).embeddings
    # a rewrite must yield a FRESH relation (stale footer snapshots in
    # a reused relation are how a 29-row corpus can read as 0 rows)
    assert df2 is not df1
    assert df2.count() == 29
    # unchanged file: the memo hit is the same relation object
    df3 = Catalog(spark, d).embeddings
    assert df3 is df2
