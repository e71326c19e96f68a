"""Lakehouse mutation emulation: MERGE upsert semantics and SCD2 history.

Micro-fixtures with hand-computed expected outputs (the AddTestData
methodology, SURVEY.md §5); the sf-scale oracle check lives in
test_oracle_parity via the lh_* queries.
"""

from __future__ import annotations

from iconic_data_science_spark.operators.lakehouse import merge_upsert, scd2_history


def test_merge_upsert_update_insert_carryover(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, n int"
    )
    source = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "k int, v string, n int"
    )
    got = {r["k"]: (r["v"], r["n"]) for r in merge_upsert(target, source, ["k"]).collect()}
    assert got == {
        1: ("a", 10),    # carry-over (unmatched target)
        2: ("B", 200),   # matched -> updated
        3: ("c", 30),    # carry-over
        4: ("d", 40),    # unmatched source -> insert
    }


def test_merge_upsert_with_deletes(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    source = spark.createDataFrame([(3, "C")], "k int, v string")
    deletes = spark.createDataFrame([(1,)], "k int")
    got = {r["k"]: r["v"] for r in
           merge_upsert(target, source, ["k"], deletes=deletes).collect()}
    assert got == {2: "b", 3: "C"}


def test_merge_upsert_composite_key(spark):
    target = spark.createDataFrame([(1, 1, "a"), (1, 2, "b")], "k1 int, k2 int, v string")
    source = spark.createDataFrame([(1, 2, "B"), (2, 1, "x")], "k1 int, k2 int, v string")
    got = {(r["k1"], r["k2"]): r["v"] for r in
           merge_upsert(target, source, ["k1", "k2"]).collect()}
    assert got == {(1, 1): "a", (1, 2): "B", (2, 1): "x"}


def test_scd2_collapses_unchanged_runs(spark):
    # key 1: P1 P1 P2 P1 -> three intervals; key 2: single row -> current
    changes = spark.createDataFrame(
        [
            (1, 10, 100, "P1"),
            (1, 20, 101, "P1"),
            (1, 30, 102, "P2"),
            (1, 40, 103, "P1"),
            (2, 15, 104, "P9"),
        ],
        "k int, t int, seq int, attr string",
    )
    hist = scd2_history(changes, key="k", order_col="t",
                        attr_cols=["attr"], tiebreak_cols=["seq"])
    rows = {(r["k"], r["valid_from"]): (r["attr"], r["valid_to"], r["is_current"])
            for r in hist.collect()}
    assert rows == {
        (1, 10): ("P1", 30, False),   # run of two P1 rows collapsed
        (1, 30): ("P2", 40, False),
        (1, 40): ("P1", None, True),
        (2, 15): ("P9", None, True),
    }


def test_scd2_tiebreak_pins_same_timestamp_order(spark):
    # two changes at the same t: seq decides which one opens/closes
    changes = spark.createDataFrame(
        [(1, 10, 1, "A"), (1, 10, 2, "B"), (1, 20, 3, "B")],
        "k int, t int, seq int, attr string",
    )
    hist = scd2_history(changes, key="k", order_col="t",
                        attr_cols=["attr"], tiebreak_cols=["seq"])
    rows = sorted((r["attr"], r["valid_from"], r["is_current"]) for r in hist.collect())
    # A opens at t=10 (seq 1), B replaces it at t=10 (seq 2) and the
    # t=20 B row collapses into that run, staying current.
    assert rows == [("A", 10, False), ("B", 10, True)]


def test_scd2_multi_attr_change_detection(spark):
    changes = spark.createDataFrame(
        [(1, 10, 1, "A", 5), (1, 20, 2, "A", 6), (1, 30, 3, "A", 6)],
        "k int, t int, seq int, a string, b int",
    )
    hist = scd2_history(changes, key="k", order_col="t",
                        attr_cols=["a", "b"], tiebreak_cols=["seq"])
    rows = {r["valid_from"]: (r["a"], r["b"], r["is_current"]) for r in hist.collect()}
    # b changing alone must open a new interval; the unchanged t=30 row must not
    assert rows == {10: ("A", 5, False), 20: ("A", 6, True)}


def test_merge_rollup_overlapping_keys(spark):
    """A key present in both the materialized rollup and the delta must
    merge additively; keys unique to either side pass through."""
    from iconic_data_science_spark.operators.lakehouse import merge_rollup

    old = spark.createDataFrame([("a", 10), ("b", 5)], "k string, n long")
    delta = spark.createDataFrame([("b", 3), ("c", 7)], "k string, n long")
    got = {r.k: r.n for r in merge_rollup(old, delta, keys=["k"], sum_cols=["n"]).collect()}
    assert got == {"a": 10, "b": 8, "c": 7}


def test_merge_rollup_preserves_fractional_measures(spark):
    """Double measures must not be truncated to long; integral measures
    stay pinned to BIGINT for the oracle-hash discipline."""
    from iconic_data_science_spark.operators.lakehouse import merge_rollup

    old = spark.createDataFrame([("a", 1.25, 2)], "k string, v double, n long")
    delta = spark.createDataFrame([("a", 2.5, 3)], "k string, v double, n long")
    out = merge_rollup(old, delta, keys=["k"], sum_cols=["v", "n"])
    row = out.collect()[0]
    assert row.v == 3.75
    assert row.n == 5
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["v"] == "double"
    assert types["n"] == "bigint"


def test_hll_sketch_merge_equals_full_recompute(spark, sf_dir):
    """The non-additive leg of incremental view maintenance: distinct
    counts refresh via mergeable HLL sketches — estimate(union(sketch(old),
    sketch(new))) must equal estimate(sketch(old ∪ new)) exactly (same
    sketch, same lgConfigK), so a materialized sketch column supports
    incremental distinct-user rollups where merge_rollup's additive
    contract doesn't apply."""
    from pyspark.sql import functions as F
    from iconic_data_science_spark.catalog import Catalog

    ev = Catalog(spark, sf_dir).events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    cut = "2024-01-15"
    sk = lambda df: df.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("s"))
    merged = (
        sk(ev.filter(F.col("day") < cut))
        .unionByName(sk(ev.filter(F.col("day") >= cut)))
        .groupBy("day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("n_users"))
    )
    full = ev.groupBy("day").agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n_users"))
    got = {r.day: r.n_users for r in merged.collect()}
    want = {r.day: r.n_users for r in full.collect()}
    assert got == want and len(got) == 30
    # sanity: estimates are near truth for this cardinality (<=150/day)
    exact = {r.day: r.n for r in ev.groupBy("day").agg(F.countDistinct("user_id").alias("n")).collect()}
    assert all(abs(got[d] - exact[d]) / exact[d] < 0.05 for d in exact)


def test_snapshot_versioning_and_time_travel(spark, tmp_path):
    import os

    from iconic_data_science_spark.operators.lakehouse import (
        latest_version,
        read_snapshot,
        write_snapshot,
    )

    p = str(tmp_path / "tbl")
    assert latest_version(p) == -1
    v0 = write_snapshot(spark.range(5), p)
    v1 = write_snapshot(spark.range(8), p)
    assert (v0, v1) == (0, 1)
    assert read_snapshot(spark, p).count() == 8            # latest
    assert read_snapshot(spark, p, version=0).count() == 5  # time travel
    # a crashed writer (data, no commit) is invisible
    spark.range(99).write.parquet(os.path.join(p, "v=2"))
    assert latest_version(p) == 1
    assert read_snapshot(spark, p).count() == 8
    import pytest

    with pytest.raises(ValueError, match="not committed"):
        read_snapshot(spark, p, version=2)


def test_snapshot_diff_classifies_changes(spark):
    from pyspark.sql import functions as F
    from iconic_data_science_spark.operators.lakehouse import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2")], "id long, txt string, src string"
    )
    new = spark.createDataFrame(
        [(2, "b", "s1"), (3, "c-edited", "s2"), (4, "d", "s3")], "id long, txt string, src string"
    )
    out = {r.id: r.change_type for r in snapshot_diff(old, new, ["id"], ["txt", "src"]).collect()}
    assert out == {1: "removed", 3: "changed", 4: "added"}  # id 2 unchanged -> absent


def test_snapshot_diff_roundtrip_with_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F
    from iconic_data_science_spark.operators.lakehouse import (
        read_snapshot, snapshot_diff, write_snapshot,
    )

    path = str(tmp_path / "tbl")
    d1 = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("val"))
    write_snapshot(d1, path)
    d2 = spark.range(2, 12).select(F.col("id"), (F.col("id") * 2 + (F.col("id") == 5).cast("long")).alias("val"))
    write_snapshot(d2, path)
    diff = snapshot_diff(
        read_snapshot(spark, path, 0), read_snapshot(spark, path, 1), ["id"], ["val"]
    )
    out = {r.id: r.change_type for r in diff.collect()}
    assert out == {0: "removed", 1: "removed", 10: "added", 11: "added", 5: "changed"}


def _py_morton(x: int, y: int, bits: int = 16) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_value_matches_reference_interleave(spark):
    from pyspark.sql import functions as F
    from iconic_data_science_spark.operators.lakehouse import zorder_value

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (5, 9), (65535, 65535), (12345, 54321)],
        "x long, y long",
    )
    got = df.select("x", "y", zorder_value("x", "y").alias("z")).collect()
    for r in got:
        assert r.z == _py_morton(r.x, r.y), (r.x, r.y)


def test_zorder_chunks_prune_on_both_dimensions(spark):
    """The point of Z-order: a predicate on EITHER dimension prunes a
    meaningful fraction of fixed z-range chunks, whereas a layout sorted
    on one dimension only prunes on that dimension. Uniform grid data;
    assert a narrow band on each dim overlaps <= half the chunks."""
    from pyspark.sql import functions as F
    from iconic_data_science_spark.operators.lakehouse import zorder_chunk_stats

    n = 1 << 11  # x, y uniform over [0, 2048)
    df = spark.range(n * 8).select(
        (F.col("id") % n).alias("x"), ((F.col("id") * 7919) % n).alias("y")
    )
    stats = zorder_chunk_stats(df, "x", "y", chunk_shift=18).collect()
    assert len(stats) >= 8
    for lo, hi, mn, mx in ((100, 200, "min_x", "max_x"), (1500, 1600, "min_y", "max_y")):
        overlap = [r for r in stats if getattr(r, mn) < hi and getattr(r, mx) >= lo]
        assert len(overlap) <= len(stats) / 2, (lo, hi, len(overlap), len(stats))


def _py_hilbert(x: int, y: int, bits: int = 16) -> int:
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_value_matches_reference_walk(spark):
    from iconic_data_science_spark.operators.lakehouse import hilbert_value

    pts = [(0, 0), (1, 0), (0, 1), (1, 1), (5, 9), (65535, 65535), (12345, 54321), (40000, 123)]
    pts += [((i * 7919) % 65536, (i * 104729) % 65536) for i in range(300)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = df.select("x", "y", hilbert_value("x", "y").alias("h")).collect()
    for r in got:
        assert r.h == _py_hilbert(r.x, r.y), (r.x, r.y, r.h)
    # bijectivity on a small grid: all 256 cells of 16x16 get distinct indices
    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    hs = [r.h for r in grid.select(hilbert_value("x", "y").alias("h")).collect()]
    assert len(set(hs)) == 256


def test_hilbert_pandas_null_safe(spark):
    """Null x or y → null index, not a failed task (nullable input
    reaches the numpy walk as NaN, which an int64 conversion rejects);
    the other rows keep the reference walk."""
    from iconic_data_science_spark.operators.lakehouse import hilbert_value

    df = spark.createDataFrame(
        [(1, 2), (None, 5), (7, None), (None, None), (300, 17)], "x int, y int"
    )
    got = df.select("x", "y", hilbert_value("x", "y").alias("h")).collect()
    for r in got:
        if r.x is None or r.y is None:
            assert r.h is None, (r.x, r.y, r.h)
        else:
            assert r.h == _py_hilbert(r.x, r.y), (r.x, r.y, r.h)


def test_hilbert_vs_morton_locality(spark):
    """Both curves are quadrant-recursive, so power-of-4-ALIGNED index
    ranges cover identical 2^k x 2^k blocks — aligned chunk stats must
    be EQUAL. Hilbert's locality edge appears for row-count-balanced
    (non-aligned) splits, where its mean per-file max(x,y)-span must be
    strictly tighter (measured ~29% on this grid; SCALE.md)."""
    import math

    from pyspark.sql import functions as F
    from iconic_data_science_spark.operators.lakehouse import (
        hilbert_chunk_stats, hilbert_value, zorder_chunk_stats, zorder_value,
    )

    n = 1 << 11
    df = spark.range(n * 8).select(
        (F.col("id") % n).alias("x"), ((F.col("id") * 7919) % n).alias("y")
    )

    def mean_span(stats):
        spans = [max(r.max_x - r.min_x, r.max_y - r.min_y) for r in stats]
        return sum(spans) / len(spans)

    h = mean_span(hilbert_chunk_stats(df, "x", "y", chunk_shift=18).collect())
    z = mean_span(zorder_chunk_stats(df, "x", "y", chunk_shift=18).collect())
    assert h == z, (h, z)  # aligned ranges: identical quadrant footprints

    rows = df.select(
        "x", "y", hilbert_value("x", "y").alias("h"), zorder_value("x", "y").alias("z")
    ).collect()

    def file_span(key, n_files=37):  # 37 files: guarantees non-aligned splits
        srt = sorted(rows, key=lambda r: getattr(r, key))
        per = math.ceil(len(srt) / n_files)
        spans = []
        for i in range(0, len(srt), per):
            ch = srt[i : i + per]
            spans.append(
                max(
                    max(r.x for r in ch) - min(r.x for r in ch),
                    max(r.y for r in ch) - min(r.y for r in ch),
                )
            )
        return sum(spans) / len(spans)

    hf, zf = file_span("h"), file_span("z")
    assert hf < zf, (hf, zf)


def test_compaction_plan_nextfit_rules(spark):
    from iconic_data_science_spark.operators.lakehouse import compaction_plan

    inv = spark.createDataFrame(
        [(1, 1, 60), (1, 2, 30), (1, 3, 30), (1, 4, 250), (1, 5, 10),
         (2, 1, 50), (2, 2, 50)],
        "part long, file_id long, size long",
    )
    out = {(r.part, r.file_id): r for r in compaction_plan(inv, target=100).collect()}
    # part 1: [60, 30] fill 90 | [30] then 250 overflows -> 250 alone | [10]
    assert out[(1, 1)].group_idx == 0 and out[(1, 2)].group_idx == 0
    assert out[(1, 2)].group_fill == 90
    assert out[(1, 3)].group_idx == 1
    assert out[(1, 4)].group_idx == 2 and out[(1, 4)].group_fill == 250  # oversized alone
    assert out[(1, 5)].group_idx == 3
    # part 2 packs independently
    assert out[(2, 1)].group_idx == 0 and out[(2, 2)].group_idx == 0
    # every non-oversized group respects the target
    for r in out.values():
        assert r.group_fill <= 100 or r.size > 100


def test_compaction_plan_zero_size_files_match_oracle(spark, tmp_path):
    """Zero-size files mid-stream leave the running fill at 0; the
    recurrence's ``fill > 0`` guard must not close the group there, and
    the recursive-CTE oracle must walk the identical rule (the oracle
    used to check the overflow unconditionally)."""
    import duckdb

    from iconic_data_science_spark.operators.lakehouse import (
        compaction_plan,
        compaction_oracle_sql,
    )

    rows = [
        (1, 1, 0),   # leading zero: fill stays 0
        (1, 2, 0),
        (1, 3, 150), # oversized lands in the SAME group (fill was 0)
        (1, 4, 0),   # zero after overflow-sized file
        (1, 5, 60),
        (1, 6, 0),
        (1, 7, 50),  # 60+0+50 > 100 -> closes
        (2, 1, 0),
    ]
    inv = spark.createDataFrame(rows, "part long, file_id long, size long")
    got = sorted(
        (r.part, r.file_id, r.size, r.group_idx, r.group_fill)
        for r in compaction_plan(inv, target=100).collect()
    )
    pq = str(tmp_path / "inv.parquet")
    inv.toPandas().to_parquet(pq)
    con = duckdb.connect()
    try:
        want = sorted(
            tuple(int(v) for v in row)
            for row in con.execute(
                compaction_oracle_sql(f"SELECT part, file_id, size FROM '{pq}'", target=100)
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want, (got, want)
    by = {(p, f): (g, fl) for p, f, _s, g, fl in got}
    assert by[(1, 3)] == (0, 150)  # joined the zero-fill group, not a new one
    assert by[(1, 7)][0] == by[(1, 5)][0] + 1
