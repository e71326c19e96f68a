"""As-of join goldens (hand-checkable timeline) + stateful streaming
operator equality with batch."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from iconic_data_science_spark.catalog import Catalog
from iconic_data_science_spark.operators.asof import asof_join
from iconic_data_science_spark.streaming import events as ev


def test_asof_join_golden(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 35, 102), (2, 5, 200), (3, 9, 300)],
        "k long, t long, lid long",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 25, 2.5), (2, 6, 9.0), (4, 1, 7.0)],
        "k long, t long, v double",
    )
    out = {
        r.lid: r.v
        for r in asof_join(left, right, key="k", left_time="t", right_time="t", value_cols=["v"]).collect()
    }
    assert out[100] == 1.0   # tie: right at t=10 matches (<= semantics)
    assert out[101] == 1.0   # t=20: latest right is t=10
    assert out[102] == 2.5   # t=35: latest right is t=25
    assert out[200] is None  # right exists only at t=6 > 5 → no match
    assert out[300] is None  # key 3 has no right rows


def test_asof_same_source_equals_general_form(spark, sf_dir):
    """The fused same-source as-of (one scan, one shuffle — the
    asof_signup_value plan) must return row-identical results to the
    general union+window asof_join on the events table, including the
    dedup rule (max value at the latest right time), ties, null right
    values, and left keys with no right rows."""
    from iconic_data_science_spark.operators.asof import asof_join_same_source

    ev_t = Catalog(spark, sf_dir).events
    purchases = ev_t.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev_t.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("v")
    )
    general = {
        r.event_id: r.v
        for r in asof_join(
            purchases, signups, key="user_id", left_time="ts", right_time="ts",
            value_cols=["v"],
        ).collect()
    }
    fused = {
        r.event_id: r.value
        for r in asof_join_same_source(
            ev_t,
            key="user_id",
            time_col="ts",
            left_pred=F.col("event_type") == "purchase",
            right_pred=F.col("event_type") == "signup",
            value_col="value",
            left_cols=("event_id",),
        ).collect()
    }
    assert general == fused
    # golden edge shapes: duplicate right times (max wins), null right
    # value at the latest time (falls back), tie time (<= matches)
    rows = [
        (1, 1, 10, "b", None), (2, 1, 10, "s", 5.0), (3, 1, 10, "s", 7.0),
        (4, 1, 20, "b", None), (5, 1, 15, "s", None), (6, 2, 9, "b", None),
    ]
    df = spark.createDataFrame(rows, "event_id long, k long, t long, typ string, v double")
    got = {
        r.event_id: r.v
        for r in asof_join_same_source(
            df, key="k", time_col="t",
            left_pred=F.col("typ") == "b", right_pred=F.col("typ") == "s",
            value_col="v", left_cols=("event_id",),
        ).collect()
    }
    assert got == {1: 7.0, 4: 7.0, 6: None}, got


def test_interval_join_grid_equals_theta_join(spark):
    """The grid-decomposed interval join must reproduce the naive
    theta join exactly — including zero-length intervals, spans equal
    to / crossing the grid size, negative endpoints, and boundary-cell
    alignment — and must emit each overlapping pair EXACTLY once (the
    credit-cell rule replaces a distinct shuffle)."""
    import random

    from iconic_data_science_spark.operators.asof import interval_join_grid
    from iconic_data_science_spark.plans import inspect

    rng = random.Random(3)
    rows = []
    for i in range(300):
        k = rng.randint(0, 4)
        lo = rng.randint(-50, 1000)
        span = rng.choice([0, 1, 3, 63, 64, 65, 200])
        rows.append((i, k, lo, lo + span))
    df = spark.createDataFrame(rows, "id long, k long, lo long, hi long")
    a = df.select("k", F.col("id").alias("id1"), F.col("lo").alias("lo1"), F.col("hi").alias("hi1"))
    b = df.select("k", F.col("id").alias("id2"), F.col("lo").alias("lo2"), F.col("hi").alias("hi2"))
    out = interval_join_grid(
        a, b, keys=["k"], l_lo="lo1", l_hi="hi1", r_lo="lo2", r_hi="hi2", grid=64
    ).filter(F.col("id1") < F.col("id2"))
    collected = out.collect()
    got = {(r.k, r.id1, r.id2) for r in collected}
    assert len(collected) == len(got), "credit-cell rule emitted duplicates"
    want = set()
    for i, ki, li, hi_ in rows:
        for j, kj, lj, hj in rows:
            if i < j and ki == kj and li <= hj and lj <= hi_:
                want.add((ki, i, j))
    assert got == want
    # plan: an equi-join on (key, cell) — never a nested-loop/cartesian
    plan = inspect.formatted_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_stateful_running_totals_stream_equals_batch(spark, sf_dir):
    stream = ev.running_user_totals(ev.read_event_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT * FROM t_state")
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    want = (
        Catalog(spark, sf_dir)
        .events.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .toPandas()
        .sort_values("user_id", ignore_index=True)
    )
    # update-mode with a single availableNow batch: one final row per user
    assert list(got.user_id) == list(want.user_id)
    assert list(got.n_events) == list(want.n_events)
    pd.testing.assert_series_equal(
        got.total_value, want.total_value, rtol=1e-9, check_names=False
    )


def test_range_join_bands_and_misses(spark):
    from iconic_data_science_spark.operators.asof import range_join

    facts = spark.createDataFrame([(1, 5.0), (2, 10.0), (3, 99.0), (4, -1.0)], "id long, v double")
    bands = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, None)], "tier string, lo double, hi double"
    )
    got = {r.id: r.tier for r in range_join(facts, bands, "v").collect()}
    assert got == {
        1: "a",    # inside [0,10)
        2: "b",    # boundary: lo inclusive, hi exclusive
        3: "b",    # open-ended band
        4: None,   # below every band -> left-join null
    }
