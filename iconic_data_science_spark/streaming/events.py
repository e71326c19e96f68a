"""Structured Streaming surface over the ``events`` table.

The reference is batch-only (SURVEY.md §1.1.5); this is the spec's
streaming extension. Every transformation here is written once and works
on BOTH a batch DataFrame and a ``readStream`` DataFrame — the pytest
suite runs them through a real streaming query (parquet file source →
memory sink, ``processAllAvailable``) and asserts the result equals the
batch run, which is exactly Spark's unified-semantics promise.

Operators:
  - tumbling / sliding window aggregates (``F.window``) with watermark;
  - session windows per user (``F.session_window``, gap-based);
  - stateful dedup (``dropDuplicatesWithinWatermark``) — bounded state,
    the streaming form of P9.

Scale posture: watermarks bound state (late events beyond 10 minutes are
dropped, the documented policy); window aggs shuffle on (window × key) —
high cardinality; session windows shuffle on user_id. Timestamps are
compared as ``unix_micros`` integers so engine string formatting can
never skew results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import dec_sum

EVENT_SCHEMA_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

WATERMARK = "10 minutes"


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to a session-timezone (UTC-pinned) micros timestamp,
    whatever the source encoding:

    - long nanos (TIMESTAMP(NANOS) parquet read under
      ``spark.sql.legacy.parquet.nanosAsLong``) → integer-divide to micros
      (nanos exceed 2^53; double math would skew ±1 µs);
    - TIMESTAMP_NTZ (micros parquet with isAdjustedToUTC=false, the
      driver-testdata encoding) → cast, interpreting wall time as UTC —
      identical micros to DuckDB's ``epoch_us`` on the same file;
    - TIMESTAMP → already normalized.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (for tests/demos; a
    production deployment points the same pipeline at Kafka). Streaming
    sources need an explicit schema — take it from the parquet footer via
    a (lazy, metadata-only) batch read so the stream adapts to the file's
    actual ts encoding."""
    import os

    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return normalize_ts(raw)


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str = WATERMARK) -> DataFrame:
    """Per-hour per-type counts and value sums. Works batch or stream."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dec_sum("value", "sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "15 minutes", watermark: str = WATERMARK
) -> DataFrame:
    """Sliding-window counts (each event lands in width/slide windows)."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )


def session_windows(events: DataFrame, gap: str = "5 minutes", watermark: str = WATERMARK) -> DataFrame:
    """Gap-based sessions per user: (user_id, session_start_us,
    session_end_us, n_events). Session end = last event + gap (Spark
    session_window semantics)."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


def write_stream_exactly_once(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    query_name: str = "exactly_once_sink",
):
    """foreachBatch exactly-once parquet sink: each micro-batch writes to
    an epoch-keyed subdirectory, so a replayed epoch (failure/restart)
    overwrites its own output instead of duplicating it — idempotent
    writes + the checkpoint's exactly-once batch tracking."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (n_events, total_value) maintained in explicit state across
    micro-batches — the ``GroupState`` surface for operators the built-in
    aggregations can't express. Update-mode output: one row per user per
    batch with the running totals."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("total_value", T.DoubleType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType(), False),
            T.StructField("total", T.DoubleType(), False),
        ]
    )

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def quota_sampler_state(events: DataFrame, quota: int = 50) -> DataFrame:
    """Continuous per-source ingestion quota — the streaming twin of
    ``operators.events.quota_sample``: explicit per-key admitted-count
    state (``applyInPandasWithState``), each micro-batch admitting its
    rows in deterministic (ts, event_id) order until the key's quota is
    spent; later batches inherit the count, so a source that filled its
    quota contributes nothing ever after. Append-mode output of only
    the admitted rows (key, event_id, seq). Over a single backfill
    batch this equals the batch operator row-for-row (pinned in
    tests/test_streaming.py); across live batches admission follows
    batch arrival, which is the operational semantics a quota wants."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("event_id", T.LongType(), False),
            T.StructField("seq", T.LongType(), False),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType(), False)])

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        # the iterator may yield several Arrow chunks for one group —
        # the deterministic (ts, event_id) admission order needs the
        # WHOLE batch sorted, not each chunk (bounded by the group's
        # rows in this micro-batch)
        chunks = [pdf[["ts", "event_id"]] for pdf in pdf_iter]
        keys, ids, seqs = [], [], []
        if chunks and n < quota:
            batch = pd.concat(chunks).sort_values(["ts", "event_id"])
            take = batch["event_id"].head(max(0, quota - n))
            for eid in take:
                n += 1
                keys.append(key[0])
                ids.append(int(eid))
                seqs.append(n)
        state.update((n,))
        yield pd.DataFrame({"key": keys, "event_id": pd.Series(ids, dtype="int64"),
                            "seq": pd.Series(seqs, dtype="int64")})

    return events.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def purchase_signup_interval_join(
    purchases: DataFrame,
    signups: DataFrame,
    lookback: str = "1 hour",
    watermark: str = WATERMARK,
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to every signup
    by the same user within ``lookback`` before (or at) the purchase.

    Batch and streaming take the identical plan; in streaming BOTH sides
    carry watermarks and the time-range predicate bounds the join state
    (Spark evicts signup state older than watermark+lookback — without
    the range condition the state would grow forever). Inner join only:
    that is the unconditional stream-stream support matrix; outer
    variants need the same watermark bounds.

    Inputs must already be type-filtered frames with columns
    (event_id, user_id, ts, value) for purchases / (user_id, ts, value)
    for signups — see ``q_st_stream_stream_join`` for the canonical
    slicing of the events table.
    """
    p = purchases.select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("amount")
    )
    s = signups.select(
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("s_ts"),
        F.col("value").alias("signup_value"),
    )
    if p.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    if s.isStreaming:
        s = s.withWatermark("s_ts", watermark)
    cond = (
        (p["user_id"] == s["s_user_id"])
        & (s["s_ts"] <= p["p_ts"])
        & (s["s_ts"] >= p["p_ts"] - F.expr(f"INTERVAL {lookback}"))
    )
    return (
        p.join(s, cond, "inner")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("p_ts").alias("ts_us"),
            F.unix_micros("s_ts").alias("signup_ts_us"),
            "amount",
            "signup_value",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = WATERMARK) -> DataFrame:
    """Stateful exact dedup on event_id with bounded state (streaming) /
    plain dropDuplicates (batch) — the two are semantically equal when
    duplicates arrive within the watermark."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
    return events.dropDuplicates(["event_id"])


def funnel_stage_state(events: DataFrame, stages: tuple[str, ...] = ("view", "click", "purchase")) -> DataFrame:
    """Streaming twin of ``operators/events.funnel``: a per-user funnel
    state machine on ``applyInPandasWithState`` → (user_id,
    stage_reached) with stage_reached = how many ordered stages the user
    has entered (stage i counts only strictly after entry into stage
    i-1 — identical min-timestamp chaining).

    State is one entry timestamp (micros) per stage; each micro-batch
    sorts its rows by ts and advances the machine, so state is O(stages)
    per user regardless of event volume. Cross-batch late data is the
    usual streaming caveat: an event older than an already-taken entry
    can't retract it (batch replay — the backfill path — is the exact
    form). Update-mode output: one row per user per batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n = len(stages)
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("stage_reached", T.LongType(), False),
        ]
    )
    state_schema = T.StructType(
        [T.StructField(f"t{i}", T.LongType(), False) for i in range(n)]
    )
    stage_idx = {s: i for i, s in enumerate(stages)}
    UNSET = -1

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        entry = list(state.get) if state.exists else [UNSET] * n
        for pdf in pdf_iter:
            pdf = pdf[pdf["event_type"].isin(stage_idx)].sort_values("ts")
            # Pin the epoch unit explicitly: pandas may deliver ts as
            # datetime64[ns] or (Arrow-backed) datetime64[us]; a blind
            # `astype(int64) // 1000` would yield ms in the latter case and
            # collapse near-simultaneous events under the strict `>` rule.
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            for et, ts in zip(pdf["event_type"], ts_us):
                i = stage_idx[et]
                if entry[i] != UNSET:
                    continue
                if i == 0 or (entry[i - 1] != UNSET and ts > entry[i - 1]):
                    entry[i] = int(ts)
        state.update(tuple(entry))
        reached = sum(1 for t in entry if t != UNSET)
        yield pd.DataFrame({"user_id": [key[0]], "stage_reached": [reached]})

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
