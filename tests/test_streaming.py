"""Streaming surface tests: the SAME transformations run as a real
Structured Streaming query (parquet source → memory sink) and as batch,
and must agree — Spark's unified-semantics contract, verified."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from iconic_data_science_spark.catalog import Catalog
from iconic_data_science_spark.streaming import events as ev


def _run_stream(spark, stream_df, name: str, output_mode: str = "append"):
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return pdf.reindex(cols, axis=1).sort_values(by=cols, ignore_index=True)


def test_tumbling_stream_equals_batch(spark, sf_dir):
    batch = ev.tumbling_counts(Catalog(spark, sf_dir).events)
    stream = ev.tumbling_counts(ev.read_event_stream(spark, sf_dir))
    # complete mode: append would hold back windows the final watermark
    # never closes (file stream ends -> watermark stops advancing)
    got = _run_stream(spark, stream, "t_tumbling", output_mode="complete")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_session_stream_equals_batch(spark, sf_dir):
    batch = ev.session_windows(Catalog(spark, sf_dir).events)
    stream = ev.session_windows(ev.read_event_stream(spark, sf_dir))
    got = _run_stream(spark, stream, "t_sessions", output_mode="complete")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_stateful_dedup_removes_stream_duplicates(spark, sf_dir):
    s1 = ev.read_event_stream(spark, sf_dir)
    s2 = ev.read_event_stream(spark, sf_dir)
    doubled = s1.unionByName(s2)  # every event arrives twice
    deduped = ev.dedup_within_watermark(doubled)
    got = _run_stream(spark, deduped, "t_dedup", output_mode="append")
    n_distinct = Catalog(spark, sf_dir).events.select("event_id").distinct().count()
    assert got.count() == n_distinct


def test_foreach_batch_exactly_once_sink(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = ev.write_stream_exactly_once(ev.read_event_stream(spark, sf_dir), out, ckpt)
    q.processAllAvailable()
    q.stop()
    written = spark.read.parquet(out)
    n_src = Catalog(spark, sf_dir).events.count()
    assert written.count() == n_src
    # restart with the same checkpoint: no new data -> no duplicates
    q2 = ev.write_stream_exactly_once(ev.read_event_stream(spark, sf_dir), out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == n_src


def test_sliding_windows_cover_each_event_four_times(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    total = cat.events.count()
    slid = ev.sliding_counts(cat.events)  # 1h window / 15m slide
    assert slid.agg(F.sum("n_events")).collect()[0][0] == 4 * total


def test_stream_stream_join_equals_batch(spark, sf_dir):
    cat = Catalog(spark, sf_dir)

    def slices(src):
        purchases = src.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        signups = src.filter(F.col("event_type") == "signup").select(
            "user_id", "ts", "value"
        )
        return purchases, signups

    batch = ev.purchase_signup_interval_join(*slices(cat.events))
    stream = ev.purchase_signup_interval_join(
        *(
            slices(ev.read_event_stream(spark, sf_dir))[0],
            slices(ev.read_event_stream(spark, sf_dir))[1],
        )
    )
    # inner stream-stream join emits in append mode as matches arrive;
    # availableNow drains the whole file source so all matches surface
    got = _run_stream(spark, stream, "t_ssj", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_watermark_drops_late_events(spark, tmp_path):
    """The 10-minute watermark policy, observed for real: batch 1
    advances the watermark past a window's end; a batch-2 event behind
    the watermark must be EXCLUDED from that window's append-mode
    emission (and the stream-final window never emits at all)."""
    import time as _time

    base = 1704103200  # 2024-01-01 10:00:00 UTC (hour-aligned)
    NS = 1_000_000_000
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    d = str(tmp_path / "stream")
    ckpt = str(tmp_path / "ckpt")

    out_dir = str(tmp_path / "out")

    def run(name):
        raw = (
            spark.readStream.format("parquet").schema(ev.EVENT_SCHEMA_RAW).load(d)
        )
        q = (
            ev.tumbling_counts(ev.normalize_ts(raw))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # run 1: 10:00 and 12:00 -> watermark persisted at 11:50
    spark.createDataFrame(
        [(1, base * NS, 1, "click", 1.0, "{}"),
         (2, (base + 7200) * NS, 1, "click", 1.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(d)
    run("t_late1")
    _time.sleep(1.1)
    # run 2 (same checkpoint): 10:30 is behind the restored 11:50
    # watermark -> dropped; 14:00 advances it to 13:50, closing 12:00
    spark.createDataFrame(
        [(3, (base + 1800) * NS, 1, "click", 1.0, "{}"),
         (4, (base + 14400) * NS, 1, "click", 1.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(d)
    run("t_late2")

    got = spark.read.parquet(out_dir).toPandas()
    by_window = dict(zip(got.window_start_us, got.n_events))
    US = 1_000_000
    assert by_window.get(base * US) == 1          # late 10:30 event dropped
    assert by_window.get((base + 7200) * US) == 1
    assert (base + 14400) * US not in by_window   # watermark never closes it


def test_streaming_funnel_equals_batch(spark, sf_dir):
    """The per-user funnel state machine must reproduce the batch
    funnel's stage counts (same min-timestamp chaining semantics)."""
    from iconic_data_science_spark.operators.events import funnel

    stream = ev.funnel_stage_state(ev.read_event_stream(spark, sf_dir))
    got = _run_stream(spark, stream, "t_funnel", output_mode="update").toPandas()
    batch = {r.stage_idx: r.n_users for r in funnel(Catalog(spark, sf_dir).events).collect()}
    # stage i's batch count = users whose machine passed stage i
    for i in sorted(batch):
        assert (got.stage_reached > i).sum() == batch[i]


def test_quota_sampler_stream_equals_batch(spark, sf_dir):
    """The continuous per-source quota (explicit admitted-count state)
    must equal the batch quota_sample row-for-row over a single
    backfill batch — same deterministic (ts, event_id) admission order,
    same admission indices."""
    from iconic_data_science_spark.operators.events import quota_sample

    stream = ev.quota_sampler_state(ev.read_event_stream(spark, sf_dir), quota=50)
    got = _run_stream(spark, stream, "t_quota", output_mode="append")
    batch = quota_sample(Catalog(spark, sf_dir).events, quota=50)
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))
    # every key admits at most the quota, indices are 1..n contiguous
    pdf = got.toPandas()
    for k, g in pdf.groupby("key"):
        assert len(g) <= 50
        assert sorted(g.seq) == list(range(1, len(g) + 1))


def test_stream_dedup_equals_incremental_batch(spark, sf_dir):
    """Continuous-crawl dedup: streaming batch-vs-index == the batch
    incremental operator, jaccard bit-for-bit."""
    from iconic_data_science_spark.operators.dedup import minhash_lsh_incremental
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = minhash_lsh_incremental(
        corpus, docs.filter(F.col("doc_id") % 2 == 1),
        n=3, num_perm=16, rows_per_band=4, threshold=0.5,
    )
    stream_new = sd.read_document_stream(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    out = sd.stream_dedup_against_index(
        stream_new, corpus, n=3, num_perm=16, rows_per_band=4, threshold=0.5
    )
    got = _run_stream(spark, out, "t_doc_dedup", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_stream_dedup_prebuilt_index_equals_corpus_form(spark, sf_dir):
    """stream_dedup_against_index(index=...) — the production steady
    state probing a standing (doc_id, band, band_sig, shingles) table
    — must produce exactly the rows the corpus= form computes from raw
    documents (same signatures, same jaccard, bit for bit)."""
    from iconic_data_science_spark.operators.dedup import (
        minhash_index_build,
        minhash_lsh_incremental,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = minhash_lsh_incremental(
        corpus, docs.filter(F.col("doc_id") % 2 == 1),
        n=3, num_perm=16, rows_per_band=4, threshold=0.5,
    )
    idx = minhash_index_build(corpus, n=3, num_perm=16, rows_per_band=4)
    stream_new = sd.read_document_stream(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    out = sd.stream_dedup_against_index(
        stream_new, index=idx, n=3, num_perm=16, rows_per_band=4, threshold=0.5
    )
    got = _run_stream(spark, out, "t_doc_dedup_idx", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))
    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        sd.stream_dedup_against_index(stream_new, corpus, index=idx)
    with pytest.raises(ValueError, match="exactly one"):
        sd.stream_dedup_against_index(stream_new)


def test_map_side_curation_ops_compose_with_streams(spark, sf_dir):
    """The per-row curation transforms (quality scoring, token counts)
    apply unchanged to a document stream — map-side operators are
    execution-mode agnostic; stream == batch row for row."""
    from iconic_data_science_spark.operators.text import quality_score, token_counts
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = quality_score(docs).join(token_counts(docs), "doc_id")
    stream_src = sd.read_document_stream(spark, sf_dir)
    stream = quality_score(stream_src).join(token_counts(stream_src), "doc_id")
    got = _run_stream(spark, stream, "t_doc_quality", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_ingest_gate_bloom_decon_equals_batch(spark, sf_dir):
    """The crawl-ingest decontamination gate runs on a document stream in
    watermark-free append mode: the in-row Bloom probe has zero
    aggregation (the bitset broadcasts as one dense array row), so
    stream == the batch join-form operator row for row."""
    from iconic_data_science_spark.operators.dedup import (
        bloom_decontaminate,
        bloom_decontaminate_inrow,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    batch = bloom_decontaminate(docs.filter(F.col("doc_id") % 10 != 0), bench, n=5)
    stream_train = sd.read_document_stream(spark, sf_dir).filter(F.col("doc_id") % 10 != 0)
    stream = bloom_decontaminate_inrow(stream_train, bench, n=5)
    got = _run_stream(spark, stream, "t_ingest_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_classifier_gate_equals_batch(spark, sf_dir):
    """Ingest-time quality scoring: the in-row classifier forward pass
    (weights a plan literal, zero aggregation) runs on a document
    stream in watermark-free append mode; stream == batch row for
    row — score-at-ingest needs no separate batch rescoring job."""
    from iconic_data_science_spark.operators.featurize import linear_classifier_gate
    from iconic_data_science_spark.streaming import documents as sd

    weights = [((f * 2654435761) % 2001) - 1000 for f in range(256)]
    docs = Catalog(spark, sf_dir).documents
    batch = linear_classifier_gate(docs, weights, bias_micro=0)
    stream = linear_classifier_gate(
        sd.read_document_stream(spark, sf_dir), weights, bias_micro=0
    )
    got = _run_stream(spark, stream, "t_classifier_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_temperature_gate_equals_batch(spark, sf_dir):
    """The temperature-resampling gate on a document stream: rates are
    learned ONCE on the static corpus, the stream is admitted map-side
    behind a broadcast (zero aggregation, watermark-free append);
    stream == the batch sampler row for row."""
    from iconic_data_science_spark.operators.mixing import (
        temperature_mix_rates,
        temperature_sample,
        temperature_sample_against_rates,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = temperature_sample(docs, budget_tokens=20_000)
    rates = temperature_mix_rates(docs, budget_tokens=20_000)
    stream = temperature_sample_against_rates(
        sd.read_document_stream(spark, sf_dir), rates, budget_tokens=20_000
    )
    got = _run_stream(spark, stream, "t_temp_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_quality_gate_equals_batch(spark, sf_dir):
    """The quality-decile gate on a document stream: the cutoff is
    learned ONCE on the static corpus (bounded histogram), the stream
    is admitted by a pure in-row score+compare behind a 1-row
    broadcast (watermark-free append); stream == batch row for row."""
    from iconic_data_science_spark.operators.text import quality_gate_against_cutoff
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = quality_gate_against_cutoff(docs, docs, min_decile=5)
    stream = quality_gate_against_cutoff(
        sd.read_document_stream(spark, sf_dir), docs, min_decile=5
    )
    got = _run_stream(spark, stream, "t_quality_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def _odd_doc_stream(spark, sf_dir):
    from iconic_data_science_spark.streaming import documents as sd

    return sd.read_document_stream(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)


def _index_probe(stream_new, index):
    from iconic_data_science_spark.streaming import documents as sd

    return sd.stream_dedup_against_index(
        stream_new, index=index, n=3, num_perm=16, rows_per_band=4, threshold=0.5
    )


def test_stream_dedup_index_derived_once_per_frame(spark, sf_dir, jobs_launched, monkeypatch):
    """A restart on the same index frame reuses its derived probe side:
    it launches no Spark job, under either tier."""
    from iconic_data_science_spark.operators import tiers
    from iconic_data_science_spark.operators.dedup import minhash_index_build

    docs = Catalog(spark, sf_dir).documents
    idx = minhash_index_build(docs.filter(F.col("doc_id") % 2 == 0))
    stream_new = _odd_doc_stream(spark, sf_dir)
    assert jobs_launched(lambda: _index_probe(stream_new, idx)) > 0
    assert jobs_launched(lambda: _index_probe(stream_new, idx)) == 0
    monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)
    assert jobs_launched(lambda: _index_probe(stream_new, idx)) == 0


def test_stream_dedup_upserted_index_is_rederived(spark, sf_dir):
    """An upsert returns a new index generation: its probe side is
    derived afresh, and a document the upsert admitted is found."""
    from iconic_data_science_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_upsert,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    gen1 = minhash_index_build(docs.filter(F.col("doc_id") % 2 == 0))

    def probed(index, name):
        got = _run_stream(spark, _index_probe(_odd_doc_stream(spark, sf_dir), index), name)
        return {tuple(r) for r in got.collect()}

    before = probed(gen1, "t_gen1")
    # a copy, under a fresh id, of a streamed document that has shingles
    probe_id = (
        docs.filter((F.col("doc_id") % 2 == 1) & (F.size(F.split("text", " ")) >= 5))
        .agg(F.min("doc_id"))
        .first()[0]
    )
    copy = docs.filter(F.col("doc_id") == probe_id).withColumn("doc_id", F.lit(10**9).cast("long"))
    gen2 = minhash_index_upsert(gen1, copy, drop_near_dups=False)
    after = probed(gen2, "t_gen2")
    assert sd._PROBE_INDEX[gen2] is not sd._PROBE_INDEX[gen1]
    assert sd._PROBE_INDEX[gen2].n_sigs == sd._PROBE_INDEX[gen1].n_sigs + 4
    assert after - before == {(10**9, probe_id, 1.0)}


def test_stream_dedup_probe_memo_follows_index_lifetime(spark, sf_dir):
    """The derived probe side lives exactly as long as its index frame."""
    import gc

    from iconic_data_science_spark.operators.dedup import minhash_index_build
    from iconic_data_science_spark.streaming import documents as sd

    gc.collect()
    before = len(sd._PROBE_INDEX)
    idx = minhash_index_build(Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 2 == 0))
    _index_probe(_odd_doc_stream(spark, sf_dir), idx)
    assert len(sd._PROBE_INDEX) == before + 1
    del idx
    gc.collect()
    assert len(sd._PROBE_INDEX) == before


def test_stream_dedup_fallback_path_equals_gated(spark, sf_dir, monkeypatch):
    """Above the driver-local budget the pipeline falls back to
    the shuffled join + stateful dedup; both paths must produce the
    same pairs (the gate changes the plan, never the answer)."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators import tiers
    from iconic_data_science_spark.streaming import documents as sdoc

    docs = Catalog(spark, sf_dir).documents
    corpus = docs.filter(F.col("doc_id") % 2 == 0)

    def run(label, local_rows):
        monkeypatch.setattr(tiers, "LOCAL_ROWS", local_rows)
        stream = sdoc.read_document_stream(spark, sf_dir).filter(
            F.col("doc_id") % 2 == 1
        )
        df = sdoc.stream_dedup_against_index(
            stream, corpus, n=3, num_perm=16, rows_per_band=4, threshold=0.5,
        )
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"dedup_gate_{label}")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = spark.sql(f"SELECT * FROM dedup_gate_{label}").collect()
        return sorted((r.corpus_id, r.new_id, round(r.jaccard, 9)) for r in out)

    gated = run("gated", 10**9)
    fallback = run("fallback", 0)
    assert gated == fallback
    assert gated


def test_streaming_kmeans_cell_router_equals_batch(spark, sf_dir):
    """Embed-at-ingest cell routing: centroids train once on the static
    corpus (exact integer Lloyd), incoming vectors are assigned by a
    pure map over centroid literals (zero joins, zero state);
    stream == batch row for row."""
    import os

    from iconic_data_science_spark.operators.similarity import (
        kmeans_int_assign_against,
        kmeans_int_centroids,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = kmeans_int_centroids(emb, n_cells=8, n_iters=3)
    batch = kmeans_int_assign_against(emb, cents)
    schema = emb.schema
    stream_src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )
    stream = kmeans_int_assign_against(stream_src, cents)
    got = _run_stream(spark, stream, "t_kmeans_router", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_gopher_gate_equals_batch(spark, sf_dir):
    """The Gopher rule set is pure per-row expressions, so it runs on a
    document stream in watermark-free append mode; stream == batch row
    for row (flag-at-ingest needs no batch rescoring)."""
    from iconic_data_science_spark.operators.text import gopher_quality_flags
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = gopher_quality_flags(docs)
    stream = gopher_quality_flags(sd.read_document_stream(spark, sf_dir))
    got = _run_stream(spark, stream, "t_gopher_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_c4_gate_equals_batch(spark, sf_dir):
    """C4 line cleaning is pure per-row expressions, so it runs on a
    document stream in watermark-free append mode; stream == batch row
    for row (clean-at-ingest needs no batch recleaning)."""
    from iconic_data_science_spark.operators.text import c4_line_filter
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = c4_line_filter(docs, min_kept_lines=1, bad_words=["badword"])
    stream = c4_line_filter(
        sd.read_document_stream(spark, sf_dir),
        min_kept_lines=1,
        bad_words=["badword"],
    )
    got = _run_stream(spark, stream, "t_c4_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_dsir_gate_equals_batch(spark, sf_dir):
    """DSIR select-at-ingest: weights and the top-n score cutoff are
    learned once on the static corpus; the gate itself is a pure
    in-row score + compare, so it admits an append stream with no
    batch rescoring; stream == batch row for row."""
    from iconic_data_science_spark.operators.featurize import (
        dsir_bucket_weights,
        dsir_gate_against_cutoff,
        dsir_select,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    w = dsir_bucket_weights(docs, target=F.col("lang") == "en")
    n = docs.count()
    cutoff = min(r.dsir_score for r in dsir_select(docs, w, n_keep=n // 4).collect())
    batch = dsir_gate_against_cutoff(docs, w, cutoff)
    stream = dsir_gate_against_cutoff(sd.read_document_stream(spark, sf_dir), w, cutoff)
    got = _run_stream(spark, stream, "t_dsir_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_pq_code_router_equals_batch(spark, sf_dir):
    """PQ-code-at-ingest: codebooks train once on the static corpus
    (per-subspace integer Lloyd); incoming vectors get their m codes by
    pure maps over codebook literals (zero joins, zero state);
    stream == batch row for row."""
    import os

    from pyspark.sql import functions as SF

    from iconic_data_science_spark.operators.similarity import (
        kmeans_int_assign_against,
        kmeans_int_centroids,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    schema = emb.schema
    stream_src = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )

    def route(df, cents, s):
        sub = df.select(
            "vec_id", SF.slice("embedding", s * 16 + 1, 16).alias("embedding")
        )
        return kmeans_int_assign_against(sub, cents).select(
            "vec_id", SF.lit(s).cast("long").alias("sub"), "c_id", "d2"
        )

    for s in range(2):  # two subspaces keep the stream drain fast
        sub = emb.select(
            "vec_id", SF.slice("embedding", s * 16 + 1, 16).alias("embedding")
        )
        cents = kmeans_int_centroids(sub, n_cells=8, n_iters=2)
        batch = route(emb, cents, s)
        got = _run_stream(
            spark, route(stream_src, cents, s), f"t_pq_router_{s}",
            output_mode="append",
        )
        pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_embedding_audit_equals_batch(spark, sf_dir):
    """Vector ingest validation is pure per-row expressions, so it runs
    on an embedding stream in watermark-free append mode; stream ==
    batch row for row (validate-at-ingest needs no batch re-audit)."""
    import os

    from iconic_data_science_spark.operators.similarity import embedding_audit

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    batch = embedding_audit(emb)
    stream_src = (
        spark.readStream.format("parquet")
        .schema(emb.schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )
    got = _run_stream(
        spark, embedding_audit(stream_src), "t_emb_audit", output_mode="append"
    )
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_unimax_gate_equals_batch(spark, sf_dir):
    """UniMax admit-at-ingest: the allocation table learns once on the
    static corpus; the keep rule is a pure map behind a broadcast, so
    the stream form admits each arriving document at its language's
    allocated rate; stream == batch row for row."""
    from iconic_data_science_spark.operators.mixing import (
        unimax_allocation,
        unimax_sample_against,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    alloc = unimax_allocation(docs, budget_tokens=10_000, max_epochs=2).localCheckpoint()
    batch = unimax_sample_against(docs, alloc)
    stream = unimax_sample_against(sd.read_document_stream(spark, sf_dir), alloc)
    got = _run_stream(spark, stream, "t_unimax_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_surprisal_gate_equals_batch(spark, sf_dir):
    """CCNet-style pruned-LM perplexity gate at ingest: the top-k
    bigram LM learns once on the static corpus and bakes into the plan
    as a map literal; the gate is a pure in-row fold, so an append
    stream is admitted document by document; stream == batch row for
    row."""
    from iconic_data_science_spark.operators.text import (
        bigram_lm_topk,
        bigram_surprisal_gate,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    lm = bigram_lm_topk(docs, k=64)
    batch = bigram_surprisal_gate(docs, lm, cutoff_milli=8000)
    stream = bigram_surprisal_gate(
        sd.read_document_stream(spark, sf_dir), lm, cutoff_milli=8000
    )
    got = _run_stream(spark, stream, "t_surprisal_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_url_gate_equals_batch(spark, sf_dir):
    """The URL filter at ingest (the FineWeb ordering — URL rules run
    before anything tokenizes): synth + regex parse + eTLD+1 + rules
    are all per-row expressions, so the gate admits an append document
    stream; stream == batch row for row."""
    from iconic_data_science_spark.operators.text import synth_urls, url_gate
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = url_gate(synth_urls(docs))
    stream = url_gate(synth_urls(sd.read_document_stream(spark, sf_dir)))
    got = _run_stream(spark, stream, "t_url_gate", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_wordpiece_encode_equals_batch(spark, sf_dir):
    """WordPiece at ingest: the vocabulary learns once on the static
    corpus and bakes into the plan as a literal map; the greedy
    double fold is a pure in-row map, so the encoder admits an append
    document stream; stream == batch row for row."""
    from iconic_data_science_spark.operators.text import (
        wordpiece_encode,
        wordpiece_vocab,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    vocab = wordpiece_vocab(docs, n_words=12)
    batch = wordpiece_encode(docs, vocab)
    stream = wordpiece_encode(sd.read_document_stream(spark, sf_dir), vocab)
    got = _run_stream(spark, stream, "t_wordpiece", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_chat_render_equals_batch(spark, sf_dir):
    """Chat-template rendering at ingest: turn synthesis + render +
    loss-mask counting are per-row expressions, so the SFT prep step
    admits an append document stream; stream == batch row for row."""
    from iconic_data_science_spark.operators.text import (
        chat_render,
        synth_chat_turns,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = chat_render(synth_chat_turns(docs))
    stream = chat_render(synth_chat_turns(sd.read_document_stream(spark, sf_dir)))
    got = _run_stream(spark, stream, "t_chat_render", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_fim_equals_batch(spark, sf_dir):
    """FIM at ingest: the md5 gate, both pivots, the slices, and both
    renders are per-row expressions, so the infill transform admits an
    append document stream; stream == batch row for row."""
    from iconic_data_science_spark.operators.alignment import fim_transform
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = fim_transform(docs)
    stream = fim_transform(sd.read_document_stream(spark, sf_dir))
    got = _run_stream(spark, stream, "t_fim", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_unigram_encode_equals_batch(spark, sf_dir):
    """Unigram-LM at ingest: the vocabulary trains once on the static
    corpus and bakes into the plan as a literal cost map; the Viterbi
    DP is a pure in-row double fold, so the encoder admits an append
    document stream; stream == batch row for row."""
    from iconic_data_science_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    vocab = [(p, c) for p, c, _ in unigram_train(docs, vocab_size=16, seed_size=24)]
    batch = unigram_encode(docs, vocab)
    stream = unigram_encode(sd.read_document_stream(spark, sf_dir), vocab)
    got = _run_stream(spark, stream, "t_unigram", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_em_f1_equals_batch(spark, sf_dir):
    """Eval scoring at ingest: the mode draw, slices, multiset
    overlap, and per-mille ratios are per-row expressions, so EM/F1
    scoring admits an append document stream (score-as-you-ingest);
    stream == batch row for row."""
    from iconic_data_science_spark.operators.evaluation import (
        em_f1,
        synth_predictions,
    )
    from iconic_data_science_spark.streaming import documents as sd

    docs = Catalog(spark, sf_dir).documents
    batch = em_f1(synth_predictions(docs))
    stream = em_f1(synth_predictions(sd.read_document_stream(spark, sf_dir)))
    got = _run_stream(spark, stream, "t_em_f1", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_sq8_quantize_at_ingest_equals_batch(spark, sf_dir):
    """Quantize-at-ingest: with the per-dim bounds trained once on the
    static corpus and baked into the plan as literals, SQ8 coding
    (frozen-bounds form, clamp telemetry included) is a pure per-row
    map and admits an append embedding stream; stream == batch row
    for row."""
    from iconic_data_science_spark.operators.similarity import (
        sq8_codes_frozen,
        sq8_train,
    )
    from iconic_data_science_spark.streaming import documents as sd

    emb = Catalog(spark, sf_dir).embeddings
    bounds = sq8_train(emb)
    flat = lambda df: sq8_codes_frozen(df, bounds).select(  # noqa: E731
        "vec_id",
        F.array_join(
            F.transform("codes", lambda x: x.cast("string")), "-"
        ).alias("codes_str"),
        "err2",
        "n_clamped",
        "max_overshoot",
    )
    batch = flat(emb)
    stream = flat(sd.read_embedding_stream(spark, sf_dir))
    got = _run_stream(spark, stream, "t_sq8_ingest", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))


def test_streaming_bq_bands_at_ingest_equals_batch(spark, sf_dir):
    """BQ index build at ingest: with the per-dim sign thresholds
    trained once on the static corpus (division-free literal sums),
    the bit/band-word map is a pure per-row expression and admits an
    append embedding stream — the 1-bit/dim quantize-at-ingest gate;
    stream == batch row for row."""
    from iconic_data_science_spark.operators.similarity import (
        bq_bands,
        bq_train,
    )
    from iconic_data_science_spark.streaming import documents as sd

    emb = Catalog(spark, sf_dir).embeddings
    th = bq_train(emb)
    flat = lambda df: bq_bands(df, th).select(  # noqa: E731
        "id",
        "sq",
        F.array_join(
            F.transform("bands", lambda x: x.cast("string")), "-"
        ).alias("bands_str"),
    )
    batch = flat(emb)
    stream = flat(sd.read_embedding_stream(spark, sf_dir))
    got = _run_stream(spark, stream, "t_bq_ingest", output_mode="append")
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(batch))
