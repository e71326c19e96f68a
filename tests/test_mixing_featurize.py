"""Behavior tests for corpus mixing, feature hashing, taxonomy tagging,
and frame-grain audio analysis (operators/mixing.py, featurize.py,
audio.py). Hash parity with the DuckDB oracles is covered by
test_oracle_parity; these pin the operator CONTRACTS."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iconic_data_science_spark.operators.audio import audio_frame_stats
from iconic_data_science_spark.operators.featurize import hashed_tfidf, keyword_tags
from iconic_data_science_spark.operators.mixing import (
    temperature_mix_rates,
    temperature_sample,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- temperature mixing -------------------------------------------------


def test_temperature_flattens_rates(spark):
    """alpha=1/2 smoothing must raise the low-resource language's share
    and lower the high-resource one's, keeping the order."""
    rows = [(i, "w " * (10 if i % 10 else 10) + "w", "big" if i % 10 else "small")
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["lang"]: r
        for r in temperature_mix_rates(df, sqrt_steps=1).collect()
    }
    nat_small = out["small"]["n_tokens"] / (
        out["small"]["n_tokens"] + out["big"]["n_tokens"]
    )
    smoothed_small = out["small"]["rate_ppm"] / 1_000_000
    assert smoothed_small > nat_small
    assert out["big"]["rate_ppm"] > out["small"]["rate_ppm"]


def test_temperature_zero_steps_is_natural(docs):
    """sqrt_steps=0 must reproduce natural proportions: weight ==
    n_tokens exactly."""
    for r in temperature_mix_rates(docs, sqrt_steps=0).collect():
        assert r["weight"] == r["n_tokens"]


def test_temperature_sample_saturates_and_nests(docs):
    """A budget ≥ the corpus token count keeps every document; a
    smaller budget's kept set is a subset of a larger one's (the keep
    rule is monotone in the budget)."""
    n_docs = docs.count()
    total_tokens = docs.select(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("t")
    ).collect()[0]["t"]
    full = temperature_sample(docs, budget_tokens=int(total_tokens) * 2)
    assert full.count() == n_docs

    small = {r["doc_id"] for r in temperature_sample(docs, budget_tokens=2000).collect()}
    large = {r["doc_id"] for r in temperature_sample(docs, budget_tokens=20000).collect()}
    assert small <= large
    assert len(small) < len(large)


def test_temperature_sample_partitioning_invariant(docs):
    """The kept set is a pure function of content — repartitioning must
    not change it (the property df.sample lacks)."""
    a = {r["doc_id"] for r in temperature_sample(docs, budget_tokens=20000).collect()}
    b = {
        r["doc_id"]
        for r in temperature_sample(docs.repartition(13), budget_tokens=20000).collect()
    }
    assert a == b


# --- feature hashing ----------------------------------------------------


def test_hashed_tfidf_contract(docs):
    out = hashed_tfidf(docs, dim=64, top_k=3)
    rows = out.collect()
    assert rows
    for r in rows:
        assert 0 <= r["feature"] < 64
        assert 1 <= r["rank"] <= 3
        assert r["score"] != 0
    # per-doc ranks are dense from 1
    per_doc = out.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("mx")
    )
    assert per_doc.filter(F.col("n") != F.col("mx")).count() == 0


def test_hashed_tfidf_partitioning_invariant(docs):
    a = sorted(map(tuple, hashed_tfidf(docs, dim=64, top_k=3).collect()))
    b = sorted(map(tuple, hashed_tfidf(docs.repartition(7), dim=64, top_k=3).collect()))
    assert a == b


# --- taxonomy tagging ---------------------------------------------------


def test_keyword_tags_exact_counts(spark):
    df = spark.createDataFrame(
        [(1, "Table scan of the table"), (2, "no match here"), (3, "sort SORT sort")],
        "doc_id long, text string",
    )
    tax = {"storage": ["table"], "execution": ["scan", "sort"]}
    got = {(r["doc_id"], r["topic"]): r["hits"] for r in keyword_tags(df, tax).collect()}
    assert got == {(1, "storage"): 2, (1, "execution"): 1, (3, "execution"): 3}


# --- audio frames -------------------------------------------------------


def test_audio_frame_stats_hand_signal(spark):
    """Round-trip: a hand-built WAV (one loud, one silent frame plus a
    short tail) must come back with exact integer statistics."""
    import numpy as np

    from iconic_data_science_spark.operators.multimodal import encode_wav

    loud = np.full(160, 2000, dtype=np.int64)
    quiet = np.full(160, 3, dtype=np.int64)
    tail = np.array([-5, 5], dtype=np.int64)
    samples = np.concatenate([loud, quiet, tail])
    media = spark.createDataFrame(
        [(7, "audio", bytearray(encode_wav(8000, samples)))],
        "media_id long, kind string, payload binary",
    )
    rows = {r["frame_no"]: r for r in audio_frame_stats(media, frame=160).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[0]["energy"] == 160 * 2000 * 2000
    assert rows[0]["peak"] == 2000 and rows[0]["silent"] == 0
    assert rows[0]["rms"] == 2000
    assert rows[1]["energy"] == 160 * 9 and rows[1]["silent"] == 1
    assert rows[2]["n"] == 2 and rows[2]["energy"] == 50 and rows[2]["peak"] == 5


def test_audio_frame_stats_ignores_non_audio(spark):
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"notawav"))],
        "media_id long, kind string, payload binary",
    )
    assert audio_frame_stats(media).count() == 0


# --- in-doc window dedup --------------------------------------------------


def test_intra_doc_dedup_removes_repeats(spark):
    from iconic_data_science_spark.operators.text import intra_doc_dedup

    rep = " ".join(["w%d" % (i % 3) for i in range(3)] * 4)  # same 3-token window 4x
    df = spark.createDataFrame(
        [(1, rep), (2, "a b c d e f")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in intra_doc_dedup(df, window_tokens=3).collect()}
    assert out[1]["n_chunks"] == 4 and out[1]["n_kept"] == 1
    assert out[1]["clean_text"] == "w0 w1 w2"
    # no repeats -> identity
    assert out[2]["n_kept"] == out[2]["n_chunks"] == 2
    assert out[2]["clean_text"] == "a b c d e f"


def test_intra_doc_dedup_keeps_first_occurrence_order(spark):
    from iconic_data_science_spark.operators.text import intra_doc_dedup

    # windows: [x x], [y y], [x x], [z z] -> keep x,y,z in order
    df = spark.createDataFrame(
        [(1, "x x y y x x z z")], "doc_id long, text string"
    )
    r = intra_doc_dedup(df, window_tokens=2).collect()[0]
    assert r["clean_text"] == "x x y y z z"
    assert r["n_chunks"] == 4 and r["n_kept"] == 3


# --- winsorization --------------------------------------------------------


def test_winsorize_exact_rank_cutoff(spark):
    from iconic_data_science_spark.operators.events import winsorize_values

    rows = [(i, "a", float(i)) for i in range(1, 101)]  # values 1..100
    rows += [(200, "b", 5.0), (201, "b", 1e9)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = winsorize_values(df, pct=95)
    a = out.filter("event_type = 'a'").collect()
    # ceil(95*100/100) = 95 -> cutoff is the 95th smallest = 95.0
    assert all(r["cutoff"] == 95.0 for r in a)
    assert max(r["clipped"] for r in a) == 95.0
    assert min(r["clipped"] for r in a) == 1.0
    b = {r["event_id"]: r for r in out.filter("event_type = 'b'").collect()}
    # n=2 -> cutoff rank ceil(1.9)=2 -> the outlier itself caps the group
    assert b[200]["clipped"] == 5.0 and b[201]["clipped"] == 1e9


# --- crawl link graph -----------------------------------------------------


def test_html_links_parses_hand_page(spark):
    from iconic_data_science_spark.operators.text import html_links

    page = '<html><body><a href="/x">First</a> text <a href="/y/z">Sec ond</a></body></html>'
    df = spark.createDataFrame([(5, page)], "doc_id long, html string")
    rows = sorted(map(tuple, html_links(df).collect()))
    assert rows == [(5, 0, "/x", "First"), (5, 1, "/y/z", "Sec ond")]


def test_synth_html_linked_rules(spark):
    from iconic_data_science_spark.operators.text import html_links, synth_html_linked

    df = spark.createDataFrame(
        [(0, "a b", "src0", "en"), (30, "a b", "src1", "en")],
        "doc_id long, text string, source string, lang string",
    )
    links = html_links(synth_html_linked(df))
    doc_links = {
        r["doc_id"]: [x["href"] for x in links.filter(links.doc_id == r["doc_id"])
                      .orderBy("pos").collect() if x["href"].startswith("/doc/")]
        for r in df.select("doc_id").collect()
    }
    # doc 0: every rule yields 0 -> self-links dropped -> none
    assert doc_links[0] == []
    # doc 30: div 2/3/5 -> 15, 10, 6 in rule order
    assert doc_links[30] == ["/doc/15", "/doc/10", "/doc/6"]
    # nav links always present at pos 0/1
    nav = links.filter("doc_id = 0").orderBy("pos").collect()[:2]
    assert [n["href"] for n in nav] == ["/", "/s/src0"]


# --- sliding KMV ------------------------------------------------------------


def test_kmv_sliding_merge_is_exact(spark, sf_dir):
    """The window estimate from MERGED hourly panes must equal
    kmv_distinct computed directly on the window's raw events —
    k-minima of a union == k-minima of the per-pane k-minima."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.sketch import (
        kmv_distinct,
        kmv_sliding_distinct,
    )

    ev = Catalog(spark, sf_dir).events
    slid = {
        (r["event_type"], r["win_end_hour"]): r["est_distinct"]
        for r in kmv_sliding_distinct(ev, window_hours=3).collect()
    }
    assert slid
    # verify a handful of windows against the direct sketch of the raw slice
    some = sorted(slid)[:5] + sorted(slid)[-5:]
    hour = F.expr("unix_timestamp(ts) div 3600")
    for etype, w in some:
        raw = ev.filter(
            (F.col("event_type") == etype)
            & hour.between(w - 2, w)
        )
        direct = {
            r["event_type"]: r["est_distinct"] for r in kmv_distinct(raw).collect()
        }
        assert direct[etype] == slid[(etype, w)], (etype, w)


# --- classifier gate --------------------------------------------------------


def test_classifier_gate_hand_model(spark):
    """Hand-checkable model: weight 1000 on every bucket makes the
    logit = Σ signs; an empty-ish doc scores the bias."""
    from iconic_data_science_spark.operators.featurize import linear_classifier_gate

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in
           linear_classifier_gate(df, [1000] * 16, bias_micro=7).collect()}
    # same token twice -> same sign twice -> logit = 7 + 2*sign*1000
    assert out[2]["logit_micro"] in (7 + 2000, 7 - 2000)
    assert out[2]["n_tokens"] == 2
    # keep is the strict logit > 0 gate
    for r in out.values():
        assert r["keep"] == (1 if r["logit_micro"] > 0 else 0)


def test_classifier_gate_distributes_over_buckets(spark, sf_dir):
    """The in-row token fold must equal the bucket-space dot product
    computed via hashed features (the algebra the docstring claims)."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.operators.featurize import (
        hashed_tfidf,
        linear_classifier_gate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50).cache()
    dim = 64
    weights = [((f * 97) % 201) - 100 for f in range(dim)]
    gate = {r["doc_id"]: r["logit_micro"] for r in
            linear_classifier_gate(docs, weights, bias_micro=0).collect()}
    # bucket values via the hashed_tfidf pipeline's (doc,feature,value)
    # grain (top_k = dim so nothing is cut)
    feats = hashed_tfidf(docs, dim=dim, top_k=dim).collect()
    agg: dict = {}
    for r in feats:
        agg[r["doc_id"]] = agg.get(r["doc_id"], 0) + r["value"] * weights[r["feature"]]
    assert agg == {k: v for k, v in gate.items() if k in agg}
    docs.unpersist()


# --- decayed value ----------------------------------------------------------


def test_decayed_value_hand_ledger(spark):
    """Two events 24h apart: the older one's cents carry half weight."""
    import datetime as dt

    from iconic_data_science_spark.operators.decay import decayed_value

    t0 = dt.datetime(2024, 1, 2, 0, 0, 0)
    rows = [
        (1, t0, "a", 10.00),                       # age 0  -> w = 1_000_000
        (2, t0 - dt.timedelta(hours=24), "a", 10.00),  # age 1 -> w = 500_000
        (3, t0 - dt.timedelta(hours=24 * 30), "a", 10.00),  # age 30 > cap -> 0
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    out = decayed_value(df, bucket_hours=24, max_age_buckets=20).collect()[0]
    assert out["n_events"] == 3
    assert out["decayed_micro"] == 1000 * 1_000_000 + 1000 * 500_000


def test_decayed_value_partition_invariant(spark, sf_dir):
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.decay import decayed_value

    ev = Catalog(spark, sf_dir).events
    a = sorted(map(tuple, decayed_value(ev).collect()))
    b = sorted(map(tuple, decayed_value(ev.repartition(17)).collect()))
    assert a == b


# --- video scene cuts -------------------------------------------------------


def test_video_cuts_hand_frames(spark):
    """Hand-built AVI: identical frames -> delta 0; a full black->white
    flip -> delta 255 per value and a cut."""
    import numpy as np

    from iconic_data_science_spark.operators.multimodal import encode_avi
    from iconic_data_science_spark.operators.video import video_scene_cuts

    h, w = 4, 4
    black = np.zeros((h, w, 3), dtype=np.uint8)
    white = np.full((h, w, 3), 255, dtype=np.uint8)
    frames = np.stack([black, black, white])
    media = spark.createDataFrame(
        [(9, "video", bytearray(encode_avi(w, h, 5, frames)))],
        "media_id long, kind string, payload binary",
    )
    rows = {r["frame_no"]: r for r in video_scene_cuts(media).collect()}
    assert rows[1]["delta"] == 0 and rows[1]["cut"] == 0
    assert rows[2]["delta"] == 255 * h * w * 3 and rows[2]["cut"] == 1
    assert rows[2]["n_values"] == h * w * 3


# --- co-occurrence ----------------------------------------------------------


def test_cooccurrence_hand_counts(spark):
    """'a b a b': forward window 2 gives (a,b)x2, (b,a)x1, (a,a)x1,
    (b,b)x1 — check with min_count 1 and the lift expression."""
    from iconic_data_science_spark.operators.featurize import window_cooccurrence

    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in
           window_cooccurrence(df, window=2, min_count=1).collect()}
    assert out[("a", "b")]["pair_n"] == 2
    assert out[("b", "a")]["pair_n"] == 1
    assert out[("a", "a")]["pair_n"] == 1
    assert out[("b", "b")]["pair_n"] == 1
    # unigram counts and the documented lift expression
    r = out[("a", "b")]
    assert r["w1_n"] == 2 and r["w2_n"] == 2
    t = sum(x["pair_n"] for x in out.values())
    assert r["lift_ppm"] == ((2 * 1_000_000) // 2) * t // 2


def test_cooccurrence_short_docs_no_pairs(spark):
    from iconic_data_science_spark.operators.featurize import window_cooccurrence

    df = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    assert window_cooccurrence(df, window=3, min_count=1).count() == 0


# --- audio resample ---------------------------------------------------------


def test_resample_audio_halves_and_decimates(spark):
    import numpy as np

    from iconic_data_science_spark.operators.audio import resample_audio
    from iconic_data_science_spark.operators.multimodal import decode_wav, encode_wav

    samples = np.arange(11, dtype=np.int64) * 100 - 500
    media = spark.createDataFrame(
        [(3, "audio", bytearray(encode_wav(8000, samples))),
         (4, "image", bytearray(b"not-audio"))],
        "media_id long, kind string, payload binary",
    )
    rows = {r["media_id"]: r for r in resample_audio(media, factor=2).collect()}
    rate, _, got = decode_wav(bytes(rows[3]["payload"]))
    assert rate == 4000
    assert list(got) == list(samples[::2])
    # non-audio payloads pass through byte-identical
    assert bytes(rows[4]["payload"]) == b"not-audio"


# --- vacuum plan ------------------------------------------------------------


def test_vacuum_plan_classification(spark):
    from iconic_data_science_spark.operators.lakehouse import vacuum_plan

    rows = [
        # (version, file_id, part, size)
        (0, 1, 0, 10), (1, 1, 0, 10), (2, 1, 0, 10),   # last=2 < 3 -> deletable
        (0, 2, 0, 20), (3, 2, 0, 20),                   # last=3 >= 3, < cur -> retained
        (0, 3, 0, 30), (4, 3, 0, 30),                   # last=4 == cur -> live
    ]
    df = spark.createDataFrame(rows, "version long, file_id long, part long, size long")
    got = {r["file_id"]: r for r in vacuum_plan(df, retain_from_version=3).collect()}
    assert got[1]["status"] == "deletable" and got[1]["last_version"] == 2
    assert got[2]["status"] == "retained"
    assert got[3]["status"] == "live" and got[3]["first_version"] == 0
    # pinned current_version overrides the ledger max
    got5 = {r["file_id"]: r for r in
            vacuum_plan(df, retain_from_version=3, current_version=5).collect()}
    assert got5[3]["status"] == "retained"


# --- transition matrix ------------------------------------------------------


def test_transition_matrix_hand_journeys(spark):
    import datetime as dt

    from iconic_data_science_spark.operators.events import transition_matrix

    t = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, t + 0 * s, 10, "view"), (2, t + 1 * s, 10, "click"),
        (3, t + 2 * s, 10, "buy"),
        (4, t + 0 * s, 20, "view"), (5, t + 1 * s, 20, "click"),
        (6, t + 2 * s, 20, "view"),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {(r["from_type"], r["to_type"]): r for r in transition_matrix(df).collect()}
    assert got[("view", "click")]["n"] == 2
    assert got[("click", "buy")]["n"] == 1 and got[("click", "view")]["n"] == 1
    # view -> click is the only view transition: 1_000_000 ppm
    assert got[("view", "click")]["prob_ppm"] == 1_000_000
    # click splits evenly
    assert got[("click", "buy")]["prob_ppm"] == 500_000
    # no cross-user pair: user 20's first event never follows user 10's last
    assert ("buy", "view") not in got


# --- containment join -------------------------------------------------------


def test_containment_short_in_long(spark):
    """A short doc fully contained in a long one is found in the
    contained->container direction; the reverse direction fails the
    threshold (the asymmetry symmetric Jaccard lacks)."""
    from iconic_data_science_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join("w%d" % i for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "totally different words here entirely")],
        "doc_id long, text string",
    )
    got = {(r["id_contained"], r["id_container"]): r
           for r in containment_pairs(df, n=3, threshold=0.8).collect()}
    assert (1, 2) in got
    assert got[(1, 2)]["containment_pct"] == 100
    assert (2, 1) not in got           # long is NOT contained in short
    assert all(3 not in k for k in got)


def test_containment_matches_naive(spark, sf_dir):
    """Prefix-filtered candidates + array verify must equal the naive
    all-pairs theta join on the same shingle sets."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.operators.dedup import (
        containment_pairs,
        hashed_shingle_arrays,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fast = sorted(map(tuple, containment_pairs(docs, n=3, threshold=0.5).collect()))
    sh = hashed_shingle_arrays(docs, n=3).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    a = sh.select(F.col("doc_id").alias("x"), "s")
    b = sh.select(F.col("doc_id").alias("y"), "s")
    inter = (
        a.join(b, "s").filter("x <> y").groupBy("x", "y").count()
    )
    szs = {r["doc_id"]: r["n"] for r in
           hashed_shingle_arrays(docs, n=3)
           .select("doc_id", F.size("shingles").alias("n")).collect()}
    import math

    naive = sorted(
        (r["x"], r["y"], r["count"], szs[r["x"]], r["count"] * 100 // szs[r["x"]])
        for r in inter.collect()
        if r["count"] >= math.ceil(0.5 * szs[r["x"]])
    )
    assert fast == naive


# --- MAD anomaly ------------------------------------------------------------


def test_mad_anomaly_hand_series(spark):
    """9 calm hours + 1 spike: the spike flags under MAD but would
    also shift a mean/σ baseline — here the median is untouched."""
    import datetime as dt

    from iconic_data_science_spark.operators.timeseries import mad_anomaly_hours

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(10):
        burst = 500 if h == 9 else (10 + h % 3)  # calm: 10/11/12
        for i in range(burst):
            rows.append((eid, t0 + dt.timedelta(hours=h, seconds=i), "a"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r["hour"] - rows[0][1].timestamp() // 3600: r
           for r in mad_anomaly_hours(df, k=3).collect()}
    flagged = {h for h, r in out.items() if r["anomalous"] == 1}
    assert flagged == {9}
    r0 = next(iter(out.values()))
    assert r0["med"] == 11  # lower median of {10,10,10,11,11,11,12,12,12,500}
    assert r0["mad"] == 1


# --- regression pins -------------------------------------------------------


def test_temperature_sample_large_budget_not_empty(spark):
    """budget_tokens >= 1e8 used to overflow the decimal(14,0) keep
    literal to NULL and silently return an EMPTY sample; the widened
    decimal(28,0) literal must keep the rule exact — a budget at twice
    the corpus token count keeps EVERY document."""
    from iconic_data_science_spark.operators.mixing import temperature_sample

    rows = [(i, "w " * 9 + "w", "en" if i % 2 else "fr") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = temperature_sample(df, budget_tokens=10**12).count()
    assert kept == 200


def test_temperature_sample_param_overflow_raises(spark):
    """Out-of-range parameters must raise eagerly, never silently
    NULL-out the keep predicate."""
    import pytest as _pytest

    from iconic_data_science_spark.operators.mixing import temperature_sample

    df = spark.createDataFrame([(1, "a b", "en")], "doc_id long, text string, lang string")
    with _pytest.raises(ValueError, match="bucket_space"):
        temperature_sample(df, bucket_space=10**8)
    with _pytest.raises(ValueError, match="decimal"):
        temperature_sample(df, budget_tokens=10**23, bucket_space=10**6)


def test_kmv_sliding_delimiter_in_event_type(spark, sf_dir):
    """An event_type containing '|' must not corrupt pane keys: the
    composite (event_type, pane_hour) group is carried as typed columns,
    so renaming a type to contain the old delimiter leaves every
    estimate identical (bijection invariance)."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.sketch import kmv_sliding_distinct

    ev = Catalog(spark, sf_dir).events
    plain = {
        (r["event_type"], r["win_end_hour"]): (r["n_panes"], r["est_distinct"])
        for r in kmv_sliding_distinct(ev, window_hours=3).collect()
    }
    piped = {
        (r["event_type"], r["win_end_hour"]): (r["n_panes"], r["est_distinct"])
        for r in kmv_sliding_distinct(
            ev.withColumn("event_type", F.concat(F.col("event_type"), F.lit("|x"))),
            window_hours=3,
        ).collect()
    }
    assert piped == {(f"{t}|x", w): v for (t, w), v in plain.items()}


# --- distributed classifier training -----------------------------------------


def test_trainer_learns_separable_rule(spark):
    """A trivially separable label (docs containing 'zebra') must be
    learned essentially perfectly: the pocket weights' error on the
    training set reaches 0 (perceptron convergence on separable data)."""
    from iconic_data_science_spark.operators.featurize import (
        linear_classifier_gate,
        train_linear_classifier,
    )

    rows = []
    for i in range(120):
        base = ["alpha", "beta", "gamma", "delta"][i % 4]
        words = [base] * 5 + (["zebra"] if i % 3 == 0 else ["yak"])
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    label = F.when(F.array_contains(F.split(F.col("text"), " "), "zebra"), 1).otherwise(-1)
    w = train_linear_classifier(df, label, dim=64, epochs=16)
    wm = {int(r["feature"]): int(r["weight_micro"]) for r in w.collect()}
    weights = [wm.get(f, 0) for f in range(64)]
    got = linear_classifier_gate(df, weights, bias_micro=wm.get(-1, 0)).collect()
    want = {i: (1 if i % 3 == 0 else 0) for i in range(120)}
    errs = sum(1 for r in got if r["keep"] != want[r["doc_id"]])
    assert errs == 0, f"{errs} training errors on separable data"


def test_trainer_partitioning_invariant(spark, sf_dir):
    """Full-batch integer recurrence ⇒ the learned weights are a pure
    function of the data, not its partitioning."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.featurize import train_linear_classifier

    docs = Catalog(spark, sf_dir).documents
    label = F.when(F.col("doc_id") % 3 == 0, 1).otherwise(-1)
    a = sorted(
        (r["feature"], r["weight_micro"])
        for r in train_linear_classifier(docs, label, dim=64, epochs=4).collect()
    )
    b = sorted(
        (r["feature"], r["weight_micro"])
        for r in train_linear_classifier(
            docs.repartition(13), label, dim=64, epochs=4
        ).collect()
    )
    assert a == b


def test_trainer_pocket_beats_final_epoch(spark, sf_dir):
    """The pocket rule must return the argmin-error iterate: its error
    is ≤ the error of every epoch the trainer visited (checked against
    the keyword seed rule the registered query trains on)."""
    import __spark_entry__ as entrymod
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.featurize import (
        linear_classifier_gate,
        train_linear_classifier,
    )

    docs = Catalog(spark, sf_dir).documents
    label = entrymod._quality_label_col()
    lab = {r["doc_id"]: r["y"] for r in docs.select("doc_id", label.alias("y")).collect()}

    def err_of(weights_df):
        wm = {int(r["feature"]): int(r["weight_micro"]) for r in weights_df.collect()}
        weights = [wm.get(f, 0) for f in range(256)]
        g = linear_classifier_gate(docs, weights, bias_micro=wm.get(-1, 0)).collect()
        return sum(1 for r in g if (r["logit_micro"] > 0) != (lab[r["doc_id"]] == 1))

    e4 = err_of(train_linear_classifier(docs, label, dim=256, epochs=4))
    e8 = err_of(train_linear_classifier(docs, label, dim=256, epochs=8))
    # pocket error is monotone non-increasing in the epoch budget
    assert e8 <= e4
    # and the trained model beats the all-negative majority baseline
    majority = min(sum(1 for y in lab.values() if y == 1),
                   sum(1 for y in lab.values() if y == -1))
    assert e8 < majority


def test_threshold_eval_hand_counts(spark):
    """Hand-checkable sweep: weight 1000 on every bucket makes the
    logit = 1000·Σsigns; four docs with known sign sums and labels give
    exact confusion counts at thresholds −1 500/0/1 500."""
    from iconic_data_science_spark.operators.featurize import (
        classifier_threshold_eval,
        linear_classifier_gate,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f"), (4, "")],
        "doc_id long, text string",
    )
    weights = [1000] * 64
    logits = {
        r["doc_id"]: r["logit_micro"]
        for r in linear_classifier_gate(docs, weights).collect()
    }
    label = F.when(F.col("doc_id") <= 2, 1).otherwise(-1)
    y = {1: 1, 2: 1, 3: -1, 4: -1}
    out = {
        r["thr_micro"]: r
        for r in classifier_threshold_eval(
            docs, weights, label, thresholds_micro=(-1500, 0, 1500)
        ).collect()
    }
    for thr, r in out.items():
        tp = sum(1 for d in y if logits[d] > thr and y[d] == 1)
        fp = sum(1 for d in y if logits[d] > thr and y[d] == -1)
        fn = sum(1 for d in y if logits[d] <= thr and y[d] == 1)
        tn = sum(1 for d in y if logits[d] <= thr and y[d] == -1)
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn), thr
        want_p = -1 if tp + fp == 0 else (tp * 10**6) // (tp + fp)
        assert r["precision_ppm"] == want_p


def test_domain_reweight_upweights_hard_domains(spark):
    """Higher-loss domains must end with strictly higher weight; equal
    losses tie exactly; weights renormalize to ~1e6 ppm each round."""
    from iconic_data_science_spark.operators.mixing import domain_reweight

    losses = spark.createDataFrame(
        [("easy", 100_000), ("hard", 600_000), ("mid", 300_000), ("mid2", 300_000)],
        "domain string, loss_ppm long",
    )
    out = {r.domain: r.w_ppm for r in domain_reweight(losses, rounds=5).collect()}
    assert out["hard"] > out["mid"] > out["easy"]
    assert out["mid"] == out["mid2"]
    assert abs(sum(out.values()) - 1_000_000) <= len(out)  # div truncation slack


def test_quality_deciles_value_bucket_rule(spark):
    """All ties share one decile; the decile of a value equals
    (10·#below) div N; empty/null text lands in decile 0 with score 0."""
    from iconic_data_science_spark.operators.text import quality_deciles

    rows = [(i, "word " * (i + 1) + "word") for i in range(20)]
    rows += [(100, None), (101, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.score_milli, r.decile) for r in quality_deciles(df).collect()}
    assert out[100] == (0, 0) and out[101] == (0, 0)
    scores = sorted(s for s, _ in out.values())
    n = len(out)
    for doc, (s, d) in out.items():
        below = sum(1 for x in scores if x < s)
        assert d == (10 * below) // n, (doc, s, d)


# --- DSIR importance selection ------------------------------------------


def test_dsir_weights_match_python_model(spark):
    """Bucket weights and document scores replayed by an independent
    pure-Python model on a tiny hand corpus."""
    import hashlib

    from iconic_data_science_spark.operators.featurize import (
        dsir_bucket_weights,
        dsir_select,
    )

    rows = [
        (1, "alpha beta alpha beta", "en"),
        (2, "alpha beta gamma delta", "en"),
        (3, "gamma delta gamma delta", "de"),
        (4, "delta gamma epsilon zeta", "de"),
        (5, "solo", "de"),          # < 2 tokens: no bigrams
        (6, None, "de"),            # null text: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    dim, scale = 16, 10**6
    w = dsir_bucket_weights(df, target=F.col("lang") == "en", dim=dim, scale=scale)
    assert len(w) == dim and all(isinstance(x, int) for x in w)

    def fold(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    def buckets(text):
        t = [x for x in (text or "").lower().split(" ") if x]
        return [fold(f"{t[i]} {t[i+1]}") % dim for i in range(len(t) - 1)]

    c_s: dict[int, int] = {}
    c_t: dict[int, int] = {}
    for _id, text, lang in rows:
        for b in buckets(text):
            c_s[b] = c_s.get(b, 0) + 1
            if lang == "en":
                c_t[b] = c_t.get(b, 0) + 1
    n_s, n_t = sum(c_s.values()), sum(c_t.values())
    expect = [
        (scale * (c_t.get(b, 0) + 1) * (n_s + dim))
        // ((c_s.get(b, 0) + 1) * (n_t + dim))
        for b in range(dim)
    ]
    assert w == expect

    out = {r.doc_id: r for r in dsir_select(df, w, n_keep=6).collect()}
    for _id, text, _lang in rows:
        bs = buckets(text)
        assert out[_id].n_bigrams == len(bs)
        assert out[_id].dsir_score == sum(w[b] for b in bs)


def test_dsir_select_enriches_target(spark):
    """On a corpus where the target domain has a genuinely distinct
    bigram distribution, the selected half must over-represent the
    target; the cut is exactly n_keep rows and deterministic under
    repartitioning. (The sf documents table is unusable here: its lang
    label is independent of its token soup, so there is no signal to
    recover — parity for the registered query is still exercised on it,
    where only hash agreement matters.)"""
    from iconic_data_science_spark.operators.featurize import (
        dsir_bucket_weights,
        dsir_select,
    )

    tgt_vocab = ["proof", "lemma", "theorem", "corollary", "axiom"]
    src_vocab = ["sale", "discount", "cookie", "banner", "login"]
    rows = []
    for i in range(200):
        vocab = tgt_vocab if i < 80 else src_vocab
        # same length everywhere so score differences are distributional,
        # not length artifacts; rotate start offset for bigram variety
        toks = [vocab[(i + j) % len(vocab)] for j in range(12)]
        rows.append((i, " ".join(toks), "tgt" if i < 80 else "web"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    w = dsir_bucket_weights(docs, target=F.col("lang") == "tgt", dim=64)
    kept = dsir_select(docs, w, n_keep=100)
    kept_ids = {r.doc_id for r in kept.collect()}
    assert len(kept_ids) == 100
    n_tgt = sum(1 for i in kept_ids if i < 80)
    assert n_tgt == 80  # every target doc survives a 100-of-200 cut
    again = {
        r.doc_id
        for r in dsir_select(docs.repartition(13), w, n_keep=100).collect()
    }
    assert again == kept_ids


def test_dsir_pipeline_equals_primitives(spark, sf_dir):
    """dsir_pipeline (single-hash checkpoint) must return exactly the
    rows of dsir_bucket_weights + dsir_select run separately."""
    from iconic_data_science_spark.operators.featurize import (
        dsir_bucket_weights,
        dsir_pipeline,
        dsir_select,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tgt = F.col("lang") == "en"
    w = dsir_bucket_weights(docs, target=tgt)
    two_pass = sorted(map(tuple, dsir_select(docs, w, n_keep=50).collect()))
    fused = sorted(map(tuple, dsir_pipeline(docs, target=tgt, n_keep=50).collect()))
    assert fused == two_pass


# --- UniMax allocation -----------------------------------------------


def test_unimax_waterfill_properties(spark):
    """Hand corpus: tiny languages get capped at max_epochs passes,
    the rest split the remainder evenly; the budget is never
    exceeded."""
    from iconic_data_science_spark.operators.mixing import unimax_allocation

    # tokens per doc: text of n words; langs: tiny=10, small=50, big=1000, huge=2000
    rows, i = [], 0
    for lang, toks, ndocs in [("tiny", 10, 1), ("small", 50, 1), ("big", 1000, 1), ("huge", 2000, 1)]:
        rows.append((i, " ".join(["w"] * toks), lang)); i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.lang: r for r in unimax_allocation(df, budget_tokens=1000, max_epochs=2).collect()}
    # caps: tiny 20, small 100, big 2000, huge 4000; budget 1000:
    # i=1 tiny: share = 1000//4 = 250 >= 20 -> capped, alloc 20
    # i=2 small: share = 980//3 = 326 >= 100 -> capped, alloc 100
    # i=3 big: share = 880//2 = 440 < 2000 -> uncapped
    # i=4 huge: share = (1000-2120<0 -> 0) -> uncapped
    # k=2, final_share = 880//2 = 440 for big and huge
    assert out["tiny"].alloc_tokens == 20 and out["tiny"].cap_tokens == 20
    assert out["small"].alloc_tokens == 100
    assert out["big"].alloc_tokens == 440
    assert out["huge"].alloc_tokens == 440
    assert sum(r.alloc_tokens for r in out.values()) <= 1000
    # abundant budget: everyone capped at max_epochs
    out2 = {r.lang: r for r in unimax_allocation(df, budget_tokens=10**9, max_epochs=2).collect()}
    assert all(r.alloc_tokens == r.cap_tokens for r in out2.values())


def test_unimax_sample_matches_expected_rates(spark, sf_dir):
    """Kept token mass per language lands near its allocation (the
    md5 buckets are uniform), and sample == sample_against(alloc)."""
    from iconic_data_science_spark.operators.mixing import (
        unimax_allocation,
        unimax_sample,
        unimax_sample_against,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    alloc = unimax_allocation(docs, budget_tokens=10_000, max_epochs=2)
    a = sorted(map(tuple, unimax_sample(docs, budget_tokens=10_000, max_epochs=2).collect()))
    b = sorted(map(tuple, unimax_sample_against(docs, alloc).collect()))
    assert a == b
    kept = {}
    for doc_id, lang, nt in a:
        kept[lang] = kept.get(lang, 0) + nt
    for r in alloc.collect():
        if r.alloc_tokens > 200:  # enough mass for the CLT to bite
            assert 0.3 * r.alloc_tokens <= kept.get(r.lang, 0) <= 2.5 * r.alloc_tokens


def test_unimax_and_temperature_nondefault_id_col(spark, sf_dir):
    """Regression: a non-default id_col used to raise an
    unresolved-column AnalysisException because the keep filter hashed
    id_col after the frame had renamed it to doc_id. Renamed inputs
    must produce the exact same kept set (the hash is over the values,
    which the alias preserves)."""
    from iconic_data_science_spark.operators.mixing import (
        temperature_sample,
        unimax_allocation,
        unimax_sample,
        unimax_sample_against,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    renamed = docs.withColumnRenamed("doc_id", "paper_id")
    alloc = unimax_allocation(docs, budget_tokens=10_000, max_epochs=2)
    base = sorted(map(tuple, unimax_sample_against(docs, alloc).collect()))
    ren = sorted(
        map(
            tuple,
            unimax_sample_against(renamed, alloc, id_col="paper_id").collect(),
        )
    )
    assert base == ren and base
    t_base = sorted(
        map(tuple, temperature_sample(docs, budget_tokens=10_000).collect())
    )
    t_ren = sorted(
        map(
            tuple,
            temperature_sample(
                renamed, budget_tokens=10_000, id_col="paper_id"
            ).collect(),
        )
    )
    assert t_base == t_ren and t_base


def test_trainer_local_tier_matches_distributed(spark):
    """The driver-local trainer tier must be row-identical to the
    distributed epochs (local_train_pairs=None) on corpora exercising
    the replica's hard cases: duplicate doc ids (dup labels share the
    merged doc's margin and multiply the gradient), NULL labels (never
    misclassified, never an error), a doc with no tokens (margin = bias
    only), and non-±1 label values."""
    from iconic_data_science_spark.operators.featurize import train_linear_classifier

    rows = []
    for i in range(60):
        base = ["alpha", "beta", "gamma"][i % 3]
        rows.append((i, " ".join([base] * 3 + (["zebra"] if i % 4 == 0 else []))))
    rows.append((7, "zebra zebra alpha"))     # duplicate doc_id 7
    rows.append((61, ""))                     # no tokens: margin = bias
    df = spark.createDataFrame(rows, "doc_id long, text string")
    labels = [
        F.when(F.col("doc_id") % 4 == 0, 1).otherwise(-1),
        # NULL labels for one residue class
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("long")).otherwise(
            F.when(F.col("doc_id") % 4 == 0, 1).otherwise(-1)
        ),
        # non-±1 magnitudes
        F.when(F.col("doc_id") % 4 == 0, 3).otherwise(-2),
    ]
    for lbl in labels:
        a = sorted(
            tuple(r)
            for r in train_linear_classifier(df, lbl, dim=32, epochs=6).collect()
        )
        b = sorted(
            tuple(r)
            for r in train_linear_classifier(
                df, lbl, dim=32, epochs=6, local_train_pairs=None
            ).collect()
        )
        assert a == b
