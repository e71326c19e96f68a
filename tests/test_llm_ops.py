"""Behavioral tests for the LLM-pipeline operators (similarity, text,
multimodal) beyond the oracle parity harness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iconic_data_science_spark.catalog import Catalog
from iconic_data_science_spark.operators import multimodal
from iconic_data_science_spark.operators.similarity import brute_force_topk, lsh_topk


def test_ann_lsh_results_subset_of_bucket_and_exact_cosines(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    queries = cat.embeddings.filter(F.col("vec_id") % 50 == 0)
    bf = {(r.query_id, r.neighbor_id): r.cosine for r in brute_force_topk(cat.embeddings, queries, k=5).collect()}
    lsh = {(r.query_id, r.neighbor_id): r.cosine for r in lsh_topk(cat.embeddings, queries, k=5).collect()}
    # LSH cosines must be exact (same lattice) wherever pairs overlap
    for pair, cos in lsh.items():
        if pair in bf:
            assert cos == bf[pair]
    # each query returns at most k neighbors, ranks contiguous from 1
    from collections import Counter

    per_q = Counter(q for q, _ in lsh.items())
    assert all(v <= 5 for v in per_q.values())


def test_multimodal_features_deterministic_and_normalized(spark):
    media = multimodal.synth_media(spark, 64)
    f1 = {r.media_id: list(r.features) for r in multimodal.byte_histogram_features(media).collect()}
    f2 = {r.media_id: list(r.features) for r in multimodal.byte_histogram_features(media).collect()}
    assert f1 == f2
    assert all(len(v) == multimodal.FEATURE_DIM for v in f1.values())
    for v in f1.values():
        assert abs(sum(v) - 1.0) < 1e-5  # L1-normalized


def test_multimodal_decode_stub_gated(spark):
    media = multimodal.synth_media(spark, 8)
    # opaque payloads + codec gate -> the UDF raises (PySpark wraps the
    # NotImplementedError in PythonException at collect time)
    with pytest.raises(Exception, match="codec"):
        multimodal.decode_media(media).collect()
    # pass-through path runs end to end (format sniffed, null stats)
    out = multimodal.decode_media(media, require_codecs=False).collect()
    assert len(out) == 8
    assert all(r.format == "unknown" and r.n_pixels is None for r in out)
    # opaque video payloads are codec-gated in frame_sample too
    # (UDF-side raise, surfaces at execution)
    with pytest.raises(Exception, match="ffmpeg"):
        multimodal.frame_sample(media).collect()
    # pass-through mode skips the undecodable payloads
    assert multimodal.frame_sample(media, require_codecs=False).count() == 0


def test_multimodal_resize_real_bmp(spark):
    # opaque (non-BMP) payloads stay codec-gated (UDF-side raise)
    with pytest.raises(Exception, match="Pillow"):
        multimodal.resize_images(multimodal.synth_media(spark, 12)).collect()
    # BMP payloads resize natively, even with require_codecs=True
    media = multimodal.synth_media_real(spark, 12)
    out = multimodal.resize_images(media, width=8, height=8)
    rows = out.collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(rows) == n_images
    from iconic_data_science_spark.operators.jpeg import decode_jpeg

    decoders = {
        "bmp": multimodal.decode_bmp,
        "png": multimodal.decode_png,
        "gif": multimodal.decode_gif,
        "jpeg": decode_jpeg,
    }
    for r in rows:
        buf = bytes(r.payload)
        px = decoders[multimodal.sniff_format(buf)](buf)
        assert px.shape == (8, 8, 3)  # format preserved, raster resized
    # deterministic: same ids -> same bytes on rerun
    again = {r.media_id: bytes(r.payload) for r in multimodal.resize_images(
        media, width=8, height=8).collect()}
    assert {r.media_id: bytes(r.payload) for r in rows} == again


def test_media_stats_schema(spark):
    stats = multimodal.media_stats(multimodal.synth_media(spark, 32)).collect()
    kinds = {r.kind for r in stats}
    assert kinds == {"image", "audio", "video"}
    assert all(r.total_bytes > 0 for r in stats)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_pii_redact_fixture(spark):
    from iconic_data_science_spark.operators.text import pii_redact

    docs = _docs(spark, [
        (1, "contact bob.smith+spam@example.co.uk or 555-123-4567 now"),
        (2, "ssn 123-45-6789 from host 192.168.0.1"),
        (3, "no pii here at all"),
        (4, "two mails a@b.io c@d.org and dotted phone 555.123.4567"),
    ])
    out = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert (out[1].n_email, out[1].n_phone) == (1, 1)
    assert out[1].clean_text == "contact <EMAIL> or <PHONE> now"
    assert (out[2].n_ssn, out[2].n_ipv4, out[2].n_phone) == (1, 1, 0)
    assert out[2].clean_text == "ssn <SSN> from host <IP>"
    assert out[3].clean_text == "no pii here at all"
    assert all(getattr(out[3], c) == 0 for c in ("n_email", "n_ssn", "n_phone", "n_ipv4"))
    assert (out[4].n_email, out[4].n_phone) == (2, 1)
    assert out[4].clean_text == "two mails <EMAIL> <EMAIL> and dotted phone <PHONE>"


def test_repetition_stats_fixture(spark):
    from iconic_data_science_spark.operators.text import repetition_stats

    docs = _docs(spark, [
        (1, "a a a a b"),          # top token 4/5, top bigram "a a" 3/4
        (2, "a b c d e f g h i j k l"),  # no repetition (past the length gate)
        (3, "x"),                  # single token: no bigrams, guard path
    ])
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    r1 = out[1]
    assert (r1.n_tokens, r1.distinct_tokens, r1.top_token_count) == (5, 2, 4)
    assert (r1.n_bigrams, r1.top_bigram_count) == (4, 3)
    assert r1.repetitive
    r2 = out[2]
    assert (r2.top_token_count, r2.top_bigram_count) == (1, 1)
    assert not r2.repetitive
    r3 = out[3]
    assert (r3.n_tokens, r3.n_bigrams, r3.top_bigram_count) == (1, 0, 0)
    assert r3.top_bigram_ratio == 0.0
    assert r3.repetitive  # 1 of 1 tokens is the top token


def test_top_terms_weights_and_tiebreak(spark):
    from iconic_data_science_spark.operators.text import top_terms

    # "common" appears in both docs (df=2), the others in one (df=1)
    docs = _docs(spark, [
        (1, "common rare1 rare1 zeta alpha"),
        (2, "common rare2"),
    ])
    out = top_terms(docs, k=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    d1 = sorted(by_doc[1], key=lambda r: r.rn)
    # rare1 tf=2 df=1 -> 2e6; alpha/zeta tf=1 df=1 -> 1e6 (tie -> term asc)
    assert [(r.term, r.weight) for r in d1] == [
        ("rare1", 2_000_000), ("alpha", 1_000_000), ("zeta", 1_000_000)]
    d2 = sorted(by_doc[2], key=lambda r: r.rn)
    # rare2 1e6 beats common tf=1 df=2 -> 500_000
    assert [(r.term, r.weight) for r in d2] == [("rare2", 1_000_000), ("common", 500_000)]


def test_decontaminate_fixture(spark):
    from iconic_data_science_spark.operators.dedup import decontaminate

    bench = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
    train = _docs(spark, [
        (1, "prefix the quick brown fox jumps over suffix"),  # shares 5-grams
        (2, "completely different words entirely here now ok"),
    ])
    out = {r.doc_id: r for r in decontaminate(train, bench, n=5).collect()}
    assert set(out) == {1}
    # "the quick brown fox jumps" and "quick brown fox jumps over"
    assert out[1].n_shared_ngrams == 2
    assert out[1].n_benchmark_docs == 1


def test_vocab_oov_tiebreak_and_counts(spark):
    from iconic_data_science_spark.operators.text import vocab_oov

    # global counts: a=3, b=2, c=2, d=1. vocab_size=2 -> {a, b} (c ties
    # with b on count; term asc keeps b). doc 2's c+d are OOV.
    docs = _docs(spark, [(1, "a a b c"), (2, "a b c d")])
    out = {r.doc_id: r for r in vocab_oov(docs, vocab_size=2).collect()}
    assert (out[1].n_tokens, out[1].n_oov) == (4, 1)
    assert (out[2].n_tokens, out[2].n_oov) == (4, 2)
    assert out[2].oov_ratio == 0.5


def test_text_ops_empty_and_degenerate_docs(spark):
    from iconic_data_science_spark.operators.text import (
        pii_redact, repetition_stats, top_terms, vocab_oov)
    from iconic_data_science_spark.operators.dedup import decontaminate

    empty = _docs(spark, [])
    assert repetition_stats(empty).count() == 0
    assert top_terms(empty).count() == 0
    assert vocab_oov(empty).count() == 0
    assert pii_redact(empty).count() == 0
    assert decontaminate(empty, empty).count() == 0
    # empty-string text: split yields one "" token in both engines
    deg = _docs(spark, [(1, "")])
    r = repetition_stats(deg).collect()[0]
    assert (r.n_tokens, r.distinct_tokens, r.n_bigrams) == (1, 1, 0)
    v = vocab_oov(deg, vocab_size=1).collect()[0]
    assert (v.n_tokens, v.n_oov) == (1, 0)  # "" IS the vocabulary


def test_ngram_cap_recall_contract(spark):
    """Pins the df-cap recall contract (dedup.DEFAULT_MAX_SHINGLE_FREQ
    rationale): pairs overlapping ONLY in boilerplate shingles disappear
    under the cap; pairs with genuine (sub-cap) shared content survive
    with exact Jaccard over the capped shingle universe."""
    from iconic_data_science_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "subscribe to our newsletter for updates"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta epsilon"),
            (2, f"{boiler} alpha beta gamma delta zeta"),   # near-dup of 1
            (3, f"{boiler} totally different content here now"),
            (4, f"{boiler} unrelated words occupy this document"),
            (5, f"{boiler} yet another separate piece entirely"),
            (6, f"{boiler} final distinct filler text block"),
        ],
        "doc_id long, text string",
    )
    uncapped = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_shingle_freq=None).collect()
    }
    capped = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_shingle_freq=3).collect()
    }
    # boilerplate appears in all 6 docs -> every pair clears 0.2 uncapped
    assert len(uncapped) == 15
    # capped: only the genuine near-dup pair survives; its Jaccard is
    # exact over the capped universe (4 shared of 6 sub-cap shingles) —
    # note the cap also removes boilerplate credit from true pairs, so
    # the capped score can be LOWER than uncapped (0.8 here)
    assert set(capped) == {(1, 2)}
    assert capped[(1, 2)] == pytest.approx(4 / 6)
    assert uncapped[(1, 2)] == pytest.approx(0.8)


def test_bmp_roundtrip_including_row_padding():
    import numpy as np

    # width 5 -> 15-byte rows padded to 16: exercises the 4-byte padding
    px = (np.arange(5 * 3 * 3, dtype=np.int64) * 37 % 256).astype(np.uint8).reshape(3, 5, 3)
    buf = multimodal.encode_bmp(5, 3, px)
    assert multimodal.sniff_format(buf) == "bmp"
    assert np.array_equal(multimodal.decode_bmp(buf), px)


def test_wav_roundtrip_matches_stdlib_wave():
    import io
    import wave

    import numpy as np

    samples = (np.arange(777, dtype=np.int64) * 131 % 4096 - 2048).astype(np.int16)
    buf = multimodal.encode_wav(8000, samples)
    assert multimodal.sniff_format(buf) == "wav"
    sr, ch, got = multimodal.decode_wav(buf)
    assert (sr, ch) == (8000, 1)
    assert np.array_equal(got, samples)
    # independent parse by the stdlib wave reader
    with wave.open(io.BytesIO(buf)) as w:
        assert w.getframerate() == 8000
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        ref = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    assert np.array_equal(ref, samples)


def test_decode_media_real_stats(spark):
    import numpy as np

    media = multimodal.synth_media_real(spark, 9)
    stats = {r.media_id: r for r in multimodal.decode_media(media, require_codecs=False).collect()}
    assert len(stats) == 9
    # image id=0: 4x4 BMP, pixel pattern (id*31 + p*7 + c*13) % 256
    r = stats[0]
    idx = np.arange(4 * 4 * 3, dtype=np.int64).reshape(4, 4, 3)
    px = ((0 * 31 + (idx // 3) * 7 + (idx % 3) * 13) % 256).astype(np.int64)
    assert r.format == "bmp" and (r.width, r.height) == (4, 4)
    assert r.n_pixels == 16 and r.sum_abs == int(px.sum()) and r.peak == int(px.max())
    # audio id=1: 101 samples of ((id*13 + i*17) % 4096) - 2048 at 8 kHz
    r = stats[1]
    i = np.arange(101, dtype=np.int64)
    samples = (1 * 13 + i * 17) % 4096 - 2048
    assert r.format == "wav" and r.sample_rate == 8000 and r.n_samples == 101
    assert r.sum_abs == int(np.abs(samples).sum()) and r.peak == int(np.abs(samples).max())
    # video id=2: real uncompressed AVI — nf=4 frames of 6x6 at 5 fps
    r = stats[2]
    nf, w, h = 2 % 4 + 2, 2 % 12 + 4, 2 % 8 + 4
    idx = np.arange(nf * h * w * 3, dtype=np.int64).reshape(nf, h, w, 3)
    px = ((2 * 31 + (idx // 3) * 7 + (idx % 3) * 13 + (idx // (h * w * 3)) * 97) % 256).astype(np.int64)
    assert r.format == "avi" and (r.width, r.height) == (w, h)
    assert r.n_samples == nf  # frame count
    assert r.n_pixels == nf * h * w
    assert r.sum_abs == int(px.sum()) and r.peak == int(px.max())
    # real payloads decode under the strict codec gate too
    strict = multimodal.decode_media(media).collect()
    assert len(strict) == 9


def test_avi_roundtrip_and_frame_sample(spark):
    import numpy as np

    from iconic_data_science_spark.operators.multimodal import (
        decode_avi,
        encode_avi,
        frame_sample,
        sniff_format,
    )

    # local round-trip: bytes → frames → bytes
    nf, h, w = 7, 5, 9
    rng_idx = np.arange(nf * h * w * 3, dtype=np.int64).reshape(nf, h, w, 3)
    px = ((rng_idx * 11 + 3) % 256).astype(np.uint8)
    buf = encode_avi(w, h, 5, px)
    assert sniff_format(buf) == "avi"
    fps, frames = decode_avi(buf)
    assert fps == 5.0
    assert np.array_equal(frames, px)

    # distributed frame sampling: media_id=2 is nf=4 frames @5fps
    # (0.8 s) — every_s=0.25 ticks at t=0,.25,.5,.75 → frames 0,1,2,3
    media = multimodal.synth_media_real(spark, 9)
    rows = {
        (r.media_id, r.t_s): r
        for r in frame_sample(media, every_s=0.25).collect()
    }
    nf2, w2, h2 = 4, 6, 6
    idx = np.arange(nf2 * h2 * w2 * 3, dtype=np.int64).reshape(nf2, h2, w2, 3)
    px2 = ((2 * 31 + (idx // 3) * 7 + (idx % 3) * 13 + (idx // (h2 * w2 * 3)) * 97) % 256).astype(np.int64)
    got = [rows[(2, t)] for t in (0.0, 0.25, 0.5, 0.75)]
    assert [r.frame_idx for r in got] == [0, 1, 2, 3]
    for fi, r in enumerate(got):
        assert r.n_pixels == h2 * w2
        assert r.sum_abs == int(px2[fi].sum())
        assert r.peak == int(px2[fi].max())
    # sampling past the duration emits nothing extra; coarse sampling
    # still emits the t=0 frame
    coarse = frame_sample(media, every_s=10.0).filter("media_id = 2").collect()
    assert len(coarse) == 1 and coarse[0].frame_idx == 0


def test_quality_percentile_gate_ties_and_rate(spark):
    from iconic_data_science_spark.operators.text import quality_percentile_gate

    # source A: 11 docs with distinct scores (longer = higher score here);
    # source B: all-identical docs — cume_dist ties HIGH, everything kept
    rows = [(i, " ".join(["word"] * (i + 1)), "A") for i in range(11)]
    rows += [(100 + i, "same text here", "B") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in quality_percentile_gate(docs, drop_bottom_pct=10).collect()}
    # A: the worst doc has cume 1/11 <= 0.1 -> dropped; the rest kept
    a_sorted = sorted((out[i]["cume"], i) for i in range(11))
    assert out[a_sorted[0][1]]["keep"] is False
    assert all(out[i]["keep"] for _, i in a_sorted[1:])
    # B: identical scores tie at cume 1.0 -> ALL kept (a uniform source
    # must not be silently dropped — why the gate uses cume_dist, not
    # percent_rank)
    assert all(out[100 + i]["keep"] for i in range(5))
    assert {out[100 + i]["cume"] for i in range(5)} == {1.0}


def test_bm25_semantics(spark):
    from iconic_data_science_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),   # high tf for apple
            (2, "apple banana cherry date"),   # one of each
            (3, "cherry date elderberry fig"), # no query terms
            (4, "apple apple banana banana"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["apple", "banana"], k=10).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids  # zero-match docs absent
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, len(out) + 1))  # contiguous ranks
    scores = {r.doc_id: r.bm25_scaled for r in out}
    # doc 4 matches both terms with tf=2 each -> must outrank doc 2 (tf=1 each)
    assert scores[4] > scores[2]
    # deterministic: second run identical
    out2 = bm25_topk(docs, ["apple", "banana"], k=10).collect()
    assert {(r.doc_id, r.bm25_scaled, r.rank) for r in out2} == {
        (r.doc_id, r.bm25_scaled, r.rank) for r in out
    }


def test_bm25_idf_downweights_common_terms(spark):
    from iconic_data_science_spark.operators.retrieval import bm25_topk

    # 'common' in every doc, 'rare' in one; equal tf and dl everywhere
    docs = spark.createDataFrame(
        [(i, "common filler pad x") for i in range(1, 9)]
        + [(9, "common rare pad x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25_scaled for r in bm25_topk(docs, ["common", "rare"], k=10).collect()}
    assert out[9] > out[1]  # the rare-term doc wins


def test_semdedup_keeps_min_id_of_identical_vectors(spark):
    from iconic_data_science_spark.operators.similarity import semdedup_prune

    v = [float((i * 7) % 13 - 6) for i in range(64)]
    w = [float((i * 5) % 11 - 5) for i in range(64)]
    emb = spark.createDataFrame(
        [(1, v), (2, v), (3, v), (10, w)],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: (r.keep, r.cell) for r in semdedup_prune(emb, threshold=0.99).collect()}
    assert out[1][0] == 1 and out[2][0] == 0 and out[3][0] == 0
    assert out[10][0] == 1  # different direction, different or non-covered
    # identical vectors share a cell
    assert out[1][1] == out[2][1] == out[3][1]


def test_seeded_shuffle_is_permutation_and_partition_invariant(spark, sf_dir):
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.packing import seeded_shuffle

    docs = Catalog(spark, sf_dir).documents
    n = docs.count()
    out = seeded_shuffle(docs, seed=42)
    pos = sorted(r.shuffle_pos for r in out.collect())
    assert pos == list(range(1, n + 1))  # exact permutation of 1..N
    # invariant to the partition count used for the enumeration
    m1 = {r.doc_id: r.shuffle_pos for r in out.collect()}
    m2 = {r.doc_id: r.shuffle_pos for r in seeded_shuffle(docs, seed=42, partitions=3).collect()}
    assert m1 == m2
    # a different seed is a different permutation
    m3 = {r.doc_id: r.shuffle_pos for r in seeded_shuffle(docs, seed=7).collect()}
    assert m3 != m1


def test_select_token_budget_greedy_prefix(spark, sf_dir):
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.packing import select_token_budget

    docs = Catalog(spark, sf_dir).documents
    budget = 500
    out = select_token_budget(docs, budget_tokens=budget).collect()
    assert out, "budget selected nothing"
    by_source: dict[str, list] = {}
    for r in out:
        by_source.setdefault(r.source, []).append(r)
    for rows in by_source.values():
        rows.sort(key=lambda r: r.cum_tokens)
        # running total is consistent and within budget
        cum = 0
        for r in rows:
            cum += r.n_tokens
            assert r.cum_tokens == cum
        assert rows[-1].cum_tokens <= budget


def test_inverted_index_roundtrip(spark, sf_dir):
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.text import build_inverted_index, reconstruct_abstract

    docs = Catalog(spark, sf_dir).documents
    idx = build_inverted_index(docs)
    back = idx.select(
        "doc_id", reconstruct_abstract("inverted_index_json").alias("rebuilt")
    )
    joined = docs.select("doc_id", F.lower(F.col("text")).alias("orig")).join(back, "doc_id")
    bad = joined.filter(F.col("orig") != F.col("rebuilt")).count()
    assert bad == 0  # build -> reconstruct is the identity (lowercased)


def test_pq_duplicate_ranks_first(spark):
    from iconic_data_science_spark.operators.similarity import pq_topk

    # 16 spread codeword-source vectors (ids 0-15), a far-away probe (id
    # 100) and its exact duplicate (id 101): ADC must rank the duplicate
    # first — identical codes => identical (minimal) table sums.
    import itertools

    rows = []
    for i in range(16):
        rows.append((i, [float(((i * 13 + j * 7) % 17) - 8) for j in range(64)]))
    probe = [float(((j * 11) % 19) - 9) * 3.0 for j in range(64)]
    rows.append((100, probe))
    rows.append((101, list(probe)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 100)
    out = pq_topk(emb, q, k=3, m=8, n_codes=16).collect()
    assert out[0].neighbor_id == 101 and out[0].rank == 1


def test_pq_recall_vs_brute_force(spark, sf_dir):
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.similarity import brute_force_topk, pq_topk

    cat = Catalog(spark, sf_dir)
    queries = cat.embeddings.filter(F.col("vec_id") % 50 == 0)
    bf = brute_force_topk(cat.embeddings, queries, k=5).collect()
    pq = pq_topk(cat.embeddings, queries, k=5, m=8, n_codes=16).collect()
    bf_sets: dict[int, set] = {}
    for r in bf:
        bf_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    pq_sets: dict[int, set] = {}
    for r in pq:
        pq_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(bf_sets[q] & pq_sets.get(q, set())) for q in bf_sets)
    total = sum(len(s) for s in bf_sets.values())
    # 16-codeword PQ over random synthetic vectors is coarse; this is a
    # sanity floor (it's an approximation, not a correctness gate)
    assert hits / total >= 0.1, f"PQ recall {hits}/{total}"


def test_incremental_dedup_equals_cross_side_slice(spark, sf_dir):
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.dedup import minhash_lsh_incremental, minhash_lsh_pairs

    docs = Catalog(spark, sf_dir).documents
    full = minhash_lsh_pairs(docs, n=3, num_perm=16, rows_per_band=4, threshold=0.5).collect()
    cross = {
        ((r.id1, r.id2) if r.id1 % 2 == 0 else (r.id2, r.id1), round(r.jaccard, 12))
        for r in full
        if (r.id1 % 2) != (r.id2 % 2)
    }
    inc = minhash_lsh_incremental(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        n=3, num_perm=16, rows_per_band=4, threshold=0.5,
    ).collect()
    got = {((r.corpus_id, r.new_id), round(r.jaccard, 12)) for r in inc}
    assert got == cross


def test_anomaly_hours_flags_injected_spike(spark):
    from iconic_data_science_spark.operators.timeseries import anomaly_hours
    import datetime as dt

    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    for h in range(24):
        n = 10 if h != 12 else 500  # hour 12 is a massive spike
        for i in range(n):
            rows.append((eid, base + dt.timedelta(hours=h, seconds=i % 3600)))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    out = {r.window_start_us: r for r in anomaly_hours(ev, z=2.0).collect()}
    spike_us = int(dt.datetime(2024, 1, 1, 12, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    flagged = [r for r in out.values() if r.is_anomaly == 1]
    assert len(flagged) == 1 and flagged[0].n_events == 500


def test_png_roundtrip_rgb_and_rgba():
    import numpy as np

    from iconic_data_science_spark.operators.multimodal import decode_png, encode_png

    rng = np.arange(11 * 7 * 3, dtype=np.int64).reshape(11, 7, 3)
    px = ((rng * 37 + 5) % 256).astype(np.uint8)
    assert (decode_png(encode_png(px)) == px).all()
    rgba = ((np.arange(5 * 9 * 4, dtype=np.int64).reshape(5, 9, 4) * 29 + 3) % 256).astype(np.uint8)
    assert (decode_png(encode_png(rgba)) == rgba).all()


def test_png_decoder_handles_all_scanline_filters():
    """Encode rows with each PNG filter type (spec-forward filtering)
    and check the decoder unfilters back to the original raster."""
    import struct
    import zlib

    import numpy as np

    from iconic_data_science_spark.operators.multimodal import decode_png

    h, w, ch = 6, 5, 3
    rng = np.arange(h * w * ch, dtype=np.int64).reshape(h, w, ch)
    px = ((rng * 23 + 11) % 256).astype(np.uint8)
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int64)
    raw = bytearray()
    for y in range(h):
        ft = y % 5  # exercise filters 0..4
        row = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, np.int64)
        out = np.empty(stride, np.int64)
        for x in range(stride):
            left = flat[y][x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            out[x] = (row[x] - pred) % 256
        raw += bytes([ft]) + out.astype(np.uint8).tobytes()

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF
        )

    buf = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert (decode_png(buf) == px).all()


def test_decode_media_decodes_real_png(spark):
    from pyspark.sql import functions as F

    from iconic_data_science_spark.operators.multimodal import decode_media, synth_media_real

    media = synth_media_real(spark, 24)
    out = decode_media(media).collect()  # require_codecs=True: everything must really decode
    by_fmt = {}
    for r in out:
        by_fmt.setdefault(r.format, []).append(r)
    assert {"bmp", "png", "wav", "avi"} <= set(by_fmt)
    for r in by_fmt["png"]:
        assert r.n_pixels == r.width * r.height and r.sum_abs > 0


def test_gif_roundtrip_and_compression():
    import numpy as np

    from iconic_data_science_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.RandomState(11)
    pal = rng.randint(0, 256, (200, 3)).astype(np.uint8)
    px = pal[rng.randint(0, 200, (60, 45))]
    buf = encode_gif(px)
    assert (decode_gif(buf) == px).all()  # LZW is lossless: exact
    # repetitive content must actually compress (real LZW, not a stub)
    flat = np.tile(np.array([[[0, 0, 0], [255, 255, 255]]], np.uint8), (40, 100, 1))
    assert len(encode_gif(flat)) < flat.size // 20
    # >256 unique colors is a hard error, not silent quantization
    import pytest as _pytest

    grad = np.arange(300, dtype=np.int64)
    many = np.stack([grad % 256, grad // 2 % 256, grad // 3 % 256], axis=1).astype(np.uint8)
    with _pytest.raises(ValueError, match="256"):
        encode_gif(many.reshape(30, 10, 3))


def test_gif_width_growth_and_clear_cycle():
    """256-color noise forces the LZW width to 12 bits and through the
    early-clear cycle; the round trip must stay exact."""
    import numpy as np

    from iconic_data_science_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.RandomState(3)
    pal = (np.arange(256 * 3, dtype=np.int64).reshape(256, 3) % 256).astype(np.uint8)
    px = pal[rng.randint(0, 256, (200, 200))]
    assert (decode_gif(encode_gif(px)) == px).all()


def test_decode_media_covers_all_three_image_codecs(spark):
    from iconic_data_science_spark.operators.multimodal import decode_media, synth_media_real

    out = decode_media(synth_media_real(spark, 48)).collect()
    fmts = {r.format for r in out}
    assert {"bmp", "png", "gif", "jpeg", "wav", "avi"} <= fmts
    for r in out:
        if r.format in ("bmp", "png", "gif"):
            assert r.n_pixels == r.width * r.height


def test_duplicate_spans_semantics(spark):
    """A paragraph shared by two docs becomes ONE maximal span in each
    (overlapping duplicated grams merge); fresh text around it is not
    flagged; a within-doc repeat counts toward the threshold; docs
    shorter than n produce nothing."""
    from iconic_data_science_spark.operators.dedup import duplicate_spans

    para = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens
    docs = [
        (1, f"alpha beta gamma {para} delta epsilon"),            # para at 3..12
        (2, f"{para} zeta eta theta iota kappa"),                 # para at 0..9
        (3, "one two three four five one two three four five"),   # self-repeat
        (4, "too short"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r.doc_id): (r.span_start, r.span_end, r.n_grams)
           for r in duplicate_spans(df, n=5, min_count=2).collect()
           if r.doc_id in (1, 2)}
    # 10-token paragraph -> 6 duplicated 5-grams merging to one span
    assert out[1] == (3, 12, 6), out
    assert out[2] == (0, 9, 6), out
    d3 = [(r.span_start, r.span_end, r.n_grams)
          for r in duplicate_spans(df, n=5, min_count=2).filter(F.col("doc_id") == 3).collect()]
    # "one two three four five" repeats within doc 3: grams at 0 and 5
    # duplicate; grams 1-4 straddle the seam and are unique -> two
    # separate 5-token spans
    assert sorted(d3) == [(0, 4, 1), (5, 9, 1)], d3
    assert duplicate_spans(df, n=5, min_count=2).filter(F.col("doc_id") == 4).count() == 0


def test_leakage_safe_split_properties(spark, sf_dir):
    """(a) no near-dup cluster straddles splits — every member of a
    cluster carries the cluster's split; (b) every document gets
    exactly one row; (c) singleton documents land exactly where the
    plain per-doc split puts them (adopting leakage-safety re-shuffles
    only the clustered minority)."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from iconic_data_science_spark.operators.text import leakage_safe_split, train_val_test_split

    docs = Catalog(spark, sf_dir).documents
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("id1", "id2").localCheckpoint()
    clusters = dedup_clusters(pairs).localCheckpoint()
    out = leakage_safe_split(docs, clusters).collect()
    assert len(out) == docs.count()
    by_doc = {r.doc_id: r for r in out}
    cl = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert cl, "fixture corpus should contain near-dup clusters"
    splits_per_cluster: dict = {}
    for d, c in cl.items():
        splits_per_cluster.setdefault(c, set()).add(by_doc[d].split)
    assert all(len(s) == 1 for s in splits_per_cluster.values()), splits_per_cluster
    plain = {r.doc_id: (r.bucket, r.split) for r in train_val_test_split(docs).collect()}
    for d, r in by_doc.items():
        if d not in cl:
            assert (r.bucket, r.split) == plain[d], d


def test_line_dedup_semantics(spark):
    """Boilerplate lines (>= min_docs distinct docs) are struck from
    EVERY document, survivors keep their original order, a line
    repeated within one document doesn't count as boilerplate, and a
    document whose every line was boilerplate drops out."""
    from iconic_data_science_spark.operators.text import line_dedup

    boiler = "subscribe now"
    docs = [
        (1, f"alpha one\n{boiler}\nbeta two"),
        (2, f"{boiler}\ngamma three"),
        (3, f"delta four\n{boiler}"),
        (4, boiler),                          # all boilerplate -> drops out
        (5, "echo five\necho five\nzeta six"),  # in-doc repeat, not boilerplate
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in line_dedup(df, min_docs=4).collect()}
    assert set(out) == {1, 2, 3, 5}
    assert out[1].clean_text == "alpha one\nbeta two"
    assert (out[1].n_lines, out[1].n_kept) == (3, 2)
    assert out[2].clean_text == "gamma three"
    assert out[3].clean_text == "delta four"
    assert out[5].clean_text == "echo five\necho five\nzeta six"
    assert out[5].n_kept == 3
    # below threshold nothing is struck
    full = {r.doc_id: r.n_kept for r in line_dedup(df, min_docs=5).collect()}
    assert full == {1: 3, 2: 2, 3: 2, 4: 1, 5: 3}


def test_phash_roundtrip_invariance(spark):
    """The pHash contract the near-dup gate rests on: a bit-exact PNG
    re-encode hashes IDENTICALLY to the BMP original; JPEG re-encode
    and 3:4 nearest-resize stay within hamming 6; different base images
    stay >= 16 apart (the corpus is designed bimodal so every hash bit
    sits far from the median threshold — see _neardup_base_pixels)."""
    from iconic_data_science_spark.operators.multimodal import (
        NEARDUP_VARIANTS,
        phash64,
        synth_image_neardup,
    )

    hashes = {
        r.media_id: r.phash
        for r in phash64(synth_image_neardup(spark, 8)).collect()
    }
    assert len(hashes) == 8 * NEARDUP_VARIANTS

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for g in range(8):
        base = hashes[g * 4]
        assert hashes[g * 4 + 1] == base, f"group {g}: PNG re-encode changed the hash"
        assert ham(base, hashes[g * 4 + 2]) <= 6, f"group {g}: JPEG drift"
        assert ham(base, hashes[g * 4 + 3]) <= 6, f"group {g}: resize drift"
    for g1 in range(8):
        for g2 in range(g1 + 1, 8):
            for v1 in range(4):
                for v2 in range(4):
                    d = ham(hashes[g1 * 4 + v1], hashes[g2 * 4 + v2])
                    assert d >= 16, (g1, v1, g2, v2, d)


def test_phash_banded_pairs_pigeonhole(spark):
    """phash_neardup_pairs vs brute-force popcount over synthetic
    hashes: (a) output is always a SUBSET of the true <=max_hamming
    pairs with exact hamming values, and (b) for pairs with hamming <
    n_bands recall is GUARANTEED (pigeonhole: fewer flips than bands
    leaves one band exact)."""
    import itertools
    import random

    from iconic_data_science_spark.operators.multimodal import phash_neardup_pairs

    rng = random.Random(7)
    base = rng.getrandbits(64)

    def flip(v, k):
        for b in rng.sample(range(64), k):
            v ^= 1 << b
        return v

    vals = [base, flip(base, 2), flip(base, 3), flip(base, 9), flip(base, 30)]
    vals += [rng.getrandbits(64) for _ in range(20)]
    signed = [v - (1 << 64) if v >= (1 << 63) else v for v in vals]
    df = spark.createDataFrame(
        list(enumerate(signed)), "media_id long, phash long"
    )
    got = {
        (r.id1, r.id2): r.hamming
        for r in phash_neardup_pairs(df, max_hamming=10, n_bands=4).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    true = {
        (i, j): ham(vals[i], vals[j])
        for i, j in itertools.combinations(range(len(vals)), 2)
        if ham(vals[i], vals[j]) <= 10
    }
    assert set(got) <= set(true)
    for k, v in got.items():
        assert v == true[k], (k, v, true[k])
    guaranteed = {k for k, v in true.items() if v < 4}
    assert guaranteed <= set(got), guaranteed - set(got)


def test_cms_estimate_is_one_sided(spark, sf_dir):
    """Count-min property: est >= true for every key, and for the
    heavy-hitter output the overshoot is bounded by d rows of ~N/w
    collisions."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.sketch import cms_heavy_hitters

    ev = Catalog(spark, sf_dir).events
    out = cms_heavy_hitters(ev, threshold=0).collect()
    n = ev.count()
    assert out, "no keys returned"
    for r in out:
        assert r.est_count >= r.true_count
        assert r.est_count - r.true_count <= n  # trivial sanity ceiling


def test_kmv_distinct_accuracy_and_small_set_rule(spark, sf_dir):
    """KMV estimate within 25% of exact on the fixture (measured ~2% at
    k=64), and EXACT when a group has fewer than k distinct keys (the
    small-set rule)."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.sketch import kmv_distinct

    ev = Catalog(spark, sf_dir).events
    got = {r.event_type: r.est_distinct for r in kmv_distinct(ev).collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, n in exact.items():
        assert abs(got[t] - n) <= max(2, 0.25 * n), (t, got[t], n)
    # small-set rule: 10 distinct keys < k=64 → exact count back
    small = spark.createDataFrame(
        [(i % 10, "x") for i in range(100)], "user_id long, event_type string"
    )
    out = kmv_distinct(small).collect()
    assert out[0].est_distinct == 10


def test_bloom_decontaminate_superset_of_exact(spark, sf_dir):
    """Bloom's no-false-negative guarantee, on the real fixture: every
    doc the exact 5-gram scan flags must also be Bloom-flagged, with
    at least as many flagged shingles; the false-positive overhead
    stays small at the configured k/m."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.dedup import bloom_decontaminate, decontaminate

    docs = Catalog(spark, sf_dir).documents
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    exact = {r.doc_id: r.n_shared_ngrams for r in decontaminate(train, bench, n=5).collect()}
    bloom = {
        r.doc_id: r.n_flagged_ngrams
        for r in bloom_decontaminate(train, bench, n=5).collect()
    }
    for doc_id, n_exact in exact.items():
        assert doc_id in bloom, f"exact-flagged doc {doc_id} missed by bloom"
        assert bloom[doc_id] >= n_exact, (doc_id, bloom[doc_id], n_exact)
    # false positives exist only as a bounded overhead, not a flood
    extra_docs = set(bloom) - set(exact)
    assert len(extra_docs) <= max(5, len(exact)), (len(extra_docs), len(exact))


def test_bm25_rerank_anchor_fallbacks(spark):
    """The hybrid rerank's two degradation rungs:
    (a) a missing-embedding lexical winner anchors on the next
    candidate WITH an embedding; (b) when NO candidate has an
    embedding, the lexical result passes through with null cosine in
    rank order instead of silently emptying."""
    from iconic_data_science_spark.operators.retrieval import bm25_embed_rerank

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark merge"),
            (2, "spark merge window"),
            (3, "spark table"),
            (4, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    # (a) top lexical hit (doc 1) has no embedding row -> the next
    # best-ranked candidate WITH one anchors (doc 3: shorter doc, so
    # it outranks doc 2 lexically)
    emb = spark.createDataFrame(
        [(2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = bm25_embed_rerank(docs, emb, ["spark"], k_candidates=3, k=3).collect()
    assert [r.doc_id for r in out] == [3, 2]  # doc 1 drops (no embedding)
    assert out[0].cosine == 1.0 and out[0].rerank == 1  # doc 3 is its own anchor
    # (b) no candidate has any embedding -> lexical passthrough, null cosine
    emb_none = spark.createDataFrame(
        [(99, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = bm25_embed_rerank(docs, emb_none, ["spark"], k_candidates=3, k=3).collect()
    assert [r.doc_id for r in out] == [1, 3, 2]  # BM25 rank order survives
    assert all(r.cosine is None for r in out)
    assert [r.rerank for r in out] == [1, 2, 3]


def test_kmv_partial_equals_unbounded_and_bounds_shuffle(spark):
    """The map-side bounded partial must (a) emit ≤ k·P rows
    for a hot group — the shuffle-volume bound the sketch exists for —
    and (b) leave the estimate bit-identical to the unbounded
    distinct→rank form (k-minima of per-partition k-minima == global
    k-minima)."""
    from pyspark.sql import Window
    from iconic_data_science_spark.operators.sketch import (
        KMV_K,
        MERSENNE31,
        kmv_distinct,
        kmv_hashes,
        kmv_partial_minima,
    )

    n_parts = 8
    hot = spark.range(0, 200_000, 1, n_parts).select(
        (F.col("id") * 7).alias("user_id"), F.lit("hot").alias("event_type")
    )
    # (a) bounded shuffle: ≤ k rows per partition for the single group
    partial_rows = kmv_partial_minima(kmv_hashes(hot)).count()
    assert partial_rows <= KMV_K * n_parts, partial_rows
    # (b) identical estimate to the unbounded reference plan
    ref_d = kmv_hashes(hot).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    ref = (
        ref_d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("grp")
        .agg(F.count("*").alias("n_seen"), F.max("h").alias("h_k"))
        .select(
            F.when(F.col("n_seen") < KMV_K, F.col("n_seen"))
            .otherwise(F.expr(f"CAST({(KMV_K - 1) * MERSENNE31} AS BIGINT) div h_k"))
            .cast("long")
            .alias("est_distinct")
        )
        .collect()[0]
        .est_distinct
    )
    got = kmv_distinct(hot).collect()[0].est_distinct
    assert got == ref, (got, ref)


def test_kmv_large_key_parity_with_oracle(spark, tmp_path):
    """Keys beyond ~8.4e9 used to overflow Spark's BIGINT product
    silently while DuckDB raised; the mod-before-multiply
    LCG must now hash-match the oracle across the full BIGINT range."""
    import duckdb

    from iconic_data_science_spark.operators.sketch import kmv_distinct, kmv_oracle_sql

    keys = [
        9_223_372_036_854_775_807,
        -9_223_372_036_854_775_808,
        8_400_000_001_234,
        -8_400_000_001_234,
        2_147_483_647,
        0,
        -1,
    ] + [i * 1_000_000_007 for i in range(80)]
    rows = [(kk, "t%d" % (i % 2)) for i, kk in enumerate(keys)]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {
        (r.event_type, r.est_distinct)
        for r in kmv_distinct(ev).collect()
    }
    pq = str(tmp_path / "ev.parquet")
    ev.toPandas().to_parquet(pq)
    con = duckdb.connect()
    try:
        want = {
            (t, int(n))
            for t, n in con.execute(
                kmv_oracle_sql(table=f"'{pq}'")
            ).fetchall()
        }
    finally:
        con.close()
    assert got == want, (got, want)


def test_kmv_null_keys_and_null_groups(spark, tmp_path):
    """Null keys contribute no hash on BOTH engines (the oracle's
    WHERE key IS NOT NULL — DuckDB's DISTINCT used to keep a
    NULL-h row that inflated n_seen for groups below k), and a numeric
    group column with nulls must survive the pandas partial as ONE
    null group instead of crashing the Arrow cast (int64 + nulls reach
    pandas as float64 + NaN, and NaN != NaN splits the state dict)."""
    import duckdb

    from iconic_data_science_spark.operators.sketch import kmv_distinct, kmv_oracle_sql

    rows = [(None, "a"), (1, "a"), (2, "a"), (None, "b"), (3, None), (None, None), (4, None)]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {(r.event_type, r.est_distinct) for r in kmv_distinct(ev).collect()}
    # group "b" holds only a null key -> no hashes -> absent on both sides
    assert got == {("a", 2), (None, 2)}, got
    pq = str(tmp_path / "ev_nulls.parquet")
    ev.toPandas().to_parquet(pq)
    con = duckdb.connect()
    try:
        want = {
            (t, int(n))
            for t, n in con.execute(kmv_oracle_sql(table=f"'{pq}'")).fetchall()
        }
    finally:
        con.close()
    assert got == want, (got, want)
    # numeric group col with nulls: single null group, no task crash
    ev2 = spark.createDataFrame(
        [(1, 10), (2, 10), (3, None), (4, None), (None, None)],
        "user_id long, event_type long",
    )
    got2 = {
        (r.event_type, r.est_distinct)
        for r in kmv_distinct(ev2, group_col="event_type").collect()
    }
    assert got2 == {(10, 2), (None, 2)}, got2


def test_kmv_overlap_accuracy(spark, sf_dir):
    """Sketch-union overlap estimates vs exact distinct-user overlaps:
    union estimate within 25%, intersection within 25% of the union
    size (the inclusion-exclusion error compounds the two sketch
    errors — bounded, not tight)."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.sketch import kmv_overlap

    ev = Catalog(spark, sf_dir).events
    got = {
        (r.type_a, r.type_b): r
        for r in kmv_overlap(ev).collect()
    }
    rows = ev.select("event_type", "user_id").distinct().collect()
    users: dict[str, set] = {}
    for r in rows:
        users.setdefault(r.event_type, set()).add(r.user_id)
    types = sorted(users)
    assert set(got) == {(a, b) for i, a in enumerate(types) for b in types[i + 1:]}
    for (a, b), r in got.items():
        u = len(users[a] | users[b])
        i = len(users[a] & users[b])
        assert abs(r.est_union - u) <= max(2, 0.25 * u), (a, b, r.est_union, u)
        assert abs(r.est_inter - i) <= max(2, 0.25 * u), (a, b, r.est_inter, i)


def test_histogram_quantiles_bracket_exact(spark, sf_dir):
    """q_bin must be within one bin of the exact percentile value."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.sketch import histogram_quantiles

    ev = Catalog(spark, sf_dir).events
    got = {(r.event_type, r.p_pct): r.q_bin for r in histogram_quantiles(ev).collect()}
    import math

    rows = ev.select("event_type", "value").collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.value)
    for t, vals in by_type.items():
        vals.sort()
        for p in (50, 90, 99):
            exact = vals[math.ceil(p * len(vals) / 100) - 1]
            q = got[(t, p)]
            assert q <= exact <= q + 1, (t, p, q, exact)


def test_probe_media_reads_containers_without_decoding(spark):
    from iconic_data_science_spark.operators.multimodal import probe_media, synth_media_mixed

    media = synth_media_mixed(spark, 60)
    out = {r.media_id: r for r in probe_media(media).collect()}
    assert len(out) == 60
    fmts = {r.format for r in out.values()}
    assert {"mp4", "mp3", "wav", "avi"} <= fmts
    for mid, r in out.items():
        if r.format == "mp4":
            assert r.duration_s == float(mid % 90 + 1)  # mvhd parsed exactly
            assert r.n_tracks == mid % 3 + 1
        elif r.format == "mp3":
            assert r.n_frames == mid % 40 + 5
            assert (r.bitrate_kbps, r.sample_rate) == (128, 44100)
        elif r.format == "wav":
            assert r.sample_rate == 8000 and r.duration_s > 0


def test_known_unicode_lowercase_divergence(spark):
    """PINNED ENGINE DIVERGENCE, not a bug to fix: Spark (ICU/JVM)
    lowercases U+0130 (LATIN CAPITAL LETTER I WITH DOT ABOVE) to
    'i' + U+0307 (combining dot, 2 codepoints); DuckDB (utf8proc) gives
    plain 'i'. Any corpus containing U+0130 will hash-diverge between
    the engines on lower()-derived columns — which is why the raw-text
    fuzz alphabet excludes it (tests/test_fuzz_parity.py). If this test
    ever FAILS, the engines have converged and the exclusion can go."""
    import duckdb

    s = spark.createDataFrame([("İ",)], "t string").select(
        F.lower("t").alias("low")
    ).collect()[0].low
    d = duckdb.connect().execute("SELECT lower('İ')").fetchone()[0]
    assert s == "i̇" and d == "i" and s != d


def test_cdc_chunks_survive_prefix_insertion(spark):
    """THE content-defined-chunking property: after inserting a prefix,
    every chunk of the original except its first reappears with an
    identical hash (fixed-width windows lose all alignment instead)."""
    from iconic_data_science_spark.operators.text import cdc_chunks

    base = "the quick brown fox jumps over the lazy dog " * 20
    docs = spark.createDataFrame(
        [(1, base), (2, "INSERTED PREFIX >> " + base)], "doc_id long, text string"
    )
    out = cdc_chunks(docs).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    orig = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    edited_hashes = {r.chunk_md5 for r in by_doc[2]}
    assert len(orig) >= 3, "fixture too short to have multiple chunks"
    tail = [r.chunk_md5 for r in orig[1:]]
    assert all(h in edited_hashes for h in tail), "CDC alignment lost after edit"
    # and the sharing count sees the overlap
    assert all(r.n_docs_sharing == 2 for r in orig[1:])


def test_rare_bigram_known_counts(spark):
    """Hand-computed fixture: bigram 'a b' appears 3 times corpus-wide
    (>= min_count=2 -> frequent); every other bigram is rare."""
    from iconic_data_science_spark.operators.text import rare_bigram_ratio

    docs = spark.createDataFrame(
        [
            (1, "a b c"),        # bigrams: 'a b'(freq), 'b c'(rare) -> 500
            (2, "a b a b"),      # 'a b','b a','a b' -> 1 rare of 3 -> 333
            (3, "x"),            # no bigram -> not emitted
            (4, ""),             # empty -> not emitted
            (5, "q  r"),         # double space: tokens q,r -> 'q r' rare -> 1000
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_bigrams, r.rare_permille)
        for r in rare_bigram_ratio(docs, min_count=2).collect()
    }
    assert got == {1: (2, 500), 2: (3, 333), 5: (1, 1000)}


def test_html_extract_roundtrip(spark, sf_dir):
    """Extraction of a synthesized page reproduces the whitespace-
    normalized document text and drops every piece of boilerplate
    (script/style/nav/h1/footer text must not leak into clean_text)."""
    from iconic_data_science_spark.operators.text import html_extract, synth_html

    docs = Catalog(spark, sf_dir).documents.limit(50)
    joined = (
        html_extract(synth_html(docs))
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            "title",
            "clean_text",
            F.trim(F.regexp_replace("text", r"\s+", " ")).alias("norm"),
        )
    )
    for r in joined.collect():
        assert r.clean_text == r.norm
        assert r.title == f"Doc {r.doc_id}"
        for boiler in ("docId", "Home", "font:", "corpus mirror"):
            assert boiler not in r.clean_text


def test_html_extract_entities_and_empty(spark):
    """Entity-bearing text survives the encode/decode round trip exactly;
    an empty document extracts to an empty string, not boilerplate."""
    from iconic_data_science_spark.operators.text import html_extract, synth_html

    docs = spark.createDataFrame(
        [
            (1, "a < b && b > c", "en", "src0", 14),
            (2, "", "en", "src0", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r.clean_text for r in html_extract(synth_html(docs)).collect()}
    assert got == {1: "a < b && b > c", 2: ""}


# ---------------------------------------------------------------------------
# semantic decontamination


def test_semantic_decontaminate_flags_known_neighbors(spark):
    from iconic_data_science_spark.operators.similarity import semantic_decontaminate

    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")  # noqa: E731
    bench = mk([(100, [1.0, 0.0, 0.0, 0.0])])
    corpus = mk(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),   # identical   -> cosine 1.0, flagged
            (2, [1.0, 1.0, 0.0, 0.0]),   # 45 degrees  -> ~0.707, flagged
            (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal  -> 0.0, clean
            (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite    -> -1.0, clean
        ]
    )
    out = {r.vec_id: r for r in semantic_decontaminate(corpus, bench, threshold=0.5).collect()}
    assert set(out) == {1, 2}
    assert out[1].n_bench_hits == 1 and out[1].max_bench_cosine == pytest.approx(1.0)
    assert out[2].max_bench_cosine == pytest.approx(0.7071, abs=1e-3)


def test_semantic_decontaminate_threshold_inclusive_and_multi_hit(spark):
    from iconic_data_science_spark.operators.similarity import semantic_decontaminate

    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")  # noqa: E731
    # two bench vectors both at cosine 1.0 to the corpus vector -> 2 hits
    bench = mk([(100, [1.0, 0.0]), (101, [2.0, 0.0])])
    corpus = mk([(1, [3.0, 0.0]), (2, [0.0, 1.0])])
    out = {r.vec_id: r for r in semantic_decontaminate(corpus, bench, threshold=1.0).collect()}
    # threshold is inclusive (>=): cosine exactly 1.0 still flags
    assert set(out) == {1}
    assert out[1].n_bench_hits == 2


def test_semantic_decontaminate_empty_bench_flags_nothing(spark):
    from iconic_data_science_spark.operators.similarity import semantic_decontaminate

    mk = lambda rows, s="vec_id long, embedding array<float>": spark.createDataFrame(rows, s)  # noqa: E731
    corpus = mk([(1, [1.0, 0.0])])
    bench = mk([], "vec_id long, embedding array<float>")
    assert semantic_decontaminate(corpus, bench, threshold=0.0).count() == 0


def test_semantic_decontaminate_corpus_side_shuffle_free(spark, sf_dir):
    """The corpus never shuffles: the bench side is collected on the
    driver while the frame is built, so the flag pass is one map over
    the corpus scan and the plan holds no exchange."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.similarity import semantic_decontaminate
    from iconic_data_science_spark.plans import inspect

    cat = Catalog(spark, sf_dir)
    emb = cat.embeddings
    out = semantic_decontaminate(
        emb.filter(F.col("vec_id") % 25 != 0),
        emb.filter(F.col("vec_id") % 25 == 0),
        threshold=0.35,
    )
    assert inspect.shuffle_count(out) == 0


def test_resize_identity_at_native_dims_bmp(spark):
    """Nearest-neighbor resample at the image's own dims is the identity:
    resize(w, h) of a w×h BMP reproduces the payload byte-for-byte."""
    from iconic_data_science_spark.operators import multimodal as mm

    media = mm.synth_media_lossless(spark, 13)  # ids 0,3,6,9,12 are images
    src = {r.media_id: bytes(r.payload) for r in media.filter("kind = 'image'").collect()}
    for mid, buf in src.items():
        if mm.sniff_format(buf) != "bmp":
            continue
        w, h = mid % 16 + 4, mid % 12 + 4
        one = media.filter(F.col("media_id") == mid)
        out = mm.resize_images(one, width=w, height=h).collect()[0]
        assert bytes(out.payload) == buf


def test_resize_then_decode_matches_subsampled_generator(spark):
    """Pixel sums after 16x16 resize equal the generator pattern sampled
    at (j*h//16, i*w//16) — the mm_resize_stats oracle contract."""
    import numpy as np

    from iconic_data_science_spark.operators import multimodal as mm

    media = mm.synth_media_lossless(spark, 7)
    out = {
        r.media_id: r.sum_abs
        for r in mm.decode_media(
            mm.resize_images(media, width=16, height=16), require_codecs=True
        ).collect()
    }
    for mid in (0, 3, 6):
        w, h = mid % 16 + 4, mid % 12 + 4
        j, i, c = np.meshgrid(np.arange(16), np.arange(16), np.arange(3), indexing="ij")
        expected = ((mid * 31 + ((j * h // 16) * w + (i * w // 16)) * 7 + c * 13) % 256).sum()
        assert out[mid] == expected


def test_semantic_decontaminate_bench_gate(spark):
    from iconic_data_science_spark.operators.similarity import semantic_decontaminate

    mk = lambda rows: spark.createDataFrame(rows, "vec_id long, embedding array<float>")  # noqa: E731
    bench = mk([(i, [1.0, 0.0]) for i in range(5)])
    corpus = mk([(100, [1.0, 0.0])])
    with pytest.raises(ValueError, match="max_bench_rows"):
        semantic_decontaminate(corpus, bench, 0.5, max_bench_rows=3).collect()


def test_jaccard_prefix_equals_uncapped_join(spark, sf_dir):
    """Prefix filtering is lossless: identical pair set and jaccard
    values to the uncapped threshold join."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    docs = Catalog(spark, sf_dir).documents
    a = {(r.id1, r.id2): r.jaccard for r in jaccard_prefix_pairs(docs, 3, 0.5).collect()}
    b = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(docs, 3, 0.5, max_shingle_freq=None).collect()
    }
    assert a == b


def test_jaccard_prefix_boilerplate_never_indexed(spark):
    """On a boilerplate-heavy corpus the hot shingle lands at the END of
    every ordering and must not enter the prefix index — yet the pair
    whose similarity IS real still comes out exact."""
    from iconic_data_science_spark.operators.dedup import jaccard_prefix_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"unique{i} token{i} word{i} " + boiler) for i in range(20)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta iota"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id1, r.id2): r.jaccard for r in jaccard_prefix_pairs(docs, 3, 0.5).collect()}
    assert (100, 101) in out
    # boilerplate-only overlap scores < 0.5 here and must not appear
    assert all(p == (100, 101) or p[0] < 20 for p in out)


def test_hard_negatives_exclude_same_label_and_self(spark, sf_dir):
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.similarity import hard_negative_topk

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    out = hard_negative_topk(emb, queries, k=5).collect()
    assert len(out) > 0
    for r in out:
        assert r.query_id != r.neighbor_id
        assert labels[r.query_id] != labels[r.neighbor_id]
        assert 1 <= r.rank <= 5


def test_quota_null_ts_admitted_first(spark):
    """A NULL ts sorts first (the window's NULLS FIRST default): null-ts
    rows are admitted before every timed row of their key, in event_id
    order."""
    import datetime as dt

    from iconic_data_science_spark.operators.events import quota_sample

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for k in ("a", "b"):
        for i in range(10):
            ts = None if i % 3 == 0 else t0 + dt.timedelta(seconds=i)
            rows.append((eid, ts, k))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    by_key = {}
    for r in quota_sample(ev, quota=5).collect():
        by_key.setdefault(r.key, []).append((r.seq, r.event_id))
    for key, admitted in by_key.items():
        ids = [e for _, e in sorted(admitted)]
        null_ids = [e for e in ids if e % 10 % 3 == 0]
        assert ids[: len(null_ids)] == sorted(null_ids), (key, ids)
        assert len(null_ids) == 4 and len(ids) == 5, (key, ids)


def test_minhash_recall_eval_consistency(spark, sf_dir):
    """The audit row must be internally consistent and agree with the
    pipelines it audits: found == minhash_lsh_pairs count, true ==
    uncapped exact-join count, found <= min(true, candidates)."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_recall_eval,
        ngram_jaccard_pairs,
    )

    docs = Catalog(spark, sf_dir).documents
    r = minhash_recall_eval(docs, n=3, num_perm=16, rows_per_band=4, threshold=0.5).collect()[0]
    n_lsh = minhash_lsh_pairs(docs, n=3, num_perm=16, rows_per_band=4, threshold=0.5).count()
    n_exact = ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_freq=None).count()
    assert r["n_found_pairs"] == n_lsh
    assert r["n_true_pairs"] == n_exact
    assert r["n_missed"] == n_exact - n_lsh
    assert r["n_found_pairs"] <= min(r["n_true_pairs"], r["n_candidates"])
    assert 0 <= r["recall_ppm"] <= 10**6


def test_strip_duplicate_spans_semantics(spark):
    """The excision cuts exactly the flagged span tokens: the pasted
    paragraph disappears from both hosts, fresh text survives, clean
    docs pass through bit-identical (trailing/odd whitespace included),
    and a fully-duplicated doc empties."""
    from iconic_data_science_spark.operators.dedup import strip_duplicate_spans

    para = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens
    docs = [
        (1, f"alpha beta gamma {para} delta epsilon"),
        (2, f"{para} zeta eta theta iota kappa"),
        (3, "one two three four five six"),      # clean, passes through
        (4, para),                                # fully duplicated? only if repeated
        (5, para),                                # ...5 shares all grams with 4
        (6, None),                                # null text passes through
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in strip_duplicate_spans(df, n=5, min_count=2).collect()}
    assert out[1].clean_text == "alpha beta gamma delta epsilon"
    assert out[1].n_removed == 10
    assert out[2].clean_text == "zeta eta theta iota kappa"
    assert out[3].clean_text == "one two three four five six"
    assert out[3].n_removed == 0
    assert out[4].clean_text == "" and out[4].n_removed == 10
    assert out[5].clean_text == "" and out[5].n_removed == 10
    assert out[6].clean_text is None and out[6].n_removed == 0


def test_normalize_text_rules(spark):
    """Hand cases: URL stripped, punctuation to space, whitespace
    collapsed, case folded, null passes through, empty counts 0."""
    from iconic_data_science_spark.operators.text import normalize_text

    rows = [
        (1, "Visit https://example.com/x?a=1 NOW!!"),
        (2, "  Hello,   World!  "),
        (3, None),
        (4, "...***..."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.norm_text, r.n_tokens) for r in normalize_text(df).collect()}
    assert out[1] == ("visit now", 2)
    assert out[2] == ("hello world", 2)
    assert out[3] == (None, None)
    assert out[4] == ("", 0)


def test_index_upsert_contract(spark, sf_dir):
    """(a) near-dup batch docs are refused, fresh ones admitted;
    (b) re-ingesting an already-indexed id is idempotent (rows
    unchanged); (c) every admitted doc's rows are tagged 'new'."""
    from iconic_data_science_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_upsert,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight again"),
         (2, "completely different corpus content about databases and queries here")],
        "doc_id long, text string",
    )
    index = minhash_index_build(corpus).localCheckpoint()
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight again"),  # dup of 0
         (3, "fresh unrelated sentence with many novel tokens inside it today"),
         (0, "the quick brown fox jumps over the lazy dog tonight again")],  # re-crawl
        "doc_id long, text string",
    )
    out = minhash_index_upsert(index, batch).collect()
    by_origin = {}
    for r in out:
        by_origin.setdefault(r.origin, set()).add(r.doc_id)
    assert by_origin["corpus"] == {0, 2}
    assert by_origin["new"] == {3}  # 1 refused (near-dup), 0 idempotent
    # idempotence: corpus rows identical to the input index
    idx_rows = sorted((r.doc_id, r.band, r.band_sig) for r in index.collect())
    out_corpus = sorted(
        (r.doc_id, r.band, r.band_sig) for r in out if r.origin == "corpus"
    )
    assert idx_rows == out_corpus
    # second upsert of the same batch admits nothing further
    nxt = minhash_index_upsert(
        minhash_index_upsert(index, batch).drop("origin").localCheckpoint(), batch
    )
    assert {r.doc_id for r in nxt.collect()} == {0, 2, 3}


def test_gopher_flags_hand_rules(spark):
    """Each rule fires on a purpose-built doc and the clean doc keeps."""
    from iconic_data_science_spark.operators.text import gopher_quality_flags

    clean = ("the quick brown fox jumps over a lazy dog and then " * 6).strip()  # 66 words
    rows = [
        (1, clean),                                    # keeps
        (2, "short text with the and"),                # word count < 50
        (3, ("a b " * 30).strip() + " the and"),       # mean word len < 3
        (4, clean + " " + "# " * 20),                  # symbol ratio
        (5, ("12345 67890 " * 30).strip() + " the and"),  # alpha words < 80%
        (6, ("zzz qqq xxx www vvv " * 12).strip()),    # no stopwords
        (7, None),                                     # null: word count flag
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert out[1].keep == 1, out[1]
    assert out[2].f_word_count == 1 and out[2].keep == 0
    assert out[3].f_mean_word_len == 1
    assert out[4].f_symbol_ratio == 1
    assert out[5].f_alpha_words == 1
    assert out[6].f_stopwords == 1
    assert out[7].f_word_count == 1 and out[7].n_words == 0


def test_c4_line_filter_hand_rules(spark):
    """Each C4 rule fires on a purpose-built page; the clean page keeps
    its surviving lines in original order."""
    from iconic_data_science_spark.operators.text import c4_line_filter

    good = "this line is long enough and ends well."
    rows = [
        # keeps: 3 good lines; one punct-less line struck, order kept
        (1, good + "\nno terminal punctuation here\nsecond good line stays!\nthird good line stays?"),
        # too few kept lines (min_kept_lines=3)
        (2, good + "\nanother fine line right here."),
        # line with <3 words struck even though it ends in '.'
        (3, good + "\nok.\nsecond good line stays!\nthird good line stays?"),
        # javascript line struck
        (4, good + "\nenable javascript to view this.\nsecond good line stays!\nthird good line stays?"),
        # page rules: lorem ipsum / brace / bad word kill the page
        (5, good + "\nsecond good line stays!\nthird good line stays?\nlorem ipsum dolor sit amet."),
        (6, good + "\nsecond good line stays!\nthird good line stays?\nvar config = { a: 1 };"),
        (7, good + "\nsecond good line stays!\nthird good line stays?\nutterly badword rubbish here."),
        (8, None),  # null page: 1 empty line, nothing kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in c4_line_filter(
            df, min_words_per_line=3, min_kept_lines=3, bad_words=["badword"]
        ).collect()
    }
    assert out[1].keep == 1 and out[1].n_kept == 3 and out[1].n_lines == 4
    assert out[1].clean_text.split("\n") == [
        good,
        "second good line stays!",
        "third good line stays?",
    ]
    assert out[2].f_too_few_lines == 1 and out[2].keep == 0 and out[2].clean_text == ""
    assert out[3].n_kept == 3 and out[3].keep == 1  # 'ok.' struck, 3 remain
    assert "ok." not in out[3].clean_text
    assert out[4].n_kept == 3 and "javascript" not in out[4].clean_text
    assert out[5].f_lorem == 1 and out[5].keep == 0
    assert out[6].f_brace == 1 and out[6].keep == 0
    assert out[7].f_bad_words == 1 and out[7].keep == 0
    # the bad-word page still reports its line stats
    assert out[7].n_kept == 4
    assert out[8].n_kept == 0 and out[8].keep == 0


def test_keep_best_per_cluster_hand_rules(spark):
    """The highest-score member wins (not the min id), ties break to
    the smaller id, singletons always keep."""
    from iconic_data_science_spark.operators.dedup import keep_best_per_cluster

    scored = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 70), (5, 70), (6, 30)],
        "doc_id long, score_milli long",
    )
    clusters = spark.createDataFrame(
        # cluster 1: {1,2,3} — 2 has the best score, min-id 1 must lose
        # cluster 4: {4,5} — tie on 70, smaller id 4 wins
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
        "doc_id long, cluster_id long",
    )
    out = {r.doc_id: r for r in keep_best_per_cluster(scored, clusters).collect()}
    assert len(out) == 6
    assert out[2].keep == 1 and out[1].keep == 0 and out[3].keep == 0
    assert out[4].keep == 1 and out[5].keep == 0
    assert out[6].keep == 1 and out[6].cluster_id == 6  # singleton
    assert out[1].cluster_id == 1 and out[2].cluster_id == 1
    # exactly one keeper per cluster
    keepers = [r for r in out.values() if r.keep == 1]
    assert {r.cluster_id for r in keepers} == {1, 4, 6}


def test_span_corruption_hand_rules(spark):
    """Spans are non-overlapping, one per block, sentinels round-trip:
    re-splicing each target span over its sentinel reconstructs the
    original document exactly."""
    from iconic_data_science_spark.operators.text import span_corruption

    toks = [f"t{i}" for i in range(45)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b"), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_corruption(df).collect()}
    r = out[1]
    assert r.n_tokens == 45 and r.n_spans == 3  # one span per full block
    assert 0 < r.n_masked <= 3 * 3
    # reconstruct: replace each <extra_id_k> in input with its target span
    tgt_toks = r.targets_text.split(" ")
    spans = {}
    cur = None
    for tok in tgt_toks:
        if tok.startswith("<extra_id_"):
            cur = tok
            spans[cur] = []
        else:
            spans[cur].append(tok)
    rebuilt = []
    for tok in r.input_text.split(" "):
        rebuilt.extend(spans[tok] if tok in spans else [tok])
    assert rebuilt == toks
    # masked fraction in the T5 ballpark on full blocks (1..3 of 20)
    assert r.n_masked == sum(len(v) for v in spans.values())
    # degenerate docs: nothing masked, input == original (the old
    # `A and B or True` form was vacuous — pin exact values)
    assert out[2].n_spans == 0 and out[2].n_masked == 0
    assert out[2].input_text == "a b" and out[2].targets_text == ""
    assert out[3].n_tokens == 0 and out[3].n_spans == 0 and out[3].input_text == ""


def test_bigram_surprisal_hand_corpus(spark):
    """Integer surprisal math on a hand corpus: repeated bigrams score
    the exact ilog2 gap, degenerate/null docs return (0, 0), identical
    texts score identically, and every score is non-negative (trained
    on self: ctx(w1) >= c(w1,w2) always)."""
    from iconic_data_science_spark.operators.text import bigram_surprisal

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the the the the"),
            (3, "x"),
            (4, None),
            (5, "the cat sat on the mat"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_bigrams, r.surprisal_milli) for r in bigram_surprisal(df).collect()}
    # corpus-wide: ctx(the)=7 (ilog2=2), c(the,the)=3 (ilog2=1) -> s=1
    # per occurrence for doc 2 -> milli = 1000
    assert out[2] == (3, 1000)
    assert out[3] == (0, 0) and out[4] == (0, 0)
    assert out[1] == out[5]
    assert len(out) == 5
    assert all(v[1] >= 0 for v in out.values())


def test_bigram_surprisal_separates_repetitive_from_diverse(spark, sf_dir):
    """On the driver corpus: scores are non-negative, every doc gets
    exactly one row, and a fully repetitive doc scores below the corpus
    median (the CCNet head/tail separation the filter exists for)."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.operators.text import bigram_surprisal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bigram_surprisal(docs)
    n_docs = docs.count()
    rows = out.collect()
    assert len(rows) == n_docs
    assert all(r.surprisal_milli >= 0 for r in rows)
    # inject a pathological repeat doc and a random-ish unique doc
    extra = spark.createDataFrame(
        [
            (900001, " ".join(["spam"] * 50)),
            (900002, " ".join(f"uniqtok{i}" for i in range(50))),
        ],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(extra)
    s = {r.doc_id: r.surprisal_milli for r in bigram_surprisal(both).collect()}
    assert s[900001] == 0  # spam->spam is its own whole context
    assert s[900002] == 0  # every transition unique: ctx == c == 1
    # a doc mixing one hot context with many continuations scores > 0
    extra2 = spark.createDataFrame(
        [(900003, "a b a c a d a e a b a c")], "doc_id long, text string"
    )
    s2 = {
        r.doc_id: r.surprisal_milli
        for r in bigram_surprisal(docs.select("doc_id", "text").unionByName(extra2)).collect()
    }
    assert s2[900003] > 0


def test_surprisal_gate_pruned_lm_and_defaults(spark, sf_dir):
    """Pruned-LM gate contract: LM rows carry the exact ilog2 gap of
    the full table (subset of bigram_surprisal's model), unseen bigrams
    take the default, degenerate docs pass with (0, 0), and k is
    guarded as driver metadata."""
    import pytest

    from iconic_data_science_spark.operators.text import (
        bigram_lm_topk,
        bigram_surprisal_gate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = bigram_lm_topk(docs, k=16)
    assert len(lm) == 16
    assert all(s >= 0 for _, _, s in lm)
    # a doc made ONLY of the hottest LM bigram scores exactly 1000*s
    w1, w2, s = lm[0]
    probe = spark.createDataFrame(
        [(1, f"{w1} {w2}"), (2, "zz1 zz2 zz3"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_bigrams, r.surprisal_milli)
        for r in bigram_surprisal_gate(
            probe, lm, default_s=7, cutoff_milli=10**9
        ).collect()
    }
    assert out[1] == (1, 1000 * s)
    assert out[2] == (2, 7000)  # both transitions unseen -> default
    assert out[3] == (0, 0)     # degenerate: passes, scores zero
    with pytest.raises(ValueError):
        bigram_lm_topk(docs, k=200_000)


def test_ppl_buckets_tercile_value_cuts(spark, sf_dir):
    """CCNet head/middle/tail as VALUE thresholds: per language,
    |head| is the smallest value-closed prefix covering >= 1/3 of docs
    (minimality: removing the boundary value drops below 1/3),
    |head|+|middle| covers >= 2/3, buckets are value-ordered
    (max head score < min middle score < ... — value cuts put every
    tie in one bucket), and every language on this corpus fills all
    three buckets."""
    from collections import defaultdict

    from iconic_data_science_spark.operators.text import surprisal_buckets

    rows = surprisal_buckets(Catalog(spark, sf_dir).documents).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append((r.bucket, r.surprisal_milli))
    assert len(by_lang) >= 2
    for lang, docs in by_lang.items():
        n = len(docs)
        by_bucket = defaultdict(list)
        for b, s in docs:
            by_bucket[b].append(s)
        assert set(by_bucket) == {"head", "middle", "tail"}, lang
        head, middle, tail = (
            by_bucket["head"], by_bucket["middle"], by_bucket["tail"]
        )
        assert 3 * len(head) >= n
        assert 3 * (len(head) + len(middle)) >= 2 * n
        # minimality of t_head: drop the boundary value and the CDF
        # falls under 1/3
        t_head = max(head)
        assert 3 * sum(1 for s in head if s < t_head) < n
        assert max(head) < min(middle) <= max(middle) < min(tail)


def test_url_parsing_hand_rules(spark):
    """eTLD+1 + gate rules on hand-built URLs: two-level public
    suffixes take three labels, ports are stripped from the host but
    flunk the gate, http / deep paths / blocklisted domains flunk,
    and a bare registrable domain (no subdomain) parses as itself."""
    from iconic_data_science_spark.operators.text import (
        url_domain_stats,
        url_gate,
    )

    rows = [
        (0, "https://www.site1.com/a/b"),        # keep: www.site1.com -> site1.com
        (1, "https://site1.com/a"),               # keep: bare domain
        (2, "https://cdn.assets.site4.ac.jp/a"),  # keep: eTLD+1 = site4.ac.jp
        (3, "http://site1.com/a"),                # drop: http
        (4, "https://site1.com:8080/a"),          # drop: port
        (5, "https://site1.com/a/b/c"),           # drop: depth 3
        (6, "https://blog.site3.com/a"),          # drop: blocklisted domain
        (7, "https://x.site7.co.uk/a"),           # drop: blocklisted two-level
        (8, "https://localhost/a"),               # keep: 1-label host = its own domain
        (9, "http://localhost:9000/a/b/c"),       # drop (http+port+depth), must not ANSI-crash
    ]
    pages = spark.createDataFrame(rows, "doc_id bigint, url string")
    kept = {r.doc_id: r.domain for r in url_gate(pages).collect()}
    assert kept == {0: "site1.com", 1: "site1.com", 2: "site4.ac.jp", 8: "localhost"}

    stats = {r.domain: r for r in url_domain_stats(pages).collect()}
    s1 = stats["site1.com"]
    assert (s1.n_docs, s1.n_hosts, s1.n_http, s1.blocked) == (5, 2, 1, 0)
    assert stats["site3.com"].blocked == 1
    assert stats["site7.co.uk"].blocked == 1
    assert stats["site4.ac.jp"].n_hosts == 1


def test_url_canonical_hand_rules(spark):
    """Canonicalization collapses exactly the crawl-noise classes:
    host case, port, trailing slash, utm_* params, param order,
    fragment — and KEEPS distinctions that matter (different stable
    param values, different paths)."""
    from iconic_data_science_spark.operators.text import url_canonical

    rows = [
        (0, "https://WWW.Site1.com/a?utm_source=x&id=3#top"),
        (1, "https://www.site1.com:443/a/?id=3"),
        (2, "https://www.site1.com/a?id=3&utm_campaign=y"),
        (3, "https://www.site1.com/a?id=4"),   # different value -> distinct
        (4, "https://www.site1.com/b?id=3"),   # different path -> distinct
        (5, "https://www.site1.com/a"),         # no params -> distinct
    ]
    pages = spark.createDataFrame(rows, "doc_id bigint, url string")
    from pyspark.sql import functions as F

    got = {
        r.doc_id: r.c
        for r in pages.select("doc_id", url_canonical(F.col("url")).alias("c")).collect()
    }
    assert got[0] == got[1] == got[2] == "www.site1.com/a?id=3"
    assert got[3] == "www.site1.com/a?id=4"
    assert got[4] == "www.site1.com/b?id=3"
    assert got[5] == "www.site1.com/a"


def test_chat_render_hand_rules(spark):
    """ChatML render + assistant-only loss mask on a hand transcript:
    the system turn and user turns contribute zero loss tokens, each
    assistant turn contributes its content tokens + 1 (its <|im_end|>
    sentinel), the rendered fingerprint is the md5 of the exact
    template string, and an empty doc renders to the system turn
    alone."""
    import hashlib

    from iconic_data_science_spark.operators.text import (
        chat_render,
        synth_chat_turns,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(25))), (1, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in chat_render(synth_chat_turns(docs)).collect()}
    # doc 0: 25 tokens -> 3 turns (user 10, assistant 10, user 5);
    # loss = assistant content 10 + 1 sentinel = 11
    assert (out[0].n_turns, out[0].n_loss_tokens) == (3, 11)
    # doc 1: zero turns; rendered == system block only
    sys_block = "<|im_start|>system\nyou are a helpful assistant<|im_end|>\n"
    assert (out[1].n_turns, out[1].n_loss_tokens) == (0, 0)
    assert out[1].rendered_fp == hashlib.md5(sys_block.encode()).hexdigest()
    # exact render of doc 0 reproduced locally
    toks = [f"w{i}" for i in range(25)]
    r = sys_block
    for k in range(3):
        role = "user" if k % 2 == 0 else "assistant"
        r += f"<|im_start|>{role}\n" + " ".join(toks[k*10:(k+1)*10]) + "<|im_end|>\n"
    assert out[0].rendered_fp == hashlib.md5(r.encode()).hexdigest()
    assert out[0].n_tokens == len([w for w in r.split(" ") if w])
