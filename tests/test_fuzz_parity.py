"""Fuzzed-corpus oracle parity: hypothesis-generated document tables run
through the SAME Spark-vs-DuckDB hash gate as the fixed testdata.

The fixed sf* corpora can't contain every edge shape (single-token
docs, repeated separators, all-duplicate corpora, adversarial token
collisions); here the corpus itself is the fuzz input. Any mismatch is
a real cross-engine semantics bug, not a flaky fixture.

Long gate: skipped unless SPARK_GRAFT_FULL_GATES=1, because the
hypothesis soak pushes the default ``pytest tests/`` run past the verify
window.
"""

from __future__ import annotations

import os
import shutil

import pytest

if not os.environ.get("SPARK_GRAFT_FULL_GATES"):
    pytest.skip(
        "long gate suite; set SPARK_GRAFT_FULL_GATES=1 to run",
        allow_module_level=True,
    )

from hypothesis import given, settings, strategies as st

import __spark_entry__ as entrymod
from .oracle_utils import run_parity

SF_SRC = "/root/testdata/sf0.001"

# Soak multiplier: SPARK_GRAFT_FUZZ_MULT=4 runs every fuzz gate at 4x
# the default example count, for deep soaks; the default keeps the
# suite fast.
_MULT = max(1, int(os.environ.get("SPARK_GRAFT_FUZZ_MULT", "1")))


def _ex(n: int) -> int:
    return n * _MULT

# queries that read ONLY the documents table (so overwriting
# documents.parquet exercises them fully against the fuzzed corpus)
DOC_QUERIES = [
    "dedup_exact",
    "text_token_counts",
    "text_fingerprint",
    "text_quality_score",
    "corpus_shuffle",
    "text_bm25_topk",
    "text_inverted_index",
    "select_token_budget",
    "corpus_datacard",
    # boilerplate line dedup (src0/src1 pools make the
    # per-source boilerplate cross min_docs on larger draws) and the
    # cluster-granular split (fuzzed corpora are dup-heavy by design)
    "text_line_dedup",
    "text_leakage_safe_split",
    # exact substring spans (fuzzed corpora are dup-heavy: tiny vocab)
    "dedup_dup_spans",
    # weighted sampling (exact DECIMAL rule under
    # tiny/degenerate weight sums), corpus-rare bigram gate, the
    # synth→extract HTML fixpoint, the prefix-filtered exact similarity
    # join (dup-heavy fuzz corpora stress the candidate bound), and the
    # in-row Bloom probe sharing the join form's oracle
    "sample_weighted",
    "text_rare_bigram",
    "text_html_extract",
    "dedup_jaccard_prefix",
    "decontaminate_bloom_inrow",
    # second wave: temperature mixing (integer-sqrt weights and the
    # DECIMAL keep rule under tiny/degenerate language groups), feature
    # hashing (tiny-vocab corpora force real bucket collisions and sign
    # cancellation), and the broadcast taxonomy tagger
    "mix_temperature",
    "mix_temperature_sample",
    "text_hashed_tfidf",
    "text_topic_tags",
    # in-doc window dedup: the tiny fuzz vocab makes repeated windows
    # inside one doc likely, exercising the seen-set accumulator
    "text_intra_dedup",
    # crawl link extraction: fuzzed ids/sources exercise the synth →
    # parse round trip and the self-link drop on tiny id ranges
    "web_link_graph",
    # classifier inference: tiny vocab forces bucket collisions and
    # sign cancellation through the in-row fold
    "text_classifier_gate",
    # the composed v4 pipeline (dup-heavy fuzz corpora stress the
    # exact-dedup stage; gate + post-gate rate learning ride along)
    "curation_pipeline_v4",
    # co-occurrence: tiny fuzz vocab makes the min-count gate and the
    # window boundary (docs shorter than the window) both bind
    "text_cooccurrence",
    # containment join: dup-heavy fuzz corpora produce real contained
    # pairs and exercise the contained-side-only prefix rule
    "dedup_containment",
    # the threshold sweep under tiny/degenerate logit
    # distributions (all-positive, all-negative, empty-text docs), and
    # the banding audit where dup-heavy corpora make true pairs and the
    # tiny vocab forces real signature collisions
    "text_classifier_eval",
    "dedup_minhash_eval",
    # the C4 rule set under degenerate pages
    # (docs shorter than one line, every decoration branch), DSIR under
    # tiny/no-target corpora (empty bigram arrays, all-one-language
    # draws, n_keep > corpus), the cluster argmax under no-pair and
    # all-duplicate corpora, and the composed v8 (empty cleaned
    # survivor sets must hash empty on BOTH engines)
    "text_c4_line_filter",
    "mix_dsir_select",
    "dedup_keep_best",
    "curation_pipeline_v8",
    # UniMax under degenerate language tables (one language, tiny
    # corpora where every cap binds or none does, zero-budget shares)
    "mix_unimax_alloc",
    "mix_unimax_sample",
    # span corruption under degenerate docs (empty, shorter than one
    # block, offsets past the block end)
    "text_span_corruption",
    # bigram surprisal under tiny/dup-heavy vocab (repeated
    # bigrams drive ilog2 gaps to 0; single-token docs take the
    # degenerate union branch), the pruned-LM gate (top-k tie-break on
    # tiny distinct-bigram tables, unseen-default fold), the BPE
    # training unroll (early-break rounds when the tiny vocab runs out
    # of pairs), and the composed v9 (empty gate-survivor sets must
    # hash empty on BOTH engines)
    "text_bigram_surprisal",
    "text_surprisal_gate",
    "text_bpe_vocab",
    "curation_pipeline_v9",
    # CCNet terciles under degenerate language
    # groups (one-doc languages, all-tie score tables where the three
    # value cuts collapse onto one score), and the URL round trip
    # (synth -> regex parse -> eTLD+1 -> gate/rollup) under fuzzed
    # ids/sources
    "text_ppl_buckets",
    "web_domain_stats",
    "web_url_gate",
    # integer HITS over the synth link graph: tiny id ranges make
    # empty/near-empty edge sets (the greatest(Σ,1) normalizer path),
    # self-link-only docs, and single-authority stars
    "web_hits",
    # URL canonical dedup: the synth->canonicalize->rollup round trip
    # under fuzzed ids/sources (every noise-branch combination)
    "web_url_dedup",
    # WordPiece: tiny fuzzed vocabularies make n_words cover EVERY
    # word (whole-word path) and single-char words (1-round folds);
    # the 'a'/'zz' pool words exercise 1- and 2-char pieces
    "text_wordpiece_encode",
    # the v10 composition: tiny corpora can leave ZERO canonical
    # keepers surviving C4 (empty LM, empty gate) — both engines must
    # hash empty end to end
    "curation_pipeline_v10",
    # the batch twin shares the map form's oracle — the fuzz gate pins
    # the distinct-word + ordered-join-back plan to the same hash
    "text_wordpiece_batch",
    # SFT chat render: fuzzed docs give zero-turn transcripts, exact
    # 10-token boundaries, and single-token trailing turns
    "text_chat_render",
    # FIM: fuzzed docs exercise the n<2 passthrough, lo==hi (empty
    # middle), lo==0 / hi==n (empty prefix/suffix), and the md5 gate on
    # arbitrary ids; empty docs hash the plain branch on both engines
    "text_fim",
    # DPO: short fuzzed docs give empty prompts and empty/partial
    # response windows, all-zero-score ties (chosen = lowest rid,
    # rejected = highest), and the distinct-token scorer on dup-heavy
    # windows
    "dpo_pairs",
    # Unigram-LM: tiny fuzzed corpora make the seed top-k cover every
    # substring (prune binds or doesn't), single-char words take
    # 1-round DPs, and dup-heavy corpora drive EM usage ties through
    # the (usage desc, piece asc) prune order; encode + training
    # replay end-to-end in SQL on both engines
    "text_unigram_vocab",
    "text_unigram_encode",
    # the batch twin shares the map form's oracle — the fuzz gate pins
    # the distinct-word + ordered-join-back plan to the same hash
    "text_unigram_batch",
    # the Unigram fertility rollup — fuzzed corpora give
    # one-doc languages and dup-heavy vocabularies; every doc has >= 1
    # word so no lang group divides by zero on either engine
    "text_unigram_fertility",
    # the WordPiece twin: same rollup over the greedy-match encoder
    # (tiny fuzzed vocabularies drive whole-word and 1-char folds)
    "text_wordpiece_fertility",
    # SFT render -> pack composition: fuzzed docs give zero-turn
    # transcripts (n_tokens counts only the system header), exact
    # turn boundaries, and shard windows over tiny corpora
    "sft_pack",
    # the eval/RL family — pass@k's factorial folds under
    # every (n, c) regime the md5 draws produce; EM/F1 under empty and
    # shorter-than-span docs (the SQuAD empty conventions on both
    # engines) and dup-heavy windows (multiset overlap != set
    # overlap); GRPO moments under all-tie score groups (adv_num = 0,
    # var_num = 0) and empty-window responses
    "eval_pass_at_k",
    "eval_em_f1",
    "rl_group_advantage",
    # the arena pair: tiny fuzzed corpora give all-tie score matrices
    # (wr = 500 everywhere) and confusion matrices missing whole
    # verdict classes (the inner marginal join must zero those pe
    # terms identically on both engines)
    "eval_winrate_matrix",
    "eval_judge_agreement",
]

WORDS = ["spark", "merge", "customer", "window", "a", "zz", "table", "q0"]


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    """A writable copy of the sf0.001 table layout whose
    documents.parquet each example overwrites."""
    d = tmp_path_factory.mktemp("fuzz_sf")
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        shutil.copy(f"{SF_SRC}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@settings(max_examples=_ex(8), deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(WORDS), min_size=1, max_size=25),
            st.sampled_from(["src0", "src1"]),
            st.sampled_from(["en", "de"]),
        ),
        min_size=2,
        max_size=12,
    )
)
def test_doc_queries_hash_match_on_fuzzed_corpus(spark, fuzz_dir, docs):
    import duckdb

    rows = [
        {"doc_id": i, "text": " ".join(toks), "lang": lang, "source": src,
         "n_chars": len(" ".join(toks))}
        for i, (toks, src, lang) in enumerate(docs)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO d VALUES (?, ?, ?, ?, ?)",
        [(r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"]) for r in rows],
    )
    con.execute(f"COPY d TO '{fuzz_dir}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    spark.catalog.clearCache()
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in DOC_QUERIES:
        problems = run_parity(spark, fuzz_dir, qs[name], oracles[name])
        assert not problems, f"{name} on fuzzed corpus: " + "; ".join(problems)


EMB_QUERIES = [
    "semdedup_prune",
    "dedup_embedding_cosine",
    "ann_pq_topk",
    # the full oracled ANN family
    "ann_brute_topk",
    "ann_lsh_topk",
    "ann_lsh_multitable",
    "ann_ivf_topk",
    # trained-PQ training + serving — fuzzed
    # corpora are smaller than the seed sample and tie-heavy (near-dup
    # and sign-flipped vectors), exactly where seeding/argmin/trunc-div
    # drift between engines would hide
    "ann_pq_trained",
    "ann_pq_trained_topk",
    # per-vector audit flags and the JL projection under fuzzed
    # vectors (sign cancellation can zero a projected vector — both
    # engines must agree on the resulting cosine NULL/omit behavior)
    "ann_embedding_audit",
    "ann_rp_topk",
    # late interaction — fuzzed corpora give
    # ragged last docs (n not divisible by m), near-dup token bags
    # (maxsim ties broken on neighbor id), and single-query candidate
    # sets that can be empty (both engines must hash empty)
    "ann_maxsim_topk",
    "ann_maxsim_rerank",
    # quantized-embedding serving — fuzzed corpora hit the
    # rng=0 constant-dimension path (code 0, exact recon), tie-heavy
    # Hamming pre-ranks (near-dup sign patterns), and single-query
    # candidate sets that can be empty (both engines must hash empty)
    "ann_sq8_codes",
    "ann_sq8_topk",
    "ann_bq_topk",
    # frozen-bounds drift coding: fuzzed batches sit OUTSIDE the
    # base-side trained range by construction (the base is ids%7!=0 of
    # the same fuzz draw), exercising negative raw codes — where
    # DuckDB // truncation vs engine floor would diverge without the
    # oracle's explicit FLOOR — and the clamp/overshoot telemetry
    "ann_sq8_drift",
]


@settings(max_examples=_ex(5), deadline=None)
@given(st.data())
def test_embedding_queries_hash_match_on_fuzzed_vectors(spark, fuzz_dir, data):
    """Fuzzed 64-dim integer-valued embeddings (incl. near-duplicates
    and sign flips) through the lattice-cosine queries. Vector norms are
    kept nonzero — the operators' documented precondition."""
    import duckdb

    n = data.draw(st.integers(min_value=20, max_value=40))
    base = data.draw(
        st.lists(
            st.lists(st.integers(-4, 4), min_size=64, max_size=64),
            min_size=4,
            max_size=8,
        )
    )
    rows = []
    for i in range(n):
        v = list(base[i % len(base)])
        # perturb deterministically-by-example so duplicates and
        # near-duplicates both occur
        if data.draw(st.booleans()):
            v[i % 64] += data.draw(st.integers(-2, 2))
        if all(x == 0 for x in v):
            v[0] = 1  # nonzero-norm precondition
        rows.append((i, [float(x) for x in v], i % 3))
    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.executemany("INSERT INTO e VALUES (?, ?, ?)", rows)
    con.execute(f"COPY e TO '{fuzz_dir}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()
    spark.catalog.clearCache()
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in EMB_QUERIES:
        problems = run_parity(spark, fuzz_dir, qs[name], oracles[name])
        assert not problems, f"{name} on fuzzed embeddings: " + "; ".join(problems)


# Decimal-sum-discipline queries over lineitem only — the hash-fragile
# area (double SUM ordering) that the exact-DECIMAL lattice must protect
# under ANY value distribution, not just the fixture's.
LINEITEM_QUERIES = ["q1_pricing_summary", "q6_forecast_revenue", "p_projection_filter"]


@settings(max_examples=_ex(6), deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 30),                      # l_orderkey
            st.integers(1, 7),                       # l_linenumber
            st.integers(1, 60),                      # l_quantity (integer-valued double)
            st.integers(100, 9999999),               # price cents
            st.integers(0, 10),                      # discount %
            st.integers(0, 8),                       # tax %
            st.sampled_from(["A", "N", "R"]),
            st.sampled_from(["O", "F"]),
            st.integers(0, 2400),                    # shipdate day offset from 1995-01-01
        ),
        min_size=3,
        max_size=80,
    )
)
def test_lineitem_decimal_queries_hash_match_on_fuzzed_values(spark, fuzz_dir, lines):
    """Fuzzed prices/discounts/quantities (including duplicates and
    boundary dates) through the exact-decimal aggregate queries: the
    DECIMAL(28,4) lattice must make Spark and DuckDB sums bit-identical
    regardless of value distribution and summation order."""
    import datetime as dt

    import duckdb

    rows = [
        (
            ok,
            pk % 10,
            sk % 5,
            ln,
            float(q),
            cents / 100.0,
            disc / 100.0,
            tax / 100.0,
            rf,
            ls,
            dt.datetime(1995, 1, 1) + dt.timedelta(days=d),
        )
        for ok, ln, q, cents, disc, tax, rf, ls, d in lines
        for pk, sk in [(ok * 3, ok * 7)]
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE li (l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR,"
        " l_linestatus VARCHAR, l_shipdate TIMESTAMP)"
    )
    con.executemany("INSERT INTO li VALUES (?, ?, ?, ?, ?, ?, ?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY li TO '{fuzz_dir}/lineitem.parquet' (FORMAT PARQUET)")
    con.close()
    spark.catalog.clearCache()
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in LINEITEM_QUERIES:
        problems = run_parity(spark, fuzz_dir, qs[name], oracles[name])
        assert not problems, f"{name} on fuzzed lineitem: " + "; ".join(problems)


# Raw-text queries safe for arbitrary (non-space-joined) strings.
RAW_TEXT_QUERIES = [
    "dedup_exact",
    "text_token_counts",
    "text_fingerprint",
    "corpus_datacard",
    "text_cdc_chunks",
]

# Alphabet note: U+0130 (Turkish İ) is EXCLUDED by construction — Spark
# (ICU) lowercases it to 'i' + U+0307 combining dot while DuckDB
# (utf8proc) gives plain 'i', a documented engine divergence pinned by
# tests/test_llm_ops.py::test_known_unicode_lowercase_divergence. The
# strategy otherwise covers accented latin, greek, CJK, emoji, tabs,
# repeated/leading/trailing spaces, and punctuation.
_RAW_ALPHABET = st.sampled_from(list("abz09 .,-!\t  éÅßπ漢字🙂"))


@settings(max_examples=_ex(8), deadline=None)
@given(
    st.lists(
        st.tuples(
            st.text(_RAW_ALPHABET, min_size=0, max_size=40),
            st.sampled_from(["src0", "src1"]),
            st.sampled_from(["en", "de"]),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_raw_text_queries_hash_match_on_arbitrary_strings(spark, fuzz_dir, docs):
    """Arbitrary raw strings (not space-joined token lists): empty
    texts, runs of spaces, tabs, unicode, emoji — through the
    tokenization-sensitive queries. Cross-engine split/lower/md5
    semantics must agree byte-for-byte."""
    import duckdb

    rows = [
        (i, text, lang, src, len(text))
        for i, (text, src, lang) in enumerate(docs)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY d TO '{fuzz_dir}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    spark.catalog.clearCache()
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in RAW_TEXT_QUERIES:
        problems = run_parity(spark, fuzz_dir, qs[name], oracles[name])
        assert not problems, f"{name} on raw-text corpus: " + "; ".join(problems)


GRAPH_QUERIES = [
    "g1_coauthor_edges",
    "g3_personal_net",
    "g3_personal_net_flatmap",
    "g4_bfs",
    "g5_hierarchy_roots",
    "g5_hierarchy_roots_sql",
    "g_kcore",
    "g_sssp",
    "g_triangle_count",
    "g_label_propagation",
    # orders-only queries riding the same fuzzed table: lakehouse MERGE /
    # SCD2 (duplicate (custkey, date) rows exercise their window
    # tiebreaks), the band join, and the integer-lattice PageRank over
    # the self-FK citation edges
    "lh_merge_upsert",
    "lh_scd2_priority",
    "range_join_price_tiers",
    "g_pagerank_int",
    "lh_zorder_stats",
    "lh_hilbert_stats",
    "lh_compaction_plan",
]


@settings(max_examples=_ex(6), deadline=None)
@given(st.data())
def test_graph_queries_hash_match_on_fuzzed_edges(spark, fuzz_dir, data):
    """Fuzzed paper-author graphs through the whole g-family: mega-papers
    (many authors on one paper, the G3 fan-out case), repeated
    (paper, author) rows (the DISTINCT discipline), orphan papers with
    no year row, duplicate (custkey, date) pairs (the g5 lag tiebreak),
    and author 0 present/absent (the BFS source edge case)."""
    import datetime as dt

    import duckdb

    # paper-author incidence: small pools force collisions — mega-papers
    # and repeated pairs arise naturally
    li = data.draw(
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 12)),
            min_size=3,
            max_size=60,
        )
    )
    papers = sorted({p for p, _ in li} | {data.draw(st.integers(0, 20))})
    orders = [
        (
            p,
            data.draw(st.integers(0, 4)),  # o_custkey: chains share customers
            dt.datetime(data.draw(st.integers(1994, 1996)), data.draw(st.integers(1, 12)), 1),
            data.draw(st.sampled_from(["O", "F"])),
            float(data.draw(st.integers(0, 400_000))),
            data.draw(st.sampled_from(["1-URGENT", "3-MEDIUM", "5-LOW"])),
        )
        for p in papers
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE li (l_orderkey BIGINT, l_suppkey BIGINT)")
    con.executemany("INSERT INTO li VALUES (?, ?)", li)
    con.execute(f"COPY li TO '{fuzz_dir}/lineitem.parquet' (FORMAT PARQUET)")
    con.execute(
        "CREATE TABLE o (o_orderkey BIGINT, o_custkey BIGINT, o_orderdate TIMESTAMP,"
        " o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderpriority VARCHAR)"
    )
    con.executemany("INSERT INTO o VALUES (?, ?, ?, ?, ?, ?)", orders)
    con.execute(f"COPY o TO '{fuzz_dir}/orders.parquet' (FORMAT PARQUET)")
    con.close()
    spark.catalog.clearCache()
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in GRAPH_QUERIES:
        problems = run_parity(spark, fuzz_dir, qs[name], oracles[name])
        assert not problems, f"{name} on fuzzed edges: " + "; ".join(problems)


EV_QUERIES = [
    "ts_anomaly_hours",
    "ev_cms_heavy_hitters",
    "ev_value_quantiles",
    "ev_attribution",
    # temporal join, the four streaming batch-twins,
    # sessionization, funnel/retention, multi-grain, incremental rollup —
    # all read only the events table
    "asof_signup_value",
    "st_tumbling_hour",
    "st_sliding_hour_15m",
    "st_session_5m",
    "st_stream_stream_join",
    "w_sessionize_lag",
    "ev_funnel",
    "ev_retention",
    "ts_multi_grain_counts",
    "inc_rollup_daily",
    "ev_kmv_distinct",
    "ev_kmv_overlap",
    # grid-decomposed interval-overlap join, quota
    # admission (duplicate timestamps exercise the event_id tie-break)
    "j_interval_overlap",
    "ev_quota_sample",
    # gap-fill — fuzzed sparse timestamps make
    # single-observation types (locf==observed everywhere, interp has
    # no interior), adjacent-hour observations (zero-length gaps), and
    # duplicate hours (the sum rollup); the weighted-average interp
    # must stay trunc==floor on the non-negative values
    "ts_gap_fill",
]


@settings(max_examples=_ex(5), deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 72),          # hour offset
            st.integers(0, 3599),        # second within hour
            st.integers(-3, 9),          # user id (negative keys too)
            st.sampled_from(["view", "click", "purchase", "signup", "error"]),
            st.floats(0.0, 400.0, allow_nan=False, width=32),
        ),
        min_size=3,
        max_size=60,
    )
)
def test_event_queries_hash_match_on_fuzzed_events(spark, fuzz_dir, events):
    """Fuzzed event streams — constant-volume hours (zero variance),
    negative user ids, duplicate timestamps — through the anomaly /
    sketch / attribution queries."""
    import datetime as dt

    import duckdb

    base = dt.datetime(2024, 3, 1)
    rows = [
        (
            i,
            base + dt.timedelta(hours=h, seconds=s),
            uid,
            typ,
            float(val),
            "{}",
        )
        for i, (h, s, uid, typ, val) in enumerate(events)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO ev VALUES (?, ?, ?, ?, ?, ?)", rows)
    con.execute(f"COPY ev TO '{fuzz_dir}/events.parquet' (FORMAT PARQUET)")
    con.close()
    spark.catalog.clearCache()
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    for name in EV_QUERIES:
        problems = run_parity(spark, fuzz_dir, qs[name], oracles[name])
        assert not problems, f"{name} on fuzzed events: " + "; ".join(problems)
