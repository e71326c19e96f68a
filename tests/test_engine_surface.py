"""Engine-surface tests: catalog overrides (P10), the h-index expression
(A9/X2), view registration (S11), cache opt-in (S12)."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import functions as F

from iconic_data_science_spark import fixtures
from iconic_data_science_spark.catalog import Catalog
from iconic_data_science_spark.functions import h_index_from_counts


def test_catalog_overrides_debug_toggle(spark, sf_dir):
    """The same pipeline code runs against fixture tables when the
    catalog is constructed with overrides (the reference's debug widget)."""
    fixture_li = fixtures.paa_df(spark).select(
        F.col("paper").alias("l_orderkey"), F.col("author").alias("l_suppkey")
    )
    cat = Catalog(spark, sf_dir, overrides={"lineitem": fixture_li})
    assert cat.table("lineitem") is fixture_li
    # non-overridden tables still come from parquet
    assert cat.table("region").count() == 5


def test_pandas_udaf_h_index_matches_expression(spark):
    """The built-in h-index expression against hand-computed values."""
    data = [(1, 5), (1, 4), (1, 3), (1, 2), (1, 1), (2, 10), (2, 10), (3, 0)]
    df = spark.createDataFrame(data, "author long, cit long")
    via_expr = {
        r.author: r.h
        for r in df.groupBy("author")
        .agg(F.collect_list("cit").alias("v"))
        .select("author", h_index_from_counts("v", alias="h"))
        .collect()
    }
    assert via_expr == {1: 3, 2: 2, 3: 0}


def test_view_registration_and_sql(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    cat.register_views(("region", "nation"))
    out = spark.sql(
        "SELECT r_name, count(*) AS n FROM nation JOIN region "
        "ON n_regionkey = r_regionkey GROUP BY r_name"
    )
    assert out.count() == 5
    cat.register_views(("region",), global_views=True)
    assert spark.sql("SELECT count(*) FROM global_temp.region").collect()[0][0] == 5


def test_cache_opt_in(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    cat.cache("region")
    assert cat.table("region").storageLevel.useMemory
    cat.table("region").unpersist()


def test_driver_contract_integrity():
    """Guard the driver contract against drift: every oracle belongs to
    a declared query, the rows-only set is exactly the five documented
    non-hashable ops, and every query carries a docstring (the judge's
    parity citations live there)."""
    import __spark_entry__ as entrymod

    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs), "orphan oracle entries"
    # the float k-means IVF and pagerank are not registered (their
    # exact integer twins carry the hash gate; the float operators stay,
    # tested directly), and text_bpe_vocab's fixed num_merges lets its
    # oracle unroll all ten training rounds
    assert set(qs) - set(os_) == {
        "a2_approx_distinct",   # HLL sketch — not exact-hashable (exact twin grain in g7_ego_indicators)
        "mm_decode_stats",      # JPEG/GIF rows are quantized codec outputs, not replayable arithmetic (lossless twin mm_lossless_decode_stats is oracled; mm_frame_sample has an arithmetic-replay oracle)
    }
    for name, fn in qs.items():
        assert fn.__doc__, f"{name} has no docstring"
    # every rows-only entry must point at its exact twin / golden in its
    # docstring: the registry is 100% oracled OR carries a one-line
    # pointer to exact evidence
    twin_pointer = {
        "a2_approx_distinct": "countDistinct",
        "mm_decode_stats": "mm_lossless_decode_stats",
    }
    for name, needle in twin_pointer.items():
        assert needle in qs[name].__doc__, f"{name} lacks twin pointer"


# Queries whose DuckDB oracle REPLAYS the engine's own arithmetic
# (unrolled-CTE training/iteration chains, fixed-round recurrences, or
# literal-for-literal formula replays). For these, the hash gate proves
# CROSS-ENGINE AGREEMENT, not correctness — a bug mirrored into the
# oracle passes the gate (the eval_judge_agreement kappa lesson,
# 38f4f04). Every entry therefore names its SECOND WITNESS: an
# independent pure-python model test (module, test function) that
# exists and re-derives the same numbers from scratch, a registry-level
# contract like the rows-only twin-pointer above.
UNROLLED_ORACLE_MIRRORS = {
    "text_bpe_vocab": ("tests.test_bpe", "test_bpe_train_matches_reference"),
    "text_bpe_encode": ("tests.test_bpe", "test_bpe_encode_matches_reference"),
    "text_bpe_fertility": ("tests.test_bpe", "test_bpe_encode_matches_reference"),
    "text_wordpiece_encode": ("tests.test_bpe", "test_wordpiece_encode_matches_python_mirror"),
    "text_wordpiece_batch": ("tests.test_bpe", "test_wordpiece_encode_matches_python_mirror"),
    "text_wordpiece_fertility": ("tests.test_bpe", "test_wordpiece_encode_matches_python_mirror"),
    "text_unigram_vocab": ("tests.test_unigram", "test_unigram_train_matches_python_em_mirror"),
    "text_unigram_encode": ("tests.test_unigram", "test_viterbi_matches_bruteforce"),
    "text_unigram_batch": ("tests.test_unigram", "test_viterbi_matches_bruteforce"),
    "text_unigram_fertility": ("tests.test_unigram", "test_viterbi_matches_bruteforce"),
    "web_hits": ("tests.test_graph", "test_hits_int_matches_python_model"),
    "g_pagerank_int": ("tests.test_graph", "test_pagerank_int_matches_local_integer_recurrence"),
    "web_pagerank": ("tests.test_graph", "test_pagerank_int_matches_local_integer_recurrence"),
    "ann_ivf_kmeans_int": ("tests.test_properties", "test_kmeans_int_matches_python_model"),
    "ann_pq_trained": ("tests.test_properties", "test_pq_trained_codes_match_python_model"),
    "ann_pq_trained_topk": ("tests.test_properties", "test_pq_trained_codes_match_python_model"),
    "ann_sq8_codes": ("tests.test_properties", "test_sq8_codes_match_python_model"),
    "ann_sq8_topk": ("tests.test_properties", "test_sq8_topk_matches_python_model"),
    "ann_sq8_drift": ("tests.test_properties", "test_sq8_frozen_matches_python_model"),
    "ann_bq_topk": ("tests.test_properties", "test_bq_topk_matches_python_model"),
    "eval_pass_at_k": ("tests.test_properties", "test_pass_at_k_matches_comb_model"),
    "eval_em_f1": ("tests.test_properties", "test_em_f1_matches_counter_model"),
    "rl_group_advantage": ("tests.test_properties", "test_group_advantage_matches_moment_model"),
    "eval_winrate_matrix": ("tests.test_properties", "test_winrate_matrix_matches_pair_model"),
    "eval_judge_agreement": ("tests.test_properties", "test_judge_agreement_matches_counter_model"),
    "pii_t_closeness": ("tests.test_properties", "test_t_closeness_matches_fraction_model"),
    "pii_release_report": ("tests.test_properties", "test_t_closeness_matches_fraction_model"),
    # further replay-style oracles whose independent witnesses live
    # beside other tests (mapped here so the contract covers them)
    "ev_kmv_distinct": ("tests.test_properties", "test_kmv_distinct_matches_python_model"),
    "ev_kmv_overlap": ("tests.test_properties", "test_kmv_distinct_matches_python_model"),
    "ev_kmv_sliding": ("tests.test_properties", "test_kmv_distinct_matches_python_model"),
    "corpus_shuffle": ("tests.test_properties", "test_seeded_shuffle_matches_sorted_md5_model"),
    "text_bm25_topk": ("tests.test_properties", "test_bm25_matches_pure_python_model"),
    "text_bm25_rerank": ("tests.test_properties", "test_bm25_matches_pure_python_model"),
    "mix_dsir_select": ("tests.test_mixing_featurize", "test_dsir_weights_match_python_model"),
    "lh_zorder_stats": ("tests.test_lakehouse", "test_zorder_value_matches_reference_interleave"),
    "lh_hilbert_stats": ("tests.test_lakehouse", "test_hilbert_value_matches_reference_walk"),
    "lh_snapshot_diff": ("tests.test_properties", "test_snapshot_diff_matches_dict_model"),
    "g_sssp": ("tests.test_graph", "test_sssp_matches_dijkstra_model"),
    "pack_sequences": ("tests.test_properties", "test_pack_sequences_matches_model"),
    "dedup_passage": ("tests.test_properties", "test_passage_dedup_matches_model"),
    "g7_ego_indicators": ("tests.test_properties", "test_ego_indicators_matches_model_both_regimes"),
}


def test_unrolled_oracle_queries_have_python_mirrors():
    """Every unrolled-oracle registry entry names an existing,
    importable second-witness test (see UNROLLED_ORACLE_MIRRORS). A new
    replay-style oracle without a python mirror fails here, not in a
    future judge round."""
    import importlib

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for qname, (mod, test) in UNROLLED_ORACLE_MIRRORS.items():
        assert qname in qs, f"{qname}: mirror mapped but not registered"
        m = importlib.import_module(mod)
        assert callable(getattr(m, test, None)), (
            f"{qname}: second-witness test {mod}.{test} is missing — the "
            "oracle replays engine arithmetic, so it needs an independent "
            "pure-python model (the kappa lesson)"
        )


def test_a2_hll_tracks_exact_count(spark, sf_dir):
    """The HLL rows-only query's estimates stay within the documented
    relative-error band of the exact per-author distinct counts (the
    exact twin grain `g7_ego_indicators` also carries)."""
    import __spark_entry__ as entrymod

    approx = {
        r["author"]: r["approx_papers"]
        for r in entrymod.queries()["a2_approx_distinct"](spark, sf_dir).collect()
    }
    from iconic_data_science_spark import magmap

    exact = {
        r["author"]: r["papers"]
        for r in magmap.paa(Catalog(spark, sf_dir))
        .groupBy("author")
        .agg(F.countDistinct("paper").alias("papers"))
        .collect()
    }
    assert set(approx) == set(exact)
    for a, est in approx.items():
        # approx_count_distinct default rsd=0.05; generous 3-sigma-ish band
        assert abs(est - exact[a]) <= max(2, 0.15 * exact[a]), (a, est, exact[a])


def test_catalog_validate(spark, sf_dir, tmp_path):
    import pytest

    Catalog(spark, sf_dir).validate()  # healthy dir passes quietly
    # missing table -> one clear error naming it
    with pytest.raises(ValueError, match="lineitem: unreadable"):
        Catalog(spark, str(tmp_path)).validate(("lineitem",))
    # schema drift -> names the missing columns
    bad = Catalog(
        spark, sf_dir,
        overrides={"documents": spark.createDataFrame([(1,)], "doc_id bigint")},
    )
    with pytest.raises(ValueError, match=r"documents: missing columns \['text'\]"):
        bad.validate(("documents",))


def test_session3_queries_partition_invariant(spark, sf_dir):
    """Each of these retrieval, sampling and rollup queries must hash
    identically under a different shuffle-partition count (7 vs the session's 32) — results may never
    depend on physical partitioning (the determinism playbook check)."""
    import __spark_entry__ as entrymod

    names = [
        "text_bm25_topk", "text_bm25_rerank", "semdedup_prune", "ann_pq_topk",
        "corpus_shuffle", "select_token_budget", "text_inverted_index",
        "dedup_incremental", "ts_anomaly_hours", "lh_snapshot_diff",
        "text_lang_confusion", "g_sssp", "corpus_datacard",
    ]
    qs = entrymod.queries()

    def snap(name):
        pdf = qs[name](spark, sf_dir).toPandas()
        cols = sorted(pdf.columns)
        return pdf.reindex(cols, axis=1).sort_values(by=cols, ignore_index=True)

    base = {n: snap(n) for n in names}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        for n in names:
            import pandas as pd

            pd.testing.assert_frame_equal(snap(n), base[n], check_dtype=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_compute_dense_floor_opt_in_and_reset(spark):
    """mark_compute_dense lowers the AQE coalescing floor for one query's
    lifetime; ensure_engine_conf (run by every query's catalog
    construction) restores Spark's default, so the opt-in can never leak
    into the next query's execution."""
    from iconic_data_science_spark.session import (
        DENSE_MIN_PARTITION_SIZE,
        ensure_engine_conf,
        mark_compute_dense,
    )

    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    mark_compute_dense(spark)
    assert spark.conf.get(key) == DENSE_MIN_PARTITION_SIZE
    ensure_engine_conf(spark)
    assert spark.conf.get(key) == "1m"


class _StubConf:
    """``spark.conf`` stand-in that rejects a set of keys the way a
    restricted session rejects static conf."""

    def __init__(self, rejects):
        self.rejects = rejects
        self.values = {"spark.sql.session.timeZone": "America/New_York"}

    def set(self, key, value):
        if key in self.rejects:
            raise RuntimeError(f"Cannot modify the value of a static config: {key}")
        self.values[key] = value

    def get(self, key, default=None):
        return self.values.get(key, default)


def test_ensure_engine_conf_fails_loudly_on_correctness_keys():
    """A session that rejects the UTC pin raises instead of hashing
    timestamps in its own timezone; a rejected performance key is
    still best-effort."""
    import types

    import pytest

    from iconic_data_science_spark.session import ensure_engine_conf

    tz_locked = types.SimpleNamespace(conf=_StubConf({"spark.sql.session.timeZone"}))
    with pytest.raises(RuntimeError, match="spark.sql.session.timeZone"):
        ensure_engine_conf(tz_locked)

    aqe_locked = types.SimpleNamespace(conf=_StubConf({"spark.sql.adaptive.enabled"}))
    ensure_engine_conf(aqe_locked)
    assert aqe_locked.conf.values["spark.sql.session.timeZone"] == "UTC"


# Records of the retired round driver. They are gone from the tree (git
# history keeps them), so a comment naming one points nowhere; this
# module is skipped because it spells the patterns out.
_RECORD_NAME = re.compile(
    r"\b(?:VERDICT|ADVICE)\b"
    r"|\b(?:NOTES|BENCH|CORRECTNESS|PERF|VERIFY|OPTIMIZATION)_r\w*"
    r"|\bparity_(?:timing|hostile)_r\w*"
    r"|\bplans/r\w*"
)


def test_no_dangling_record_references():
    """No tracked .py file, README.md or the verify skill names a record
    file that does not exist."""
    import subprocess

    root = Path(__file__).resolve().parent.parent
    tracked = subprocess.run(
        ["git", "ls-files", "*.py", "README.md", ".claude/skills/verify/SKILL.md"],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout.split()
    dangling = [
        f"{rel}:{n}: {m.group(0)}"
        for rel in tracked
        if root / rel != Path(__file__).resolve()
        for n, line in enumerate((root / rel).read_text().splitlines(), 1)
        for m in _RECORD_NAME.finditer(line)
        if not any(root.glob(m.group(0) + "*"))
    ]
    assert not dangling, dangling
