"""Every declared query must hash-match its DuckDB oracle (the driver's
t2 gate, replicated strictly). Runs at sf0.001 by default for speed;
set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 for the full-size check.

The eight queries the perfbench workloads run, plus
``decontaminate_semantic`` (the only gate on the HALF_UP rounding of
``similarity.semantic_decontaminate``'s numpy lattice), form an
always-on smoke subset. The queries whose operators choose a tier (``operators/tiers.py``)
also run, always, under each forced distributed tier: the broadcast loop
(``LOCAL_ROWS=0``) and the shuffle loop (``LOCAL_ROWS=0,
BROADCAST_ROWS=0``), so every tier is hash-gated on the same data. The
shuffle case also turns off the planner's own broadcasts (both
auto-broadcast thresholds at -1), since the loops persist their frames
with exact sizes under the engine's 64 MB threshold and would otherwise
still be planned as broadcast-hash joins.
The full 254-query sweep is a long gate: skipped unless
SPARK_GRAFT_FULL_GATES=1, because it pushes the default
``pytest tests/`` run past the verify window.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from .oracle_utils import FORCED_TIERS, forced_tier, run_parity

NAMES = sorted(entrymod.queries().keys())

SMOKE = [
    "g3_personal_net",
    "profile_conversion",
    "g7_ego_indicators",
    "g4_bfs",
    "dedup_minhash_lsh",
    "text_quality_score",
    "text_bpe_encode",
    "ann_lsh_topk",
    "decontaminate_semantic",
]

TIERED = [
    "g5_hierarchy_roots",
    "g4_bfs",
    "g_kcore",
    "g_pagerank_int",
    "g_sssp",
    "g_label_propagation",
    "web_pagerank",
    "web_hits",
    "web_components",
    "dedup_clusters",
    "dedup_keep_best",
    "text_leakage_safe_split",
    "text_bpe_vocab",
    "mix_epochs",
    "ann_pq_topk",
    "ann_ivfpq_topk",
]

full_gate = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_FULL_GATES"),
    reason="long gate suite; set SPARK_GRAFT_FULL_GATES=1 to run",
)


@pytest.mark.parametrize("name", SMOKE)
def test_smoke_query_matches_oracle(spark, sf_dir, name):
    problems = run_parity(spark, sf_dir, entrymod.queries()[name], entrymod.oracle_sql()[name])
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("tier", sorted(FORCED_TIERS))
@pytest.mark.parametrize("name", TIERED)
def test_forced_tier_matches_oracle(spark, sf_dir, monkeypatch, name, tier):
    with forced_tier(spark, monkeypatch, tier):
        problems = run_parity(spark, sf_dir, entrymod.queries()[name], entrymod.oracle_sql()[name])
    assert not problems, f"{name} [{tier}]: " + "; ".join(problems)


@full_gate
@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    q = entrymod.queries()[name]
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        df = q(spark, sf_dir)
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    problems = run_parity(spark, sf_dir, q, oracles[name])
    assert not problems, f"{name}: " + "; ".join(problems)


@full_gate
def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
