"""Evaluation / RL data family (operators/evaluation.py): pass@k
against a Python math.comb mirror, SQuAD EM/F1 hand cases, and the
GRPO moment invariants."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from iconic_data_science_spark.operators.evaluation import (
    em_f1,
    group_advantage,
    pass_at_k,
    synth_eval_samples,
    synth_predictions,
)


def _mirror_pass_milli(n: int, c: int, k: int) -> int:
    """The estimator at full precision: 1 - C(n-c,k)/C(n,k), floored
    per-mille via the same integer falling-factorial arithmetic."""
    num = 1
    den = 1
    for i in range(k):
        num *= max(n - c - i, 0)
        den *= n - i
    return 1000 - (1000 * num) // den


def test_pass_at_k_matches_comb_mirror(spark):
    """Hand table over every (n, c) at n=6: pass_milli must equal the
    math.comb closed form (floored per-mille) for each k <= n."""
    rows = []
    for c in range(7):
        for s in range(6):
            rows.append((c, s, 1 if s < c else 0))
    samples = spark.createDataFrame(
        rows, "task_id bigint, sample_id bigint, correct bigint"
    )
    got = {
        (r.task_id, r.k): (r.n_samples, r.n_correct, r.pass_milli)
        for r in pass_at_k(samples, ks=(1, 2, 5, 6)).collect()
    }
    for c in range(7):
        for k in (1, 2, 5, 6):
            n_, c_, milli = got[(c, k)]
            assert (n_, c_) == (6, c)
            assert milli == _mirror_pass_milli(6, c, k)
            # cross-check the falling-factorial form against math.comb
            comb_milli = 1000 - (1000 * math.comb(6 - c, k)) // math.comb(
                6, k
            ) if 6 - c >= k else 1000
            assert milli == comb_milli, (c, k)


def test_pass_at_k_envelope_guard(spark):
    """Regression: HumanEval-scale (n, k) pushes perm(n, k)
    past int64 and Spark's long multiply wraps SILENTLY — the operator
    must raise on rows outside the exact envelope (k·log2(n) > 52), not
    return a wrapped pass_milli. Inside the envelope at the same n it
    still computes exactly."""
    import pytest

    rows = [(0, s, 1 if s < 3 else 0) for s in range(100)]
    samples = spark.createDataFrame(
        rows, "task_id bigint, sample_id bigint, correct bigint"
    )
    with pytest.raises(Exception, match="envelope"):
        pass_at_k(samples, ks=(50,)).collect()
    # n=100, k=7: 7*log2(100) ~ 46.5 <= 52 — inside, exact
    got = pass_at_k(samples, ks=(7,)).collect()[0]
    assert got.pass_milli == _mirror_pass_milli(100, 3, 7)


def test_pass_at_k_monotone_and_k_gt_n_dropped(spark, sf_dir):
    """pass@k is nondecreasing in k for fixed (n, c); k > n rows are
    dropped; pass@1 is exactly floor(1000 c / n)."""
    samples = synth_eval_samples(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), 4
    )
    out = pass_at_k(samples, ks=(1, 2, 4, 9)).collect()
    assert all(r.k <= r.n_samples for r in out)
    assert not [r for r in out if r.k == 9], "k=9 > n=4 must drop"
    by_task: dict = {}
    for r in out:
        by_task.setdefault(r.task_id, {})[r.k] = r
    for task, ks in by_task.items():
        ms = [ks[k].pass_milli for k in sorted(ks)]
        assert ms == sorted(ms), (task, ms)
        r1 = ks[1]
        assert r1.pass_milli == (1000 * r1.n_correct) // r1.n_samples


def test_em_f1_hand_cases(spark):
    """SQuAD conventions: exact match, multiset (not set) overlap,
    empty-side precision/recall, both-empty = 1000."""
    rows = [
        (0, 0, ["a", "b", "c"], ["a", "b", "c"]),       # exact
        (1, 0, ["a", "a", "b"], ["a", "b", "b"]),       # multiset: a:1+b:1=2
        (2, 0, [], ["a"]),                              # empty pred
        (3, 0, ["a"], []),                              # empty ref
        (4, 0, [], []),                                 # both empty
        (5, 0, ["x", "y"], ["a", "b"]),                 # disjoint
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, mode bigint, pred array<string>, ref array<string>"
    )
    got = {r.doc_id: r for r in em_f1(df).collect()}
    assert (got[0].em, got[0].f1_milli) == (1, 1000)
    assert got[1].overlap == 2  # min-count per distinct token, not set size
    assert got[1].precision_milli == 666 and got[1].recall_milli == 666
    assert got[1].f1_milli == 666
    assert (got[2].precision_milli, got[2].recall_milli, got[2].f1_milli) == (
        0, 0, 0,
    )
    assert (got[3].precision_milli, got[3].recall_milli, got[3].f1_milli) == (
        0, 0, 0,
    )
    assert (got[4].em, got[4].precision_milli, got[4].f1_milli) == (
        1, 1000, 1000,
    )
    assert (got[5].overlap, got[5].f1_milli) == (0, 0)


def test_synth_predictions_modes(spark, sf_dir):
    """Every md5 mode appears on the real corpus, and the mode
    semantics hold: mode 2 is EM=1, mode 0 drops exactly one ref
    token (full-length docs), mode 3 overlaps at most half."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = synth_predictions(docs, span=8)
    scored = em_f1(pairs).collect()
    modes = {r.mode for r in scored}
    assert modes == {0, 1, 2, 3}
    for r in scored:
        if r.mode == 2:
            assert r.em == 1 and r.f1_milli == 1000
        if r.mode == 0 and r.n_ref == 8:
            assert r.n_pred == 7 and r.overlap == 7


def test_group_advantage_moment_invariants(spark):
    """Exact-moment algebra on a hand group plus the degenerate
    single-response and all-tie groups: adv_num sums to 0 per group,
    var_num = n²·var is constant within the group and 0 on ties,
    grp_rank is the (score desc, response_id) permutation."""
    rows = [
        (0, 0, 5), (0, 1, 3), (0, 2, 1),       # var = 8/3 -> var_num = 24
        (1, 0, 4), (1, 1, 4),                  # all-tie
        (2, 0, 7),                             # singleton
    ]
    df = spark.createDataFrame(
        rows, "prompt_id bigint, response_id bigint, score bigint"
    )
    got = {(r.prompt_id, r.response_id): r for r in group_advantage(df).collect()}
    g0 = [got[(0, i)] for i in range(3)]
    assert [r.adv_num for r in g0] == [6, 0, -6]  # 3*score - 9
    assert {r.var_num for r in g0} == {24}  # 3*35 - 81
    assert [r.grp_rank for r in g0] == [1, 2, 3]
    assert got[(1, 0)].var_num == 0 and got[(1, 0)].adv_num == 0
    assert got[(1, 0)].grp_rank == 1 and got[(1, 1)].grp_rank == 2
    assert got[(2, 0)].n_group == 1 and got[(2, 0)].var_num == 0


def test_group_advantage_sums_to_zero_on_corpus(spark, sf_dir):
    """On the real synth responses: Σ adv_num = 0 within every group
    and var_num >= 0 everywhere."""
    from iconic_data_science_spark.operators.alignment import (
        synth_preference_responses,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ga = group_advantage(synth_preference_responses(docs, n_responses=4))
    bad = (
        ga.groupBy("prompt_id")
        .agg(F.sum("adv_num").alias("s"), F.min("var_num").alias("v"))
        .filter((F.col("s") != 0) | (F.col("v") < 0))
        .count()
    )
    assert bad == 0


def test_winrate_matrix_hand_case_and_invariants(spark):
    """Known scores: counts and tie-aware rates must match by hand;
    wins_a + ties + wins_b = n_prompts on every pair; only a < b
    pairs are emitted."""
    rows = [
        (0, 0, 5), (0, 1, 3), (0, 2, 3),
        (1, 0, 1), (1, 1, 4), (1, 2, 4),
    ]
    from iconic_data_science_spark.operators.evaluation import winrate_matrix

    df = spark.createDataFrame(
        rows, "prompt_id bigint, response_id bigint, score bigint"
    )
    got = {(r.variant_a, r.variant_b): r for r in winrate_matrix(df).collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    # variant 0 vs 1: prompt0 5>3 win, prompt1 1<4 loss
    r01 = got[(0, 1)]
    assert (r01.wins_a, r01.ties, r01.wins_b) == (1, 0, 1)
    assert r01.wr_a_milli == 500
    # variant 1 vs 2: 3=3 tie, 4=4 tie
    r12 = got[(1, 2)]
    assert (r12.wins_a, r12.ties, r12.wins_b) == (0, 2, 0)
    assert r12.wr_a_milli == 500
    for r in got.values():
        assert r.wins_a + r.ties + r.wins_b == r.n_prompts
        assert r.variant_a < r.variant_b


def test_judge_agreement_hand_kappa(spark):
    """A hand confusion matrix with known kappa: verdicts built so
    that N=10, agree=7, marginals row=(5,3,2) col=(4,4,2) →
    pe_num=34, kappa = (70-34)/(100-34) = 36/66. Plus the
    below-chance case: perfect DISagreement on 2 classes gives a
    NEGATIVE kappa_num — the reason the contract emits num/den."""
    from iconic_data_science_spark.operators.evaluation import judge_agreement

    v = []
    i = 0
    # diag: (0,0)x3 (1,1)x2 (2,2)x2 ; off: (0,1)x2 (1,2)x0 (0,2)x0 (1,0)x1
    for j1, j2, n in [(0, 0, 3), (1, 1, 2), (2, 2, 2), (0, 1, 2), (1, 0, 1)]:
        for _ in range(n):
            v.append((i, j1, j2))
            i += 1
    df = spark.createDataFrame(v, "doc_id bigint, j1 bigint, j2 bigint")
    rows = judge_agreement(df).collect()
    r = rows[0]
    assert r.n_total == 10 and r.n_agree == 7
    # marginals: row0=5,row1=3,row2=2; col0=4,col1=4,col2=2
    assert r.pe_num == 5 * 4 + 3 * 4 + 2 * 2
    assert r.kappa_num == 10 * 7 - 36 and r.kappa_den == 100 - 36
    assert r.po_milli == 700
    assert {(x.j1, x.j2, x.n_pairs) for x in rows} == {
        (0, 0, 3), (1, 1, 2), (2, 2, 2), (0, 1, 2), (1, 0, 1),
    }
    # below-chance: j2 = 1 - j1 everywhere → agree 0, kappa_num < 0
    anti = spark.createDataFrame(
        [(i, i % 2, 1 - i % 2) for i in range(10)],
        "doc_id bigint, j1 bigint, j2 bigint",
    )
    ar = judge_agreement(anti).collect()[0]
    assert ar.n_agree == 0 and ar.kappa_num < 0 and ar.kappa_den > 0


def test_synth_judge_verdicts_agreement_above_chance(spark, sf_dir):
    """The 70% copy gate must push observed agreement well above the
    1/3 chance rate on the real corpus, and kappa_num > 0."""
    from iconic_data_science_spark.operators.evaluation import (
        judge_agreement,
        synth_judge_verdicts,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = judge_agreement(synth_judge_verdicts(docs, agree_pct=70)).collect()[0]
    assert r.po_milli > 600  # ~70% + 30%·(1/3) ≈ 80%
    assert r.kappa_num > 0
