"""Privacy audit family (operators/privacy.py): k-anonymity /
l-diversity hand cases and the release-summary arithmetic."""

from __future__ import annotations

from iconic_data_science_spark.operators.privacy import (
    anonymity_summary,
    k_anonymity_audit,
)


def _rows(spark):
    # quasi (nation, seg): g1 = 6 records, 3 sensitive values (passes
    # both); g2 = 2 records (fails k); g3 = 5 records all one value
    # (passes k, fails l — the homogeneity attack); g4 = 1 record with
    # a NULL sensitive value (fails both; null counts as one value)
    data = []
    for i in range(6):
        data.append((1, "A", i % 3))
    for i in range(2):
        data.append((1, "B", i))
    for i in range(5):
        data.append((2, "A", 7))
    data.append((2, "B", None))
    return spark.createDataFrame(
        data, "nation int, seg string, bal int"
    )


def test_k_anonymity_audit_hand_groups(spark):
    df = _rows(spark)
    got = {
        (r.nation, r.seg): r
        for r in k_anonymity_audit(df, ["nation", "seg"], "bal", k=5, l=2).collect()
    }
    g1 = got[(1, "A")]
    assert (g1.group_size, g1.n_sensitive) == (6, 3)
    assert (g1.k_anonymous, g1.l_diverse, g1.at_risk) == (1, 1, 0)
    g2 = got[(1, "B")]
    assert (g2.group_size, g2.k_anonymous, g2.at_risk) == (2, 0, 1)
    g3 = got[(2, "A")]
    assert (g3.group_size, g3.n_sensitive) == (5, 1)
    assert (g3.k_anonymous, g3.l_diverse, g3.at_risk) == (1, 0, 1)
    g4 = got[(2, "B")]
    assert (g4.group_size, g4.n_sensitive, g4.at_risk) == (1, 1, 1)


def test_anonymity_summary_math(spark):
    df = _rows(spark)
    audit = k_anonymity_audit(df, ["nation", "seg"], "bal", k=5, l=2)
    s = anonymity_summary(audit, ["nation", "seg"]).collect()[0]
    assert s.n_groups == 4 and s.n_records == 14
    assert s.min_k == 1
    assert s.n_at_risk_groups == 3
    assert s.n_at_risk_records == 2 + 5 + 1
    assert s.risk_milli == (1000 * 8) // 14


def test_audit_is_exact_and_partition_invariant(spark, sf_dir):
    """The audit on the real customer table must be identical under
    repartitioning (exact counts, exact distinct — no approximation
    anywhere)."""
    import pyspark.sql.functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000)
        .cast("long")
        .alias("bal_bucket"),
    )
    quasi = ["c_nationkey", "c_mktsegment"]
    a = sorted(
        map(tuple, k_anonymity_audit(cust, quasi, "bal_bucket").collect())
    )
    b = sorted(
        map(
            tuple,
            k_anonymity_audit(
                cust.repartition(13), quasi, "bal_bucket"
            ).collect(),
        )
    )
    assert a == b
    # every record is in exactly one group
    total = sum(r[2] for r in a)
    assert total == cust.count()


def test_null_and_sentinel_string_stay_distinct(spark):
    """Regression: a genuine string sensitive value ' null'
    must NOT merge with a NULL sensitive value — the old string-sentinel
    coalesce undercounted n_sensitive to 1 here; the (distinct + null
    indicator) arithmetic counts 2."""
    df = spark.createDataFrame(
        [(1, "A", None), (1, "A", " null"), (1, "A", " null")],
        "nation int, seg string, bal string",
    )
    r = k_anonymity_audit(df, ["nation", "seg"], "bal", k=1, l=2).collect()[0]
    assert (r.group_size, r.n_sensitive, r.l_diverse) == (3, 2, 1)


def test_anonymity_summary_validates_quasi_cols(spark):
    """The summary rejects an audit frame missing the declared quasi
    columns (the wrong-frame release decision fails loudly)."""
    import pytest

    df = _rows(spark)
    audit = k_anonymity_audit(df, ["nation", "seg"], "bal", k=5, l=2)
    with pytest.raises(ValueError, match="quasi columns"):
        anonymity_summary(audit, ["nation", "zipcode"])


def test_t_closeness_hand_groups(spark):
    """Hand-computed variational distances (Li et al. 2007): a group
    matching the corpus distribution exactly is 0-close; a skewed group
    (the skewness attack l-diversity misses) lands at exactly 1/3."""
    from iconic_data_science_spark.operators.privacy import t_closeness_audit

    # corpus: value 0 x3, value 1 x6 (N = 9)
    data = (
        [(1, "A", 0), (1, "A", 0), (1, "A", 1)]      # skewed toward 0
        + [(1, "B", 1), (1, "B", 1), (1, "B", 1)]    # homogeneous at 1
        + [(2, "A", 0), (2, "A", 1), (2, "A", 1)]    # exactly corpus-shaped
    )
    df = spark.createDataFrame(data, "nation int, seg string, bal int")
    got = {
        (r.nation, r.seg): r
        for r in t_closeness_audit(
            df, ["nation", "seg"], "bal", t_milli=200
        ).collect()
    }
    g1 = got[(1, "A")]  # TV = (|2*9-3*3| + |1*9-6*3|) / (2*3*9) = 18/54
    assert (g1.group_size, g1.n_values) == (3, 2)
    assert (g1.tv_num, g1.tv_den, g1.tv_milli, g1.t_close) == (18, 54, 333, 0)
    g2 = got[(1, "B")]  # present dev 9 + absent corpus mass (9-6)*3 = 18/54
    assert (g2.tv_num, g2.tv_den, g2.tv_milli, g2.t_close) == (18, 54, 333, 0)
    g3 = got[(2, "A")]  # both cells cancel exactly
    assert (g3.tv_num, g3.tv_milli, g3.t_close) == (0, 0, 1)


def test_t_closeness_null_is_a_distribution_value(spark):
    """NULL sensitive values form one distribution class on both sides
    of the distance (GROUP BY/PARTITION BY null semantics)."""
    from iconic_data_science_spark.operators.privacy import t_closeness_audit

    df = spark.createDataFrame(
        [(1, None), (1, None), (2, 0), (2, None)], "q int, bal int"
    )
    got = {r.q: r for r in t_closeness_audit(df, ["q"], "bal").collect()}
    # corpus: NULL x3, 0 x1 (N=4); both groups: TV = 4/16 = 1/4
    assert (got[1].n_values, got[1].tv_num, got[1].tv_den) == (1, 4, 16)
    assert (got[2].n_values, got[2].tv_num, got[2].tv_den) == (2, 4, 16)
    assert got[1].tv_milli == got[2].tv_milli == 250


def test_release_report_tri_gate_hand_case(spark):
    """The one-row tri-gate decision over the t-closeness hand fixture:
    k/l failures and t violations counted exactly; release_ok only when
    both record-mass and distance gates clear."""
    from iconic_data_science_spark.operators.privacy import release_report

    data = (
        [(1, "A", 0), (1, "A", 0), (1, "A", 1)]      # size 3 < k, tv 1/3
        + [(1, "B", 1), (1, "B", 1), (1, "B", 1)]    # size 3 < k, 1 value < l
        + [(2, "A", 0), (2, "A", 1), (2, "A", 1)]    # size 3 < k, tv 0
    )
    df = spark.createDataFrame(data, "nation int, seg string, bal int")
    r = release_report(
        df, ["nation", "seg"], "bal", k=5, l=2, t_milli=200
    ).collect()[0]
    assert (r.n_groups, r.n_records, r.min_k) == (3, 9, 3)
    assert (r.n_kl_at_risk_groups, r.n_kl_at_risk_records) == (3, 9)
    assert (r.n_t_violating_groups, r.n_t_violating_records) == (2, 6)
    assert r.max_tv_milli == 333
    assert r.release_ok == 0
    # and a clean release: one big diverse corpus-shaped group
    ok = spark.createDataFrame(
        [(1, "A", i % 3) for i in range(12)], "nation int, seg string, bal int"
    )
    r2 = release_report(ok, ["nation", "seg"], "bal", k=5, l=2).collect()[0]
    assert (r2.n_kl_at_risk_records, r2.n_t_violating_groups) == (0, 0)
    assert r2.max_tv_milli == 0 and r2.release_ok == 1


def test_release_report_empty_dataset(spark):
    """Empty release: 0 groups / 0 records / release_ok = 1 (nothing to
    leak), min_k and max_tv_milli NULL — the NULL-on-empty class."""
    from iconic_data_science_spark.operators.privacy import release_report

    df = spark.createDataFrame([], "nation int, seg string, bal int")
    r = release_report(df, ["nation", "seg"], "bal").collect()[0]
    assert (r.n_groups, r.n_records, r.n_kl_at_risk_records,
            r.n_t_violating_groups, r.release_ok) == (0, 0, 0, 0, 1)
    assert r.min_k is None and r.max_tv_milli is None


def test_anonymity_summary_empty_dataset(spark):
    """An empty dataset's release decision is 0 records / 0 at risk /
    risk 0 (min_k NULL — no group to quote), not a row of NULLs (the
    judge_agreement NULL-on-empty class)."""
    df = spark.createDataFrame([], "nation int, seg string, bal int")
    audit = k_anonymity_audit(df, ["nation", "seg"], "bal", k=5, l=2)
    s = anonymity_summary(audit, ["nation", "seg"]).collect()[0]
    assert (s.n_groups, s.n_records, s.n_at_risk_groups,
            s.n_at_risk_records, s.risk_milli) == (0, 0, 0, 0, 0)
    assert s.min_k is None
