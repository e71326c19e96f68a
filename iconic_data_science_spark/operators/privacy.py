"""Privacy auditing: k-anonymity, l-diversity, and t-closeness over
quasi-identifier groups.

Extends the PII surface next to :func:`text.pii_redact` (pattern
redaction) with the RELEASE-side audit every privacy review runs before
a dataset ships (Sweeney 2002, "k-Anonymity: a model for protecting
privacy"; Machanavajjhala et al. 2007, "l-Diversity: privacy beyond
k-anonymity"; Li, Li & Venkatasubramanian 2007, "t-Closeness: privacy
beyond k-anonymity and l-diversity", ICDE):

- a record is k-anonymous iff at least ``k`` records share its full
  quasi-identifier tuple (the re-identification bound);
- a quasi-group is l-diverse iff it contains at least ``l`` DISTINCT
  values of the sensitive attribute (k-anonymity alone fails when the
  whole group shares one sensitive value — the homogeneity attack);
- a quasi-group is t-close iff the distance between ITS sensitive-value
  distribution and the WHOLE table's is at most ``t`` (l-diversity
  alone fails when a group's values are diverse but skewed far from the
  corpus — the skewness attack).

Shape: quasi-tuple-grain aggregates (count + exact distinct per group,
map-side partial); t-closeness adds the (quasi, value)-cell rollup and
a corpus-marginal join — everything after the first aggregate operates
on tables bounded by the identifier/value domain product, never by
records. At 100 TB these are one-or-three shuffles at the natural audit
grains. All outputs are exact integers — engine-agnostic by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def k_anonymity_audit(
    records: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """(quasi..., group_size, n_sensitive, k_anonymous, l_diverse,
    at_risk) — the per-quasi-group privacy audit:

      - group_size: records sharing the quasi tuple (the "k" of this
        group);
      - n_sensitive: exact distinct sensitive values in the group (the
        "l");
      - k_anonymous / l_diverse: the two gates at the given thresholds;
      - at_risk: the release blocker — a group failing EITHER gate
        (small enough to re-identify, or homogeneous enough to infer
        the sensitive value).

    Null quasi values form their own group (SQL GROUP BY semantics on
    both engines); a null sensitive value counts as one distinct value
    — counted WITHOUT a string sentinel (a sentinel like ' null'
    collides with a genuine string value ' null', merging two distinct
    values and undercounting n_sensitive): n_sensitive is the exact
    distinct of the raw column (COUNT DISTINCT skips nulls on both
    engines) plus 1 iff the group contains a null. Deterministic and
    collision-free for every column type."""
    s = F.col(sensitive_col)
    return (
        records.select(*quasi_cols, s.alias("_s"))
        .groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            (
                F.countDistinct("_s")
                + F.max(F.when(F.col("_s").isNull(), 1).otherwise(0))
            )
            .cast("long")
            .alias("n_sensitive"),
        )
        .select(
            *quasi_cols,
            "group_size",
            "n_sensitive",
            (F.col("group_size") >= int(k)).cast("long").alias("k_anonymous"),
            (F.col("n_sensitive") >= int(l)).cast("long").alias("l_diverse"),
            (
                (F.col("group_size") < int(k))
                | (F.col("n_sensitive") < int(l))
            ).cast("long").alias("at_risk"),
        )
    )


def anonymity_summary(audit: DataFrame, quasi_cols: list[str]) -> DataFrame:
    """(n_groups, n_records, min_k, n_at_risk_groups, n_at_risk_records,
    risk_milli) — the one-row release decision over a
    :func:`k_anonymity_audit` frame: the dataset's effective k (the
    minimum group size — the number privacy reviews quote), how many
    records sit in failing groups, and the at-risk record share
    per-mille (floor, exact). Aggregates the bounded group table — no
    second pass over the records. ``quasi_cols`` declares the audit
    frame's expected grouping columns and is VALIDATED against it (a
    summary over the wrong audit frame is a silent release-decision
    error, so the mismatch raises)."""
    missing = [c for c in quasi_cols if c not in audit.columns]
    if missing:
        raise ValueError(
            f"anonymity_summary: quasi columns {missing} not in the audit "
            f"frame (has {audit.columns}) — was this frame produced by "
            "k_anonymity_audit over the same quasi-identifier tuple?"
        )
    # SUM over an empty audit is NULL; the release decision for an
    # empty dataset is 0 records / 0 at risk (min_k stays NULL — there
    # is no group whose size could be quoted). Same NULL-on-empty
    # class as judge_agreement's pe_num.
    return audit.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.coalesce(F.sum("group_size"), F.lit(0))
        .cast("long")
        .alias("n_records"),
        F.min("group_size").cast("long").alias("min_k"),
        F.coalesce(F.sum("at_risk"), F.lit(0))
        .cast("long")
        .alias("n_at_risk_groups"),
        F.coalesce(F.sum(F.col("at_risk") * F.col("group_size")), F.lit(0))
        .cast("long")
        .alias("n_at_risk_records"),
    ).select(
        "n_groups",
        "n_records",
        "min_k",
        "n_at_risk_groups",
        "n_at_risk_records",
        F.when(F.col("n_records") > 0,
               F.floor(
                   F.lit(1000) * F.col("n_at_risk_records")
                   / F.col("n_records")
               ).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("risk_milli"),
    )


def t_closeness_audit(
    records: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_milli: int = 200,
) -> DataFrame:
    """(quasi..., group_size, n_values, tv_num, tv_den, tv_milli,
    t_close) — the t-closeness audit (Li, Li & Venkatasubramanian,
    ICDE 2007) with the VARIATIONAL (total-variation) distance, which
    is exact-rational on integer counts:

        TV(group, corpus) = 1/2 * sum_v |cnt_gv/n_g - cnt_v/N|

    emitted as the exact integer fraction tv_num / tv_den over the
    common denominator (tv_den = 2*n_g*N; present values contribute
    |cnt_gv*N - cnt_v*n_g|, values absent from the group contribute
    their full corpus mass (N - sum_present cnt_v)*n_g), plus the
    per-mille floor and the gate at ``t_milli`` — the gate compares
    1000*tv_num <= t_milli*tv_den on integers, so NO float ever enters
    the decision. A NULL sensitive value is one distribution value
    (GROUP BY / PARTITION BY put nulls in one class on both engines).

    Shape: ONE record-grain aggregate to (quasi, value) cells, then
    window sums over the DOMAIN-BOUNDED cell table (corpus marginal by
    value, group total by quasi, grand total) and one cell-grain
    rollup — after the first shuffle nothing scales with records, so
    the audit costs one pass at 100 TB like its k/l siblings.

    Exact-int64 envelope (enforced): 1000*tv_num <= 2000*N^2 must fit
    int64, so the audit raises past N = 67 million records rather than
    wrap silently (the pass_at_k guard discipline); shard larger
    releases by a partition column and audit shards independently."""
    s = F.col(sensitive_col)
    cells = (
        records.select(*quasi_cols, s.alias("_s"))
        .groupBy(*quasi_cols, "_s")
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt_gv"))
    )
    w_val = W.partitionBy("_s")
    w_grp = W.partitionBy(*quasi_cols)
    w_all = W.partitionBy()
    staged = cells.select(
        *quasi_cols,
        "_cnt_gv",
        F.sum("_cnt_gv").over(w_val).cast("long").alias("_cnt_v"),
        F.sum("_cnt_gv").over(w_grp).cast("long").alias("_n_g"),
        F.sum("_cnt_gv").over(w_all).cast("long").alias("_n"),
    )
    n = F.col("_n")
    n_g = F.col("_n_g")
    dev = F.abs(F.col("_cnt_gv") * n - F.col("_cnt_v") * n_g)
    grouped = staged.groupBy(*quasi_cols).agg(
        F.max(n_g).alias("group_size"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum(dev).cast("long").alias("_present_dev"),
        F.sum("_cnt_v").cast("long").alias("_present_cv"),
        F.max(n).alias("_nn"),
    )
    guarded_num = F.when(
        F.col("_nn") > F.lit(67_000_000).cast("long"),
        F.raise_error(
            F.concat(
                F.lit("t_closeness_audit: N="),
                F.col("_nn").cast("string"),
                F.lit(
                    " records exceeds the exact int64 envelope (67M) — "
                    "shard the release and audit shards independently"
                ),
            )
        ).cast("long"),
    ).otherwise(
        F.col("_present_dev")
        + (F.col("_nn") - F.col("_present_cv")) * F.col("group_size")
    )
    out = grouped.select(
        *quasi_cols,
        "group_size",
        "n_values",
        guarded_num.alias("tv_num"),
        (F.lit(2).cast("long") * F.col("group_size") * F.col("_nn")).alias(
            "tv_den"
        ),
    )
    return out.select(
        *quasi_cols,
        "group_size",
        "n_values",
        "tv_num",
        "tv_den",
        F.expr("(1000 * tv_num) div tv_den").alias("tv_milli"),
        (
            F.lit(1000).cast("long") * F.col("tv_num")
            <= F.lit(int(t_milli)).cast("long") * F.col("tv_den")
        )
        .cast("long")
        .alias("t_close"),
    )


def release_report(
    records: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
    t_milli: int = 200,
) -> DataFrame:
    """(n_groups, n_records, min_k, n_kl_at_risk_groups,
    n_kl_at_risk_records, n_t_violating_groups, n_t_violating_records,
    max_tv_milli, release_ok) — the ONE-ROW release decision over all
    three privacy gates (k-anonymity, l-diversity, t-closeness).

    Rides :func:`t_closeness_audit` ALONE: that audit's ``group_size``
    is exactly k-anonymity's group size, and its ``n_values`` (distinct
    sensitive values with NULL as one class) is exactly the audit
    l-count — so the whole tri-gate report costs ONE record-grain
    aggregate plus bounded-table arithmetic, not three passes over the
    records. release_ok = no record sits in a group failing k or l AND
    no group violates t (the skewness gate) — all compared on exact
    integers.

    Empty-dataset convention (the anonymity_summary NULL-on-empty
    class): 0 groups / 0 records / release_ok = 1 (nothing to leak),
    with min_k and max_tv_milli NULL — there is no group to quote."""
    audit = t_closeness_audit(
        records, quasi_cols, sensitive_col, t_milli=t_milli
    )
    kl_risk = (F.col("group_size") < int(k)) | (F.col("n_values") < int(l))
    t_viol = F.col("t_close") == 0
    zsum = lambda c: F.coalesce(F.sum(c), F.lit(0)).cast("long")  # noqa: E731
    return audit.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        zsum(F.col("group_size")).alias("n_records"),
        F.min("group_size").cast("long").alias("min_k"),
        zsum(kl_risk.cast("long")).alias("n_kl_at_risk_groups"),
        zsum(F.when(kl_risk, F.col("group_size")).otherwise(0)).alias(
            "n_kl_at_risk_records"
        ),
        zsum(t_viol.cast("long")).alias("n_t_violating_groups"),
        zsum(F.when(t_viol, F.col("group_size")).otherwise(0)).alias(
            "n_t_violating_records"
        ),
        F.max("tv_milli").cast("long").alias("max_tv_milli"),
    ).select(
        "n_groups",
        "n_records",
        "min_k",
        "n_kl_at_risk_groups",
        "n_kl_at_risk_records",
        "n_t_violating_groups",
        "n_t_violating_records",
        "max_tv_milli",
        (
            (F.col("n_kl_at_risk_records") == 0)
            & (F.col("n_t_violating_groups") == 0)
        )
        .cast("long")
        .alias("release_ok"),
    )
