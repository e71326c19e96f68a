"""Model-evaluation and RL data assembly: pass@k estimation,
exact-match / token-F1 scoring, and group-relative advantage (GRPO)
preparation.

The reference has no evaluation surface (its pipeline ends at the
static coauthor network, StaticNet.scala); this completes the
post-training data family next to :mod:`.alignment` (FIM, DPO) with
the three canonical measurement/data steps a training pipeline runs at
scale:

- **pass@k** (Chen et al. 2021, "Evaluating Large Language Models
  Trained on Code", arXiv:2107.03374 — the unbiased estimator):
  per task with n samples and c correct,
  ``pass@k = 1 - C(n-c, k)/C(n, k)``. Computed EXACTLY on integers as
  falling-factorial products (``perm(n-c, k) / perm(n, k)``), emitted
  per-mille — no floating combinatorics, any engine replays it.
- **EM / token-F1** (the SQuAD scoring rules, Rajpurkar et al. 2016):
  exact string match plus multiset-token precision/recall/F1, all as
  exact integer per-mille ratios over in-row HOFs.
- **group advantage** (GRPO — Shao et al. 2024, "DeepSeekMath",
  arXiv:2402.03300 — the DATA step): per prompt-group of scored
  responses, the advantage and variance NUMERATORS on the integer
  lattice (``adv_num = score*n - sum`` = n·(score - mean);
  ``var_num = n·Σs² - (Σs)²`` = n²·var) plus the in-group rank — the
  trainer divides by n·sqrt(var_num)/n at its own precision; the
  engine's contract is the exact integers.

Design rules, same as the family:

- **Deterministic, hash-replayable synthesis.** Sample outcomes and
  prediction perturbations derive from md5 folds of the task id (the
  span_corruption/FIM discipline) — no RNG, every branch replayable.
- **Shapes**: EM/F1 is a pure in-row map (zero exchange, admits an
  append stream); pass@k and group advantage are ONE task/prompt-grain
  exchange each — the natural output grain, with bounded per-group
  state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _h12(s: Column) -> Column:
    """First 12 hex chars of md5 as a non-negative long (shared
    engine-exact hash fold; alignment.py:56 uses the same)."""
    return F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")


def _tokens(text_col: str) -> Column:
    return F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )


def synth_eval_samples(
    documents: DataFrame,
    n_samples: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """(task_id, sample_id, correct) — a deterministic per-task sample
    outcome table (the synth discipline: md5 arithmetic covers every
    difficulty regime, SQL-replayable).

    Each document is a task with its own difficulty
    p = fold(id || ':p') % 101 in [0, 100]; sample k is correct iff
    fold(id || ':' || k) % 100 < p — so tasks span always-fail (p=0),
    always-pass (p=100), and everything between, which is exactly the
    range the pass@k estimator must survive. In-row explode of a
    BOUNDED sequence — no shuffle."""
    base = documents.select(
        F.col(id_col).alias("task_id"),
        (_h12(F.concat(F.col(id_col).cast("string"), F.lit(":p"))) % 101).alias(
            "_p"
        ),
    )
    k = F.col("sample_id")
    return base.select(
        "task_id",
        F.explode(F.sequence(F.lit(0), F.lit(int(n_samples) - 1))).alias(
            "sample_id"
        ),
        "_p",
    ).select(
        "task_id",
        k.cast("long").alias("sample_id"),
        F.when(
            _h12(
                F.concat(
                    F.col("task_id").cast("string"), F.lit(":"),
                    k.cast("string"),
                )
            )
            % 100
            < F.col("_p"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("correct"),
    )


def pass_at_k(
    samples: DataFrame,
    ks: tuple[int, ...] = (1, 5, 10),
) -> DataFrame:
    """(task_id, k, n_samples, n_correct, pass_milli) — the unbiased
    pass@k estimator, exact:

        pass@k = 1 - perm(n-c, k) / perm(n, k)

    with perm the falling factorial, both products computed as integer
    in-row folds (n-c < k makes the numerator 0 → pass@k = 1). Emitted
    per-mille with floor division. Rows with k > n are dropped (the
    estimator is undefined there).

    Exactness envelope (enforced, not assumed): the scaled
    numerator 1000·perm(n, k) <= 1000·n^k must stay inside int64 or
    Spark's long multiply wraps SILENTLY (DuckDB promotes to HUGEINT —
    a wrong-result AND cross-engine-divergence hazard). Rows with
    k·log2(n) > 52 (=> 1000·n^k could pass 2^62) raise at runtime
    instead of wrapping. The division is integer ``div`` (exactly
    DuckDB's ``//`` on non-negative operands), never the double ``/``
    whose 2^-53 quotient error can flip the milli floor; a floating
    restatement (the product of (n-c-i)/(n-i) terms) was rejected for
    the same reason — IEEE rounding flips the floor on exact-ratio
    inputs as small as n=6, c=2, k=2 (true 400, double fold 399) —
    caught by tests/test_properties.py::test_pass_at_k_matches_comb_
    model, the pure-python second witness.

    Shape: ONE task-grain aggregate (count + sum, map-side partial),
    then an in-row explode of the literal k list and two bounded
    product folds — the per-task state is two longs regardless of
    sample count."""
    grp = samples.groupBy("task_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum("correct").cast("long").alias("n_correct"),
    )
    k = F.col("k")
    n = F.col("n_samples")
    c = F.col("n_correct")
    fold = lambda start: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), k - 1),
        F.lit(1).cast("long"),
        lambda acc, i: acc * F.greatest(start - i, F.lit(0).cast("long")),
    )
    staged = (
        grp.select(
            "task_id",
            "n_samples",
            "n_correct",
            F.explode(F.array(*[F.lit(int(x)).cast("long") for x in ks])).alias(
                "k"
            ),
        )
        .filter(k <= n)
        .select(
            "task_id",
            "k",
            "n_samples",
            "n_correct",
            fold(n - c).alias("_num"),
            fold(n).alias("_den"),
        )
    )
    guarded = F.when(
        k.cast("double") * F.log2(n.cast("double")) > F.lit(52.0),
        F.raise_error(
            F.concat(
                F.lit("pass_at_k: 1000*perm(n, k) may exceed 2^62 at n="),
                n.cast("string"),
                F.lit(", k="),
                k.cast("string"),
                F.lit(" — outside the exact int64 envelope (k*log2(n) > 52)"),
            )
        ).cast("long"),
    ).otherwise(
        F.lit(1000).cast("long") - F.expr("(1000 * _num) div _den")
    )
    return staged.select(
        "task_id",
        "k",
        "n_samples",
        "n_correct",
        guarded.alias("pass_milli"),
    )


def synth_predictions(
    documents: DataFrame,
    span: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, mode, pred, ref) — deterministic (prediction,
    reference) pairs off the document tokens: ref = the first ``span``
    tokens; the prediction perturbs it by mode = fold(id || ':m') % 4:
    0 drops the last token (recall loss), 1 shifts the window by one
    (partial overlap), 2 is exact (EM=1), 3 jumps half a span (low
    overlap). Short/empty docs exercise every degenerate branch.
    Pure in-row map."""
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        _tokens(text_col).alias("_t"),
        (_h12(F.concat(F.col(id_col).cast("string"), F.lit(":m"))) % 4).alias(
            "mode"
        ),
    )
    t = F.col("_t")
    s = int(span)
    pred = (
        F.when(F.col("mode") == 0, F.slice(t, 1, s - 1))
        .when(F.col("mode") == 1, F.slice(t, 2, s))
        .when(F.col("mode") == 2, F.slice(t, 1, s))
        .otherwise(F.slice(t, s // 2 + 1, s))
    )
    return base.select(
        "doc_id",
        F.col("mode").cast("long").alias("mode"),
        pred.alias("pred"),
        F.slice(t, 1, s).alias("ref"),
    )


def em_f1(
    pairs: DataFrame,
) -> DataFrame:
    """(doc_id, mode, em, overlap, n_pred, n_ref, precision_milli,
    recall_milli, f1_milli) — SQuAD-style scoring of (pred, ref) token
    arrays, exact:

      - em: whitespace-joined exact match (two empties match — the
        SQuAD null convention);
      - overlap: MULTISET intersection size — for each distinct pred
        token, min(count in pred, count in ref) — the quantity token-F1
        is defined over (duplicated tokens only count while both sides
        have copies);
      - precision/recall/F1 per-mille with floor division; the empty
        conventions: P = 1000 iff pred empty and ref empty else 0 when
        pred empty (and symmetrically for R), F1 = 1000 when both
        empty, 0 when overlap = 0.

    Pure in-row HOFs over the named arrays (the distinct-token outer
    fold is O(span²) per row at span=8) — zero exchanges, composes
    with the scan, admits an append stream."""
    p = F.col("pred")
    r = F.col("ref")
    cnt = lambda arr, tok: F.size(F.filter(arr, lambda x: x == tok))  # noqa: E731
    overlap = F.aggregate(
        F.array_distinct(p),
        F.lit(0).cast("long"),
        lambda acc, tok: acc + F.least(cnt(p, tok), cnt(r, tok)).cast("long"),
    )
    base = pairs.select(
        "doc_id",
        "mode",
        F.when(F.array_join(p, " ") == F.array_join(r, " "), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("em"),
        overlap.alias("overlap"),
        F.size(p).cast("long").alias("n_pred"),
        F.size(r).cast("long").alias("n_ref"),
    )
    o = F.col("overlap")
    np_, nr = F.col("n_pred"), F.col("n_ref")
    ratio = lambda num, den: F.floor(  # noqa: E731
        F.lit(1000) * num / den
    ).cast("long")
    prec = F.when(np_ > 0, ratio(o, np_)).otherwise(
        F.when(nr == 0, F.lit(1000)).otherwise(F.lit(0)).cast("long")
    )
    rec = F.when(nr > 0, ratio(o, nr)).otherwise(
        F.when(np_ == 0, F.lit(1000)).otherwise(F.lit(0)).cast("long")
    )
    f1 = F.when((np_ == 0) & (nr == 0), F.lit(1000).cast("long")).otherwise(
        F.when(np_ + nr > 0, ratio(F.lit(2) * o, np_ + nr)).otherwise(
            F.lit(0).cast("long")
        )
    )
    return base.select(
        "doc_id",
        "mode",
        "em",
        "overlap",
        "n_pred",
        "n_ref",
        prec.alias("precision_milli"),
        rec.alias("recall_milli"),
        f1.alias("f1_milli"),
    )


def group_advantage(responses: DataFrame) -> DataFrame:
    """(prompt_id, response_id, score, n_group, adv_num, var_num,
    grp_rank) — the GRPO data step: each response's group-relative
    advantage against its prompt-group, on the integer lattice:

        adv_num = score * n - Σscore        ( = n · (score - mean) )
        var_num = n · Σscore² - (Σscore)²   ( = n² · var, >= 0 )

    The trainer computes A = adv_num / sqrt(n·var_num) ... at ITS
    precision; the engine's contract is the exact integers (the same
    numerator/denominator discipline as h-index and the LM gates).
    grp_rank orders (score desc, response_id asc) — the best-of-n
    selection rides the same pass. Single-response groups emit
    var_num = 0 (the trainer's skip condition).

    Shape: ONE prompt-grain exchange — the three group moments and the
    rank ride the same window partition; per-group state is three
    longs plus the rank heap."""
    w = W.partitionBy("prompt_id")
    wr = w.orderBy(F.col("score").desc(), F.col("response_id").asc())
    s = F.col("score")
    return responses.select(
        "prompt_id",
        "response_id",
        "score",
        F.count(F.lit(1)).over(w).cast("long").alias("n_group"),
        (
            s * F.count(F.lit(1)).over(w) - F.sum(s).over(w)
        ).cast("long").alias("adv_num"),
        (
            F.count(F.lit(1)).over(w) * F.sum(s * s).over(w)
            - F.sum(s).over(w) * F.sum(s).over(w)
        ).cast("long").alias("var_num"),
        F.row_number().over(wr).cast("long").alias("grp_rank"),
    )


def winrate_matrix(responses: DataFrame) -> DataFrame:
    """(variant_a, variant_b, n_prompts, wins_a, ties, wins_b,
    wr_a_milli) — the pairwise arena leaderboard data step (the
    Chatbot-Arena aggregation grain, Chiang et al. 2024): for every
    variant pair (a < b), over all prompts where both responded, count
    a-wins / ties / b-wins by score and emit a's tie-aware win rate
    per-mille ((1000·wins_a + 500·ties) // n — exact, non-negative).

    ``responses`` is the (prompt_id, response_id, score) grain of
    :func:`alignment.synth_preference_responses`; response_id IS the
    variant id (response k of every prompt comes from variant k — the
    n-models-per-prompt arena shape).

    Shape: ONE prompt-grain equi self-join (both sides the same frame,
    a < b halves the pairs) feeding ONE variant-pair-grain aggregate —
    output is bounded by variants², never by prompts. At 100 TB the
    join co-partitions both sides on prompt_id (one exchange each) and
    the rollup is map-side partial."""
    a = responses.select(
        "prompt_id",
        F.col("response_id").alias("variant_a"),
        F.col("score").alias("_sa"),
    )
    b = responses.select(
        "prompt_id",
        F.col("response_id").alias("variant_b"),
        F.col("score").alias("_sb"),
    )
    pairs = a.join(b, "prompt_id").filter(
        F.col("variant_a") < F.col("variant_b")
    )
    g = pairs.groupBy("variant_a", "variant_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_prompts"),
        F.sum((F.col("_sa") > F.col("_sb")).cast("long"))
        .cast("long")
        .alias("wins_a"),
        F.sum((F.col("_sa") == F.col("_sb")).cast("long"))
        .cast("long")
        .alias("ties"),
        F.sum((F.col("_sa") < F.col("_sb")).cast("long"))
        .cast("long")
        .alias("wins_b"),
    )
    return g.select(
        "variant_a",
        "variant_b",
        "n_prompts",
        "wins_a",
        "ties",
        "wins_b",
        F.floor(
            (F.lit(1000) * F.col("wins_a") + F.lit(500) * F.col("ties"))
            / F.col("n_prompts")
        )
        .cast("long")
        .alias("wr_a_milli"),
    )


def synth_judge_verdicts(
    documents: DataFrame,
    agree_pct: int = 70,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, j1, j2) — two deterministic 3-way judge verdicts
    (0 reject / 1 neutral / 2 accept) per document: judge 1 draws
    fold(id:'j1') % 3; judge 2 copies judge 1 when fold(id:'g') % 100
    < ``agree_pct`` (the correlation knob) else draws its own
    independent fold — so the corpus-level agreement is tunably above
    chance, exactly the regime Cohen's kappa measures. Pure in-row
    map."""
    did = F.col(id_col).cast("string")
    j1 = _h12(F.concat(did, F.lit(":j1"))) % 3
    j2 = F.when(
        _h12(F.concat(did, F.lit(":g"))) % 100 < F.lit(int(agree_pct)),
        j1,
    ).otherwise(_h12(F.concat(did, F.lit(":j2"))) % 3)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        j1.cast("long").alias("j1"),
        j2.cast("long").alias("j2"),
    )


def judge_agreement(verdicts: DataFrame) -> DataFrame:
    """(j1, j2, n_pairs, n_total, n_agree, po_milli, pe_num,
    kappa_num, kappa_den) — inter-judge agreement as the confusion
    matrix enriched with the EXACT Cohen's-kappa integers (Cohen 1960):

        po       = n_agree / N            (po_milli, floor per-mille)
        pe_num   = Σ_k row_k · col_k      (chance agreement · N²)
        kappa    = (N·n_agree - pe_num) / (N² - pe_num)
                 = kappa_num / kappa_den

    kappa can be legitimately negative (below-chance agreement), so
    the engine emits the exact NUMERATOR and DENOMINATOR instead of a
    floored ratio — floor-toward-minus-infinity vs truncate-toward-
    zero is an engine-dependent choice the contract refuses to make
    (the h-index / GRPO numerator discipline).

    Shape: ONE doc-grain aggregate to the (j1, j2) confusion grain
    (≤ 9 rows); everything after — marginals, pe, the global stats —
    is bounded-metadata-grain joins and aggregates that broadcast.
    At 100 TB the corpus is touched exactly once."""
    m = verdicts.groupBy("j1", "j2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    tot = m.agg(
        F.sum("n_pairs").cast("long").alias("n_total"),
        F.sum(F.when(F.col("j1") == F.col("j2"), F.col("n_pairs")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    r1 = m.groupBy(F.col("j1").alias("k")).agg(
        F.sum("n_pairs").cast("long").alias("_row")
    )
    r2 = m.groupBy(F.col("j2").alias("k")).agg(
        F.sum("n_pairs").cast("long").alias("_col")
    )
    # the marginal join is INNER on the shared verdict class; when the
    # two judges emit disjoint class sets the join is empty and SUM
    # over it is NULL — but Σ row_k·col_k over no shared class is 0
    # (caught by the hypothesis Counter-model test; both engines made
    # the same NULL mistake, so the hash gate alone couldn't see it)
    pe = (
        r1.join(r2, "k")
        .agg(
            F.coalesce(F.sum(F.col("_row") * F.col("_col")), F.lit(0))
            .cast("long")
            .alias("pe_num")
        )
    )
    g = tot.crossJoin(pe)
    return (
        m.crossJoin(F.broadcast(g))
        .select(
            "j1",
            "j2",
            "n_pairs",
            "n_total",
            "n_agree",
            F.floor(F.lit(1000) * F.col("n_agree") / F.col("n_total"))
            .cast("long")
            .alias("po_milli"),
            "pe_num",
            (F.col("n_total") * F.col("n_agree") - F.col("pe_num"))
            .cast("long")
            .alias("kappa_num"),
            (F.col("n_total") * F.col("n_total") - F.col("pe_num"))
            .cast("long")
            .alias("kappa_den"),
        )
    )
