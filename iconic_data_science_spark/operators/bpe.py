"""Byte-pair-encoding tokenization: a distributed BPE trainer and a
merge-table encoder.

The LLM-pipeline counterpart of the engine's regex token counting
(operators/text.py): BPE is the tokenizer family actually used for
training corpora, and both halves map cleanly onto Spark:

- ``bpe_train``: the classic word-frequency formulation. The corpus
  aggregates once to (word, count) — the only state the algorithm needs
  — and training is 3-tiered like the other iterative operators
  (graph.py:60, dedup.py:478):

  * tier 1/2 (the common case): if the vocabulary fits the local
    budget (``tiers.LOCAL_ROWS``), collect the (word, count) table ONCE
    and run the classical sequential greedy trainer driver-locally with an
    incremental pair index (the Sennrich et al. 2016 subword-nmt
    algorithm — every published BPE trainer holds exactly this table in
    memory). ONE Spark job total, regardless of ``num_merges``; a 32k-
    merge vocab no longer means 32k sequential jobs.  Vocabulary grows
    ~O(corpus^0.5) (Heaps' law), so even a 100 TB corpus's whitespace
    vocab is collectable after the distributed aggregation.
  * tier 3 (over-threshold fallback): the distributed per-round loop —
    adjacent-pair count weighted by word frequency, a 1-row argmax
    (deterministic tie-break: count desc, then pair lexicographic),
    map-side merge rewrite, ``localCheckpoint`` per round to cut
    lineage (the iterative-ops rule, SCALE.md). Exact same merges,
    one small job per round.

  Both tiers are exact classical greedy BPE and produce identical merge
  tables (pinned by tests/test_bpe.py equivalence + hypothesis).
- ``bpe_token_counts``: applies a FIXED merge table (rank-ordered
  replaceAll per merge — exactly the standard encoder) to every word
  and reports per-document token counts before/after. Pure built-in
  expressions; the merge rewrite is a literal-pattern
  ``regexp_replace`` on a sentinel-spaced symbol string, semantics
  identical in Java regex and RE2 (no lookarounds, plain literals), so
  the DuckDB oracle replays the same table byte-for-byte.

Scale posture: training state is the word-frequency table (vocabulary-
sized, shuffled once at the start); per-round cost is one partial-
aggregated pair count over it. Encoding is map-side only — no shuffle,
composes with any scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import tiers
from .dedup import words


def _spaced(col: Column) -> Column:
    """'key' → ' k  e  y ' — every symbol carries its OWN leading and
    trailing space (double-space join). This makes a single-pass
    replaceAll of ' x  y ' → ' xy ' EXACTLY classical greedy BPE:
    consecutive matches never share a boundary character, so runs merge
    left-to-right ('a a a a' → 'aa aa', not the 'aa a a' a shared-
    separator pattern would leave). Identical non-overlapping scan
    semantics in Java regex (Spark) and RE2 (DuckDB)."""
    return F.concat(
        F.lit(" "), F.array_join(F.split(col, ""), "  "), F.lit(" ")
    )


def word_frequencies(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, count) over the whitespace-tokenized corpus — the entire
    training state BPE needs."""
    return (
        documents.select(F.explode(words(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def _train_local(wf: dict[str, int], num_merges: int) -> list[tuple[str, str]]:
    """Classical sequential greedy BPE over an in-memory (word, count)
    table with an incremental pair index (only words containing the
    merged pair are rewritten per round — the subword-nmt update rule).
    Tie-break identical to the distributed tier: count desc, then
    (left, right) lexicographic asc."""
    from collections import Counter, defaultdict

    reprs: dict[str, list[str]] = {w: list(w) for w in wf}
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[str]] = defaultdict(set)
    for w, syms in reprs.items():
        c = wf[w]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += c
            pair_words[p].add(w)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w in list(pair_words.get(best, ())):
            syms, c = reprs[w], wf[w]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= c
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                pair_words[p].discard(w)
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            reprs[w] = out
            for p in zip(out, out[1:]):
                pair_counts[p] += c
                pair_words[p].add(w)
    return merges


def bpe_train(
    documents: DataFrame,
    num_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus; returns the
    rank-ordered merge list [(left, right), ...].

    Deterministic: the argmax tie-break is (pair count desc, left asc,
    right asc), so the learned table is a pure function of the corpus
    in EITHER tier (see module docstring for the 3-tier shape).

    If the distinct-word vocabulary fits the local budget
    (``tiers.LOCAL_ROWS``), the (word, count) table collects once and
    training runs driver-locally (one Spark job total); a larger or
    empty vocabulary runs the distributed per-round loop.
    """
    wf_table = word_frequencies(documents, text_col=text_col)
    # limit(n+1) probe: <= n rows back means we hold the WHOLE
    # vocabulary and can train locally; n+1 rows means over budget —
    # fall through to the distributed loop.  One job, no separate
    # count().
    rows = wf_table.limit(tiers.LOCAL_ROWS + 1).collect()
    if tiers.solve_locally(len(rows)):
        return _train_local({r["word"]: r["count"] for r in rows}, num_merges)
    wf = wf_table.select(_spaced(F.col("word")).alias("sym"), "count")
    wf = wf.localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        # filter single-symbol words BEFORE the explode — a CASE WHEN
        # guard on a generator input re-evaluates the array per emitted
        # element (the GenerateExec pitfall, see dedup._horner_shingles)
        base = wf.select(
            "count", F.split(F.trim(F.col("sym")), "  ").alias("_t")
        ).filter(F.size("_t") >= 2)
        pair_arr = F.transform(
            F.sequence(F.lit(1), F.size(F.col("_t")) - 1),
            lambda i: F.struct(
                F.element_at(F.col("_t"), i).alias("l"),
                F.element_at(F.col("_t"), i + 1).alias("r"),
            ),
        )
        top = (
            base.select("count", F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("count").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["l"], top[0]["r"]
        merges.append((left, right))
        # literal-pattern replaceAll over the own-delimiter
        # representation (see _spaced) — exact classical greedy, and
        # replayable byte-for-byte in the oracle; symbols are
        # alphanumeric, no escaping needed
        wf = wf.select(
            F.regexp_replace(
                "sym", f" {left}  {right} ", f" {left}{right} "
            ).alias("sym"),
            "count",
        ).localCheckpoint()
    return merges


def apply_merges(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Sentinel-spaced symbol string after replaying ``merges`` in rank
    order (the standard BPE encoder) — a chain of literal-pattern
    regexp_replace, identical semantics in Spark and DuckDB."""
    sym = _spaced(col)
    for left, right in merges:
        sym = F.regexp_replace(sym, f" {left}  {right} ", f" {left}{right} ")
    return sym


def bpe_token_counts(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_chars, n_bpe_tokens) — per-document token
    counts under a fixed merge table. ``n_chars`` is the pre-merge
    symbol count (characters), ``n_bpe_tokens`` the post-merge count;
    their ratio is the compression the tokenizer buys. Map-side only."""
    toks = words(text_col)
    per_word = F.transform(
        toks, lambda w: F.size(F.split(F.trim(apply_merges(w, merges)), "  "))
    )
    chars_per_word = F.transform(toks, lambda w: F.length(w))
    return documents.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(chars_per_word, F.lit(0), lambda a, x: a + x)
        .cast("long")
        .alias("n_chars"),
        F.aggregate(per_word, F.lit(0), lambda a, x: a + x)
        .cast("long")
        .alias("n_bpe_tokens"),
    )
