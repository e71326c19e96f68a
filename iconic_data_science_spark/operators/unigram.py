"""Unigram-LM (SentencePiece) tokenization: a distributed Viterbi-EM
trainer and an in-row Viterbi encoder — the third tokenizer family
next to BPE (merge rank, operators/bpe.py) and WordPiece (greedy
longest match, operators/text.py).

Kudo 2018 ("Subword Regularization", arXiv:1804.10959 §3) trains a
unigram language model over subword pieces: seed a large candidate
vocabulary, run EM to estimate piece probabilities from the corpus's
segmentations, prune to the target size. Every published trainer
iterates a FIXED number of EM rounds — the same property that let BPE's
ten merge rounds unroll into the MATERIALIZED-CTE oracle, so the whole
training replayed in SQL (the text_bpe_vocab discipline).

Engine-exact arithmetic: piece costs are the INTEGER surrogate of
-log p used by text_bigram_surprisal — cost(p) = ilog2(total) -
ilog2(freq), ilog2(x) = length(bin(x)) - 1 — so Viterbi totals are
longs and hash identically across engines (true float logs differ in
the last ulp). Viterbi tie-break, part of the contract: minimize
(total cost, piece count, space-joined pieces as a string), each
comparison exact in both engines on ASCII corpora.

Scale shape (100 TB posture):

- Training state is the distinct-word frequency table (vocabulary-
  sized, Heaps' law — one corpus-grain aggregate, then word grain).
- Seed candidates aggregate distributed (substring explode bounded by
  max_piece x word length); only the top-``seed_size`` pieces + the
  alphabet collect as driver metadata (the bigram_lm_topk bounded-
  metadata discipline).
- Each EM round is ONE distributed job: in-row Viterbi over the word
  table under the current literal cost map, explode the best
  segmentation, aggregate per-piece usage (vocabulary-bounded rows
  collect).
- Encoding is a pure in-row map (costs baked into the plan as a
  literal), zero exchanges, streamable — same contract as
  wordpiece_encode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNIGRAM_UNK = "[UNK]"
UNIGRAM_MAX_PIECE = 6
UNIGRAM_MAX_WORD = 24

_STATE = "struct<c:bigint,np:bigint,key:string>"


def _ilog2(x: int) -> int:
    """floor(log2 x) for x >= 1 — python mirror of length(bin(x)) - 1."""
    return int(x).bit_length() - 1


def _words(text_col: str) -> Column:
    return F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda t: t != "",
    )


def word_counts(
    documents: DataFrame,
    max_word: int = UNIGRAM_MAX_WORD,
    text_col: str = "text",
) -> DataFrame:
    """(word, cnt) over the lowercased whitespace tokens, bounded to
    ``max_word`` chars — the entire training state (words beyond the
    bound are [UNK] at encode time and carry no training mass)."""
    return (
        documents.select(F.explode(_words(text_col)).alias("word"))
        .filter((F.length("word") >= 1) & (F.length("word") <= int(max_word)))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def seed_frequencies(
    wf: DataFrame, max_piece: int = UNIGRAM_MAX_PIECE
) -> DataFrame:
    """(piece, freq) — every substring of length 1..max_piece of every
    word, weighted by word count and occurrence position (the Kudo
    seed: all frequent substrings are candidate pieces). Distributed
    explode + one piece-grain aggregate."""
    w = F.col("word")
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(int(max_piece)), F.length(w) - s + 1)
                ),
                lambda L: F.substring(w, s, L),
            ),
        )
    )
    return (
        wf.select(F.explode(subs).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("freq"))
    )


def _unigram_word_encoder(
    vocab: list[tuple[str, int]],
    max_piece: int = UNIGRAM_MAX_PIECE,
    max_word: int = UNIGRAM_MAX_WORD,
):
    """Column-builder: Viterbi-best segmentation of ONE word under a
    literal (piece -> integer cost) map; returns the piece array, or
    [UNK] when the word exceeds ``max_word`` or contains a character
    no vocab piece covers. Tie-break: (cost, piece count, joined key).

    Pure in-row: the outer fold extends the DP table one position per
    step; the inner fold scans candidate lengths. Every subexpression
    consumed more than once is bound through a 1-element
    transform/filter (HOF lambda vars are evaluated data — the
    wordpiece let-binding rule), so each candidate costs one slice and
    two map lookups."""
    kv: list[Column] = []
    for p, c in sorted(set(vocab)):
        kv.append(F.lit(p))
        kv.append(F.lit(int(c)).cast("long"))
    cmap = F.create_map(*kv)

    def _better(b: Column, cand_expr: Column) -> Column:
        # bind the candidate once; b is the fold accumulator (bound)
        return F.get(
            F.transform(
                F.array(cand_expr),
                lambda cd: F.when(cd.isNull(), b).otherwise(
                    F.when(b.isNull(), cd).otherwise(
                        F.when(
                            (cd["c"] < b["c"])
                            | ((cd["c"] == b["c"]) & (cd["np"] < b["np"]))
                            | (
                                (cd["c"] == b["c"])
                                & (cd["np"] == b["np"])
                                & (cd["key"] < b["key"])
                            ),
                            cd,
                        ).otherwise(b)
                    )
                ),
            ),
            0,
        )

    def encode_word(w: Column) -> Column:
        n = F.length(w)
        init = F.array(
            F.struct(
                F.lit(0).cast("long").alias("c"),
                F.lit(0).cast("long").alias("np"),
                F.lit("").alias("key"),
            )
        )

        def step(dp: Column, i: Column) -> Column:
            def cand(L: Column) -> Column:
                prev = F.element_at(dp, (i - L + 1).cast("int"))
                pc = F.substring(w, (i - L + 1).cast("int"), L)
                return F.get(
                    F.transform(
                        F.filter(
                            F.array(pc),
                            lambda p: prev.isNotNull()
                            & F.element_at(cmap, p).isNotNull(),
                        ),
                        lambda p: F.struct(
                            (prev["c"] + F.element_at(cmap, p)).alias("c"),
                            (prev["np"] + 1).alias("np"),
                            F.when(prev["np"] == 0, p)
                            .otherwise(F.concat(prev["key"], F.lit(" "), p))
                            .alias("key"),
                        ),
                    ),
                    0,
                )

            best = F.aggregate(
                F.sequence(F.lit(1), F.least(F.lit(int(max_piece)), i)),
                F.lit(None).cast(_STATE),
                lambda b, L: _better(b, cand(L)),
            )
            return F.concat(dp, F.array(best))

        dp_full = F.aggregate(F.sequence(F.lit(1), n), init, step)
        final = F.element_at(dp_full, (n + 1).cast("int"))
        segmented = F.get(
            F.transform(
                F.array(final),
                lambda f: F.when(f.isNull(), F.array(F.lit(UNIGRAM_UNK)))
                .otherwise(F.split(f["key"], " ")),
            ),
            0,
        )
        return F.when(
            n > int(max_word), F.array(F.lit(UNIGRAM_UNK))
        ).otherwise(segmented)

    return encode_word


def unigram_usage(
    wf: DataFrame,
    vocab: list[tuple[str, int]],
    max_piece: int = UNIGRAM_MAX_PIECE,
    max_word: int = UNIGRAM_MAX_WORD,
) -> DataFrame:
    """(piece, usage) — the Viterbi-EM E-step: each word's best
    segmentation under the current costs, piece occurrences weighted
    by word count. ONE distributed job; output is vocabulary-bounded."""
    enc = _unigram_word_encoder(vocab, max_piece=max_piece, max_word=max_word)
    return (
        wf.select(F.explode(enc(F.col("word"))).alias("piece"), "cnt")
        .filter(F.col("piece") != UNIGRAM_UNK)
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("usage"))
    )


def _viterbi_best_local(word: str, costs: dict[str, int], max_piece: int):
    """Best segmentation of one word by the engine's (cost, n_pieces,
    space-joined key) rule — the python DP twin of
    ``_unigram_word_encoder`` (prefix-exchange safe for exactly the
    reason the in-row DP is). None == infeasible ([UNK])."""
    n = len(word)
    dp: list = [None] * (n + 1)
    dp[0] = (0, 0, "")
    for i in range(1, n + 1):
        best = None
        for L in range(1, min(int(max_piece), i) + 1):
            prev = dp[i - L]
            if prev is None:
                continue
            p = word[i - L : i]
            c = costs.get(p)
            if c is None:
                continue
            cand = (prev[0] + c, prev[1] + 1, p if prev[1] == 0 else prev[2] + " " + p)
            if best is None or cand < best:
                best = cand
        dp[i] = best
    return None if dp[n] is None else dp[n][2].split(" ")


def _unigram_train_local(
    pairs: list[tuple[str, int]],
    vocab_size: int,
    seed_size: int,
    em_rounds: int,
    max_piece: int,
) -> list[tuple[str, int, int]]:
    """Driver-side Viterbi-EM training from a collected (word, cnt)
    table — value-identical to the distributed rounds (the sequential
    model `tests/test_unigram._ref_unigram_train` proves equal by
    hypothesis; this is that model minus the word counting, which the
    engine already did)."""
    from collections import Counter

    wf = dict(pairs)
    seed: Counter = Counter()
    for w, c in wf.items():
        for s in range(len(w)):
            for L in range(1, min(int(max_piece), len(w) - s) + 1):
                seed[w[s : s + L]] += c
    singles = {p for p in seed if len(p) == 1}
    vocab0 = {p: seed[p] for p in singles}
    vocab0.update(
        dict(sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[: int(seed_size)])
    )
    if not vocab0:
        return []
    total0 = sum(vocab0.values())
    costs = {p: _ilog2(total0) - _ilog2(f) for p, f in vocab0.items()}
    usage: dict[str, int] = {}
    for _ in range(int(em_rounds)):
        u: Counter = Counter()
        for w, c in wf.items():
            seg = _viterbi_best_local(w, costs, max_piece)
            if seg is None:
                continue
            for p in seg:
                u[p] += c
        usage = dict(u)
        total = sum(usage.values())
        costs = {p: _ilog2(total) - _ilog2(x) for p, x in usage.items()}
    kept = dict(sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))[: int(vocab_size)])
    total = sum(usage.values())
    default_cost = _ilog2(total) + 1 if total else 1
    return [
        (p, costs.get(p, default_cost), usage.get(p, 0))
        for p in sorted(set(kept) | singles)
    ]


def unigram_train(
    documents: DataFrame,
    vocab_size: int = 32,
    seed_size: int = 48,
    em_rounds: int = 2,
    max_piece: int = UNIGRAM_MAX_PIECE,
    max_word: int = UNIGRAM_MAX_WORD,
    text_col: str = "text",
    local_train_words: int | None = 5_000,
) -> list[tuple[str, int, int]]:
    """Train the unigram vocabulary; returns the sorted list of
    (piece, cost, usage).

    1. Seed: top ``seed_size`` substrings by corpus frequency (count
       desc, piece asc) PLUS every corpus character (so every training
       word is coverable); costs from seed frequencies.
    2. ``em_rounds`` Viterbi-EM rounds: E = distributed best-
       segmentation usage counts; M = cost(p) = ilog2(total_usage) -
       ilog2(usage). Pieces a round never uses drop out — every word's
       previous-round segmentation survives, so feasibility is
       preserved by induction.
    3. Prune to the ``vocab_size`` best-used pieces (usage desc, piece
       asc), ALWAYS retaining the alphabet (never-used singles carry
       the worst-possible default cost ilog2(total)+1) so any word
       over the training alphabet still encodes without [UNK].

    Fixed-count rounds + integer costs = the whole training replays as
    unrolled MATERIALIZED CTEs in the DuckDB oracle (the text_bpe_vocab
    discipline)."""
    wf = word_counts(documents, max_word=max_word, text_col=text_col)
    # local tier (as in kmeans_int): the
    # entire training state is the distinct-word table; when it fits in
    # ``local_train_words`` (+1 probe row), collect it once and run the
    # identical seed/EM/prune sequentially — the distributed path runs
    # 5 serial jobs over a table that is tiny whenever the corpus is
    # Zipf-shaped (31 distinct words at sf0.1). ``None`` skips the
    # probe for corpora known to be word-diverse.
    if local_train_words is not None:
        probe = wf.limit(int(local_train_words) + 1).collect()
        if len(probe) <= int(local_train_words):
            return _unigram_train_local(
                [(r["word"], r["cnt"]) for r in probe],
                vocab_size,
                seed_size,
                em_rounds,
                max_piece,
            )
    wf = wf.localCheckpoint()  # consumed by the seed AND every EM round
    seed = seed_frequencies(wf, max_piece=max_piece)
    singles_rows = seed.filter(F.length("piece") == 1).collect()
    top_rows = (
        seed.orderBy(F.col("freq").desc(), "piece").limit(int(seed_size)).collect()
    )
    vocab0 = {r.piece: r.freq for r in singles_rows}
    vocab0.update({r.piece: r.freq for r in top_rows})
    if not vocab0:
        return []
    total0 = sum(vocab0.values())
    costs = {p: _ilog2(total0) - _ilog2(f) for p, f in vocab0.items()}
    usage: dict[str, int] = {}
    for _ in range(int(em_rounds)):
        rows = unigram_usage(
            wf, list(costs.items()), max_piece=max_piece, max_word=max_word
        ).collect()
        usage = {r.piece: r.usage for r in rows}
        total = sum(usage.values())
        costs = {p: _ilog2(total) - _ilog2(u) for p, u in usage.items()}
    ranked = sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))[: int(vocab_size)]
    kept = dict(ranked)
    singles = {r.piece for r in singles_rows}
    total = sum(usage.values())
    default_cost = _ilog2(total) + 1 if total else 1
    out: list[tuple[str, int, int]] = []
    for p in sorted(set(kept) | singles):
        out.append((p, costs.get(p, default_cost), usage.get(p, 0)))
    return out


def unigram_encode(
    documents: DataFrame,
    vocab: list[tuple[str, int]],
    max_piece: int = UNIGRAM_MAX_PIECE,
    max_word: int = UNIGRAM_MAX_WORD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_pieces, n_unk, pieces_fp) — Viterbi-best
    segmentation of every token under a FIXED (piece, cost) vocabulary
    (the wordpiece_encode output contract, same fingerprint
    discipline). PURE MAP, zero exchanges, streamable: costs are a
    literal map in the plan; the DP is one in-row double fold."""
    enc = _unigram_word_encoder(vocab, max_piece=max_piece, max_word=max_word)
    base = documents.select(
        F.col(id_col).alias("doc_id"), _words(text_col).alias("_w")
    )
    stage = base.select(
        "doc_id",
        F.col("_w").alias("_w"),
        F.flatten(F.transform(F.col("_w"), enc)).alias("_p"),
    )
    return stage.select(
        "doc_id",
        F.size("_w").cast("long").alias("n_words"),
        F.size("_p").cast("long").alias("n_pieces"),
        F.size(F.filter(F.col("_p"), lambda p: p == UNIGRAM_UNK))
        .cast("long")
        .alias("n_unk"),
        F.md5(F.array_join(F.col("_p"), " ").cast("binary")).alias("pieces_fp"),
    )


# --- DuckDB oracle replay -------------------------------------------------


def _viterbi_ctes(
    prefix: str,
    src: str,
    cost_cte: str,
    max_word: int = UNIGRAM_MAX_WORD,
    max_piece: int = UNIGRAM_MAX_PIECE,
) -> list[str]:
    """Unrolled MATERIALIZED-CTE Viterbi at word grain: round i extends
    each word's DP list with the best state for prefix length i via a
    correlated min-subquery over candidate lengths (ORDER BY the SAME
    (cost, piece count, key) total order the Spark fold minimizes —
    full ties are impossible because the key embeds the piece text).
    NOT a nested-lambda fold: DuckDB 1.0.0 miscompiles captured
    variables inside nested list lambdas (the wordpiece_oracle_sql
    lesson — the relational unroll is load-bearing). Words longer than
    ``max_word`` read dp[wlen+1] past the list end, which is NULL in
    DuckDB — the same [UNK] signal as an infeasible DP."""
    ctes = [
        f"""{prefix}0 AS (
        SELECT word, cnt, wlen,
               [struct_pack(c := CAST(0 AS BIGINT), np := CAST(0 AS BIGINT),
                            key := '')] AS dp
        FROM {src}
    )"""
    ]
    for i in range(1, int(max_word) + 1):
        m = min(int(max_piece), i) + 1
        key_expr = (
            f"CASE WHEN dp[{i}-L+1].np = 0 THEN substr(word, {i}-L+1, L) "
            f"ELSE dp[{i}-L+1].key || ' ' || substr(word, {i}-L+1, L) END"
        )
        ctes.append(
            f"""{prefix}{i} AS MATERIALIZED (
        SELECT word, cnt, wlen, dp || [CASE WHEN {i} > wlen THEN NULL ELSE (
            SELECT struct_pack(c := dp[{i}-L+1].c + cc.cost,
                               np := dp[{i}-L+1].np + 1,
                               key := {key_expr})
            FROM (SELECT UNNEST(range(1, {m})) AS L) ls
            JOIN {cost_cte} cc
              ON cc.piece = substr(word, CAST({i}-L+1 AS INT), CAST(L AS INT))
            WHERE dp[CAST({i}-L+1 AS INT)] IS NOT NULL
            ORDER BY dp[{i}-L+1].c + cc.cost, dp[{i}-L+1].np + 1, {key_expr}
            LIMIT 1
        ) END] AS dp
        FROM {prefix}{i - 1}
    )"""
        )
    ctes.append(
        f"""{prefix}_seg AS MATERIALIZED (
        SELECT word, cnt, wlen, dp[CAST(wlen + 1 AS INT)] AS fin
        FROM {prefix}{int(max_word)}
    )"""
    )
    return ctes


def _usage_cost_ctes(prefix: str) -> list[str]:
    return [
        f"""{prefix}_usage AS MATERIALIZED (
        SELECT piece, CAST(SUM(cnt) AS BIGINT) AS usage
        FROM (SELECT UNNEST(string_split(fin.key, ' ')) AS piece, cnt
              FROM {prefix}_seg WHERE fin IS NOT NULL)
        GROUP BY 1
    )""",
        f"""{prefix}_cost AS MATERIALIZED (
        SELECT piece,
               (length(bin(CAST((SELECT SUM(usage) FROM {prefix}_usage)
                               AS BIGINT))) - 1)
               - (length(bin(usage)) - 1) AS cost
        FROM {prefix}_usage
    )""",
    ]


def unigram_oracle_sql(
    vocab_size: int = 32,
    seed_size: int = 48,
    em_rounds: int = 2,
    max_piece: int = UNIGRAM_MAX_PIECE,
    max_word: int = UNIGRAM_MAX_WORD,
    encode: bool = False,
) -> str:
    """DuckDB replay of the full Viterbi-EM training (seed -> fixed
    ``em_rounds`` E/M rounds -> prune), and optionally the document
    encode under the trained vocabulary. Every iterative piece unrolls
    relationally (the text_bpe_vocab discipline): each EM round is one
    24-round Viterbi chain + a usage aggregate + a cost table; the
    encode pass is a third chain joined back to the token stream in
    token order (the wordpiece_oracle_sql rollup)."""
    mw, mp = int(max_word), int(max_piece)
    ctes = [
        """tk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM documents
    )""",
        f"""wf AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(len(word) AS BIGINT) AS wlen
        FROM (SELECT UNNEST(t) AS word FROM tk)
        WHERE len(word) BETWEEN 1 AND {mw}
        GROUP BY 1
    )""",
        f"""seed AS MATERIALIZED (
        SELECT piece, CAST(SUM(cnt) AS BIGINT) AS freq
        FROM (
            SELECT substr(word, CAST(s AS INT), CAST(L AS INT)) AS piece, cnt
            FROM wf,
                 LATERAL (SELECT UNNEST(range(1, wlen + 1)) AS s) ss,
                 LATERAL (SELECT UNNEST(range(1, {mp + 1})) AS L) ll
            WHERE s + L - 1 <= wlen
        ) GROUP BY 1
    )""",
        f"""v0 AS MATERIALIZED (
        SELECT piece, freq FROM seed WHERE len(piece) = 1
        UNION
        SELECT piece, freq FROM
            (SELECT piece, freq FROM seed
             ORDER BY freq DESC, piece LIMIT {int(seed_size)})
    )""",
        """c0 AS MATERIALIZED (
        SELECT piece,
               (length(bin(CAST((SELECT SUM(freq) FROM v0) AS BIGINT))) - 1)
               - (length(bin(freq)) - 1) AS cost
        FROM v0
    )""",
    ]
    cost = "c0"
    for r in range(1, int(em_rounds) + 1):
        p = f"em{r}"
        ctes += _viterbi_ctes(p, "wf", cost, mw, mp)
        ctes += _usage_cost_ctes(p)
        cost = f"{p}_cost"
    last = f"em{int(em_rounds)}"
    ctes.append(
        f"""ranked AS (
        SELECT piece FROM {last}_usage ORDER BY usage DESC, piece
        LIMIT {int(vocab_size)}
    )"""
    )
    ctes.append(
        f"""vfinal AS MATERIALIZED (
        SELECT p.piece,
               COALESCE(cf.cost,
                   (length(bin(CAST(GREATEST(
                        (SELECT COALESCE(SUM(usage), 0) FROM {last}_usage),
                        1) AS BIGINT))) - 1) + 1) AS cost,
               COALESCE(u.usage, CAST(0 AS BIGINT)) AS usage
        FROM (SELECT piece FROM ranked
              UNION SELECT piece FROM seed WHERE len(piece) = 1) p
        LEFT JOIN {last}_cost cf ON cf.piece = p.piece
        LEFT JOIN {last}_usage u ON u.piece = p.piece
    )"""
    )
    if not encode:
        return (
            "\n    WITH "
            + ",\n    ".join(ctes)
            + """
    SELECT piece, CAST(cost AS BIGINT) AS cost, usage FROM vfinal
"""
        )
    # encode pass: Viterbi over ALL distinct corpus words (words beyond
    # max_word read past the DP list -> NULL -> [UNK], matching Spark)
    ctes.append(
        """ew AS MATERIALIZED (
        SELECT word, CAST(1 AS BIGINT) AS cnt,
               CAST(len(word) AS BIGINT) AS wlen
        FROM (SELECT DISTINCT UNNEST(t) AS word FROM tk)
    )"""
    )
    ctes += _viterbi_ctes("enc", "ew", "vfinal", mw, mp)
    ctes.append(
        f"""encw AS MATERIALIZED (
        SELECT word,
               CASE WHEN fin IS NULL THEN ['{UNIGRAM_UNK}']
                    ELSE string_split(fin.key, ' ') END AS pieces
        FROM enc_seg
    )"""
    )
    ctes.append(
        """tok AS (
        SELECT doc_id, s.x.pos AS pos, s.x.word AS word
        FROM (SELECT doc_id,
                     unnest([{'pos': i, 'word': t[i]}
                             for i in generate_series(1, len(t))]) AS x
              FROM tk) s(doc_id, x)
    )"""
    )
    ctes.append(
        """agg AS (
        SELECT tok.doc_id,
               flatten(list(encw.pieces ORDER BY tok.pos)) AS p
        FROM tok JOIN encw USING (word) GROUP BY 1
    )"""
    )
    ctes.append(
        """outp AS (
        SELECT tk.doc_id, CAST(len(tk.t) AS BIGINT) AS n_words,
               COALESCE(agg.p, CAST([] AS VARCHAR[])) AS p
        FROM tk LEFT JOIN agg USING (doc_id)
    )"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, n_words,
           CAST(len(p) AS BIGINT) AS n_pieces,
           CAST(len([x for x in p if x = '{UNIGRAM_UNK}']) AS BIGINT) AS n_unk,
           md5(COALESCE(array_to_string(p, ' '), '')) AS pieces_fp
    FROM outp
"""
    )


def unigram_encode_batch(
    documents: DataFrame,
    vocab: list[tuple[str, int]],
    max_piece: int = UNIGRAM_MAX_PIECE,
    max_word: int = UNIGRAM_MAX_WORD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Row-identical twin of :func:`unigram_encode` in the BATCH shape
    (the wordpiece_encode_batch pattern): the Viterbi DP runs once per
    DISTINCT word — the oracle's own grain — and the pieces join back
    to the token stream in token order. Zipf's law makes DP work scale
    with |vocabulary| instead of corpus tokens; the trade is ~3
    exchanges and full-corpus lookahead, so the zero-exchange map form
    remains the streaming ingest gate and this is the backfill path.
    Shares the map form's oracle verbatim; row-identity pinned."""
    enc = _unigram_word_encoder(vocab, max_piece=max_piece, max_word=max_word)
    base = documents.select(
        F.col(id_col).alias("doc_id"), _words(text_col).alias("_w")
    )
    tok = base.select("doc_id", F.posexplode(F.col("_w")).alias("pos", "word"))
    encw = (
        tok.select("word")
        .distinct()
        .select("word", enc(F.col("word")).alias("pieces"))
    )
    per_doc = (
        tok.join(encw, "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "pieces"))),
                    lambda s: s["pieces"],
                )
            ).alias("_p")
        )
    )
    out = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.size("_w").cast("long").alias("n_words"),
        F.coalesce(F.col("_p"), F.array().cast("array<string>")).alias("_p"),
    )
    return out.select(
        "doc_id",
        "n_words",
        F.size("_p").cast("long").alias("n_pieces"),
        F.size(F.filter(F.col("_p"), lambda p: p == UNIGRAM_UNK))
        .cast("long")
        .alias("n_unk"),
        F.md5(F.array_join(F.col("_p"), " ").cast("binary")).alias("pieces_fp"),
    )
