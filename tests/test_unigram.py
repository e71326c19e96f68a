"""Unigram-LM tokenizer — brute-force Viterbi mirror, tie-break
contract, UNK rules, EM feasibility, determinism."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from iconic_data_science_spark.operators.unigram import (
    UNIGRAM_UNK,
    _ilog2,
    _unigram_word_encoder,
    unigram_encode,
    unigram_train,
    word_counts,
)


def _brute_best(word: str, costs: dict[str, int], max_piece: int = 6):
    """Enumerate every segmentation; min by (cost, n_pieces, joined)."""
    n = len(word)
    best = None
    for cuts in itertools.product([0, 1], repeat=n - 1):
        pos = [0] + [i + 1 for i, c in enumerate(cuts) if c] + [n]
        pieces = [word[a:b] for a, b in zip(pos, pos[1:])]
        if any(len(p) > max_piece or p not in costs for p in pieces):
            continue
        key = (sum(costs[p] for p in pieces), len(pieces), " ".join(pieces))
        if best is None or key < best:
            best = key
    return None if best is None else best[2].split(" ")


def _encode_words(spark, words, vocab):
    enc = _unigram_word_encoder(vocab)
    df = spark.createDataFrame([(w,) for w in words], "word string")
    return {
        r.word: list(r.pieces)
        for r in df.select("word", enc(F.col("word")).alias("pieces")).collect()
    }


def test_viterbi_matches_bruteforce(spark):
    costs = {"a": 3, "b": 4, "c": 5, "ab": 5, "bc": 6, "abc": 9, "ca": 4}
    words = ["a", "ab", "abc", "abca", "cabcab", "bbbb", "cacaca"]
    got = _encode_words(spark, words, list(costs.items()))
    for w in words:
        assert got[w] == _brute_best(w, costs), w


def test_viterbi_tiebreaks(spark):
    # 'ab': a+b = 7 == ab = 7 -> fewer pieces wins
    got = _encode_words(spark, ["ab"], [("a", 3), ("b", 4), ("ab", 7)])
    assert got["ab"] == ["ab"]
    # equal cost AND count -> lexicographically smaller key wins:
    # 'aab' as 'a ab' (key 'a ab') vs 'aa b' (key 'aa b'), both cost 8 / 2 pieces
    got = _encode_words(
        spark, ["aab"], [("a", 3), ("b", 4), ("aa", 4), ("ab", 5)]
    )
    assert got["aab"] == ["a", "ab"]


def test_unk_rules(spark):
    vocab = [("a", 1), ("b", 2)]
    words = ["ax", "a" * 25, "aba"]
    got = _encode_words(spark, words, vocab)
    assert got["ax"] == [UNIGRAM_UNK]  # uncoverable char
    assert got["a" * 25] == [UNIGRAM_UNK]  # beyond max_word
    assert got["aba"] == ["a", "b", "a"]


def test_train_feasibility_and_shapes(spark, sf_dir):
    """Trained vocab always covers the training corpus: the alphabet
    is retained through the prune, so encode under the trained vocab
    produces [UNK] only for >24-char words."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = unigram_train(docs, vocab_size=16, seed_size=24, em_rounds=2)
    assert v and all(c >= 0 and u >= 0 for _, c, u in v)
    pieces = [p for p, _, _ in v]
    assert len(pieces) == len(set(pieces))
    singles = {p for p in pieces if len(p) == 1}
    # every corpus char (of <=24-char words) is a retained single
    chars = {
        c
        for (w,) in word_counts(docs).select("word").collect()
        for c in w
    }
    assert chars <= singles
    out = unigram_encode(docs, [(p, c) for p, c, _ in v]).collect()
    long_words = {
        r.doc_id: sum(1 for w in (r.text or "").lower().split() if len(w) > 24)
        for r in docs.select("doc_id", "text").collect()
    }
    for r in out:
        assert r.n_unk == long_words[r.doc_id]
        assert r.n_pieces >= r.n_words  # segmentation never shrinks the stream


def test_train_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, f"loop pool polo lo op o{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    a = unigram_train(docs, vocab_size=8, seed_size=12, em_rounds=2)
    b = unigram_train(docs, vocab_size=8, seed_size=12, em_rounds=2)
    assert a == b
    assert a == sorted(a)  # sorted output contract


def test_em_costs_are_integer_log_surrogate(spark):
    """M-step arithmetic: cost = ilog2(total) - ilog2(usage) for every
    used piece; unused retained singles carry ilog2(total)+1."""
    docs = spark.createDataFrame(
        [(1, "aa aa aa b"), (2, "aa aa b b")], "doc_id long, text string"
    )
    v = unigram_train(docs, vocab_size=4, seed_size=8, em_rounds=2)
    by = {p: (c, u) for p, c, u in v}
    total = sum(u for _, u in by.values())
    for p, (c, u) in by.items():
        if u > 0:
            assert c == _ilog2(total) - _ilog2(u), p
        else:
            assert c == _ilog2(total) + 1, p


def test_encode_batch_row_identical(spark, sf_dir):
    from iconic_data_science_spark.operators.unigram import (
        unigram_encode_batch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = unigram_train(docs, vocab_size=16, seed_size=24, em_rounds=2)
    vocab = [(p, c) for p, c, _ in v]
    a = sorted(map(tuple, unigram_encode(docs, vocab).collect()))
    b = sorted(map(tuple, unigram_encode_batch(docs, vocab).collect()))
    assert a == b


def test_unigram_fertility_cross_tokenizer(spark, sf_dir):
    """The three trained tokenizers are comparable under ONE metric
    surface: the Unigram and WordPiece fertility tables carry marginals
    identical to the BPE one (all three split the same lowercased
    whitespace words), and every table's ratio axes are sane (every
    word yields >= 1 piece, every non-UNK piece >= 1 char, unk share a
    valid per-mille)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    bpe = {r.lang: r for r in qs["text_bpe_fertility"](spark, sf_dir).collect()}
    for twin in ("text_unigram_fertility", "text_wordpiece_fertility"):
        tab = {r.lang: r for r in qs[twin](spark, sf_dir).collect()}
        assert set(tab) == set(bpe) and tab, twin
        for lang, u in tab.items():
            b = bpe[lang]
            assert (u.n_docs, u.n_words, u.n_chars) == (
                b.n_docs, b.n_words, b.n_chars,
            ), (twin, lang)
            assert u.n_pieces >= u.n_words           # >= 1 piece per word
            assert u.n_chars >= u.n_pieces - u.n_unk  # non-UNK pieces >= 1 char
            assert u.fertility_x1000 >= 1000
            assert 0 <= u.unk_per_mille <= 1000


def _ref_unigram_train(texts, vocab_size, seed_size, em_rounds,
                       max_piece=6, max_word=24):
    """Sequential pure-python Viterbi-EM training mirror (Kudo 2018
    shape): seed top substrings + alphabet, fixed E/M rounds with the
    brute-force best segmentation (same (cost, pieces, key) tie-break
    as _brute_best), prune to vocab_size retaining the alphabet."""
    from collections import Counter

    ilog2 = lambda x: int(x).bit_length() - 1  # noqa: E731
    wf = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w and len(w) <= max_word:
                wf[w] += 1
    seed = Counter()
    for w, c in wf.items():
        for s in range(len(w)):
            for L in range(1, min(max_piece, len(w) - s) + 1):
                seed[w[s:s + L]] += c
    singles = {p for p in seed if len(p) == 1}
    vocab0 = {p: seed[p] for p in singles}
    vocab0.update(
        dict(sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size])
    )
    if not vocab0:
        return []
    total0 = sum(vocab0.values())
    costs = {p: ilog2(total0) - ilog2(f) for p, f in vocab0.items()}
    usage: Counter = Counter()
    for _ in range(em_rounds):
        usage = Counter()
        for w, c in wf.items():
            seg = _brute_best(w, costs, max_piece)
            if seg is None:
                continue  # infeasible -> [UNK], no training mass
            for p in seg:
                usage[p] += c
        total = sum(usage.values())
        costs = {p: ilog2(total) - ilog2(u) for p, u in usage.items()}
    kept = dict(
        sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    )
    total = sum(usage.values())
    default = ilog2(total) + 1 if total else 1
    return [
        (p, costs.get(p, default), usage.get(p, 0))
        for p in sorted(set(kept) | singles)
    ]


def test_unigram_train_matches_python_em_mirror(spark):
    """Distributed Viterbi-EM training over random corpora equals the
    sequential python mirror exactly — seed, both EM rounds, prune,
    default costs (the second witness behind text_unigram_vocab's
    unrolled-CTE oracle)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.sampled_from(["a", "b", "ab", "ba", "abc", "ca", "bb"]),
                min_size=1,
                max_size=10,
            ),
            min_size=1,
            max_size=5,
        )
    )
    def check(docs):
        texts = [" ".join(ws) for ws in docs]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = unigram_train(df, vocab_size=8, seed_size=12, em_rounds=2)
        assert got == _ref_unigram_train(texts, 8, 12, 2)

    check()


def test_local_training_tier_matches_distributed(spark, monkeypatch):
    """The driver-local training tier must equal the distributed
    EM rounds (LOCAL_TRAIN_WORDS=0) — seed ties, viterbi ties,
    prune, default costs — on corpora exercising all of them."""
    from iconic_data_science_spark.operators import unigram

    corpora = [
        ["ab ab ba abc", "ca bb ab a b", "abc abc ca"],
        ["aaaa aaab aab", "ba ab aaaa"],
        ["zzz", "z zz zzz zzzz"],
    ]
    for texts in corpora:
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        local = unigram_train(df, vocab_size=8, seed_size=12, em_rounds=2)
        with monkeypatch.context() as m:
            m.setattr(unigram, "LOCAL_TRAIN_WORDS", 0)
            dist = unigram_train(df, vocab_size=8, seed_size=12, em_rounds=2)
        assert local == dist
        assert local == _ref_unigram_train(texts, 8, 12, 2)
