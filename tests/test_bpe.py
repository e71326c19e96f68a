"""BPE trainer/encoder goldens: the distributed implementation must
match a sequential reference implementation exactly (merge table AND
encoded token counts)."""

from __future__ import annotations

from collections import Counter

from iconic_data_science_spark.operators import tiers
from iconic_data_science_spark.operators.bpe import (
    bpe_token_counts,
    bpe_train,
    word_frequencies,
)


def _ref_train(texts: list[str], num_merges: int) -> list[tuple[str, str]]:
    wf = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                wf[w] += 1
    reprs = {w: list(w) for w in wf}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for w, syms in reprs.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wf[w]
        if not pairs:
            break
        # count desc, then (left, right) lexicographic asc
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w, syms in reprs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            reprs[w] = out
    return merges


def _ref_encode_len(word: str, merges: list[tuple[str, str]]) -> int:
    syms = list(word)
    for best in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


CORPUS = [
    "low low low low low",
    "lower lower newer newer newer newer",
    "newest newest newest widest widest",
    "low lower lowest newest wider",
]


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_bpe_train_matches_reference(spark):
    df = _docs(spark, CORPUS)
    got = bpe_train(df, num_merges=8)
    assert got == _ref_train(CORPUS, 8)


def test_bpe_train_tiers_equivalent(spark, monkeypatch):
    """The driver-local incremental trainer (tier 1/2) and the
    distributed per-round loop (tier 3, tiers.LOCAL_ROWS=0) learn the
    identical merge table."""
    df = _docs(spark, CORPUS)
    local = bpe_train(df, num_merges=8)
    monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)
    distributed = bpe_train(df, num_merges=8)
    assert local == distributed == _ref_train(CORPUS, 8)


def test_bpe_train_deterministic(spark):
    df = _docs(spark, CORPUS)
    assert bpe_train(df, num_merges=5) == bpe_train(df, num_merges=5)


def test_bpe_encode_matches_reference(spark):
    merges = _ref_train(CORPUS, 8)
    out = {r["doc_id"]: r for r in bpe_token_counts(_docs(spark, CORPUS), merges).collect()}
    for i, t in enumerate(CORPUS):
        words = t.split(" ")
        assert out[i]["n_words"] == len(words)
        assert out[i]["n_chars"] == sum(len(w) for w in words)
        assert out[i]["n_bpe_tokens"] == sum(_ref_encode_len(w, merges) for w in words)


def test_bpe_compression_monotone(spark):
    """More merges can only shrink (or keep) the token count."""
    df = _docs(spark, CORPUS)
    merges = _ref_train(CORPUS, 8)
    totals = []
    for k in (0, 3, 8):
        tot = (
            bpe_token_counts(df, merges[:k])
            .groupBy()
            .sum("n_bpe_tokens")
            .collect()[0][0]
        )
        totals.append(tot)
    assert totals[0] >= totals[1] >= totals[2]
    # zero merges == character count
    chars = bpe_token_counts(df, []).groupBy().sum("n_chars").collect()[0][0]
    assert totals[0] == chars


def test_word_frequencies(spark):
    wf = {r["word"]: r["count"] for r in word_frequencies(_docs(spark, CORPUS)).collect()}
    assert wf["low"] == 6 and wf["newer"] == 4 and wf["newest"] == 4


def test_bpe_random_corpora_match_reference(spark, monkeypatch):
    """Property: BOTH trainer tiers == sequential reference on random
    small corpora (incl. runs of repeated characters, the greedy-merge
    edge case)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from("aabbc"), min_size=1, max_size=8).map("".join),
            min_size=1,
            max_size=12,
        )
    )
    def check(words_):
        texts = [" ".join(words_)]
        df = _docs(spark, texts)
        k = 4
        assert bpe_train(df, num_merges=k) == _ref_train(texts, k)
        with monkeypatch.context() as m:
            m.setattr(tiers, "LOCAL_ROWS", 0)
            assert bpe_train(df, num_merges=k) == _ref_train(texts, k)
        merges = _ref_train(texts, k)
        out = bpe_token_counts(df, merges).collect()[0]
        assert out["n_bpe_tokens"] == sum(
            _ref_encode_len(w, merges) for w in words_
        )

    check()


def test_wordpiece_greedy_longest_match_hand_rules(spark):
    """WordPiece contract on an explicit vocab: greedy longest match
    ('##happy' beats '##h'), continuation pieces carry '##', a word
    with no match at the current position becomes ONE [UNK], words
    longer than max_word are [UNK] by contract, and the counters/
    fingerprint reflect the piece stream."""
    from iconic_data_science_spark.operators.text import wordpiece_encode

    vocab = ["un", "##happy", "##h", "##a", "##p", "##i", "##y",
             "u", "##n", "##ness", "z", "##z"]
    docs = spark.createDataFrame(
        [
            (0, "unhappy unhappiness un"),
            (1, "xyz"),                     # no 'x' in vocab -> [UNK]
            (2, ""),                        # empty doc
            (3, "z" * 30),                  # > max_word chars -> [UNK]
            (4, "zz"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in wordpiece_encode(docs, vocab).collect()}
    # un+##happy (2), un+##h..##ness (7: un ##h ##a ##p ##p ##i ##ness), un (1)
    assert (out[0].n_words, out[0].n_pieces, out[0].n_unk) == (3, 10, 0)
    assert (out[1].n_words, out[1].n_pieces, out[1].n_unk) == (1, 1, 1)
    assert (out[2].n_words, out[2].n_pieces, out[2].n_unk) == (0, 0, 0)
    assert (out[3].n_words, out[3].n_pieces, out[3].n_unk) == (1, 1, 1)
    assert (out[4].n_words, out[4].n_pieces, out[4].n_unk) == (1, 2, 0)
    # fingerprint is md5 of the space-joined stream; empty doc == md5('')
    import hashlib

    assert out[2].pieces_fp == hashlib.md5(b"").hexdigest()
    assert out[4].pieces_fp == hashlib.md5(b"z ##z").hexdigest()


def test_wordpiece_vocab_alphabet_closure(spark, sf_dir):
    """Trained-on-self vocabulary closes the alphabet: every corpus
    word encodes without [UNK], whole-word matches happen exactly for
    vocab words, and the piece stream re-concatenates to the word
    stream (strip '##', join)."""
    from iconic_data_science_spark.operators.text import (
        wordpiece_encode,
        wordpiece_vocab,
    )
    from iconic_data_science_spark.catalog import Catalog
    import pyspark.sql.functions as F

    docs = Catalog(spark, sf_dir).documents
    vocab = wordpiece_vocab(docs, n_words=12)
    out = wordpiece_encode(docs, vocab)
    agg = out.agg(
        F.sum("n_unk").alias("unk"),
        F.sum(F.when(F.col("n_pieces") < F.col("n_words"), 1).otherwise(0)).alias("bad"),
    ).collect()[0]
    assert agg.unk == 0          # alphabet closure
    assert agg.bad == 0          # every word >= 1 piece
    # decomposition really happens: pieces strictly exceed words overall
    tot = out.agg(F.sum("n_pieces").alias("p"), F.sum("n_words").alias("w")).collect()[0]
    assert tot.p > tot.w


def test_wordpiece_batch_equals_map_form(spark, sf_dir):
    """The distinct-word batch twin must be row-identical to the
    streamable map form on the real corpus (same vocab, same rows,
    same fingerprints)."""
    from iconic_data_science_spark.operators.text import (
        wordpiece_encode,
        wordpiece_encode_batch,
        wordpiece_vocab,
    )
    from iconic_data_science_spark.catalog import Catalog

    docs = Catalog(spark, sf_dir).documents
    vocab = wordpiece_vocab(docs, n_words=12)
    a = sorted(map(tuple, wordpiece_encode(docs, vocab).collect()))
    b = sorted(map(tuple, wordpiece_encode_batch(docs, vocab).collect()))
    assert a == b


def _ref_wordpiece_word(word, vset, max_piece=10, max_word=24):
    """Pure-python greedy longest-match (Wu et al. 2016): consume the
    word left to right, trying the longest in-vocab piece first
    (continuation pieces carry '##'); no match at any position, or a
    word beyond max_word chars, is one [UNK]."""
    if len(word) > max_word:
        return ["[UNK]"]
    pos, parts, n = 0, [], len(word)
    while pos < n:
        hit = None
        for L in range(min(max_piece, n - pos), 0, -1):
            sub = word[pos:pos + L]
            p = sub if pos == 0 else "##" + sub
            if p in vset:
                hit = p
                break
        if hit is None:
            return ["[UNK]"]
        parts.append(hit)
        pos += L
    return parts


def test_wordpiece_encode_matches_python_mirror(spark):
    """WordPiece vocab build + encode over random corpora equals the
    sequential python mirror exactly (vocab set, piece stream
    fingerprint, counts) — the second witness behind
    text_wordpiece_encode's unrolled double-fold oracle."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from iconic_data_science_spark.operators.text import (
        wordpiece_encode,
        wordpiece_vocab,
    )

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.sampled_from(["a", "ab", "ba", "abc", "cab", "x", "abab"]),
                min_size=1,
                max_size=10,
            ),
            min_size=1,
            max_size=6,
        )
    )
    def check(docs):
        texts = [" ".join(ws) for ws in docs]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        vocab = wordpiece_vocab(df, n_words=4)
        # python vocab mirror: top-4 words (count desc, word asc) +
        # alphabet in initial and continuation form
        wf = Counter(w for t in texts for w in t.lower().split(" ") if w)
        top = sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
        ref_vocab = {w for w, _ in top}
        for w in wf:
            for ch in w:
                ref_vocab.add(ch)
                ref_vocab.add("##" + ch)
        assert vocab == sorted(ref_vocab)
        got = {r.doc_id: r for r in wordpiece_encode(df, vocab).collect()}
        vset = set(vocab)
        for i, t in enumerate(texts):
            words_ = [w for w in t.lower().split(" ") if w]
            pieces = [p for w in words_ for p in _ref_wordpiece_word(w, vset)]
            r = got[i]
            assert r.n_words == len(words_)
            assert r.n_pieces == len(pieces)
            assert r.n_unk == sum(1 for p in pieces if p == "[UNK]")
            assert r.pieces_fp == hashlib.md5(
                " ".join(pieces).encode()
            ).hexdigest()

    check()
