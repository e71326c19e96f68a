"""Property-based tests (hypothesis) for operator invariants, plus
equality of the two personal-net formulations and skew-utility results."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from iconic_data_science_spark import fixtures
from iconic_data_science_spark.functions import h_index_from_counts
from iconic_data_science_spark.operators.coauthor import coauthor_edges
from iconic_data_science_spark.operators.personal_net import personal_net, personal_net_flatmap_form
from iconic_data_science_spark.operators.skew import salt_join_skewed_left, salted_aggregate


def _h_index_py(v: list[int]) -> int:
    s = sorted(v, reverse=True)
    return sum(1 for i, x in enumerate(s, 1) if x >= i)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.lists(st.integers(min_value=0, max_value=1000), max_size=30), min_size=1, max_size=8))
def test_h_index_matches_model(spark, vectors):
    rows = [(i, v) for i, v in enumerate(vectors)]
    df = spark.createDataFrame(rows, "id long, vec array<bigint>")
    got = {r.id: r.h for r in df.select("id", h_index_from_counts("vec", alias="h")).collect()}
    for i, v in enumerate(vectors):
        assert got[i] == _h_index_py(v)


def test_personal_net_formulations_agree(spark):
    """The relational (PersonalNet_2) and flatMap (PersonalNet) forms
    must produce identical triangles — the reference implemented both."""
    edges = coauthor_edges(fixtures.paa_df(spark), fixtures.paper_years_df(spark)).select(
        "ego", "alter_id", "first_year"
    )
    a = {tuple(r) for r in personal_net(edges).collect()}
    b = {tuple(r) for r in personal_net_flatmap_form(edges).collect()}
    assert a == b and len(a) > 0


def test_personal_net_year_property(spark):
    """Triangle year == max of the three pairwise first-collab years
    (the invariant stated in PersonalNet.scala:118-124)."""
    edges = coauthor_edges(fixtures.paa_df(spark), fixtures.paper_years_df(spark)).select(
        "ego", "alter_id", "first_year"
    )
    first = {(r.ego, r.alter_id): r.first_year for r in edges.collect()}
    for r in personal_net(edges).collect():
        expect = max(first[(r.ego, r.alter1)], first[(r.ego, r.alter2)], first[(r.alter1, r.alter2)])
        assert r.year == expect


def test_salted_aggregate_equals_plain(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") % 13).cast("double").alias("v")
    )
    plain = {
        (r.k): (r.n, r.s, r.mx)
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r.k): (r.n, r.s, r.mx)
        for r in salted_aggregate(df, ["k"], {"n": "count(*)", "s": "sum(v)", "mx": "max(v)"}).collect()
    }
    assert plain == salted


def test_salted_join_equals_plain(spark):
    left = spark.range(0, 2000).select((F.col("id") % 5).alias("key"), F.col("id").alias("lv"))
    right = spark.createDataFrame([(i, f"r{i}") for i in range(5)], "key long, rv string")
    plain = {(r.key, r.lv, r.rv) for r in left.join(right, "key").collect()}
    salted = {(r.key, r.lv, r.rv) for r in salt_join_skewed_left(left, right, "key").collect()}
    assert plain == salted


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd ", min_size=0, max_size=40),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_invariants(spark, texts):
    """Jaccard similarity-join invariants on arbitrary small corpora:
    0 < jaccard <= 1, id1 < id2 canonical order, identical texts with
    >= n tokens always pair at jaccard 1.0."""
    from iconic_data_science_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0
        assert r.id1 < r.id2
    got = {(r.id1, r.id2): r.jaccard for r in rows}
    for i, a in enumerate(texts):
        for j, b in enumerate(texts[i + 1:], i + 1):
            if a == b and len(a.split(" ")) >= 3:
                assert got.get((i, j)) == 1.0


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="ab @.-0123456789", min_size=0, max_size=40), min_size=1, max_size=6))
def test_pii_redact_idempotent(spark, texts):
    """Redacting already-redacted text must be a no-op (the replacement
    tokens contain no digits/@, so no pattern can re-match)."""
    from iconic_data_science_spark.operators.text import pii_redact

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    once = pii_redact(docs).select(F.col("doc_id"), F.col("clean_text").alias("text"))
    twice = pii_redact(once).collect()
    first = {r.doc_id: r.clean_text for r in pii_redact(docs).collect()}
    for r in twice:
        assert r.clean_text == first[r.doc_id]
        assert r.n_email == r.n_ssn == r.n_phone == r.n_ipv4 == 0


@settings(max_examples=15, deadline=None)
@given(st.lists(st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=1, max_size=12), min_size=1, max_size=5))
def test_repetition_stats_invariants(spark, docs_tokens):
    from iconic_data_science_spark.operators.text import repetition_stats

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    for r in repetition_stats(docs).collect():
        toks = docs_tokens[r.doc_id]
        assert r.n_tokens == len(toks)
        assert r.distinct_tokens == len(set(toks))
        assert r.top_token_count == max(toks.count(t) for t in set(toks))
        assert r.n_bigrams == max(0, len(toks) - 1)
        assert r.top_token_count <= r.n_tokens
        assert r.top_bigram_count <= max(0, r.n_bigrams)


def test_decontaminate_only_flags_train_docs(spark, sf_dir):
    """Output doc_ids ⊆ train split; a doc sharing no 5-gram is absent."""
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.dedup import decontaminate

    docs = Catalog(spark, sf_dir).documents
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    out = decontaminate(train, bench, n=5).collect()
    assert all(r.doc_id % 10 != 0 for r in out)
    assert all(r.n_shared_ngrams >= 1 and r.n_benchmark_docs >= 1 for r in out)


# --- training-batch assembly (operators/packing.py) ---------------------


def _tokens(text: str) -> list[str]:
    return text.lower().split(" ")


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=25),
       st.integers(min_value=2, max_value=17))
def test_pack_sequences_matches_model(spark, lens, seq_len):
    from iconic_data_science_spark.operators.packing import pack_sequences

    rows = [(i, " ".join(["w"] * n), "s") for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in pack_sequences(df, seq_len=seq_len, shards=1).collect()}
    off = 0
    for i, n in enumerate(lens):
        r = got[i]
        assert r["tok_start"] == off and r["n_tokens"] == n
        assert r["first_seq"] == off // seq_len
        assert r["last_seq"] == (off + n - 1) // seq_len
        off += n


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=30), min_size=1, max_size=25),
       st.integers(min_value=3, max_value=20))
def test_pack_bins_nextfit_matches_model(spark, lens, cap):
    from iconic_data_science_spark.operators.packing import pack_bins_nextfit

    rows = [(i, " ".join(["w"] * n), "s") for i, n in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in pack_bins_nextfit(df, capacity=cap, shards=1).collect()}
    b, fill = 0, 0
    for i, n in enumerate(lens):
        if fill > 0 and fill + n > cap:
            b, fill = b + 1, 0
        fill += n
        assert (got[i]["bin_idx"], got[i]["bin_fill"]) == (b, fill), (i, lens, cap)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(st.sampled_from("abcd"), min_size=1, max_size=12), min_size=1, max_size=10),
       st.integers(min_value=1, max_value=4))
def test_passage_dedup_matches_model(spark, docs, pt):
    from iconic_data_science_spark.operators.packing import passage_dedup

    rows = [(i, " ".join(toks), "s") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in passage_dedup(df, passage_tokens=pt).collect()}
    seen: set[str] = set()
    for i, toks in enumerate(docs):
        chunks = [" ".join(toks[j:j + pt]) for j in range(0, len(toks), pt)]
        dups = 0
        dup_toks = 0
        for c in chunks:
            if c in seen:
                dups += 1
                dup_toks += len(c.split(" "))
            seen.add(c)
        r = got[i]
        assert r["n_passages"] == len(chunks)
        assert r["dup_passages"] == dups, (i, docs, pt)
        assert r["dup_tokens"] == dup_toks


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["apple", "banana", "cherry", "pad", "x"]), min_size=1, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_bm25_matches_pure_python_model(spark, docs_tokens):
    """bm25_topk == a sequential pure-Python evaluation of the same
    integer formula (k1=6/5, b=3/4, SCALE floored per term)."""
    from iconic_data_science_spark.operators.retrieval import bm25_topk

    terms = ["apple", "banana"]
    scale = 100_000
    docs = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    n = len(docs)
    dls = [len(t.split(" ")) for _, t in docs]
    total = sum(dls)
    tf: dict[tuple[int, str], int] = {}
    for (i, t), dl in zip(docs, dls):
        for tok in t.split(" "):
            if tok in terms:
                tf[(i, tok)] = tf.get((i, tok), 0) + 1
    df = {w: sum(1 for (i, ww) in tf if ww == w) for w in terms}
    expected: dict[int, int] = {}
    for (i, w), f in tf.items():
        num = scale * 44 * f * total * (2 * n - 2 * df[w] + 1)
        den = (2 * df[w] + 1) * (20 * f * total + 6 * total + 18 * dls[i] * n)
        expected[i] = expected.get(i, 0) + num // den
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.bm25_scaled for r in bm25_topk(sdf, terms, k=100).collect()}
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40), st.integers(0, 5))
def test_seeded_shuffle_matches_sorted_md5_model(spark, ids, seed):
    """shuffle_pos == the 1-based index in md5('seed:id') sort order."""
    import hashlib

    from iconic_data_science_spark.operators.packing import seeded_shuffle

    docs = spark.createDataFrame([(i,) for i in sorted(ids)], "doc_id long")
    expected = {
        i: pos + 1
        for pos, i in enumerate(
            sorted(ids, key=lambda i: hashlib.md5(f"{seed}:{i}".encode()).hexdigest())
        )
    }
    got = {r.doc_id: r.shuffle_pos for r in seeded_shuffle(docs, seed=seed, partitions=4).collect()}
    assert got == expected


@settings(max_examples=15, deadline=None)
@given(
    st.dictionaries(st.integers(0, 30), st.integers(0, 3), max_size=15),
    st.dictionaries(st.integers(0, 30), st.integers(0, 3), max_size=15),
)
def test_snapshot_diff_matches_dict_model(spark, old, new):
    from iconic_data_science_spark.operators.lakehouse import snapshot_diff

    expected = {}
    for k in old.keys() | new.keys():
        if k not in new:
            expected[k] = "removed"
        elif k not in old:
            expected[k] = "added"
        elif old[k] != new[k]:
            expected[k] = "changed"
    o = spark.createDataFrame([(k, v) for k, v in old.items()] or [(None, None)], "id long, val long").filter("id is not null")
    n = spark.createDataFrame([(k, v) for k, v in new.items()] or [(None, None)], "id long, val long").filter("id is not null")
    got = {r.id: r.change_type for r in snapshot_diff(o, n, ["id"], ["val"]).collect()}
    assert got == expected


def _ego_ref(triples, country):
    """Pure-python reference for ego_indicators semantics."""
    from collections import defaultdict

    alters = defaultdict(set)
    years = defaultdict(set)
    for ego, year, alt in triples:
        alters[ego].add(alt)
        years[ego].add((alt, year))
    out = {}
    for ego, alts in alters.items():
        ec = country.get(ego)
        acs = [country.get(a) for a in alts]
        out[ego] = (
            len(alts),
            len({y for (_a, y) in years[ego]}),
            len({c for c in acs if c is not None}),
            sum(1 for c in acs if c is not None and ec is not None and c == ec),
            sum(1 for c in acs if c is not None and ec is not None and c != ec),
        )
    return out


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),   # ego
            st.integers(min_value=1995, max_value=1999),
            st.integers(min_value=1, max_value=6),   # alter
        ),
        min_size=1,
        max_size=40,
    ),
    st.dictionaries(
        st.integers(min_value=1, max_value=6),
        st.sampled_from(["RO", "DE", "US"]),
        max_size=6,
    ),
)
def test_ego_indicators_matches_model(spark, triples, country):
    """ego_indicators == an independent python model of the PySparkles
    semantics (distinct alters, distinct years over any coauthor,
    distinct non-null alter countries, domestic split needing both
    countries known)."""
    from iconic_data_science_spark.operators.indicators import ego_indicators

    triples = [(e, y, a) for (e, y, a) in triples if e != a]
    if not triples:
        return
    tdf = spark.createDataFrame(triples, "ego long, year long, alter_id long")
    cdf = spark.createDataFrame(
        list(country.items()) or [(0, "XX")], "author long, country string"
    )
    got = {
        r.ego: (
            r.n_coauthors,
            r.years_collaborated,
            r.n_alter_countries,
            r.n_domestic,
            r.n_foreign,
        )
        for r in ego_indicators(tdf, cdf).collect()
    }
    want = _ego_ref(triples, country)
    assert got == want, (got, want)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda t: t[1] <= t[0] and t[0] >= 1
        ),
        min_size=1,
        max_size=8,
    ),
    st.lists(st.integers(1, 12), min_size=1, max_size=4, unique=True),
)
def test_pass_at_k_matches_comb_model(spark, ncs, ks):
    """pass@k over ARBITRARY (n, c) tables equals the math.comb closed
    form floored per-mille for every k <= n — the falling-factorial
    fold is exactly C(n-c,k)/C(n,k) on any input, not just the fixed
    synth."""
    import math

    from iconic_data_science_spark.operators.evaluation import pass_at_k

    rows = []
    for t, (n, c) in enumerate(ncs):
        for s in range(n):
            rows.append((t, s, 1 if s < c else 0))
    df = spark.createDataFrame(
        rows, "task_id bigint, sample_id bigint, correct bigint"
    )
    got = {
        (r.task_id, r.k): r.pass_milli
        for r in pass_at_k(df, ks=tuple(ks)).collect()
    }
    for t, (n, c) in enumerate(ncs):
        for k in ks:
            if k > n:
                assert (t, k) not in got
                continue
            want = (
                1000 - (1000 * math.comb(n - c, k)) // math.comb(n, k)
                if n - c >= k
                else 1000
            )
            assert got[(t, k)] == want, (n, c, k)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from("abcd"), max_size=6),
            st.lists(st.sampled_from("abcd"), max_size=6),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_em_f1_matches_counter_model(spark, pairs):
    """EM/F1 over arbitrary token arrays equals the collections.Counter
    multiset model with the SQuAD empty conventions."""
    from collections import Counter

    from iconic_data_science_spark.operators.evaluation import em_f1

    rows = [(i, 0, p, r) for i, (p, r) in enumerate(pairs)]
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, mode bigint, pred array<string>, ref array<string>",
    )
    got = {r.doc_id: r for r in em_f1(df).collect()}
    for i, (p, r) in enumerate(pairs):
        ov = sum((Counter(p) & Counter(r)).values())
        g = got[i]
        assert g.em == (1 if " ".join(p) == " ".join(r) else 0)
        assert g.overlap == ov
        if len(p) == 0 and len(r) == 0:
            assert g.f1_milli == 1000 and g.precision_milli == 1000
        else:
            assert g.precision_milli == (
                (1000 * ov) // len(p) if p else 0
            )
            assert g.recall_milli == ((1000 * ov) // len(r) if r else 0)
            assert g.f1_milli == (2000 * ov) // (len(p) + len(r))


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)),
        min_size=1,
        max_size=30,
    )
)
def test_judge_agreement_matches_counter_model(spark, verdicts):
    """Cohen's-kappa integers over arbitrary verdict tables equal the
    Counter marginal model: pe_num = Σ row_k·col_k, kappa_num/den as
    defined, po floored per-mille."""
    from collections import Counter

    from iconic_data_science_spark.operators.evaluation import judge_agreement

    rows = [(i, a, b) for i, (a, b) in enumerate(verdicts)]
    df = spark.createDataFrame(rows, "doc_id bigint, j1 bigint, j2 bigint")
    out = judge_agreement(df).collect()
    n = len(verdicts)
    agree = sum(1 for a, b in verdicts if a == b)
    r1 = Counter(a for a, _ in verdicts)
    r2 = Counter(b for _, b in verdicts)
    pe = sum(r1[k] * r2[k] for k in set(r1) | set(r2))
    cells = Counter(verdicts)
    assert {(r.j1, r.j2, r.n_pairs) for r in out} == {
        (a, b, c) for (a, b), c in cells.items()
    }
    for r in out:
        assert r.n_total == n and r.n_agree == agree
        assert r.pe_num == pe
        assert r.kappa_num == n * agree - pe
        assert r.kappa_den == n * n - pe
        assert r.po_milli == (1000 * agree) // n


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3), st.integers(0, 8)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_winrate_matrix_matches_pair_model(spark, rows):
    """Arena win rates over arbitrary (prompt, variant, score) tables
    equal the brute pair-enumeration model, including the tie-aware
    per-mille rate."""
    from collections import defaultdict

    from iconic_data_science_spark.operators.evaluation import winrate_matrix

    df = spark.createDataFrame(
        rows, "prompt_id bigint, response_id bigint, score bigint"
    )
    got = {
        (r.variant_a, r.variant_b): r for r in winrate_matrix(df).collect()
    }
    by_prompt = defaultdict(dict)
    for p, v, s in rows:
        by_prompt[p][v] = s
    model = defaultdict(lambda: [0, 0, 0])  # wins_a, ties, wins_b
    for vs in by_prompt.values():
        ks = sorted(vs)
        for i, a in enumerate(ks):
            for b in ks[i + 1:]:
                w = model[(a, b)]
                if vs[a] > vs[b]:
                    w[0] += 1
                elif vs[a] == vs[b]:
                    w[1] += 1
                else:
                    w[2] += 1
    assert set(got) == set(model)
    for ab, (wa, t, wb) in model.items():
        r = got[ab]
        n = wa + t + wb
        assert (r.wins_a, r.ties, r.wins_b, r.n_prompts) == (wa, t, wb, n)
        assert r.wr_a_milli == (1000 * wa + 500 * t) // n


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 3), st.integers(0, 20)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_group_advantage_matches_moment_model(spark, rows):
    """GRPO numerators over arbitrary response tables equal the exact
    moment model (adv = s·n − Σ; var_num = n·Σs² − (Σs)²) and the
    rank is the (score desc, id asc) permutation."""
    from collections import defaultdict

    from iconic_data_science_spark.operators.evaluation import group_advantage

    df = spark.createDataFrame(
        rows, "prompt_id bigint, response_id bigint, score bigint"
    )
    got = {
        (r.prompt_id, r.response_id): r for r in group_advantage(df).collect()
    }
    groups = defaultdict(list)
    for p, v, s in rows:
        groups[p].append((v, s))
    for p, members in groups.items():
        n = len(members)
        tot = sum(s for _, s in members)
        tot2 = sum(s * s for _, s in members)
        order = sorted(members, key=lambda t: (-t[1], t[0]))
        for rank0, (v, s) in enumerate(order):
            r = got[(p, v)]
            assert r.n_group == n
            assert r.adv_num == s * n - tot
            assert r.var_num == n * tot2 - tot * tot
            assert r.grp_rank == rank0 + 1


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),
            st.one_of(st.none(), st.integers(0, 4)),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_t_closeness_matches_fraction_model(spark, rows):
    """t-closeness over arbitrary (quasi, sensitive) tables equals the
    exact fractions.Fraction total-variation model — numerator,
    denominator, per-mille floor, and gate (NULL is one distribution
    value)."""
    from collections import Counter, defaultdict
    from fractions import Fraction

    from iconic_data_science_spark.operators.privacy import t_closeness_audit

    df = spark.createDataFrame(rows, "q int, s int")
    got = {r.q: r for r in t_closeness_audit(df, ["q"], "s", t_milli=200).collect()}
    corpus = Counter(s for _, s in rows)
    n = len(rows)
    groups = defaultdict(Counter)
    for q, s in rows:
        groups[q][s] += 1
    assert set(got) == set(groups)
    for q, cnt in groups.items():
        n_g = sum(cnt.values())
        tv = (
            sum(
                abs(Fraction(cnt.get(v, 0), n_g) - Fraction(cv, n))
                for v, cv in corpus.items()
            )
            / 2
        )
        r = got[q]
        assert (r.group_size, r.n_values) == (n_g, len(cnt))
        assert Fraction(r.tv_num, r.tv_den) == tv
        assert r.tv_den == 2 * n_g * n
        assert r.tv_milli == (1000 * r.tv_num) // r.tv_den
        assert r.t_close == (1 if tv <= Fraction(200, 1000) else 0)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-4, 4), min_size=8, max_size=8),
        min_size=3,
        max_size=20,
    )
)
def test_sq8_codes_match_python_model(spark, vecs):
    """SQ8 training + coding over arbitrary integer-valued vectors
    equals the pure-python bounds/floor model (codes, recon, err2)."""
    from iconic_data_science_spark.operators.similarity import (
        sq8_codes,
        sq8_train,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    lo, rng = sq8_train(df, dim=8)
    q = [[x * 1000 for x in v] for v in vecs]
    assert lo == [min(col) for col in zip(*q)]
    assert rng == [max(col) - min(col) for col in zip(*q)]
    got = {r.vec_id: r for r in sq8_codes(df, bounds=(lo, rng), dim=8).collect()}
    for i, v in enumerate(q):
        codes = [
            0 if rng[j] == 0 else ((v[j] - lo[j]) * 255) // rng[j]
            for j in range(8)
        ]
        recon = [lo[j] + (codes[j] * rng[j]) // 255 for j in range(8)]
        err2 = sum((v[j] - recon[j]) ** 2 for j in range(8))
        r = got[i]
        assert list(r.codes) == codes and r.err2 == err2


# --- second-witness mirrors for unrolled-oracle queries (wherever the
# DuckDB oracle REPLAYS the engine's arithmetic, the hash gate proves
# cross-engine agreement, not correctness — the eval_judge_agreement
# kappa bug of 38f4f04 passed it. Each mirror below is an independent
# pure-python model
# of the same algorithm; the registry-level inventory lives in
# tests/test_engine_surface.py::test_unrolled_oracle_queries_have_python_mirrors.)


def _tdiv(a: int, b: int) -> int:
    q = abs(a) // b
    return q if a >= 0 else -q


def _ref_kmeans_int(ids_vecs, k: int, iters: int, scale: int = 1000):
    """Pure-python integer Lloyd: quantize, k-center greedy seed over
    the id-sorted sample (n < 10000 => the md5-ordered sample IS the
    whole corpus re-sorted by id), fixed truncating-div update rounds,
    final (c_id, d2) assignment with (d2, c_id) tie-break."""
    q = {i: [x * scale for x in v] for i, v in ids_vecs}
    sq = [q[i] for i in sorted(q)]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    chosen = [0]
    nearest = [d2(v, sq[0]) for v in sq]
    for _ in range(k - 1):
        nxt = max(range(len(sq)), key=lambda i: nearest[i])
        chosen.append(nxt)
        dn = [d2(v, sq[nxt]) for v in sq]
        nearest = [min(a, b) for a, b in zip(nearest, dn)]
    cents = [(cid, list(sq[i])) for cid, i in enumerate(chosen)]
    for _ in range(iters):
        sums: dict = {}
        cnts: dict = {}
        for v in q.values():
            cid = min((d2(v, cv), c) for c, cv in cents)[1]
            cnts[cid] = cnts.get(cid, 0) + 1
            s = sums.setdefault(cid, [0] * len(v))
            for j, x in enumerate(v):
                s[j] += x
        cents = [
            (c, [_tdiv(x, cnts[c]) for x in sums[c]] if c in sums else cv)
            for c, cv in cents
        ]
    return {
        i: min((d2(v, cv), c) for c, cv in cents)[::-1] for i, v in q.items()
    }


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-4, 4), min_size=4, max_size=4),
        min_size=3,
        max_size=12,
    ),
    st.integers(2, 3),
)
def test_kmeans_int_matches_python_model(spark, vecs, k):
    """Integer k-means (seed + Lloyd rounds + assignment) over arbitrary
    small corpora equals the sequential python model exactly — the
    second witness behind ann_ivf_kmeans_int's unrolled-CTE oracle."""
    from iconic_data_science_spark.operators.similarity import kmeans_int_assign

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r.vec_id: (r.c_id, r.d2)
        for r in kmeans_int_assign(df, n_cells=k, n_iters=2).collect()
    }
    want = _ref_kmeans_int(list(enumerate(vecs)), k, 2)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-4, 4), min_size=4, max_size=4),
        min_size=3,
        max_size=10,
    )
)
def test_pq_trained_codes_match_python_model(spark, vecs):
    """Trained PQ = per-subspace integer k-means on slices: the code
    matrix equals the composed python Lloyd mirror subspace by
    subspace — the witness behind ann_pq_trained's per-subspace
    unrolled chains."""
    from iconic_data_science_spark.operators.similarity import pq_trained_codes

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        (r.vec_id, r.sub): (r.c_id, r.d2)
        for r in pq_trained_codes(
            df, m=2, n_codes=2, n_iters=1, dim=4
        ).collect()
    }
    want = {}
    for s in range(2):
        sl = [(i, v[s * 2:(s + 1) * 2]) for i, v in enumerate(vecs)]
        for i, cd in _ref_kmeans_int(sl, 2, 1).items():
            want[(i, s)] = cd
    assert got == want


def _sq8_py(qv, lo, rng):
    """(codes, recon, err2, n_clamped, max_overshoot) python model of
    frozen-bounds SQ8 coding incl. the constant-dim drift rule."""
    codes, over = [], []
    for x, l, r in zip(qv, lo, rng):
        if r == 0:
            codes.append(0)
            over.append(abs(x - l))
        else:
            raw = ((x - l) * 255) // r  # python // floors, like the engine
            codes.append(max(0, min(255, raw)))
            over.append(max(-raw, raw - 255, 0))
    recon = [l + (c * r) // 255 for c, l, r in zip(codes, lo, rng)]
    err2 = sum((x - rc) * (x - rc) for x, rc in zip(qv, recon))
    return codes, recon, err2, sum(1 for o in over if o > 0), max(over, default=0)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-4, 4), min_size=6, max_size=6),
        min_size=4,
        max_size=16,
    )
)
def test_sq8_frozen_matches_python_model(spark, vecs):
    """Frozen-bounds SQ8 over arbitrary splits equals the python model:
    train on rows where id % 3 != 0, code the held-out rest — codes,
    distortion, and the drift telemetry including the constant-dim
    (rng == 0) rule. The witness behind ann_sq8_drift's oracle."""
    from iconic_data_science_spark.operators.similarity import (
        sq8_codes_frozen,
        sq8_train,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    base = df.filter("vec_id % 3 != 0")
    if base.count() == 0:
        return
    lo, rng = sq8_train(base, dim=6)
    q = {i: [x * 1000 for x in v] for i, v in enumerate(vecs)}
    tl = [q[i] for i in q if i % 3 != 0]
    assert lo == [min(c) for c in zip(*tl)]
    assert rng == [max(c) - min(c) for c in zip(*tl)]
    got = {
        r.vec_id: r
        for r in sq8_codes_frozen(
            df.filter("vec_id % 3 = 0"), (lo, rng), dim=6
        ).collect()
    }
    for i in q:
        if i % 3 != 0:
            continue
        codes, _recon, err2, ncl, mov = _sq8_py(q[i], lo, rng)
        r = got[i]
        assert list(r.codes) == codes
        assert (r.err2, r.n_clamped, r.max_overshoot) == (err2, ncl, mov)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-4, 4), min_size=8, max_size=8),
        min_size=4,
        max_size=10,
    )
)
def test_sq8_topk_matches_python_model(spark, vecs):
    """SQ8 asymmetric serving (bucket candidates -> ADC over codes ->
    rank) equals the python funnel model sharing only the seeded plane
    coefficients — the witness behind ann_sq8_topk's oracle."""
    from iconic_data_science_spark.operators.similarity import (
        _plane_coeffs,
        sq8_topk,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    K, NP, TBL = 3, 4, 13
    got = {
        (r.query_id, r.neighbor_id): (r.approx_d, r.rank)
        for r in sq8_topk(df, df, k=K, n_planes=NP, table=TBL, dim=8).collect()
    }
    q = {i: [x * 1000 for x in v] for i, v in enumerate(vecs)}
    lo = [min(c) for c in zip(*q.values())]
    rng = [max(c) - min(c) for c in zip(*(q.values()))]
    recon = {i: _sq8_py(v, lo, rng)[1] for i, v in q.items()}
    rows: dict = {}
    for p, _i, c in _plane_coeffs(NP, 8, table=TBL):
        rows.setdefault(p, []).append(c)
    bucket = {
        i: "".join(
            "1" if sum(x * c for x, c in zip(v, rows[p])) >= 0 else "0"
            for p in range(NP)
        )
        for i, v in q.items()
    }
    want = {}
    for qi in q:
        cands = sorted(
            (
                (sum((x - r) * (x - r) for x, r in zip(q[qi], recon[ci])), ci)
                for ci in q
                if ci != qi and bucket[ci] == bucket[qi]
            )
        )
        for rank0, (d, ci) in enumerate(cands[:K]):
            want[(qi, ci)] = (d, rank0 + 1)
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(-4, 4), min_size=8, max_size=8).filter(
            lambda v: any(v)
        ),
        min_size=4,
        max_size=10,
    )
)
def test_bq_topk_matches_python_model(spark, vecs):
    """The BQ three-stage funnel (band pigeonhole -> Hamming pre-rank
    -> exact cosine rescore) equals the python model bit for bit,
    including the IEEE-identical cosine — the witness behind
    ann_bq_topk's oracle. (Zero-norm vectors are excluded: cosine is
    undefined there on any engine.)"""
    import math

    from iconic_data_science_spark.operators.similarity import bq_topk

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    K, BANDS, OVER = 2, 4, 2
    got = {
        (r.query_id, r.neighbor_id): (r.hamming, r.cosine, r.rank)
        for r in bq_topk(
            df, df, k=K, bands=BANDS, oversample=OVER, dim=8
        ).collect()
    }
    q = {i: [x * 1000 for x in v] for i, v in enumerate(vecs)}
    n = len(vecs)
    sums = [sum(c) for c in zip(*q.values())]
    width = 8 // BANDS
    DOT = 1_000_000_000_000.0

    def bands_of(v):
        bits = [1 if v[i] * n >= sums[i] else 0 for i in range(8)]
        return [
            sum(bits[b * width + j] << j for j in range(width))
            for b in range(BANDS)
        ]

    bw = {i: bands_of(v) for i, v in q.items()}
    sq = {
        i: sum(int(round(x * x * DOT)) for x in v)
        for i, v in enumerate(vecs)
    }
    cand = {
        (qi, ci)
        for qi in q
        for ci in q
        if qi != ci and any(a == b for a, b in zip(bw[qi], bw[ci]))
    }
    ham = {
        (qi, ci): sum(bin(a ^ b).count("1") for a, b in zip(bw[qi], bw[ci]))
        for qi, ci in cand
    }
    want = {}
    for qi in q:
        pre = sorted(
            ((h, ci) for (qq, ci), h in ham.items() if qq == qi)
        )[: OVER * K]
        scored = []
        for _h, ci in pre:
            dot = sum(
                int(round(a * b * DOT)) for a, b in zip(vecs[qi], vecs[ci])
            )
            cos = dot / math.sqrt(float(sq[qi]) * float(sq[ci]))
            scored.append((-cos, ci, ham[(qi, ci)]))
        for rank0, (negcos, ci, h) in enumerate(sorted(scored)[:K]):
            want[(qi, ci)] = (h, -negcos, rank0 + 1)
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),
            st.one_of(st.none(), st.integers(-50, 50)),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_kmv_distinct_matches_python_model(spark, rows):
    """The KMV sketch (seeded LCG -> k smallest distinct -> (k-1)M/h_k)
    over arbitrary key streams equals the sequential python model,
    small-set exact branch and estimator branch both, negative and NULL
    keys included — the second witness behind ev_kmv_distinct's
    replay oracle."""
    from iconic_data_science_spark.operators.sketch import (
        KMV_A,
        KMV_B,
        kmv_distinct,
    )
    from iconic_data_science_spark.operators.sketch import MERSENNE31 as M

    df = spark.createDataFrame(rows, "event_type long, user_id long")
    got = {
        r.event_type: r.est_distinct
        for r in kmv_distinct(df, k=4).collect()
    }
    groups: dict = {}
    for g, key in rows:
        if key is None:
            continue
        h = ((key % M) * KMV_A + KMV_B) % M
        groups.setdefault(g, set()).add(h)
    want = {}
    for g, hs in groups.items():
        mins = sorted(hs)[:4]
        want[g] = len(mins) if len(mins) < 4 else (3 * M) // mins[-1]
    assert got == want
