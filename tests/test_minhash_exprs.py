"""The MinHash and shingle hash expressions and the lattice dot
product against a pure-Python reference (md5 token hashes, Horner
shingles, LCG permutations, HALF_UP-rounded products), and the py4j
cost of building them: each is one SQL-text expression, where a
Python-lambda higher-order function costs about 91 round trips."""

from __future__ import annotations

import decimal
import hashlib

from iconic_data_science_spark.operators import dedup

M31 = 2**31 - 1
W = 1_000_003
N = 3

_TEXTS = {
    1: "the quick brown fox jumps over the quick brown fox",
    2: "",  # empty text: one empty token
    3: "two words",  # fewer than N tokens
    4: "a  b   c  d",  # repeated spaces: empty tokens between them
    5: "MiXeD CaSe words MIXED case WORDS",
    6: "Ünïcödé Straße ÉCOLE naïve café ünïcödé",
}


def _token_hashes(text: str) -> list[int]:
    return [
        int(hashlib.md5(t.encode()).hexdigest()[:12], 16) % M31 for t in text.lower().split(" ")
    ]


def _shingles(text: str) -> list[int]:
    th = _token_hashes(text)
    out: list[int] = []
    for i in range(len(th) - N + 1):
        acc = th[i]
        for k in range(1, N):
            acc = (acc * W + th[i + k]) % M31
        if acc not in out:
            out.append(acc)
    return out


def _perms(num_perm: int) -> list[tuple[int, int]]:
    x, out = 42, []
    for _ in range(num_perm):
        x = (1103515245 * x + 12345) % 2**31
        a = x | 1
        x = (1103515245 * x + 12345) % 2**31
        out.append((a, x))
    return out


def _band_sigs(shingles: list[int], num_perm: int, rows_per_band: int) -> list[str]:
    mins = [min(((a * s + b) % M31 for s in shingles), default=None) for a, b in _perms(num_perm)]
    return [
        "-".join(str(m) for m in mins[i:i + rows_per_band] if m is not None)
        for i in range(0, num_perm, rows_per_band)
    ]


def _docs(spark):
    return spark.createDataFrame(sorted(_TEXTS.items()), "doc_id long, text string")


def test_hash_expressions_match_python_reference(spark):
    docs = _docs(spark)
    base = dedup._token_hash_base(docs, "doc_id", "text")
    assert {r.doc_id: (r._th, r._nt) for r in base.collect()} == {
        d: (_token_hashes(t), len(t.split(" "))) for d, t in _TEXTS.items()
    }

    arrays = dedup.hashed_shingle_arrays(docs, n=N)
    want = {d: _shingles(t) for d, t in _TEXTS.items()}
    assert {r.doc_id: r.shingles for r in arrays.collect()} == want
    assert want[2] == want[3] == []

    table = dedup.hashed_shingle_table(docs, n=N)
    assert sorted(map(tuple, table.collect())) == sorted(
        (d, s) for d, sh in want.items() for s in sh
    )

    for num_perm, rows_per_band in ((16, 4), (12, 3)):
        sig_array = arrays.select(
            "doc_id", dedup.minhash_band_sig_array(num_perm, rows_per_band).alias("s")
        )
        assert {r.doc_id: r.s for r in sig_array.collect()} == {
            d: _band_sigs(sh, num_perm, rows_per_band) for d, sh in want.items()
        }
        rows = dedup.minhash_band_sigs_from_arrays(arrays, num_perm, rows_per_band)
        assert sorted(map(tuple, rows.collect())) == sorted(
            (d, band, sig)
            for d, sh in want.items()
            for band, sig in enumerate(_band_sigs(sh, num_perm, rows_per_band))
            if sig
        )


def test_hash_expressions_quote_caller_columns(spark):
    docs = _docs(spark).withColumnsRenamed({"doc_id": "doc id", "text": "body`text"})
    arrays = dedup.hashed_shingle_arrays(docs, n=N, id_col="doc id", text_col="body`text")
    assert {r.doc_id: r.shingles for r in arrays.collect()} == {
        d: _shingles(t) for d, t in _TEXTS.items()
    }


def test_hash_expression_builders_cost_few_py4j_calls(spark, py4j_calls):
    """Each hash Column is one ``F.expr`` (the Column-API forms cost 186
    round trips for the Horner shingles and 1 342 for the signature
    array). A frame builder pays about one more per output column, for
    the column list sent to ``selectExpr``."""
    assert py4j_calls(lambda: dedup._horner_shingles(N)) <= 5
    assert py4j_calls(lambda: dedup.minhash_band_sig_array()) <= 5
    docs = _docs(spark)
    assert py4j_calls(lambda: dedup.hashed_shingle_arrays(docs, n=N)) <= 20
    arrays = dedup.hashed_shingle_arrays(docs, n=N)
    sigs = py4j_calls(lambda: dedup.minhash_band_sigs_from_arrays(arrays, keep_shingles=True))
    assert sigs <= 40


def _lattice_dot(a: list[float], b: list[float]) -> int:
    # the same double products, in the same order, rounded HALF_UP as
    # Spark's round does
    return sum(
        int(decimal.Decimal(x * y * dedup.DOT_SCALE).quantize(0, decimal.ROUND_HALF_UP))
        for x, y in zip(a, b)
    )


def test_lattice_dot_matches_python_reference(spark, py4j_calls):
    """``dedup._dot_expr`` / ``_sqnorm_expr``: the sum of HALF_UP-rounded
    products on the DOT_SCALE lattice, null for a null vector, each
    built in a few round trips (the Column-API fold took 162)."""
    vecs = {
        1: ([0.5, -0.25, 1.0], [0.125, 0.75, -2.0]),
        2: ([1e-12, 2.5e-12, -1.5e-12], [0.5, 1.0, 1.0]),  # products land on .5
        3: (None, [1.0, 2.0, 3.0]),
    }
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in vecs.items()], "id long, a array<double>, b array<double>"
    )
    got = {
        r.id: (r.dot, r.sq)
        for r in df.select(
            "id", dedup._dot_expr("a", "b").alias("dot"), dedup._sqnorm_expr("b").alias("sq")
        ).collect()
    }
    assert got == {
        i: (None if a is None else _lattice_dot(a, b), _lattice_dot(b, b))
        for i, (a, b) in vecs.items()
    }
    assert py4j_calls(lambda: dedup._dot_expr("q.v", "c.v")) <= 5
    assert py4j_calls(lambda: dedup._sqnorm_expr("v")) <= 5
