"""Literal-collection expression builders that avoid py4j chatter.

Building a K-element literal array as ``F.array(*[F.lit(v) for v in vs])``
costs one py4j round trip per element (~1 ms each on this driver): a
2048-element literal costs about a second of serial driver time before
Spark ever sees the query, and the cost recurs on every query
construction (a construction/execution profile of the legacy headline
benchmark found construction was ~half its wall time; perfbench's
``entry.construct_s`` tracks this split).  Rendering the same literal as
ONE SQL string parsed server-side costs ~2 ms for the same expression (a
CreateArray / CreateMap of foldable literals), so the optimized plan, the
results, and the oracle hashes are unchanged — only the driver-side build
time drops.
Planning and expression construction are single-threaded driver work and
bound how fast the driver can issue
rounds of an iterative operator at any scale.

Value rendering is exact: integers print in full; doubles use Python's
shortest round-trip ``repr`` with a ``D`` suffix (Spark parses double
literals with Java's ``Double.parseDouble``, which round-trips shortest
decimal forms bit-exactly); strings escape backslash and quote.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _long_sql(v) -> str:
    return f"{int(v)}L"


def _double_sql(v) -> str:
    v = float(v)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite literal: {v}")
    return f"{v!r}D"


def _string_sql(v) -> str:
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def lit_longs(values) -> Column:
    """array<bigint> literal column, one server-side parse."""
    vals = list(values)
    if not vals:
        return F.expr("CAST(array() AS array<bigint>)")
    return F.expr("array(" + ",".join(_long_sql(v) for v in vals) + ")")


def lit_strings(values) -> Column:
    """array<string> literal column."""
    vals = list(values)
    if not vals:
        return F.expr("CAST(array() AS array<string>)")
    return F.expr("array(" + ",".join(_string_sql(v) for v in vals) + ")")


def _longs_arr_sql(values) -> str:
    return "array(" + ",".join(_long_sql(v) for v in values) + ")"


def dot_fold_longs(col_sql: str, weights) -> Column:
    """``aggregate(zip_with(col, <literal array>, (x, c) -> x * c), 0L,
    (acc, x) -> acc + x)`` rendered as ONE server-parsed expression.

    The ``F.aggregate(F.zip_with(..., lambda), ..., lambda)`` form costs
    ~85 ms of py4j lambda-conversion chatter per column on this driver;
    loops building one such column per plane/centroid/output-dim spend
    seconds before Spark sees the query.  The parsed string builds the
    identical ArrayAggregate/ZipWith tree (lambda variable ids aside), so
    plans, results, and oracle hashes are unchanged.

    ``col_sql`` is a SQL fragment naming the input array column — a plain
    column name, backquoted if needed."""
    return F.expr(
        f"aggregate(zip_with({col_sql}, {_longs_arr_sql(weights)}, "
        "(x, c) -> x * c), 0L, (acc, x) -> acc + x)"
    )


def d2_fold_longs(col_sql: str, center) -> Column:
    """Squared-L2 fold ``aggregate(zip_with(col, <center>, (x, y) ->
    (x - y) * (x - y)), 0L, (acc, x) -> acc + x)`` as one parsed
    expression — the integer-lattice distance used by every kmeans/PQ
    argmin loop (one column per centroid: the loop is where the py4j
    cost multiplies)."""
    return F.expr(
        f"aggregate(zip_with({col_sql}, {_longs_arr_sql(center)}, "
        "(x, y) -> (x - y) * (x - y)), 0L, (acc, x) -> acc + x)"
    )


def dot_fold_doubles(col_sql: str, weights) -> Column:
    """Float dot-product fold against a literal double array, one parsed
    expression — same shape as :func:`dot_fold_longs` on the double
    lattice (init ``0.0D``, identical IEEE fold order)."""
    arr = "array(" + ",".join(_double_sql(v) for v in weights) + ")"
    return F.expr(
        f"aggregate(zip_with({col_sql}, {arr}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def lattice_longs(col_sql: str, scale: int) -> Column:
    """``transform(col, x -> CAST(round(CAST(x AS double) * scale) AS
    bigint))`` as one parsed expression — the float→integer lattice
    quantization used at the head of every ANN operator."""
    return F.expr(
        f"transform({col_sql}, x -> CAST(round(CAST(x AS double) * {int(scale)}) "
        "AS bigint))"
    )


def lit_str_long_map(pairs) -> Column:
    """map<string,bigint> literal column from (key, value) pairs."""
    items = list(pairs)
    if not items:
        return F.expr("map()").cast("map<string,bigint>")
    body = ",".join(f"{_string_sql(k)},{_long_sql(v)}" for k, v in items)
    return F.expr(f"map({body})")
