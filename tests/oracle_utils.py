"""Local replica of the driver's DuckDB-oracle comparison.

The driver runs each ``queries()[name]`` and its ``oracle_sql()[name]``
side by side and records row-count + schema + order-insensitive
value-hash matches. This harness reproduces that gate strictly (exact
value equality, floats included) so parity failures surface in pytest
before the driver sees them.
"""

from __future__ import annotations

import contextlib

import duckdb
import pandas as pd

from iconic_data_science_spark.operators import tiers

# tier → (budgets patched in operators/tiers.py, session conf). The
# shuffle case also turns off the planner's own broadcasts: the loops
# persist their frames with exact sizes under the engine's 64 MB
# threshold and would otherwise still be planned as broadcast-hash joins.
FORCED_TIERS = {
    "broadcast": ({"LOCAL_ROWS": 0}, {}),
    "shuffle": (
        {"LOCAL_ROWS": 0, "BROADCAST_ROWS": 0},
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ),
}


@contextlib.contextmanager
def forced_tier(spark, monkeypatch, tier: str):
    """Run the block under one of the forced distributed ``FORCED_TIERS``;
    the budgets stay patched until the test ends, the conf is restored
    on exit."""
    budgets, conf = FORCED_TIERS[tier]
    for budget, rows in budgets.items():
        monkeypatch.setattr(tiers, budget, rows)
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = parity)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    a = _normalize(spark_pdf)
    b = _normalize(duck_pdf)
    for col in a.columns:
        av, bv = a[col], b[col]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            af = av.astype("float64")
            bf = bv.astype("float64")
            both_nan = af.isna() & bf.isna()
            neq = ~(both_nan | (af == bf))
            if neq.any():
                idx = neq.idxmax()
                diff = (af[neq] - bf[neq]).abs().max()
                problems.append(
                    f"column {col}: {int(neq.sum())} float mismatches, max abs diff {diff} "
                    f"(e.g. row {idx}: spark={af[idx]!r} duck={bf[idx]!r})"
                )
        else:
            astr = av.astype(str)
            bstr = bv.astype(str)
            neq = astr != bstr
            if neq.any():
                idx = neq.idxmax()
                problems.append(
                    f"column {col}: {int(neq.sum())} mismatches "
                    f"(e.g. row {idx}: spark={av[idx]!r} duck={bv[idx]!r})"
                )
    return problems


def run_parity(spark, sf_dir: str, query_fn, sql: str) -> list[str]:
    spark_pdf = query_fn(spark, sf_dir).toPandas()
    con = duck_con(sf_dir)
    try:
        duck_pdf = con.execute(sql).fetchdf()
    finally:
        con.close()
    return compare_frames(spark_pdf, duck_pdf)
