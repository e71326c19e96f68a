"""The one tier policy of the iterative and pair operators.

An operator runs as a driver-local solve over collected rows, a loop of
broadcast-hash joins, or a loop of shuffle joins, and picks one from
exact row counts through the two budgets below. No keyword, option or
conf key overrides them; tests force a tier by patching them
(``monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)``), and the predicates
read them at call time. ``solve_locally(0)`` is False, so empty inputs
always take the distributed path.

Every frame-returning driver-local tier goes through the same two
steps: :func:`gather` materializes the input once, counting it on the
way, and collects it when it fits; :func:`local_frame` turns the
solver's pandas result back into a DataFrame through Arrow.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LOCAL_ROWS = 2_000_000  # most rows a driver-local solve (or driver-held index) collects
BROADCAST_ROWS = 5_000_000  # largest frame a loop broadcasts into its joins


def solve_locally(n: int) -> bool:
    return 0 < n <= LOCAL_ROWS


def broadcastable(n: int) -> bool:
    return n <= BROADCAST_ROWS


def gather(df: DataFrame) -> tuple[pd.DataFrame | None, DataFrame]:
    """Materialize ``df`` once and collect it if it fits the local budget.

    Returns ``(pandas, df)`` when ``solve_locally`` holds for its row
    count, else ``(None, df)``; the returned ``df`` is the checkpointed
    frame, so the collect and the distributed tier both read one
    materialization and an expensive upstream (a similarity join, the
    coauthor self-join) runs once on either tier. The row count is an
    observed metric of the checkpoint's own job, so counting launches
    no job. A ``limit(LOCAL_ROWS + 1)`` probe measured worse:
    CollectLimit runs serial partition rounds when the limit is never
    hit, and the distributed tier would then recompute the upstream.
    """
    df, n = counted_checkpoint(df)
    if solve_locally(n):
        return df.toPandas(), df
    return None, df


def counted_checkpoint(df: DataFrame, where: Column | None = None) -> tuple[DataFrame, int]:
    """``df`` checkpointed, and the count of its rows (of those where
    ``where`` holds, if given), observed on the checkpoint's own job."""
    rows = Observation()
    counted = F.lit(1) if where is None else F.when(where, 1)
    df = df.observe(rows, F.count(counted).alias("n")).localCheckpoint()
    return df, rows.get["n"]


def local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: StructType | str) -> DataFrame:
    """A driver-local result as a DataFrame, built through Arrow from
    pandas. A list of rows would go through a pickled Python RDD instead
    (3k rows written in 0.50 s that way, against 0.19 s through Arrow)."""
    return spark.createDataFrame(pdf, schema=schema)
