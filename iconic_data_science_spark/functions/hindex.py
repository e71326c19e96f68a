"""h-index as a reusable JVM-side expression.

Reference semantics (/root/reference/src/notebooks/scala/ProfileConversion.scala:123-125):
over a vector of per-paper citation counts, sort descending and count
positions where ``count >= rank`` (1-based). The reference implements it
as a Scala UDF over a ``collect_list``; here it is a pure built-in
expression pipeline (no Python, no UDF) so it stays inside whole-stage
codegen:

    sort_array(desc) → zip values with 1-based index → count(v >= i)

At 100 TB the per-group citation vectors are bounded by papers-per-author
(≤ ~1e4), so the array stays small even when the table does not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h_index_from_counts(arr: Column | str, alias: str | None = None) -> Column:
    """h-index of an array<numeric> column of per-paper citation counts."""
    c = F.col(arr) if isinstance(arr, str) else arr
    sorted_desc = F.array_sort(c, lambda a, b: F.when(a < b, 1).when(a > b, -1).otherwise(0))
    # zip_with against the 1-based rank sequence, then count satisfied ranks
    ranks = F.sequence(F.lit(1), F.greatest(F.size(c), F.lit(1)))
    hits = F.zip_with(sorted_desc, ranks, lambda v, i: (v >= i.cast("long")).cast("int"))
    out = F.when(F.size(c) == 0, F.lit(0)).otherwise(F.aggregate(hits, F.lit(0), lambda acc, x: acc + x)).cast("long")
    return out.alias(alias) if alias else out
