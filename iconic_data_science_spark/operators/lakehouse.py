"""Lakehouse-style mutation operators emulated on plain DataFrames.

The reference never mutates data in place (its sinks are write-once CSV /
Parquet snapshots — PersonalNet_2.scala:159, StaticNet.scala:428-429), but
an engine serving the same workloads at 100 TB needs the lakehouse update
patterns: MERGE (upsert) and slowly-changing-dimension history. Delta /
Iceberg jars are absent in this environment, so these are expressed as the
canonical relational rewrites every table format compiles MERGE into —
anti-join + union for upsert, window functions for SCD2 — which also makes
them DuckDB-oracle checkable.

Scale posture:
  - ``merge_upsert`` is one shuffle on the merge keys (the anti join and
    the union are key-partitioned together under AQE); with a real table
    format the same plan gains file pruning, nothing else changes.
  - ``scd2_history`` is a per-key window (one shuffle + sort on
    (key, order)); change-collapse and interval assignment happen in the
    same sort, so it is a single stage after the shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    deletes: DataFrame | None = None,
) -> DataFrame:
    """MERGE emulation: source rows update matching target rows (matched →
    replace), unmatched source rows insert, remaining target rows carry
    over. ``deletes`` (key-only frame), when given, removes those keys
    from the target before the upsert (WHEN MATCHED ... THEN DELETE).

    Both sides must be unique on ``keys`` (MERGE's own precondition —
    Delta raises on multi-match; we inherit that contract rather than
    silently picking a row). Schemas must match; union is by name.
    """
    keys = list(keys)
    kept = target
    if deletes is not None:
        kept = kept.join(deletes.select(*keys).distinct(), keys, "left_anti")
    kept = kept.join(source.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(source)


def scd2_history(
    changes: DataFrame,
    key: str,
    order_col: str,
    attr_cols: Sequence[str],
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log.

    ``changes``: one row per observed version (key, order_col, attrs).
    Consecutive rows whose ``attr_cols`` are all unchanged are collapsed
    into one validity interval (classic SCD2 change detection via lag).
    Returns one row per value interval:

        key, *attr_cols, valid_from, valid_to, is_current

    ``valid_from`` = first order_col at which the value held;
    ``valid_to`` = order_col of the next change (null while current);
    ``is_current`` = valid_to is null. ``tiebreak_cols`` pins a total
    order when order_col ties (determinism at the hash gate).
    """
    attr_cols = list(attr_cols)
    order_exprs = [F.col(order_col)] + [F.col(c) for c in tiebreak_cols]
    w = W.partitionBy(key).orderBy(*order_exprs)
    changed = F.lit(False)
    for c in attr_cols:
        prev = F.lag(c).over(w)
        changed = changed | prev.isNull() | (F.col(c) != prev) | (
            F.col(c).isNull() & prev.isNotNull()
        )
    # First row per key has lag NULL on every attr → changed (interval
    # opener). Rows equal to their predecessor are dropped, then validity
    # intervals come from lead() over the surviving change points.
    points = changes.withColumn("_chg", changed).filter(F.col("_chg")).drop("_chg")
    w2 = W.partitionBy(key).orderBy(*order_exprs)
    return (
        points.withColumn("valid_to", F.lead(order_col).over(w2))
        .select(
            key,
            *attr_cols,
            F.col(order_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def merge_rollup(
    existing: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental aggregate maintenance: fold a delta partition's
    pre-aggregated rows into a materialized rollup — ``unionByName →
    groupBy(keys) → sum`` (the A8 union+re-aggregate shape applied to
    view maintenance).

    The incremental-refresh pattern for additive aggregates (counts,
    sums): instead of recomputing the rollup over the whole history,
    aggregate only the new partition and merge. Correctness contract —
    pinned by the self-checking query oracle — is
    ``merge_rollup(agg(old), agg(new)) == agg(old ∪ new)`` for additive
    measures; non-additive aggregates (distinct, percentiles) need
    sketches instead (see `a2_approx_distinct` for the HLL path). The
    shuffle carries pre-aggregated rows (one per key per input), not
    events."""
    merged = existing.select(*keys, *sum_cols).unionByName(delta.select(*keys, *sum_cols))
    # Pin integral sums to BIGINT (oracle-hash discipline) but leave
    # fractional measures in their own type — a blanket long cast would
    # silently truncate double/decimal sums.
    integral = {
        f.name
        for f in merged.schema.fields
        if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
    }
    return merged.groupBy(*keys).agg(
        *[
            (F.sum(c).cast("long") if c in integral else F.sum(c)).alias(c)
            for c in sum_cols
        ]
    )


def write_snapshot(df: DataFrame, path: str) -> int:
    """Append a new table version: data lands in ``v=N/`` and a commit
    file ``_v{N}.commit`` is written LAST — readers resolve the latest
    version from commit files only, so a crashed half-written snapshot
    (data without commit) is invisible. The raw-directory skeleton of a
    Delta/Iceberg commit protocol; returns the new version number.

    Version numbering is monotonic from the existing commit files; the
    single-writer assumption is the caller's (real table formats add
    the conditional-put/metastore lock this skeleton elides).
    """
    import os

    os.makedirs(path, exist_ok=True)
    version = latest_version(path) + 1
    df.write.mode("overwrite").parquet(os.path.join(path, f"v={version}"))
    with open(os.path.join(path, f"_v{version}.commit"), "w") as fh:
        fh.write(str(df.schema.json()))
    return version


def latest_version(path: str) -> int:
    """Largest committed version (-1 when the table has none)."""
    import os
    import re

    if not os.path.isdir(path):
        return -1
    versions = [
        int(m.group(1))
        for f in os.listdir(path)
        if (m := re.fullmatch(r"_v(\d+)\.commit", f))
    ]
    return max(versions, default=-1)


def read_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Time travel: read the table as of ``version`` (default: latest
    committed). Reads only the requested version's directory — a scan
    of one snapshot, not a log replay."""
    import os

    latest = latest_version(path)
    if latest < 0:
        raise ValueError(f"no committed versions under {path}")
    v = latest if version is None else version
    if v > latest or v < 0:
        raise ValueError(f"version {v} not committed (latest is {latest})")
    if not os.path.exists(os.path.join(path, f"_v{v}.commit")):
        raise ValueError(f"version {v} has no commit file")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """(keys..., change_type) — added / removed / changed rows between
    two table versions (the audit companion to write_snapshot /
    read_snapshot time travel; what `DESCRIBE HISTORY` + CDC gives on a
    real table format).

    Row identity is the key tuple; change detection compares an md5 of
    the ``compare_cols`` tuple (null-safe, unit-separator-joined), so
    the shuffle carries one narrow fingerprint per row instead of the
    full payload — at 100 TB the diff is a join of two key+16-byte
    column sets. Unchanged rows are dropped.
    """
    sep = "\x1f"  # unit separator: cannot occur in the text columns

    def fp(cols: list[str]):
        return F.md5(
            F.concat_ws(
                sep, *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
            )
        )

    o = old.select(*keys, fp(compare_cols).alias("_fp_old"))
    n = new.select(*keys, fp(compare_cols).alias("_fp_new"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )


def zorder_value(x, y, bits: int = 16):
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative integer keys: bit i of ``x`` lands at position 2i, bit
    i of ``y`` at 2i+1. Pure shift/mask arithmetic (identical in Spark
    SQL and ANSI SQL), whole-stage-codegen friendly, no UDF.

    This is the clustering key behind multi-dimension data skipping
    (Delta's OPTIMIZE ZORDER, public docs; Morton 1966): sorting or
    range-chunking by z keeps BOTH dimensions' min/max tight within any
    contiguous chunk, so a predicate on either column prunes chunks.
    """
    terms = []
    for i in range(bits):
        terms.append(F.expr(f"shiftleft(shiftright(CAST({x} AS BIGINT), {i}) & 1, {2 * i})"))
        terms.append(F.expr(f"shiftleft(shiftright(CAST({y} AS BIGINT), {i}) & 1, {2 * i + 1})"))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z.cast("long")


def zorder_chunk_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    chunk_shift: int = 18,
) -> DataFrame:
    """(chunk, n_rows, min_x, max_x, min_y, max_y) — the data-skipping
    statistics a Z-ordered layout yields: rows land in fixed z-value
    ranges (``chunk = z >> chunk_shift``, the file-sized unit), and the
    per-chunk min/max of each source dimension is exactly what a format
    footer stores to prune scans.

    Scale shape: the z-value is map-side arithmetic; the only shuffle is
    the per-chunk partial aggregation (one narrow row per chunk out).
    Chunking by fixed z-range instead of a global row_number keeps the
    layout computation embarrassingly parallel — no single-partition
    sort anywhere, which is the difference between OPTIMIZE running on
    a 100 TB table and not.
    """
    z = zorder_value(x_col, y_col, bits=bits)
    return (
        df.select(
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
            z.alias("z"),
        )
        .groupBy(F.expr(f"shiftright(z, {chunk_shift})").cast("long").alias("chunk"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


def hilbert_value(x_col: str, y_col: str, bits: int = 16):
    """Hilbert-curve index of a 2-D point (the classic xy→d bit walk,
    public domain — Hilbert 1891; the iterative rotate/reflect form is
    the standard public formulation). Better chunk locality than Morton:
    consecutive d values are always grid-adjacent, so per-chunk dim
    spans are tighter (measured in SCALE.md).

    A vectorized numpy walk over Arrow-batched int64 arrays, one pass
    per bit level: written as one ``F.aggregate`` fold, the same walk
    ran in Catalyst's interpreter at ~13× Morton's constant (4.7 s vs
    0.37 s at sf0.1). Map-side, linear, no shuffle — exactly the OPTIMIZE-pass
    constant that matters at 100 TB. A null coordinate yields a null
    index. The SQL oracle replays the identical integer walk
    (:func:`hilbert_oracle_levels`)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _hilbert(xs: pd.Series, ys: pd.Series) -> pd.Series:
        import numpy as np

        # Null x or y → null d. (Nullable input reaches pandas as
        # float64 + NaN; a bare to_numpy(dtype='int64') would raise and
        # kill the task.)
        valid = (xs.notna() & ys.notna()).to_numpy()
        xv = xs.fillna(0).to_numpy(dtype="int64", copy=True)
        yv = ys.fillna(0).to_numpy(dtype="int64", copy=True)
        d = np.zeros(len(xv), dtype="int64")
        for i in range(bits - 1, -1, -1):
            s = np.int64(1) << i
            rx = ((xv & s) > 0).astype("int64")
            ry = ((yv & s) > 0).astype("int64")
            d += s * s * ((3 * rx) ^ ry)
            swap = ry == 0
            flip = swap & (rx == 1)
            nx = np.where(swap, np.where(flip, s - 1 - yv, yv), xv)
            ny = np.where(swap, np.where(flip, s - 1 - xv, xv), yv)
            xv, yv = nx, ny
        out = pd.Series(d, dtype="Int64")
        out[~valid] = pd.NA
        return out

    return _hilbert(F.col(x_col).cast("long"), F.col(y_col).cast("long"))


def hilbert_chunk_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    chunk_shift: int = 18,
) -> DataFrame:
    """Hilbert twin of :func:`zorder_chunk_stats`: same fixed-range
    chunking and per-chunk min/max skipping stats, over the Hilbert
    index (:func:`hilbert_value`) instead of the Morton one. Same scale
    shape: map-side curve arithmetic, one per-chunk partial
    aggregation."""
    h = hilbert_value(x_col, y_col, bits=bits)
    return (
        df.select(
            F.col(x_col).cast("long").alias("x"),
            F.col(y_col).cast("long").alias("y"),
            h.alias("h"),
        )
        .groupBy(F.expr(f"shiftright(h, {chunk_shift})").cast("long").alias("chunk"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


def hilbert_oracle_levels(bits: int = 16) -> str:
    """The 16 generated CTE levels replaying :func:`hilbert_value`'s
    walk (x, y, d columns carried level to level). Caller embeds:
    ``WITH b AS (...x, y...), {levels} SELECT ... FROM s{bits}`` where
    s0 selects ``x, y, CAST(0 AS BIGINT) AS d`` plus carried columns."""
    parts = []
    for k, i in enumerate(range(bits - 1, -1, -1)):
        s = 1 << i
        rx = f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END"
        ry = f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END"
        quad = (
            f"CASE WHEN ({rx}) = 1 AND ({ry}) = 1 THEN 2"
            f" WHEN ({rx}) = 1 THEN 3"
            f" WHEN ({ry}) = 1 THEN 1 ELSE 0 END"
        )
        nx = (
            f"CASE WHEN ({ry}) = 0 THEN"
            f" (CASE WHEN ({rx}) = 1 THEN {s - 1} - y ELSE y END)"
            f" ELSE x END"
        )
        ny = (
            f"CASE WHEN ({ry}) = 0 THEN"
            f" (CASE WHEN ({rx}) = 1 THEN {s - 1} - x ELSE x END)"
            f" ELSE y END"
        )
        parts.append(
            f"s{k + 1} AS (SELECT x0, y0, {nx} AS x, {ny} AS y,"
            f" d + CAST({s} AS BIGINT) * {s} * ({quad}) AS d FROM s{k})"
        )
    return ",\n    ".join(parts)


COMPACTION_TARGET_ROWS = 40_000


def compaction_plan(
    file_inventory: DataFrame,
    target: int = COMPACTION_TARGET_ROWS,
    part_col: str = "part",
    file_col: str = "file_id",
    size_col: str = "size",
) -> DataFrame:
    """Small-files compaction planner — (part, file_id, size, group_idx,
    group_fill): within each partition, files (in file_id order) pack
    into compaction groups by the next-fit rule — a file that would push
    the group past ``target`` closes it; an oversized file sits alone.
    Each group is one OPTIMIZE/rewrite task; this is the planning step
    every table format runs against its file inventory to fix the
    small-files problem (many rewrites → few right-sized files).

    The group index is a sequential recurrence over the partition's
    inventory (no window frame expresses it), so each partition runs as
    a grouped-map pandas UDF — the :func:`pack_bins_nextfit` shape.
    Scale posture: the INVENTORY is what's processed, not the data
    (one row per file — a 100 TB table is ~10^5 rows of metadata), and
    partitions plan in parallel. The DuckDB oracle walks the identical
    recurrence as a recursive CTE.
    """
    import pandas as pd

    base = file_inventory.select(
        F.col(part_col).cast("long").alias("part"),
        F.col(file_col).cast("long").alias("file_id"),
        F.col(size_col).cast("long").alias("size"),
    )

    def plan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("file_id").reset_index(drop=True)
        gi, gf = [], []
        g, fill = 0, 0
        for s in pdf["size"]:
            s = int(s)
            if fill > 0 and fill + s > target:
                g, fill = g + 1, 0
            fill += s
            gi.append(g)
            gf.append(fill)
        return pdf.assign(group_idx=gi, group_fill=gf)

    schema = "part long, file_id long, size long, group_idx long, group_fill long"
    return base.groupBy("part").applyInPandas(plan, schema)


def compaction_oracle_sql(inventory_sql: str, target: int = COMPACTION_TARGET_ROWS) -> str:
    """DuckDB twin of :func:`compaction_plan`; ``inventory_sql`` must
    yield (part, file_id, size). The recursive step carries the same
    ``group_fill > 0`` guard as the Python recurrence, so zero-size
    files mid-stream (a zero running fill) assign identical group
    indices in both engines."""
    return f"""
        WITH RECURSIVE inv AS ({inventory_sql}),
        o AS (
            SELECT part, file_id, size,
                   ROW_NUMBER() OVER (PARTITION BY part ORDER BY file_id) AS rn
            FROM inv
        ),
        walk AS (
            SELECT part, file_id, size, rn,
                   CAST(0 AS BIGINT) AS group_idx, size AS group_fill
            FROM o WHERE rn = 1
            UNION ALL
            SELECT o.part, o.file_id, o.size, o.rn,
                   CASE WHEN w.group_fill > 0 AND w.group_fill + o.size > {target}
                        THEN w.group_idx + 1 ELSE w.group_idx END,
                   CASE WHEN w.group_fill > 0 AND w.group_fill + o.size > {target}
                        THEN o.size ELSE w.group_fill + o.size END
            FROM o JOIN walk w ON o.part = w.part AND o.rn = w.rn + 1
        )
        SELECT part, file_id, size, group_idx, group_fill FROM walk
    """


def vacuum_plan(
    refs: DataFrame,
    retain_from_version: int,
    current_version: int | None = None,
) -> DataFrame:
    """(file_id, part, size, first_version, last_version, status) — the
    VACUUM planning step every table format runs after compaction:
    given the version→file reference ledger (one row per (version,
    file_id) with the file's partition and size), classify every file
    as ``live`` (referenced by the current version), ``retained``
    (dropped from the log, but at/after the retention horizon — still
    needed for time travel), or ``deletable`` (last referenced before
    ``retain_from_version``; physically reclaimable).

    Pure metadata work: one groupBy over the ledger (file count grain,
    never data grain) and, when ``current_version`` is not pinned, a
    1-row max-version aggregate broadcast back — the same plan at ten
    files or ten billion."""
    per_file = refs.groupBy("file_id", "part", "size").agg(
        F.min("version").cast("long").alias("first_version"),
        F.max("version").cast("long").alias("last_version"),
    )
    if current_version is None:
        cur = refs.agg(F.max("version").cast("long").alias("_cur"))
        per_file = per_file.crossJoin(F.broadcast(cur))
    else:
        per_file = per_file.withColumn("_cur", F.lit(int(current_version)).cast("long"))
    status = (
        F.when(F.col("last_version") == F.col("_cur"), "live")
        .when(F.col("last_version") >= retain_from_version, "retained")
        .otherwise("deletable")
    )
    return per_file.select(
        "file_id", "part", "size", "first_version", "last_version", status.alias("status")
    )
