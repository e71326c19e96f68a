"""Driver-mimic: run every queries() entry against its DuckDB oracle at a
given SF and record per-query wall time + pass/fail.  Usage:

    python tools/parity_timing.py [sf_dir] [out_json] [only_csv]

``only_csv`` (optional) restricts the run to a comma-separated subset of
query names — subset probes MUST write to their own out_json, so a
partial run never overwrites a full-catalog result.

A diagnostic beside the oracle gates in ``tests/test_oracle_parity.py``:
it (a) pre-validates every query against its oracle at the driver's
sf0.01 in one process and (b) measures per-query cost. Its JSON output
is git-ignored.
End-to-end performance is measured by ``python3 perfbench/run.py
--workload ... --seed N --seconds 10 --trace {0,1}``, not here.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from tests.oracle_utils import duck_con, compare_frames


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/parity_timing.json"
    from iconic_data_science_spark.session import get_spark

    # SPARK_GRAFT_HOSTILE=1: run the whole sweep under a deliberately
    # hostile session (local[7], 13 shuffle partitions, non-UTC session
    # TZ — none matching the dev conf) to prove every hash invariant to
    # parallelism, partition count, and timezone: the property the
    # driver's unknown conf actually tests. Pass a separate out_json
    # (e.g. parity_hostile.json) so the two sweeps stay side by side.
    if os.environ.get("SPARK_GRAFT_HOSTILE") == "1":
        spark = get_spark(
            app_name="parity-timing-hostile",
            master="local[7]",
            shuffle_partitions=13,
            extra_conf={"spark.sql.session.timeZone": "America/New_York"},
        )
    else:
        spark = get_spark(app_name="parity-timing")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if len(sys.argv) > 3:
        only = [s for s in sys.argv[3].split(",") if s]
        unknown = [s for s in only if s not in queries]
        assert not unknown, f"unknown queries: {unknown}"
        assert out not in (
            "/root/repo/parity_timing.json",
        ), "subset probes must use their own out file"
        queries = {k: queries[k] for k in only}
    results: dict[str, dict] = {}
    t_all = time.time()
    for i, (name, fn) in enumerate(queries.items()):
        t0 = time.time()
        row: dict = {"pos": i + 1}
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            t_spark = time.time() - t0
            row["spark_sec"] = round(t_spark, 3)
            row["rows"] = len(spark_pdf)
            if name in oracles:
                t1 = time.time()
                con = duck_con(sf_dir)
                try:
                    duck_pdf = con.execute(oracles[name]).fetchdf()
                finally:
                    con.close()
                row["duck_sec"] = round(time.time() - t1, 3)
                problems = compare_frames(spark_pdf, duck_pdf)
                row["ok"] = not problems
                if problems:
                    row["problems"] = problems[:3]
            else:
                row["ok"] = True
                row["no_oracle"] = True
        except Exception as exc:  # noqa: BLE001 - diagnostic tool
            row["ok"] = False
            row["error"] = f"{type(exc).__name__}: {exc}"[:500]
        row["total_sec"] = round(time.time() - t0, 3)
        results[name] = row
        status = "ok" if row.get("ok") else "FAIL"
        print(f"[{i + 1}/{len(queries)}] {name}: {status} {row['total_sec']}s", flush=True)
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
    total = round(time.time() - t_all, 1)
    fails = [n for n, r in results.items() if not r.get("ok")]
    print(f"TOTAL {total}s  fails={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
