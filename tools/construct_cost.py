"""Construction cost of query builders: wall time, py4j round trips and
Spark jobs spent building each DataFrame, before anything executes.

    python tools/construct_cost.py <name,name,...> [sf_dir]

Each named ``queries()`` builder is constructed twice; the first run
carries class loading and catalog reads, so the figures are the second
run's. Prints one JSON list, costliest construction first, for ranking
the builders whose Column-API expressions are worth rewriting as SQL
text (a Python-lambda higher-order function costs about 91 round trips).
``sf_dir`` defaults to the checked-in ``perfbench/sf0.01`` tables.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from iconic_data_science_spark.session import get_spark  # noqa: E402


def measure(spark, build) -> dict:
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    calls = 0
    send = client.send_command

    def counting(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    group = f"construct-cost-{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    client.send_command = counting
    t0 = time.perf_counter()
    try:
        build()
        wall = time.perf_counter() - t0
    finally:
        del client.send_command
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {"construct_s": round(wall, 4), "py4j_calls": calls, "jobs": jobs}


def main() -> None:
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) == 3 else os.path.join(ROOT, "perfbench", "sf0.01")
    builders = entrymod.queries()
    unknown = [n for n in names if n not in builders]
    if unknown:
        sys.exit(f"not in queries(): {unknown}")
    spark = get_spark(app_name="construct-cost")
    try:
        rows = []
        for name in names:
            builders[name](spark, sf_dir)
            rows.append({"query": name, **measure(spark, lambda: builders[name](spark, sf_dir))})
    finally:
        spark.stop()
    print(json.dumps(sorted(rows, key=lambda r: -r["construct_s"]), indent=1))


if __name__ == "__main__":
    main()
