"""Dump .explain("formatted") for a comma-separated list of queries()
names to plans/<query>_<tag>.txt at the repo root (git-ignored).  Usage:

    python tools/dump_plans.py <tag> <name,name,...>

Plan capture is a planning-time operation; queries whose *construction*
runs driver jobs (kmeans seeding, pagerank loop checkpoints) execute
those jobs, so the capture is slower than pure explain but still cheap
next to running them.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod
from iconic_data_science_spark.session import get_spark


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    tag, only_csv = sys.argv[1], sys.argv[2]
    all_queries = entrymod.queries()
    names = only_csv.split(",")
    unknown = [n for n in names if n not in all_queries]
    if unknown:
        sys.exit(f"not in queries(): {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"ids-plan-dump-{tag}")

    if os.environ.get("SPARK_GRAFT_BUCKETED", "1") != "0":
        os.environ["SPARK_GRAFT_BUCKETED"] = "1"
        from iconic_data_science_spark.catalog import Catalog
        from iconic_data_science_spark import magmap

        magmap.prepare_bucketed_tables(Catalog(spark, sf_dir))

    for name in names:
        try:
            df = all_queries[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # capture the failure instead of dying
            text = f"PLAN CAPTURE FAILED: {e!r}\n"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(text)
        print(name, "ok", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
