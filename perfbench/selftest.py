"""Self-test of the benchmark at the smallest input scale.

    python3 perfbench/selftest.py

Checks that the same seed derives byte-identical inputs and another
seed other inputs, and, for every workload in ``BENCHMARK.json``:
  - an untraced run with each of two seeds passes its correctness gate and
    emits exactly the ``end_to_end`` metrics, each with its unit and a
    non-zero value;
  - a traced run emits exactly the ``per_layer`` metrics with their units.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.dont_write_bytecode = True

from inputs import derive  # noqa: E402
from workloads import TINY  # noqa: E402


def input_digest(seed: int, scratch: str) -> str:
    out = os.path.join(scratch, f"inputs-{seed}")
    derive(seed, TINY, out)
    h = hashlib.md5()
    for d, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    shutil.rmtree(out)
    return h.hexdigest()


def bench(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "10", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, specs: list[dict], nonzero: bool, what: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in specs}
    if set(got) != set(want):
        raise AssertionError(f"{what}: metrics differ: missing {sorted(set(want) - set(got))}, "
                             f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        if got[name]["unit"] != unit:
            raise AssertionError(f"{what}: {name} unit {got[name]['unit']!r} != {unit!r}")
        if nonzero and not got[name]["value"] > 0:
            raise AssertionError(f"{what}: {name} = {got[name]['value']}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        raise AssertionError(f"{what}: correct={result['correct']} failed={result['failed']}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    scratch = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    try:
        a, a2, b = (input_digest(seed, scratch) for seed in (1, 1, 2))
        if a != a2 or a == b:
            raise AssertionError(f"inputs: seed 1 twice equal {a == a2}, seeds 1 and 2 equal {a == b}")
        for w in (w["name"] for w in spec["workloads"]):
            for seed in (1, 2):
                expect_metrics(bench(w, seed, 0), spec["end_to_end"], True, f"{w} seed {seed}")
            expect_metrics(bench(w, 1, 1), spec["per_layer"], False, f"{w} traced")
            print(f"selftest {w}: ok", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # a benchmark run still has its directory there
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
