"""Span tracing and Spark counters for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary:
``install`` wraps the public functions of the engine modules named in
``LAYERS`` (and ``Catalog.table``) so every call records a span with its
name, start, end and parent.  Each span sets its own Spark job group, so
the status store can attribute jobs and stage counters to the innermost
span that launched them.  Spans stay in memory; ``Tracer.dump`` writes
them out once at exit.
"""

from __future__ import annotations

import copy
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

ENGINE = "iconic_data_science_spark"

# layer name -> engine module whose public functions are wrapped
LAYERS = {
    "magmap": f"{ENGINE}.magmap",
    "operators.coauthor": f"{ENGINE}.operators.coauthor",
    "operators.personal_net": f"{ENGINE}.operators.personal_net",
    "operators.profiles": f"{ENGINE}.operators.profiles",
    "operators.indicators": f"{ENGINE}.operators.indicators",
    "operators.graph": f"{ENGINE}.operators.graph",
    "operators.dedup": f"{ENGINE}.operators.dedup",
    "operators.text": f"{ENGINE}.operators.text",
    "operators.bpe": f"{ENGINE}.operators.bpe",
    "operators.similarity": f"{ENGINE}.operators.similarity",
    "streaming.events": f"{ENGINE}.streaming.events",
    "streaming.documents": f"{ENGINE}.streaming.documents",
    "sinks": f"{ENGINE}.sources.sinks",
}
OPERATOR_LAYERS = [k for k in LAYERS if k.startswith("operators.")]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    query: int | None
    start: float
    end: float = 0.0
    group: str = ""
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled`` gates recording so the same
    wrapped functions serve the untraced and traced passes of a run.
    The open-span stack and the current query id are per thread, so
    operations running in parallel threads nest their own spans."""

    sc: object
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    groups: dict[str, Span] = field(default_factory=dict)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @property
    def query(self) -> int | None:
        return getattr(self._local, "query", None)

    @query.setter
    def query(self, value: int | None) -> None:
        self._local.query = value

    @property
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def alias(self, group: str, span: Span) -> None:
        """Attribute jobs of a job group Spark sets itself (a streaming
        query's run id) to ``span``."""
        self.groups[group] = span

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        with self._lock:  # span ids index self.spans across threads
            s = Span(len(self.spans), name, layer, parent.id if parent else None,
                     self.query, time.perf_counter())
            self.spans.append(s)
        s.group = f"perfbench-span-{s.id}"
        self.groups[s.group] = s
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.dur
                self.sc.setJobGroup(parent.group, parent.name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                    "query": s.query, "start": s.start, "end": s.end, "group": s.group,
                }) + "\n")


class _Traced:
    """Callable stand-in for an engine function that records a span per
    call.  Pickles as the original function, so a wrapped function that
    reaches a Python worker arrives there unwrapped."""

    def __init__(self, tracer: Tracer, layer: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn = tracer, layer, fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(f"{self._layer}.{self._fn.__name__}", self._layer):
            return self._fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return copy.copy, (self._fn,)


def install(tracer: Tracer) -> None:
    """Wrap every public function of the ``LAYERS`` modules and
    ``Catalog.table``, and rebind the names other engine modules (and
    ``__spark_entry__``) imported from them."""
    from iconic_data_science_spark.catalog import Catalog

    originals: dict[int, _Traced] = {}
    for layer, modname in LAYERS.items():
        mod = importlib.import_module(modname)
        for name, fn in list(vars(mod).items()):
            if inspect.isfunction(fn) and fn.__module__ == modname and not name.startswith("_"):
                originals[id(fn)] = _Traced(tracer, layer, fn)
                setattr(mod, name, originals[id(fn)])
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname.startswith(ENGINE) or modname == "__spark_entry__"):
            continue
        for name, val in list(vars(mod).items()):
            if id(val) in originals and originals[id(val)]._fn is val:
                setattr(mod, name, originals[id(val)])
    Catalog.table = _Traced(tracer, "catalog", Catalog.table)


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


class StageCounters:
    """Reads finished jobs and their stages from Spark's status store.

    Each read returns only jobs not seen by an earlier read (deltas), so
    a long run needs the store to retain a pass worth of jobs, not the
    whole run.  Uses the 5-argument ``stageList`` (the 1-argument form is
    a Scala default-argument call py4j cannot make)."""

    STAGE_FIELDS = {
        "executor_run_ms": "executorRunTime",
        "executor_cpu_ns": "executorCpuTime",
        "gc_ms": "jvmGcTime",
        "input_bytes": "inputBytes",
        "shuffle_read_bytes": "shuffleReadBytes",
        "shuffle_write_bytes": "shuffleWriteBytes",
        "spill_mem_bytes": "memoryBytesSpilled",
        "spill_disk_bytes": "diskBytesSpilled",
        "tasks": "numTasks",
        "failed_tasks": "numFailedTasks",
    }

    def __init__(self, sc):
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen: set[int] = set()

    def read_new(self) -> list[dict]:
        """[{job, group, stages: [{field: value}]}] for jobs finished
        since the last read."""
        jobs = []
        for j in _seq(self._jvm, self._store.jobsList(None)):
            jid = j.jobId()
            if jid in self._seen or str(j.status()) == "RUNNING":
                continue
            self._seen.add(jid)
            group = j.jobGroup()
            jobs.append({
                "job": jid,
                "group": group.get() if group.isDefined() else "",
                "stage_ids": [int(x) for x in _seq(self._jvm, j.stageIds())],
            })
        if not jobs:
            return jobs
        wanted = {sid for j in jobs for sid in j["stage_ids"]}
        empty = self._jvm.java.util.ArrayList()
        stages = {}
        listed = self._store.stageList(empty, False, False, self._no_quantiles, empty)
        for st in _seq(self._jvm, listed):
            sid = st.stageId()
            if sid in wanted and str(st.status()) != "SKIPPED":
                stages[sid] = {k: int(getattr(st, m)()) for k, m in self.STAGE_FIELDS.items()}
        for j in jobs:
            j["stages"] = [stages[s] for s in j.pop("stage_ids") if s in stages]
        return jobs


def heap_used_peak_mb(jvm) -> float:
    """Sum of the JVM heap pools' peak usage since the last reset."""
    mf = jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def reset_heap_peaks(jvm) -> None:
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        pool.resetPeakUsage()


def storage_block_bytes(sc) -> int:
    """Bytes of RDD blocks (localCheckpoint and cache) the block manager holds."""
    return sum(int(i.memSize()) + int(i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo())


def aggregate(tracer: Tracer, jobs: list[dict], passes: int) -> dict[str, float]:
    """Per-pass layer totals from the traced passes' spans and jobs."""
    by_group = tracer.groups
    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s.query is None:
            continue
        out[f"{s.layer}.self_s"] += s.self_s
        if s.layer == "catalog":
            out["catalog.table_calls"] += 1
            out["catalog.table_s"] += s.dur
        elif s.layer == "entry.construct":
            out["entry.construct_s"] += s.dur
        elif s.layer == "entry.execute":
            out["entry.execute_s"] += s.dur

    def construct_root(s: Span | None) -> bool:
        while s is not None:
            if s.layer == "entry.construct":
                return True
            s = tracer.spans[s.parent] if s.parent is not None else None
        return False

    for j in jobs:
        s = by_group.get(j["group"])
        if s is not None and s.query is not None:
            out[f"{s.layer}.jobs"] += 1
            if construct_root(s):
                out["entry.construct_jobs"] += 1
        out["exec.jobs"] += 1
        for st in j["stages"]:
            out["exec.stages"] += 1
            for k, v in st.items():
                out[f"exec.{k}"] += v
    return {k: v / passes for k, v in out.items()}
