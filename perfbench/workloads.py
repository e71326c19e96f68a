"""The benchmark's workloads.

A workload is a fixed list of operations that one closed-loop client
runs back to back; one run of the list is a *pass*.  Batch operations
build a frame with a ``__spark_entry__.queries()`` builder and write it
through ``sources.sinks.write_parquet``; stream operations drain the
seeded file backlog through a ``streaming.*`` pipeline into an
epoch-keyed parquet sink.  Each operation also knows how to check its
output against an independent reference (``Op.check``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
import pyarrow.parquet as pq

from inputs import Scale

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@dataclass
class Ctx:
    """What one run shares across setup, passes and the gate."""

    spark: object
    data: str  # derived inputs: data/tables, data/backlog_*
    out: str  # sink root; one subdirectory per pass
    tracer: object = None  # spans.Tracer in traced runs
    state: dict = field(default_factory=dict)

    @property
    def tables(self) -> str:
        return os.path.join(self.data, "tables")


@dataclass
class OpResult:
    latency_s: float  # construct + execute (batch) or construct + drain (stream)
    batch_latencies_s: list[float]  # sink writes (batch) or micro-batch triggers (stream)
    input_rows: int  # rows of the tables the query reads (batch) or rows drained (stream)
    out_dir: str
    progress: list[dict] = field(default_factory=list)
    exchanges: int = 0


@dataclass
class Op:
    name: str
    run: Callable[[Ctx, str], OpResult]  # (ctx, out_dir) -> result
    check: Callable[[Ctx, OpResult], str | None]  # None when the output is right
    concurrent: bool = False  # runs alongside the pass's other concurrent ops


def _span(ctx: Ctx, name: str, layer: str):
    from contextlib import nullcontext

    return ctx.tracer.span(name, layer) if ctx.tracer is not None else nullcontext()


# --- output hashing (the oracle procedure: sort columns, sort rows, md5) ---

def frame_digest(pdf: pd.DataFrame) -> tuple[str, int]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest(), len(pdf)


def read_output(path: str) -> pd.DataFrame:
    """All parquet part files under ``path`` (epoch subdirectories
    included) as one frame; the epoch number is kept when present."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    frames = []
    for f in files:
        pdf = pq.read_table(f).to_pandas()
        epoch = [p for p in f.split(os.sep) if p.startswith("epoch=")]
        if epoch:
            pdf["_epoch"] = int(epoch[0].split("=")[1])
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def _compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    g, w = frame_digest(got), frame_digest(want)
    return None if g == w else f"digest/rows {g} != {w}"


# --- batch workloads -----------------------------------------------------

def _query_op(name: str) -> Op:
    def run(ctx: Ctx, out_dir: str) -> OpResult:
        import __spark_entry__ as entry
        from iconic_data_science_spark.sources import sinks

        builder = entry.queries()[name]
        t0 = time.perf_counter()
        with _span(ctx, name, "entry.construct"):
            df = builder(ctx.spark, ctx.tables)
        construct_s = time.perf_counter() - t0
        exchanges = 0
        if ctx.tracer is not None:
            from iconic_data_science_spark.plans.inspect import shuffle_count

            exchanges = shuffle_count(df)
        t1 = time.perf_counter()
        with _span(ctx, name, "entry.execute"):
            sinks.write_parquet(df, out_dir)
        execute_s = time.perf_counter() - t1
        rows = sum(ctx.state["table_rows"][t] for t in QUERY_INPUTS[name])
        return OpResult(construct_s + execute_s, [execute_s], rows, out_dir, exchanges=exchanges)

    def check(ctx: Ctx, res: OpResult) -> str | None:
        import __spark_entry__ as entry

        sql = entry.oracle_sql().get(name)
        if sql is None:
            return "no oracle"
        return _compare(read_output(res.out_dir), ctx.state["duck"].cursor().execute(sql).df())

    return Op(name, run, check)


def _duck(ctx: Ctx):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ctx.tables}/{t}.parquet'")
    return con


@dataclass
class Workload:
    name: str
    scale: Scale
    setup: Callable[[Ctx], None]  # after input derivation, before the warm pass
    ops: Callable[[Ctx], list[Op]]
    streams_only_setup: bool = False  # only the stream ops need what setup builds


# smallest scale, for the self-test: a tenth of the papers, events,
# documents and vectors (about sf0.001)
TINY = Scale(fraction=0.1, replicas=2, stream_files=2)

# each workload's queries, in pass order before the seeded shuffle,
# with the tables each builder reads
_PAPERS = ("lineitem", "orders")
MAG_QUERIES = {
    "g3_personal_net": _PAPERS,
    "profile_conversion": _PAPERS,
    "g7_ego_indicators": _PAPERS + ("supplier", "nation"),
    "g4_bfs": _PAPERS,
}
CURATION_QUERIES = {
    "dedup_minhash_lsh": ("documents",),
    "text_quality_score": ("documents",),
    "text_bpe_encode": ("documents",),
    "ann_lsh_topk": ("embeddings",),
}
QUERY_INPUTS = {**MAG_QUERIES, **CURATION_QUERIES}


def _mag_setup(ctx: Ctx) -> None:
    from iconic_data_science_spark import magmap
    from iconic_data_science_spark.catalog import Catalog

    ctx.state["duck"] = _duck(ctx)
    os.environ["SPARK_GRAFT_BUCKETED"] = "1"
    t = time.perf_counter()
    magmap.prepare_bucketed_tables(Catalog(ctx.spark, ctx.tables))
    ctx.state["bucket_write_s"] = time.perf_counter() - t


# --- stream drains ---------------------------------------------------------

def _backlog(ctx: Ctx, name: str):
    """The backlog as a file stream, one file per micro-batch; the warm
    pass drains only the first file."""
    path = os.path.join(ctx.data, f"backlog_{name}")
    schema = ctx.spark.read.parquet(path).schema
    reader = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if ctx.state.get("warm"):
        reader = reader.option("pathGlobFilter", "part-0000.parquet")
    return reader.parquet(path)


def _event_stream(ctx: Ctx):
    from iconic_data_science_spark.streaming.events import normalize_ts

    return normalize_ts(_backlog(ctx, "events"))


def _write_update_stream(df, out_dir: str, checkpoint: str, name: str):
    """Epoch-keyed parquet sink for update-mode pipelines (the
    ``write_stream_exactly_once`` layout; that helper starts append mode
    only)."""

    def write_batch(batch_df, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return (df.writeStream.foreachBatch(write_batch).outputMode("update")
            .option("checkpointLocation", checkpoint).queryName(name)
            .trigger(availableNow=True).start())


def _pipeline_op(name: str, build: Callable[[Ctx], object], update: bool,
                 check: Callable[[Ctx, OpResult], str | None]) -> Op:
    def run(ctx: Ctx, out_dir: str) -> OpResult:
        from iconic_data_science_spark.streaming.events import write_stream_exactly_once

        ckpt = out_dir + ".checkpoint"
        qname = f"{name}_{os.path.basename(os.path.dirname(out_dir))}"
        t0 = time.perf_counter()
        with _span(ctx, name, "streaming.drain") as span:
            df = build(ctx)
            if update:
                q = _write_update_stream(df, out_dir, ckpt, qname)
            else:
                q = write_stream_exactly_once(df, out_dir, ckpt, query_name=qname)
            if span is not None:
                ctx.tracer.alias(str(q.runId), span)
            q.awaitTermination()
        latency = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = list(q.recentProgress)
        return OpResult(
            latency,
            [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
            sum(p["numInputRows"] for p in progress),
            out_dir,
            progress,
        )

    return Op(name, run, check, concurrent=True)


def _batch_events(ctx: Ctx):
    from iconic_data_science_spark.catalog import Catalog

    return Catalog(ctx.spark, ctx.tables).events


def _check_funnel(ctx: Ctx, res: OpResult) -> str | None:
    from iconic_data_science_spark.operators.events import funnel

    got = read_output(res.out_dir).sort_values("_epoch").groupby("user_id").last()
    for r in funnel(_batch_events(ctx)).collect():
        n = int((got.stage_reached > r.stage_idx).sum())
        if n != r.n_users:
            return f"stage {r.stage_idx}: stream {n} users, batch {r.n_users}"
    return None


def _docs(ctx: Ctx):
    from iconic_data_science_spark.catalog import Catalog

    return Catalog(ctx.spark, ctx.tables).documents


def _check_dedup(ctx: Ctx, res: OpResult) -> str | None:
    from pyspark.sql import functions as F

    from iconic_data_science_spark.operators.dedup import minhash_lsh_incremental

    docs = _docs(ctx)
    want = minhash_lsh_incremental(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1),
        n=3, num_perm=16, rows_per_band=4, threshold=0.5,
    ).toPandas()
    return _compare(read_output(res.out_dir).drop(columns="_epoch"), want)


def _ingest_setup(ctx: Ctx) -> None:
    """Curation inputs, plus the standing MinHash index the document
    stream probes."""
    from pyspark.sql import functions as F

    from iconic_data_science_spark.operators.dedup import minhash_index_build

    os.environ.pop("SPARK_GRAFT_BUCKETED", None)
    ctx.state["duck"] = _duck(ctx)
    corpus = _docs(ctx).filter(F.col("doc_id") % 2 == 0)
    index = minhash_index_build(corpus, n=3, num_perm=16, rows_per_band=4).localCheckpoint()
    index.count()
    ctx.state["index"] = index


def _stream_ops(ctx: Ctx) -> list[Op]:
    from pyspark.sql import functions as F

    from iconic_data_science_spark.streaming import documents as sdoc
    from iconic_data_science_spark.streaming import events as sev

    def dedup(c: Ctx):
        new = _backlog(c, "docs").filter(F.col("doc_id") % 2 == 1)
        return sdoc.stream_dedup_against_index(
            new, index=c.state["index"], n=3, num_perm=16, rows_per_band=4, threshold=0.5)

    return [
        _pipeline_op("funnel_stage_state", lambda c: sev.funnel_stage_state(_event_stream(c)),
                     True, _check_funnel),
        _pipeline_op("stream_dedup_against_index", dedup, False, _check_dedup),
    ]


def _ingest_ops(ctx: Ctx) -> list[Op]:
    return [_query_op(q) for q in CURATION_QUERIES] + _stream_ops(ctx)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "mag_bibliometrics",
            Scale(fraction=2 / 3, replicas=1, stream_files=1),
            _mag_setup,
            lambda ctx: [_query_op(q) for q in MAG_QUERIES],
        ),
        Workload(
            "corpus_ingest",
            Scale(fraction=1.0, replicas=2, stream_files=2),
            _ingest_setup,
            _ingest_ops,
            streams_only_setup=True,
        ),
    )
}
