"""Seeded benchmark inputs, derived from the driver's sf0.01 tables.

``perfbench/sf0.01/`` is an unmodified copy of the driver's sf0.01 star
schema (``region nation customer supplier part orders lineitem events
documents embeddings``), kept here so a run reads nothing outside the
benchmark's checkout.  ``derive`` writes one seed's inputs from it, with
the same column names and Arrow types:

- paper keys (``o_orderkey`` = ``l_orderkey``) and customer keys are
  permuted.  Author keys (``s_suppkey`` = ``l_suppkey``) are permuted
  within each id class mod 10, with author 0 fixed: the queries sample
  egos by ``id % 10`` and start BFS at author 0, so the graph and the
  work stay the driver's while bucket contents and partition layout
  move with the seed;
- events keep their rows and order, with user ids permuted;
- documents and embeddings are replicated; each replica after the first
  rewrites one word per document (drawn from the corpus vocabulary) or
  adds small Gaussian noise to each vector, so replicas are near (not
  exact) duplicates, the several-crawls-of-one-site shape;
- events and documents are also split, in ``ts`` / ``doc_id`` order,
  into the stream backlog files.

The same seed and scale give byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")


@dataclass(frozen=True)
class Scale:
    """How one input set is cut from the source tables."""

    fraction: float  # leading share of papers, events, documents and vectors kept
    replicas: int  # copies of documents and embeddings
    stream_files: int  # backlog files per stream


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(SRC, f"{name}.parquet"))


def _set(table: pa.Table, col: str, values) -> pa.Table:
    i = table.schema.get_field_index(col)
    return table.set_column(i, table.schema.field(i), pa.array(values, type=table.schema.field(i).type))


def _remap(table: pa.Table, col: str, perm: np.ndarray) -> pa.Table:
    return _set(table, col, perm[table.column(col).to_numpy()])


def _class_permutation(rng: np.random.Generator, n: int) -> np.ndarray:
    """Permutation of ``0..n-1`` that keeps every id in its class mod 10
    and keeps 0 fixed."""
    perm = np.arange(n)
    for c in range(10):
        ids = np.arange(c, n, 10)[1 if c == 0 else 0:]
        perm[ids] = rng.permutation(ids)
    return perm


def _head(table: pa.Table, fraction: float) -> pa.Table:
    return table.slice(0, max(2, int(table.num_rows * fraction)))


def _mag(rng: np.random.Generator, fraction: float) -> dict[str, pa.Table]:
    orders, lineitem = _read("orders"), _read("lineitem")
    if fraction < 1:
        keep = int(orders.num_rows * fraction)
        orders = orders.filter(pc.less(orders["o_orderkey"], keep))
        lineitem = lineitem.filter(pc.less(lineitem["l_orderkey"], keep))
    customer, supplier = _read("customer"), _read("supplier")
    papers = rng.permutation(_read("orders").num_rows)
    customers = rng.permutation(customer.num_rows)
    authors = _class_permutation(rng, supplier.num_rows)
    orders = _remap(_remap(orders, "o_orderkey", papers), "o_custkey", customers)
    lineitem = _remap(_remap(lineitem, "l_orderkey", papers), "l_suppkey", authors)
    return {
        "customer": _remap(customer, "c_custkey", customers),
        "supplier": _remap(supplier, "s_suppkey", authors),
        "orders": orders,
        "lineitem": lineitem,
    }


def _documents(rng: np.random.Generator, docs: pa.Table, replicas: int, stride: int) -> pa.Table:
    words = [t.split() for t in docs.column("text").to_pylist()]
    vocab = sorted({w for ws in words for w in ws})
    copies = []
    for r in range(replicas):
        texts = []
        for ws in words:
            if r:
                ws = list(ws)
                ws[int(rng.integers(len(ws)))] = vocab[int(rng.integers(len(vocab)))]
            texts.append(" ".join(ws))
        copy = _set(docs, "text", texts)
        copy = _set(copy, "n_chars", [len(t) for t in texts])
        copies.append(_set(copy, "doc_id", docs.column("doc_id").to_numpy() + r * stride))
    return pa.concat_tables(copies)


def _embeddings(rng: np.random.Generator, vecs: pa.Table, replicas: int, stride: int) -> pa.Table:
    col = vecs.column("embedding").combine_chunks()
    base = col.flatten().to_numpy().reshape(vecs.num_rows, -1)
    copies = []
    for r in range(replicas):
        v = base
        if r:
            v = base + rng.normal(0.0, 0.02 / np.sqrt(base.shape[1]), base.shape)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
        offsets = pa.array(np.arange(0, v.size + 1, base.shape[1], dtype="int32"))
        emb = pa.ListArray.from_arrays(offsets, pa.array(v.ravel().astype("float32")))
        copy = vecs.set_column(vecs.schema.get_field_index("embedding"), vecs.schema.field("embedding"), emb)
        copies.append(_set(copy, "vec_id", vecs.column("vec_id").to_numpy() + r * stride))
    return pa.concat_tables(copies)


def derive(seed: int, scale: Scale, out_dir: str) -> dict[str, int]:
    """Write the tables for ``seed`` into ``out_dir/tables`` and the
    stream backlog into ``out_dir/backlog_{events,docs}``.  Returns row
    counts per table."""
    rng = np.random.default_rng(seed)
    tables = {t: _read(t) for t in ("region", "nation", "part")}
    tables.update(_mag(rng, scale.fraction))
    events = _head(_read("events"), scale.fraction)
    users = rng.permutation(int(pc.max(events["user_id"]).as_py()) + 1)
    tables["events"] = _remap(events, "user_id", users)
    # replica id offsets are the full source size, an even number, so a
    # replica keeps each document's doc_id parity (the stream splits on it)
    docs = _read("documents")
    tables["documents"] = _documents(rng, _head(docs, scale.fraction), scale.replicas, docs.num_rows)
    vecs = _read("embeddings")
    tables["embeddings"] = _embeddings(rng, _head(vecs, scale.fraction), scale.replicas, vecs.num_rows)

    os.makedirs(os.path.join(out_dir, "tables"), exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, "tables", f"{name}.parquet"))
    for name, table in (("events", tables["events"].sort_by("ts")),
                        ("docs", tables["documents"].sort_by("doc_id"))):
        backlog = os.path.join(out_dir, f"backlog_{name}")
        os.makedirs(backlog, exist_ok=True)
        bounds = np.linspace(0, table.num_rows, scale.stream_files + 1).astype(int)
        for i in range(scale.stream_files):
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(backlog, f"part-{i:04d}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
