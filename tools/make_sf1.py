"""Build an sf1-scale dataset (10x sf0.1) for the scaling probe.

The driver ships sf0.001/0.01/0.1 only; the SCALE.md 10x table needs one
more decade. This replicates sf0.1 ten times with a uniform 10M id
offset per replica on every key column (all sf0.1 ids are < 10M), so
every FK relationship — orders↔lineitem↔supplier/part/customer,
documents↔embeddings, events↔users — is preserved and the replicas are
disjoint subgraphs: graph/join workloads scale exactly 10x in rows.
Document text gets a per-replica prefix token so replicas are
near-duplicates (same interior shingles, different boundary shingles) —
the 10-crawls-of-the-same-sites shape, which is the honest dedup
workload at scale, not 10 exact copies of every doc.

Output: /tmp/sf1/*.parquet (same layout as the driver's sf dirs, so it
works as any query's sf_dir). Writes nothing outside /tmp.

Usage: python tools/make_sf1.py [replicas] [out_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OFF = 10_000_000

# per-table id columns that take the replica offset
ID_COLS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table, ids in ID_COLS.items():
        src = f"{SRC}/{table}.parquet"
        if not ids:  # dimension tables shared across replicas
            con.execute(f"COPY (SELECT * FROM '{src}') TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)")
            continue
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        sel = []
        for c in cols:
            if c in ids:
                sel.append(f"{c} + r.r * {OFF} AS {c}")
            elif table == "documents" and c == "text":
                sel.append("CASE WHEN r.r = 0 THEN text ELSE 'rep' || r.r || ' ' || text END AS text")
            else:
                sel.append(c)
        q = (
            f"COPY (SELECT {', '.join(sel)} FROM '{src}' "
            f"CROSS JOIN (SELECT unnest(generate_series(0, {replicas - 1})) AS r) r) "
            f"TO '{out_dir}/{table}.parquet' (FORMAT PARQUET)"
        )
        con.execute(q)
        n = con.execute(f"SELECT count(*) FROM '{out_dir}/{table}.parquet'").fetchone()[0]
        print(f"{table}: {n} rows", flush=True)
    con.close()


if __name__ == "__main__":
    main()
