"""G3 mega-EGO skew probe: plain vs salted pair build.

The mega-PAPER probe (g3_skew_probe.py) covers the fan-out the
weight threshold kills; this one builds the case that SURVIVES into the
edge table: one ego with K alters (each ego-alter pair weight >= 2, no
alter-alter edges, so the closure probe drops every pair and the output
is unchanged). The plain J4 self-join must construct all K(K-1)/2 pairs
of that ego under ONE reducer key; personal_net_salted spreads them
over buckets**2 keys. Times both (median of R runs) on real sf edges +
the synthetic mega-ego.

Usage: python tools/g3_mega_ego_probe.py [K] [buckets] [sf_dir] [runs]
Prints one JSON line.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from iconic_data_science_spark import magmap
from iconic_data_science_spark.catalog import Catalog
from iconic_data_science_spark.operators.coauthor import coauthor_edges
from iconic_data_science_spark.operators.personal_net import (
    personal_net,
    personal_net_salted,
)
from iconic_data_science_spark.session import get_spark


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    runs = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    no_broadcast = len(sys.argv) > 5 and sys.argv[5] == "no_broadcast"
    spark = get_spark(app_name="g3-mega-ego-probe")
    if no_broadcast:
        # Model the AT-SCALE regime: a 100 TB edge table does not fit
        # the broadcast threshold, so the pair build is a shuffled SMJ
        # and the hot ego concentrates on ONE reducer. At sf0.1 the
        # focal table broadcasts (16k rows), which hides the skew —
        # the local box distributes pairs across the probe side's
        # partitions regardless of key. Explicit broadcast() hints
        # (the hot-set semi/anti) still apply.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cat = Catalog(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    real = coauthor_edges(
        magmap.paa(cat), years, min_papers_together=2, max_authors_per_paper=256
    ).select("ego", "alter_id", "first_year")
    mega_ego = 50_000_000  # % 10 == 0 -> inside the ego sample
    mega = spark.range(k).select(
        F.lit(mega_ego).alias("ego"),
        (F.col("id") + 60_000_000).alias("alter_id"),
        F.lit(1995).alias("first_year"),
    )
    # undirected edge table carries both orientations
    mega_rev = mega.select(
        F.col("alter_id").alias("ego"),
        F.col("ego").alias("alter_id"),
        "first_year",
    )
    edges = real.unionByName(mega).unionByName(mega_rev).localCheckpoint()
    egos = edges.select("ego").filter(F.col("ego") % 10 == 0).distinct().localCheckpoint()

    def med(fn):
        ts, rows = [], None
        for _ in range(runs):
            t0 = time.time()
            rows = fn().count()
            ts.append(round(time.time() - t0, 2))
        return statistics.median(ts), ts, rows

    t_plain, ts_p, n_plain = med(lambda: personal_net(edges, egos=egos))
    t_salt, ts_s, n_salt = med(
        lambda: personal_net_salted(edges, egos=egos, buckets=buckets)
    )
    assert n_plain == n_salt, (n_plain, n_salt)
    print(json.dumps({
        "k": k, "buckets": buckets, "sf_dir": sf_dir,
        "no_broadcast": no_broadcast,
        "mega_pairs": k * (k - 1) // 2,
        "plain_median_s": t_plain, "plain_runs": ts_p,
        "salted_median_s": t_salt, "salted_runs": ts_s,
        "rows": n_plain, "speedup": round(t_plain / t_salt, 2) if t_salt else None,
    }))


if __name__ == "__main__":
    main()
