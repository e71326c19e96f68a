"""Iterative graph operators: hierarchy fixpoint (G5) and k-hop BFS (G4).

The reference implements both as driver-side per-row loops — recursive
``getRootFos`` lookups (/root/reference/src/scala/App.scala:21-35;
PySparkles.ipynb cell 15) and a BFS notebook loop over collected frontiers
(StaticNet.scala:303-420). Both are re-expressed here as **driver loops of
DataFrame self-joins** (SURVEY.md §4.1): the driver only controls
iteration count; all data movement stays distributed. ``localCheckpoint``
cuts lineage each round so plans don't grow exponentially.

Known reference bugs NOT reproduced (SURVEY.md §7): ``rootOfFos`` always
reading ``dfFc(0).parent`` (StaticNet.scala:277-284) and the nested
DataFrame-in-map NPE (App.scala:45-52) — hierarchy resolution here is
data-parallel joins, never per-row subqueries.

Scale posture:
  - ``hierarchy_roots`` uses pointer jumping (path doubling): O(log depth)
    rounds instead of O(depth) — 25-deep chains resolve in 5 joins.
  - BFS frontiers dedupe with left-anti joins against the visited set
    (the relational form of U3 ``diff``, StaticNet.scala:325,374);
    per-round state is checkpointed, so lineage stays O(1).
  - Both take max-iteration knobs mirroring the reference's cost caps
    (``depth`` StaticNet.scala:313).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import tiers


def _local_root_closure(pdf):
    """Driver-side root resolution for dimension-sized hierarchies:
    path-compressed walk over a collected (child, anc) mapping.

    The same decision Catalyst makes for broadcast joins — a side known
    to be small is collected rather than shuffled. A fixpoint loop costs
    O(log depth) full Spark jobs of fixed overhead each; for a mapping
    that fits on the driver (MAG fos ≈ 6×10^5 rows, models.scala:16)
    one collect and one Arrow frame back beat any number of rounds.
    """
    parent = dict(zip(pdf["child"], pdf["anc"]))
    root: dict = {}

    def find(x):
        path = []
        while x in parent and x not in root:
            path.append(x)
            x = parent[x]
        r = root.get(x, x)
        for p in path:
            root[p] = r
        return r

    pdf["anc"] = [find(c) for c in pdf["child"]]
    return pdf


def hierarchy_roots(
    parent_child: DataFrame,
    max_iters: int = 20,
    children_unique: bool = False,
) -> DataFrame:
    """G5: resolve every node to its root ancestor by pointer jumping.

    ``parent_child``: (child, parent) edges; a node absent from ``child``
    is a root. Self-parents (the reference's termination edge case,
    App.scala:28-31) are treated as roots and dropped from the output.
    Multi-parent children resolve first-parent-wins (App.scala:27),
    pinned deterministically as min(parent). Returns (child, root) for
    every non-root child.

    Three-tier strategy by exact node count (from the materializing
    count, decided by ``operators/tiers.py``): within the local budget →
    driver-side path-compressed closure (one collect and one Arrow
    frame back, no loop at all — see ``_local_root_closure``); else the
    distributed pointer-jumping loop, where within the broadcast budget every round
    runs as a broadcast-hash join — no shuffle in the loop. Real
    hierarchies are dimension-sized (MAG fos ≈ 6×10^5 nodes,
    models.scala:16), so the broadcast path is the common case; a
    billion-node mapping falls back to shuffle joins automatically.

    ``children_unique=True`` skips the multi-parent min(parent) resolve —
    a full shuffle of the edge set — when the caller guarantees one
    parent per child (e.g. chains built with lag()).
    """
    edges = parent_child.filter(F.col("parent") != F.col("child"))
    if not children_unique:
        edges = edges.groupBy("child").agg(F.min("parent").alias("parent"))
    # m: child → current known ancestor. One localCheckpoint per round:
    # it materializes the state (its job also counts the rows, which
    # picks the tier and answers convergence) AND cuts lineage — the
    # loop references m twice per round, so a persist-only loop doubles
    # the logical plan every round and dies on deep hierarchies before
    # any data is touched. (``tiers.gather``, inlined: the distributed
    # loop reuses its count.)
    m, n = tiers.counted_checkpoint(edges.select("child", F.col("parent").alias("anc")))
    if tiers.solve_locally(n):
        out = tiers.local_frame(m.sparkSession, _local_root_closure(m.toPandas()), m.schema)
        return out.select("child", F.col("anc").alias("root"))
    small = tiers.broadcastable(n)
    for _ in range(max_iters):
        hop = m.select(F.col("child").alias("h_child"), F.col("anc").alias("h_anc"))
        if small:
            hop = F.broadcast(hop)
        m2, hopped = tiers.counted_checkpoint(
            m.join(hop, m["anc"] == hop["h_child"], "left").select(
                "child",
                F.coalesce("h_anc", "anc").alias("anc"),
                F.col("h_anc").isNotNull().alias("_hopped"),
            ),
            F.col("_hopped"),
        )
        m = m2.select("child", "anc")
        if hopped == 0:
            break
    return m.select("child", F.col("anc").alias("root"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected edge table (src, dst)
    carrying both orientations: one row ``(n_triangles)``.

    Canonicalize to a<b, then the standard two-join motif: (a<b) ⋈ (b<c)
    ⋈ (a,c) — each triangle counted exactly once. The closure shape of
    G3, as a whole-graph statistic.

    The canonical edge set feeds THREE join sides; materialize it once
    (no cross-branch CSE — the upstream edge derivation, e.g. the
    coauthor pairing self-join, would otherwise execute three times: a
    plan dump showed the whole subtree triplicated with no
    ReusedExchange because each side re-partitions on a different key).
    """
    canon = (
        edges.filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint()
    )
    e1 = canon.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = canon.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = canon.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """PageRank over a directed edge table (src, dst) — the concept
    behind MAG's own ``rank`` columns (models.scala:6,12: Microsoft's
    static rank per paper/author).

    Fixed-iteration power method as a driver loop of distributed joins
    (dangling mass redistributed uniformly). Returns (node, rank) with
    Σrank = 1. Floating-point sums make exact cross-engine hashes
    unreliable, so this op is fixture-verified (analytic solutions)
    rather than oracle-hashed; at 100 TB each iteration is one shuffle
    on dst plus a broadcast of two scalars.

    Loop-invariant inputs materialize ONCE before the loop (as in
    label_propagation): the edge list hash-partitioned by
    ``src`` (the per-iteration join key) and the outdeg dim derived
    from it — otherwise K iterations re-execute the upstream edge plan
    2K times (once for the join, once for outdeg) and re-shuffle it
    each round.
    """
    edges = edges.repartition("src").localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    # ranks MUST localCheckpoint (not just persist) every iteration: the
    # plan references the previous ranks 2-3x per round, so uncut lineage
    # grows exponentially — 20 rounds OOMs merely *formatting* the plan.
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(out_deg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("recv"))
        )
        # dangling nodes (no outgoing edges) leak their mass; redistribute.
        # The 1-row mass frame joins in as a broadcast cross join instead
        # of a driver collect, folding what was a separate per-iteration
        # job into the same localCheckpoint materialization (halves the
        # loop's job count; nothing crosses the driver boundary).
        dangling = (
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_m"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("_m") / F.lit(float(n))
                    + F.lit(damping) * F.coalesce(F.col("recv"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    nodes.unpersist()
    return ranks


PAGERANK_INT_SCALE = 1_000_000_000  # starting mass per node (10^9)


def _pagerank_int_local(pdf, damping_pct: int, iterations: int):
    """Driver-side integer PageRank for edge tables under the local-solve
    threshold (the bfs/kcore/kmeans_int tier discipline): the collected
    edge table in, the IDENTICAL int64 recurrence in numpy (floor
    divisions on non-negative longs — `//` == Spark `div` there;
    `np.add.at` accumulates in exact int64, never float), (node, rank_i)
    out. A distributed round costs 1-2 fixed-overhead jobs; 10 rounds of
    them on a sub-2M-edge graph is pure scheduling latency (measured:
    web_pagerank 2.6 → 0.9 s at sf0.1)."""
    import numpy as np
    import pandas as pd

    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    node_ids = np.unique(np.concatenate([src, dst]))
    n = int(node_ids.shape[0])
    si = np.searchsorted(node_ids, src)
    di = np.searchsorted(node_ids, dst)
    deg = np.bincount(si, minlength=n).astype(np.int64)
    r = np.full(n, PAGERANK_INT_SCALE, dtype=np.int64)
    base = (100 - int(damping_pct)) * PAGERANK_INT_SCALE // 100
    d = int(damping_pct)
    for _ in range(int(iterations)):
        c = r[si] // deg[si]  # deg[si] >= 1: si indexes only src nodes
        recv = np.zeros(n, dtype=np.int64)
        np.add.at(recv, di, c)
        r = base + (d * recv) // 100
    return pd.DataFrame({"node": node_ids, "rank_i": r})


def pagerank_int(
    edges: DataFrame,
    damping_pct: int = 85,
    iterations: int = 10,
) -> DataFrame:
    """Integer-lattice PageRank: the power iteration defined *as* integer
    arithmetic so the result hashes identically across engines (the
    float `pagerank` cannot — see its docstring).

    The recurrence, exactly as the DuckDB oracle computes it:

        r0(v)   = SCALE
        r{t+1}(v) = (100-d)·SCALE/100
                    + d · Σ_{u→v} floor(r_t(u) / outdeg(u)) / 100   (floor)

    Dangling mass is dropped (not redistributed) — deterministic and
    identical in both engines; rankings are unaffected for DAG-ish
    citation graphs. Unnormalized by design (no N division): relative
    order is what the operator contracts. Bounds: Σ mass ≤ N·SCALE, and
    the d·Σ product stays < 2^63 for N up to ~10^8 per aggregate key;
    beyond that, shard the sum or lower SCALE.

    Same scale shape as `pagerank`: one shuffle per iteration (contribs
    keyed on dst); ranks localCheckpoint every round, so the lineage
    stays one round deep; loop-invariant inputs materialize ONCE before
    the loop — the out-degree is FOLDED INTO the edge table up front
    (8 bytes/row buys back one join per round at every scale), and
    while the node count stays within the broadcast budget (known
    exactly, observed on the node table's checkpoint job) the
    rank table broadcasts into both per-round joins, so the edge table
    is never shuffled inside the loop and the only per-round exchange
    is the contribution groupBy. Above the threshold the loop falls
    back to shuffle joins unchanged. Measured 6.9 → 3.1-3.9 s (median
    wall) on the sf0.1 web graph (10 rounds), hash-identical.

    Three-tier: edge tables within the local budget solve on the
    driver via the exact int64 recurrence (:func:`_pagerank_int_local`).
    """
    pdf, edges = tiers.gather(edges.select("src", "dst"))
    if pdf is not None:
        return tiers.local_frame(
            edges.sparkSession,
            _pagerank_int_local(pdf, damping_pct, iterations),
            f"node {dict(edges.dtypes)['src']}, rank_i bigint",
        )
    ed = edges.repartition("src")
    deg = ed.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = ed.join(deg, "src").localCheckpoint()
    nodes, n_nodes = tiers.counted_checkpoint(
        edges_deg.select(F.col("src").alias("node"))
        .unionByName(edges_deg.select(F.col("dst").alias("node")))
        .distinct()
    )
    small = tiers.broadcastable(n_nodes)
    base = (100 - damping_pct) * PAGERANK_INT_SCALE // 100
    ranks = nodes.withColumn("rank_i", F.lit(PAGERANK_INT_SCALE).cast("long")).localCheckpoint()
    for _ in range(iterations):
        r = F.broadcast(ranks) if small else ranks
        contribs = (
            edges_deg.join(r, edges_deg["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), F.expr("rank_i div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("recv"))
        )
        cb = F.broadcast(contribs) if small else contribs
        ranks = (
            nodes.join(cb, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({damping_pct} * coalesce(recv, 0L)) div 100")
                ).alias("rank_i"),
            )
            .localCheckpoint()
        )
    return ranks


def graphframes_available() -> bool:
    """True iff the optional GraphFrames package (+ its jar) is importable.

    BASELINE.json names GraphX/GraphFrames as the intended graph
    approach; this environment ships neither, so every graph operator
    above is a hand-rolled DataFrame loop. The bridge below lets a
    deployment that does have the jar swap in the library versions.
    """
    try:
        import graphframes  # noqa: F401
        return True
    except ImportError:
        return False


def to_graphframe(vertices: DataFrame, edges: DataFrame):
    """Wrap (vertices(id,...), edges(src,dst,...)) frames as a GraphFrame.

    Raises ImportError when GraphFrames is absent — callers gate on
    :func:`graphframes_available`. The vertex/edge column contract is the
    same one our own operators use (StaticNet.scala:209's Link shape), so
    `to_graphframe(nodes, coauthor_edges).bfs(...)`/`.connectedComponents()`
    are drop-in library equivalents of :func:`bfs` / min-label clustering.
    """
    from graphframes import GraphFrame

    return GraphFrame(vertices, edges)


def _local_bfs(pdf, seeds, max_depth: int):
    """Driver-side BFS for edge tables under the local-solve threshold:
    the collected edge table in, adjacency-list expansion, (author,
    depth) out. A distributed round costs 2 fixed-overhead jobs; a
    50k-row personal-net graph never justifies 2×depth of them."""
    import pandas as pd

    adj: dict = {}
    for s, t in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        adj.setdefault(s, []).append(t)
    depth = dict.fromkeys(seeds, 0)
    frontier = list(depth)
    for d in range(1, max_depth + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in depth:
                    depth[v] = d
                    nxt.append(v)
        if not nxt:
            break
        frontier = nxt
    return pd.DataFrame({"author": list(depth), "depth": list(depth.values())})


def bfs(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 6,
) -> DataFrame:
    """G4: k-hop breadth-first expansion (StaticNet.scala:303-420 rewrite).

    ``edges``: directed (src, dst) — pass both orientations for undirected
    graphs (the engine's coauthor edges already carry both,
    StaticNet.scala:299). ``sources``: 1-column (author) seed set.
    Returns (author, depth) with depth = min #hops (0 for sources).

    Join strategy: personal-net frontiers are tiny relative to the edge
    table (the whole point of BFS truncation, StaticNet.scala:313-314),
    so while the running visited count — known exactly from the per-round
    counts — stays within the broadcast budget, the frontier⋈edges
    probe and the visited anti-join both run broadcast-hash: the edge
    table is never shuffled. A frontier that outgrows the threshold
    (dense-graph explosion) falls back to shuffle joins mid-loop.
    """
    # three-tier, like hierarchy_roots/dedup_clusters: tiny edge tables
    # solve on the driver; either tier reads the one materialization,
    # which every round of the distributed loop references
    pdf, e = tiers.gather(edges.select("src", "dst"))
    if pdf is not None:
        seeds = [r.author for r in sources.select("author").collect()]
        return tiers.local_frame(
            e.sparkSession,
            _local_bfs(pdf, seeds, max_depth),
            f"author {dict(e.dtypes)['src']}, depth bigint",
        )
    visited = sources.select("author").distinct().withColumn("depth", F.lit(0).cast("long"))
    visited = visited.persist()
    n_visited = visited.count()
    frontier = visited.select("author")
    # Each frontier is persisted and counted (one job per depth); the
    # visited set stays a lazy union over the persisted frontiers, so no
    # per-round re-materialization of the whole set is needed.
    for d in range(1, max_depth + 1):
        small = tiers.broadcastable(n_visited)
        probe = F.broadcast(frontier) if small else frontier
        seen = visited.select("author")
        if small:
            seen = F.broadcast(seen)
        nxt = (
            probe.join(e, frontier["author"] == e["src"])
            .select(F.col("dst").alias("author"))
            .distinct()
            .join(seen, "author", "left_anti")
        ).persist()
        n_new = nxt.count()
        if n_new == 0:
            nxt.unpersist()
            break
        n_visited += n_new
        visited = visited.unionByName(nxt.withColumn("depth", F.lit(d).cast("long")))
        frontier = nxt.select("author")
    return visited


def hierarchy_roots_sql(parent_child: DataFrame, children_unique: bool = False) -> DataFrame:
    """G5 as a Spark 4 recursive CTE (SPARK-24497) — the declarative twin
    of :func:`hierarchy_roots`, same output contract.

    Catalyst plans the recursion itself (UnionLoop), so there is no
    driver loop at all; semantics (self-parents are roots, multi-parent
    min-parent-wins) match the operator and are pinned by the
    equivalence test. Kept alongside the loop form: the loop offers the
    three-tier size strategy and an iteration cap, the CTE offers
    single-statement SQL access (e.g. through the SQL frontend).
    """
    spark = parent_child.sparkSession
    edges = parent_child.filter(F.col("parent") != F.col("child"))
    if not children_unique:
        edges = edges.groupBy("child").agg(F.min("parent").alias("parent"))
    # materialize before registering: UnionLoop re-evaluates the view
    # every recursion step, so a lazy edge derivation would be recomputed
    # per round (measured 18s -> ~4s at sf0.01 on the order chain)
    edges = edges.localCheckpoint()
    edges.createOrReplaceTempView("_hr_edges")
    return spark.sql(
        """
        WITH RECURSIVE r(child, anc) AS (
            SELECT child, parent FROM _hr_edges
            UNION ALL
            SELECT r.child, e.parent FROM r JOIN _hr_edges e ON r.anc = e.child
        )
        SELECT child, anc AS root
        FROM r
        WHERE anc NOT IN (SELECT child FROM _hr_edges)
        """
    )


def _local_kcore(pdf, k: int):
    """Driver-side peeling for small edge tables: adjacency dict +
    worklist (each edge processed O(1) times — the textbook linear
    k-core algorithm)."""
    import pandas as pd

    adj: dict = {}
    for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        adj.setdefault(a, set()).add(b)
    deg = {n: len(vs) for n, vs in adj.items()}
    queue = [n for n, d in deg.items() if d < k]
    dead = set()
    while queue:
        n = queue.pop()
        if n in dead:
            continue
        dead.add(n)
        for v in adj.get(n, ()):
            if v in dead:
                continue
            deg[v] -= 1
            if deg[v] < k:
                queue.append(v)
    alive = [n for n in sorted(adj) if n not in dead]
    return pd.DataFrame({"author": alive, "core_degree": [deg[n] for n in alive]})


def kcore(
    edges: DataFrame,
    k: int = 3,
    max_iters: int = 100,
) -> DataFrame:
    """k-core decomposition: the maximal subgraph in which every vertex
    has degree ≥ k → (author, core_degree) for surviving vertices.

    ``edges``: directed (src, dst) with BOTH orientations for undirected
    graphs (the engine's coauthor convention, StaticNet.scala:299);
    degree = count of distinct out-neighbors. The peel is a fixpoint:
    drop vertices with degree < k, recompute, repeat — the standard
    dense-subgraph extractor (collaboration-community mining over the
    coauthor graph; the reference's network notebooks stop at ego nets).

    Three-tier strategy like :func:`bfs` / dedup_clusters: the distinct
    edge table materializes once, and within the local budget it solves
    on the driver with the worklist algorithm (one collect, no loop); at
    scale, a driver loop of distributed rounds — degree groupBy, filter, then two semi-joins restricting the edge table to
    surviving vertices (broadcast-hash while the survivor set is within
    the broadcast budget). Each round ``localCheckpoint``s the
    shrunk edge table: the loop re-references it three times per round,
    so carrying lineage would grow the plan exponentially (the PageRank
    lesson). Rounds are bounded by the peel depth, typically ≪ V; the
    edge table only ever shrinks.
    """
    pdf, e = tiers.gather(edges.select("src", "dst").distinct())
    if pdf is not None:
        return tiers.local_frame(
            e.sparkSession,
            _local_kcore(pdf, k),
            f"author {dict(e.dtypes)['src']}, core_degree bigint",
        )
    n_prev = -1
    prev_keep = None
    for _ in range(max_iters):
        deg = e.groupBy("src").agg(F.count("*").alias("core_degree"))
        keep = deg.filter(F.col("core_degree") >= k).persist()
        n = keep.count()
        if prev_keep is not None:
            prev_keep.unpersist()
        prev_keep = keep
        if n == 0 or n == n_prev:
            # Materialize the result then drop the cache: without this every
            # kcore call leaked a persisted RDD for the session lifetime.
            out = keep.select(F.col("src").alias("author"), "core_degree").localCheckpoint()
            keep.unpersist()
            return out
        n_prev = n
        ks = keep.select("src")
        if tiers.broadcastable(n):
            ks = F.broadcast(ks)
        e = (
            e.join(ks, "src", "left_semi")
            .join(ks.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .localCheckpoint()
        )
    if prev_keep is not None:
        prev_keep.unpersist()
    deg = e.groupBy("src").agg(F.count("*").alias("core_degree"))
    return deg.filter(F.col("core_degree") >= k).select(F.col("src").alias("author"), "core_degree")


def _sssp_local(pdf, rounds: int, source: int | None):
    """Driver-side bounded Bellman-Ford for edge tables under the
    local-solve threshold: the identical relaxation (int64-exact) with
    the identical convergence signature and early exit, the collected
    edge table in, (author, dist) out."""
    import numpy as np
    import pandas as pd

    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    cost = pdf["cost"].to_numpy(dtype=np.int64)
    if source is None:
        source = int(src.min())
    node_ids = np.unique(np.concatenate([src, dst, np.array([source], dtype=np.int64)]))
    n = int(node_ids.shape[0])
    si = np.searchsorted(node_ids, src)
    di = np.searchsorted(node_ids, dst)
    INF = np.iinfo(np.int64).max
    dist = np.full(n, INF, dtype=np.int64)
    dist[np.searchsorted(node_ids, source)] = 0
    prev_sig = None
    for _ in range(int(rounds)):
        reach = dist[si] != INF
        nd = dist.copy()
        if reach.any():
            np.minimum.at(nd, di[reach], dist[si[reach]] + cost[reach])
        dist = nd
        known = dist != INF
        sig = (int(known.sum()), int(dist[known].sum()))
        if sig == prev_sig:
            break
        prev_sig = sig
    known = dist != INF
    return pd.DataFrame({"author": node_ids[known], "dist": dist[known]})


def sssp(
    edges: DataFrame,
    rounds: int = 6,
    source: int | None = None,
) -> DataFrame:
    """Bounded single-source shortest paths (Bellman-Ford): (author,
    dist) — minimum total edge cost over paths of at most ``rounds``
    edges from the source (default: the minimum src id, engine-
    independent). Integer costs, so every distance is engine-exact and
    a bounded recursive CTE states the identical contract for the
    oracle.

    ``edges``: (src, dst, cost) with positive integer costs; pass both
    orientations for undirected graphs.

    Shape per round: one hash join (frontier = the full dist table —
    Bellman-Ford relaxes everything, which is what makes it skew-proof)
    + one min-aggregation keyed by node, lineage cut by localCheckpoint.
    Early exit on convergence is exact: distances are monotonically
    non-increasing and the node set non-decreasing, so an unchanged
    (count, sum) signature means a fixpoint — and extra rounds past the
    fixpoint are no-ops, keeping parity with the fixed-round oracle.
    """
    # three-tier: the per-round signature collect
    # + checkpoint are 2 fixed-overhead jobs; a sub-2M-edge graph solves
    # on the driver with the identical int64 relaxation (empty tables
    # keep the distributed path — its null-source degenerate semantics
    # are not worth replicating)
    pdf, e = tiers.gather(edges.select("src", "dst", F.col("cost").cast("long").alias("cost")))
    if pdf is not None:
        return tiers.local_frame(
            e.sparkSession,
            _sssp_local(pdf, rounds, source),
            f"author {dict(e.dtypes)['src']}, dist bigint",
        )
    if source is None:
        dist = e.agg(F.min("src").alias("author")).withColumn("dist", F.lit(0).cast("long"))
    else:
        spark = edges.sparkSession
        dist = spark.createDataFrame([(source, 0)], "author long, dist long")
    prev_sig = None
    # the dist table starts at 1 row and is counted every round by the
    # convergence signature, so the broadcast decision (the
    # pagerank_int/bfs three-tier discipline: never shuffle the edge
    # table inside the loop while the node-grain frame is bounded)
    # rides the previous round's count for free
    n_dist = 1
    for _ in range(rounds):
        d = dist.alias("d")
        if tiers.broadcastable(n_dist):
            d = F.broadcast(d)
        relaxed = d.join(e.alias("e"), F.col("d.author") == F.col("e.src")).select(
            F.col("e.dst").alias("author"),
            (F.col("d.dist") + F.col("e.cost")).alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("author")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
        sig = tuple(dist.agg(F.count("*"), F.sum("dist")).first())
        n_dist = int(sig[0])
        if sig == prev_sig:
            break
        prev_sig = sig
    return dist


def _label_propagation_local(pdf, rounds: int):
    """Driver-side synchronous LPA for edge tables under the local-solve
    threshold: identical vote/argmax semantics — votes per edge row
    (multi-edges count), label domain fixed to the src-node set, edges
    whose dst carries no label never vote (the inner join's behavior),
    argmax = (max count, then smaller label), non-voted nodes keep their
    label. All integer; the collected edge table in, (node, label) out."""
    import numpy as np
    import pandas as pd

    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    node_ids = np.unique(src)
    n = int(node_ids.shape[0])
    si = np.searchsorted(node_ids, src)
    pos = np.searchsorted(node_ids, dst)
    valid = (pos < n) & (node_ids[np.minimum(pos, n - 1)] == dst)
    si, di = si[valid], pos[valid]
    lab = node_ids.copy()
    for _ in range(int(rounds)):
        if si.shape[0] == 0:
            break
        lv = lab[di]
        order = np.lexsort((lv, si))
        s_s, l_s = si[order], lv[order]
        new_run = np.empty(s_s.shape[0], dtype=bool)
        new_run[0] = True
        new_run[1:] = (s_s[1:] != s_s[:-1]) | (l_s[1:] != l_s[:-1])
        run_idx = np.flatnonzero(new_run)
        run_s, run_l = s_s[run_idx], l_s[run_idx]
        run_c = np.diff(np.append(run_idx, s_s.shape[0]))
        o2 = np.lexsort((run_l, -run_c, run_s))
        rs, rl = run_s[o2], run_l[o2]
        first = np.empty(rs.shape[0], dtype=bool)
        first[0] = True
        first[1:] = rs[1:] != rs[:-1]
        nl = lab.copy()
        nl[rs[first]] = rl[first]
        lab = nl
    return pd.DataFrame({"node": node_ids, "label": lab})


def label_propagation(
    edges: DataFrame,
    rounds: int = 5,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al. 2007,
    "Near linear time algorithm to detect community structures in
    large-scale networks" — public Phys. Rev. E paper) → (node, label).

    ``edges``: directed (src, dst) with BOTH orientations for undirected
    graphs (the coauthor convention). Every node starts labeled with its
    own id; each round every node adopts the label MOST FREQUENT among
    its neighbors' previous-round labels, ties broken by the smaller
    label — the deterministic pin that makes fixed-round LPA a pure
    function of the edge set (classic async LPA is run-order dependent;
    the synchronous fixed-round form is what an engine can contract).

    Scale shape: one shuffle per round — the (node, label) vote count is
    a partial-aggregated groupBy, the argmax is a min-struct aggregate
    ((-count, label) lexicographic), never a window sort; labels
    localCheckpoint per round (the iterative-ops lineage rule). At K
    rounds the cost is K edge-sized shuffles, the same budget as K BFS
    hops.

    The edge list itself materializes ONCE, hash-partitioned by ``dst``
    (the per-round join key), before the loop: without this the lazy
    ``edges`` plan — often an expensive join pipeline like the coauthor
    build — re-executes every round, and each round's join re-shuffles
    it (measured at sf0.1: 8.1 s → 3.0 s unbucketed). At
    100 TB this is the difference between reading the upstream tables
    once or K times.
    """
    # three-tier: K rounds × 2 fixed-overhead
    # distributed jobs on a sub-2M-edge table is pure scheduling latency
    # — solve on the driver with the identical integer vote/argmax
    pdf, edges = tiers.gather(edges.select("src", "dst"))
    if pdf is not None:
        t = dict(edges.dtypes)["src"]
        return tiers.local_frame(
            edges.sparkSession, _label_propagation_local(pdf, rounds), f"node {t}, label {t}"
        )
    edges = edges.repartition("dst").localCheckpoint()
    nodes, n_nodes = tiers.counted_checkpoint(edges.select(F.col("src").alias("node")).distinct())
    # broadcast the node-grain label frame into the per-round joins
    # while the node count (observed on the checkpoint's job) stays
    # bounded — the pagerank_int/bfs three-tier discipline; the edge
    # table is then never shuffled inside the loop
    small = tiers.broadcastable(n_nodes)
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint()
    for _ in range(rounds):
        lb = labels.withColumnRenamed("node", "dst")
        votes = (
            edges.join(F.broadcast(lb) if small else lb, "dst")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count("*").alias("c"))
        )
        best = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))).alias("b"))
            .select("node", F.col("b.l").alias("nlabel"))
        )
        labels = (
            labels.join(F.broadcast(best) if small else best, "node", "left")
            .select("node", F.coalesce("nlabel", "label").alias("label"))
            .localCheckpoint()
        )
    return labels.select("node", "label")


HITS_INT_SCALE = 1_000_000  # post-normalization mass per round (10^6)


def _hits_int_local(pdf, iterations: int, scale: int):
    """Driver-side integer HITS for (already distinct) edge tables under
    the local-solve threshold: the identical normalize/floor recurrence
    in exact int64 (the same model the hypothesis mirror in
    test_properties implements), the collected edge table in, (node,
    hub_i, auth_i) out. Nodes without in-edges (resp. out-edges) get
    authority (resp. hub) 0 — numerically identical to the distributed
    left-join coalesce because (0 · scale) div tot == 0."""
    import numpy as np
    import pandas as pd

    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    node_ids = np.unique(np.concatenate([src, dst]))
    n = int(node_ids.shape[0])
    si = np.searchsorted(node_ids, src)
    di = np.searchsorted(node_ids, dst)
    s = int(scale)
    h = np.full(n, s, dtype=np.int64)
    a = np.zeros(n, dtype=np.int64)
    for _ in range(int(iterations)):
        a_raw = np.zeros(n, dtype=np.int64)
        np.add.at(a_raw, di, h[si])
        tot = max(int(a_raw.sum()), 1)
        a = (a_raw * s) // tot
        h_raw = np.zeros(n, dtype=np.int64)
        np.add.at(h_raw, si, a[di])
        tot = max(int(h_raw.sum()), 1)
        h = (h_raw * s) // tot
    return pd.DataFrame({"node": node_ids, "hub_i": h, "auth_i": a})


def hits_int(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = HITS_INT_SCALE,
) -> DataFrame:
    """(node, hub_i, auth_i) — integer-lattice HITS (Kleinberg 1999,
    "Authoritative Sources in a Hyperlinked Environment"): the
    hubs-and-authorities companion to :func:`pagerank_int`, defined AS
    integer arithmetic so scores hash identically across engines.

    Per round t (the classic mutual recursion, sum-normalized):

        a_t(v) = Σ_{u→v} h_{t-1}(u);   a_t ← (a_t · scale) div Σ a_t
        h_t(u) = Σ_{u→v} a_t(v);       h_t ← (h_t · scale) div Σ h_t

    Floor divisions on non-negative longs (Spark ``div`` == DuckDB
    ``//`` there); the normalizer is ``greatest(Σ, 1)`` so an edgeless
    frame degrades to zeros instead of dividing by zero. Nodes with no
    in-edges (resp. out-edges) carry authority (resp. hub) 0 via the
    final left joins — the fixpoint's own value for them.

    Scale shape: two shuffles per round (contributions keyed on dst,
    then on src) + a 1-row broadcast normalizer each — the same
    loop-invariant/materialize-once/localCheckpoint discipline as
    ``pagerank_int``. Bounds: post-normalization Σ score ≈ scale, so
    the pre-division product stays under 2^63 while E·scale² < 9.2e18
    (E ≤ ~9e6 at scale=1e6); a web-scale deployment lowers ``scale``
    or shards the normalizer sum, exactly the ``pagerank_int``
    caveat. No counterpart in the reference (its graph surface is the
    static coauthor net, StaticNet.scala)."""
    if int(iterations) < 1:
        # a is only bound inside the loop; 0 rounds would crash on the
        # final join with an AttributeError instead of a clear error,
        # and "HITS with no iterations" has no defined fixpoint value.
        raise ValueError("hits_int requires iterations >= 1")
    # three-tier: the 5-round loop runs 3 eager checkpoint jobs per
    # round; a sub-2M-edge graph solves on the driver with the identical
    # int64 recurrence (web_hits 3.4 → 0.9 s at sf0.1)
    pdf, edges = tiers.gather(edges.select("src", "dst").distinct())
    if pdf is not None:
        return tiers.local_frame(
            edges.sparkSession,
            _hits_int_local(pdf, iterations, scale),
            f"node {dict(edges.dtypes)['src']}, hub_i bigint, auth_i bigint",
        )
    edges = edges.repartition("src").localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    # NOTE: per-round F.broadcast of the score
    # frames was tried here (the pagerank_int move) and MEASURED SLOWER
    # (3.25 → 3.95 s at sf0.1, 7-iter median): unlike pagerank's
    # checkpointed ranks, `a` is a derived frame (raw ⋈ 1-row
    # normalizer), so each explicit broadcast adds a serial blocking
    # driver collect that the pipelined shuffle joins don't pay.
    # Shuffle joins kept deliberately.
    h = nodes.select("node", F.lit(int(scale)).cast("long").alias("s"))
    a = None

    def _norm(raw: DataFrame, key: str) -> DataFrame:
        # checkpoint the RAW aggregate, not the normalized frame: the
        # normalizer total and the division both consume it (the
        # lambda-CSE rule, materialization edition), and the checkpoint
        # already cuts the loop's lineage — a separate checkpoint on
        # the normalized `a` was measured 1.75x slower at sf0.01
        # (3.5 s -> 2.0 s, value-identical)
        raw = raw.localCheckpoint()
        tot = raw.agg(
            F.greatest(F.sum("s_raw"), F.lit(1)).cast("long").alias("_tot")
        )
        return raw.crossJoin(F.broadcast(tot)).select(
            F.col(key).alias("node"),
            F.expr(f"(s_raw * {int(scale)}L) div _tot").cast("long").alias("s"),
        )

    for _ in range(int(iterations)):
        a = _norm(
            edges.join(h, edges["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("s").alias("s_raw")),
            "dst",
        )
        h = _norm(
            edges.join(a, edges["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("s").alias("s_raw")),
            "src",
        ).localCheckpoint()
    out = (
        nodes.join(h.withColumnRenamed("s", "_h"), "node", "left")
        .join(a.withColumnRenamed("s", "_a"), "node", "left")
        .select(
            "node",
            F.coalesce("_h", F.lit(0)).cast("long").alias("hub_i"),
            F.coalesce("_a", F.lit(0)).cast("long").alias("auth_i"),
        )
    )
    nodes.unpersist()
    return out


def hits_int_oracle_ctes(
    edges_sql: str, iterations: int = 5, scale: int = HITS_INT_SCALE
) -> str:
    """The unrolled-CTE replay of :func:`hits_int` (the fixed iteration
    count makes recursion unnecessary — the ``text_bpe_vocab`` oracle
    discipline, every CTE MATERIALIZED so the chain is derived once)."""
    ctes = [
        f"ce AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM ce UNION ALL SELECT dst FROM ce))",
        f"h0 AS MATERIALIZED (SELECT v, CAST({int(scale)} AS BIGINT) AS s FROM nodes)",
    ]
    for t in range(1, int(iterations) + 1):
        ctes.append(
            f"a{t}r AS MATERIALIZED (SELECT ce.dst AS v, SUM(h{t-1}.s) AS sr "
            f"FROM ce JOIN h{t-1} ON h{t-1}.v = ce.src GROUP BY 1)"
        )
        ctes.append(
            f"a{t}t AS MATERIALIZED (SELECT GREATEST(SUM(sr), 1) AS tot FROM a{t}r)"
        )
        ctes.append(
            f"a{t} AS MATERIALIZED (SELECT v, CAST(sr * {int(scale)} // tot AS BIGINT) "
            f"AS s FROM a{t}r, a{t}t)"
        )
        ctes.append(
            f"h{t}r AS MATERIALIZED (SELECT ce.src AS v, SUM(a{t}.s) AS sr "
            f"FROM ce JOIN a{t} ON a{t}.v = ce.dst GROUP BY 1)"
        )
        ctes.append(
            f"h{t}t AS MATERIALIZED (SELECT GREATEST(SUM(sr), 1) AS tot FROM h{t}r)"
        )
        ctes.append(
            f"h{t} AS MATERIALIZED (SELECT v, CAST(sr * {int(scale)} // tot AS BIGINT) "
            f"AS s FROM h{t}r, h{t}t)"
        )
    n = int(iterations)
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT nodes.v AS node,
           CAST(COALESCE(h{n}.s, 0) AS BIGINT) AS hub_i,
           CAST(COALESCE(a{n}.s, 0) AS BIGINT) AS auth_i
    FROM nodes LEFT JOIN h{n} ON h{n}.v = nodes.v
    LEFT JOIN a{n} ON a{n}.v = nodes.v"""
    )
