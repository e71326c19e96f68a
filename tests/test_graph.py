"""Fixture tests for the iterative graph operators (G4/G5) and GEXF (G8)."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from iconic_data_science_spark import fixtures
from iconic_data_science_spark.operators.coauthor import coauthor_edges
from iconic_data_science_spark.operators import dedup, graph, tiers
from iconic_data_science_spark.operators.graph import bfs, hierarchy_roots
from iconic_data_science_spark.sources import gexf

from pyspark.sql import functions as F


def test_hierarchy_roots_fixture(spark):
    """FIXTURES.md §4 cases: chains, self-parent termination, multi-parent
    first-parent-wins."""
    fc = spark.createDataFrame(
        [(100, 10), (10, 1), (200, 20), (20, 2), (3, 3),
         (300, 30), (300, 31), (30, 3), (31, 2)],
        "child long, parent long",
    )
    roots = {r.child: r.root for r in hierarchy_roots(fc).collect()}
    assert roots[100] == 1 and roots[10] == 1
    assert roots[200] == 2 and roots[20] == 2
    # self-parent (3,3) → 3 is a root, dropped from output
    assert 3 not in roots
    # multi-parent 300: first-parent-wins (min) → 30 → 3
    assert roots[300] == 3
    assert roots[30] == 3 and roots[31] == 2


def test_hierarchy_roots_deep_chain(spark):
    """Pointer jumping must resolve chains deeper than one doubling round."""
    n = 40
    fc = spark.createDataFrame([(i, i - 1) for i in range(1, n)], "child long, parent long")
    roots = {r.child: r.root for r in hierarchy_roots(fc).collect()}
    assert all(roots[i] == 0 for i in range(1, n))


@pytest.mark.usefixtures("arrow_strict")
def test_hierarchy_roots_local_equals_distributed(spark, monkeypatch):
    """The driver-side closure fast path and the pointer-jumping loop
    must produce identical mappings (tiers.LOCAL_ROWS=0 forces the
    distributed loop)."""
    fc = spark.createDataFrame(
        [(100, 10), (10, 1), (200, 20), (20, 2), (3, 3),
         (300, 30), (300, 31), (30, 3), (31, 2)]
        + [(1000 + i, 1000 + i - 1) for i in range(1, 30)],
        "child long, parent long",
    )
    local = {(r.child, r.root) for r in hierarchy_roots(fc).collect()}
    monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)
    dist = {(r.child, r.root) for r in hierarchy_roots(fc).collect()}
    assert local == dist


def test_bfs_fixture(spark):
    edges = (
        coauthor_edges(fixtures.paa_df(spark), fixtures.paper_years_df(spark))
        .select(F.col("ego").alias("src"), F.col("alter_id").alias("dst"))
    )
    sources = spark.createDataFrame([(1,)], "author long")
    got = {r.author: r.depth for r in bfs(edges, sources, max_depth=6).collect()}
    # component of 1: 1-{2,3} direct; 4,5 via 2; 6,7 unreachable
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 2}


def test_triangle_count_fixture(spark):
    from iconic_data_science_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} plus pendant 5: C(4,3)=4 triangles
    und = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b] + [(4, 5), (5, 4)]
    edges = spark.createDataFrame(und, "src long, dst long")
    assert triangle_count(edges).collect()[0].n_triangles == 4


def test_pagerank_analytic_fixtures(spark):
    from iconic_data_science_spark.operators.graph import pagerank

    # symmetric 2-cycle: ranks must be exactly 0.5/0.5 at any damping
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    r = {x.node: x.rank for x in pagerank(cyc, iterations=5).collect()}
    assert abs(r[1] - 0.5) < 1e-12 and abs(r[2] - 0.5) < 1e-12

    # star 2,3,4 -> 1 (1 is dangling): rank(1) > rank(leaf); Σ = 1.
    # 8 iterations: the asserted properties hold from iteration 2 on;
    # each iteration is a full checkpointed job, so 20 was pure test time
    star = spark.createDataFrame([(2, 1), (3, 1), (4, 1)], "src long, dst long")
    rs = {x.node: x.rank for x in pagerank(star, iterations=8).collect()}
    assert abs(sum(rs.values()) - 1.0) < 1e-9
    assert rs[1] > rs[2] and abs(rs[2] - rs[3]) < 1e-12 and abs(rs[3] - rs[4]) < 1e-12


def test_pagerank_int_agrees_with_float_ranking(spark):
    """The integer-lattice twin must (a) satisfy the same analytic
    fixtures up to the lattice and (b) order nodes identically to the
    float power iteration on a small asymmetric graph."""
    from iconic_data_science_spark.operators.graph import (
        PAGERANK_INT_SCALE,
        pagerank,
        pagerank_int,
    )

    # symmetric 2-cycle: equal ranks, full mass preserved (no dangling)
    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    ri = {x.node: x.rank_i for x in pagerank_int(cyc, iterations=5).collect()}
    assert ri[1] == ri[2]
    assert abs(ri[1] - PAGERANK_INT_SCALE) <= 10  # floor-div loss only

    # asymmetric graph: ranking identical to the float variant
    edges = [(2, 1), (3, 1), (4, 1), (4, 2), (1, 5), (5, 2), (3, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rf = {x.node: x.rank for x in pagerank(df, iterations=10).collect()}
    rint = {x.node: x.rank_i for x in pagerank_int(df, iterations=10).collect()}
    # nodes 3 and 4 have no in-edges, so their ranks tie exactly in both
    # variants; order by (rank, node) so the tie never depends on the
    # collect() row order
    assert rint[3] == rint[4]
    assert rf[3] == pytest.approx(rf[4])
    assert sorted(rf, key=lambda n: (rf[n], n)) == sorted(rint, key=lambda n: (rint[n], n))


def test_d3_json_export(spark):
    import json

    edges = coauthor_edges(fixtures.paa_df(spark), fixtures.paper_years_df(spark))
    und = edges.filter(F.col("ego") < F.col("alter_id")).select(
        F.col("ego").alias("src"), F.col("alter_id").alias("dst"),
        F.col("papers_together").alias("weight"),
    )
    nodes = edges.select(F.col("ego").alias("id")).distinct()
    doc = json.loads(gexf.to_d3_json(nodes, und).collect()[0].d3)
    assert {n["id"] for n in doc["nodes"]} == {1, 2, 3, 4, 5, 6, 7}
    assert {"source": 1, "target": 2, "value": 3} in doc["links"]


def test_gexf_deterministic(spark):
    edges = coauthor_edges(fixtures.paa_df(spark), fixtures.paper_years_df(spark))
    und = edges.filter(F.col("ego") < F.col("alter_id"))
    nodes = edges.select(F.col("ego").alias("id")).distinct()
    doc = gexf.to_gexf(
        gexf.node_fragments(nodes),
        gexf.edge_fragments(und, "ego", "alter_id", "papers_together"),
    )
    s1 = doc.collect()[0].gexf
    s2 = doc.collect()[0].gexf
    assert s1 == s2
    assert s1.startswith('<?xml version="1.0"')
    assert '<node id="1" label="1" />' in s1
    assert '<edge source="1" target="2" weight="3" />' in s1
    assert s1.rstrip().endswith("</gexf>")


def test_graphframes_bridge_gated(spark):
    """The optional GraphFrames bridge: parity when installed, clean
    ImportError contract when not (this container has no jar)."""
    from iconic_data_science_spark.operators.graph import (
        graphframes_available,
        to_graphframe,
    )

    vertices = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    if not graphframes_available():
        import pytest

        with pytest.raises(ImportError):
            to_graphframe(vertices, edges)
        return
    g = to_graphframe(vertices, edges)
    assert g.edges.count() == 1


def test_hierarchy_roots_sql_equals_operator(spark):
    """The Spark 4 recursive-CTE formulation must match the loop
    operator on the fixture (chains, self-parent, multi-parent)."""
    from iconic_data_science_spark.operators.graph import hierarchy_roots_sql

    fc = spark.createDataFrame(
        [(100, 10), (10, 1), (200, 20), (20, 2), (3, 3),
         (300, 30), (300, 31), (30, 3), (31, 2)],
        "child long, parent long",
    )
    loop = {(r.child, r.root) for r in hierarchy_roots(fc).collect()}
    sql = {(r.child, r.root) for r in hierarchy_roots_sql(fc).collect()}
    assert loop == sql


@pytest.mark.usefixtures("arrow_strict")
def test_bfs_local_equals_distributed(spark, monkeypatch):
    edges = (
        coauthor_edges(fixtures.paa_df(spark), fixtures.paper_years_df(spark))
        .select(F.col("ego").alias("src"), F.col("alter_id").alias("dst"))
    )
    sources = spark.createDataFrame([(1,)], "author long")
    local = {(r.author, r.depth) for r in bfs(edges, sources, max_depth=6).collect()}
    monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)
    dist = {(r.author, r.depth) for r in bfs(edges, sources, max_depth=6).collect()}
    assert local == dist


@pytest.mark.usefixtures("arrow_strict")
def test_kcore_fixture_and_tier_equivalence(spark, monkeypatch):
    from iconic_data_science_spark.operators.graph import kcore

    # two triangles bridged by one edge, plus a pendant: both triangles
    # are the 2-core; nothing is a 3-core
    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (6, 7)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], "src long, dst long"
    )
    local = sorted(tuple(r) for r in kcore(edges, k=2).collect())
    with monkeypatch.context() as m:
        m.setattr(tiers, "LOCAL_ROWS", 0)
        dist = sorted(tuple(r) for r in kcore(edges, k=2).collect())
    assert local == dist
    assert [a for a, _ in local] == [1, 2, 3, 4, 5, 6]  # pendant 7 peeled
    # node 4 keeps the bridge to surviving node 3 (degree 3); node 6
    # loses only the pendant (degree 2)
    assert dict(local)[4] == 3 and dict(local)[6] == 2
    assert kcore(edges, k=3).count() == 0
    # peeling cascade: a chain is entirely 1-core, empty at k=2
    chain = [(i, i + 1) for i in range(10, 15)]
    cedges = spark.createDataFrame(
        [(a, b) for a, b in chain] + [(b, a) for a, b in chain], "src long, dst long"
    )
    assert kcore(cedges, k=2).count() == 0
    monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)
    assert kcore(cedges, k=2).count() == 0


@pytest.mark.usefixtures("arrow_strict")
def test_kcore_on_testdata_tiers_agree(spark, sf_dir, monkeypatch):
    import __spark_entry__ as entrymod
    from iconic_data_science_spark.operators.graph import kcore
    from iconic_data_science_spark import magmap
    from iconic_data_science_spark.catalog import Catalog
    from iconic_data_science_spark.operators.coauthor import coauthor_edges
    from pyspark.sql import functions as F

    cat = Catalog(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    edges = (
        coauthor_edges(magmap.paa(cat), years, min_papers_together=2)
        .select(F.col("ego").alias("src"), F.col("alter_id").alias("dst"))
        .localCheckpoint()
    )
    local = sorted(tuple(r) for r in kcore(edges, k=3).collect())
    monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)
    dist = sorted(tuple(r) for r in kcore(edges, k=3).collect())
    assert local == dist and len(local) > 0


def test_author_disambiguation_blocking_and_verify(spark):
    from iconic_data_science_spark.operators.disambiguation import (
        blocking_key, candidate_author_pairs, normalize_name)
    import pyspark.sql.functions as F

    authors = spark.createDataFrame([
        (1, "Alice Smith"),
        (2, "A. Smith"),          # same block (smith|a), high similarity
        (3, "alice   SMITH "),    # normalizes identically to 1
        (4, "Bob Smith"),         # block smith|b -> never paired with 1/2/3
        (5, "Alina Smithson"),    # different last token -> different block
    ], "author bigint, name string")
    pairs = {(r.id1, r.id2): r for r in candidate_author_pairs(authors).collect()}
    assert (1, 3) in pairs and pairs[(1, 3)].edit_distance == 0
    assert pairs[(1, 3)].token_jaccard == 1.0
    assert (1, 2) in pairs and (2, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)
    # normalization fixture
    row = authors.filter("author = 3").select(normalize_name("name").alias("n")).first()
    assert row.n == "alice smith"
    bk = authors.select(blocking_key(normalize_name("name")).alias("b")).collect()
    assert {r.b for r in bk} == {"smith|a", "smith|b", "smithson|a"}


def test_author_disambiguation_block_cap(spark):
    from iconic_data_science_spark.operators.disambiguation import candidate_author_pairs

    # 50 'J Lee' clones: one degenerate block; cap drops it entirely
    authors = spark.createDataFrame(
        [(i, "J Lee") for i in range(50)] + [(100, "Ann Ray"), (101, "A Ray")],
        "author bigint, name string",
    )
    out = candidate_author_pairs(authors, max_block_size=10).collect()
    assert {(r.id1, r.id2) for r in out} == {(100, 101)}
    # without the cap the clone block floods the output
    assert candidate_author_pairs(authors, max_block_size=None).count() == 50 * 49 // 2 + 1


@pytest.mark.usefixtures("arrow_strict")
def test_kcore_empty_and_single_edge(spark, monkeypatch):
    from iconic_data_science_spark.operators.graph import kcore

    empty = spark.createDataFrame([], "src long, dst long")
    assert kcore(empty, k=2).count() == 0
    one = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    assert {tuple(r) for r in kcore(one, k=1).collect()} == {(1, 1), (2, 1)}
    assert kcore(one, k=2).count() == 0
    monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)
    assert {tuple(r) for r in kcore(one, k=1).collect()} == {(1, 1), (2, 1)}


def test_pagerank_int_matches_local_integer_recurrence(spark):
    """pagerank_int's distributed plan must reproduce the exact integer
    recurrence (floor divisions, dangling mass dropped) computed locally
    — same contract the DuckDB oracle implements."""
    from iconic_data_science_spark.operators.graph import PAGERANK_INT_SCALE, pagerank_int

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (4, 3), (5, 4), (2, 6)]
    iters, d = 4, 85

    nodes = sorted({v for e in edges for v in e})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (100 - d) * PAGERANK_INT_SCALE // 100
    r = {v: PAGERANK_INT_SCALE for v in nodes}
    for _ in range(iters):
        recv = {v: 0 for v in nodes}
        for s, t in edges:
            recv[t] += r[s] // outdeg[s]
        r = {v: base + (d * recv[v]) // 100 for v in nodes}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {x.node: x.rank_i for x in pagerank_int(df, damping_pct=d, iterations=iters).collect()}
    assert got == r


def test_sssp_matches_dijkstra_model(spark):
    """Bounded Bellman-Ford == networkless Dijkstra on a fixture whose
    diameter fits inside the round budget."""
    import heapq

    from iconic_data_science_spark.operators.graph import sssp

    raw = [
        (1, 2, 4), (2, 1, 4), (1, 3, 1), (3, 1, 1), (3, 2, 1), (2, 3, 1),
        (2, 4, 5), (4, 2, 5), (3, 4, 8), (4, 3, 8), (4, 5, 1), (5, 4, 1),
        (6, 7, 2), (7, 6, 2),  # disconnected component: unreachable
    ]
    edges = spark.createDataFrame(raw, "src long, dst long, cost long")
    got = {r.author: r.dist for r in sssp(edges, rounds=6, source=1).collect()}
    # reference Dijkstra
    adj: dict[int, list] = {}
    for s, d, c in raw:
        adj.setdefault(s, []).append((d, c))
    dist = {1: 0}
    pq = [(0, 1)]
    while pq:
        dcur, u = heapq.heappop(pq)
        if dcur > dist.get(u, 1 << 60):
            continue
        for v, c in adj.get(u, []):
            nd = dcur + c
            if nd < dist.get(v, 1 << 60):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    assert got == dist  # unreachable nodes absent in both
    assert 6 not in got and 7 not in got


def test_sssp_round_bound_is_path_length_cap(spark):
    from iconic_data_science_spark.operators.graph import sssp

    # chain 1-2-3-4 (cost 1 each): with rounds=2 node 4 is unreachable
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 4, 1)], "src long, dst long, cost long"
    )
    got = {r.author: r.dist for r in sssp(edges, rounds=2, source=1).collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def test_label_propagation_separates_cliques(spark):
    """Two 4-cliques joined by one bridge edge: LPA must converge to one
    label per clique (min member id), not merge across the bridge."""
    from iconic_data_science_spark.operators.graph import label_propagation

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    edges = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10), (10, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.label for r in label_propagation(df, rounds=5).collect()}
    assert {out[i] for i in (0, 1, 2)} == {0}
    assert {out[i] for i in (11, 12, 13)} == {10}
    # the bridge endpoints belong to their own cliques
    assert out[3] == 0 and out[10] == 10


def test_label_propagation_deterministic(spark):
    from iconic_data_science_spark.operators.graph import label_propagation

    edges = [(a, b) for a in range(6) for b in range(6) if a != b and (a + b) % 3]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, label_propagation(df, rounds=4).collect()))
    b = sorted(map(tuple, label_propagation(df, rounds=4).collect()))
    assert a == b


def test_hits_int_hand_structure(spark):
    """Kleinberg fixture: hubs 1-3 each cite both authorities, hub 4
    cites only the stronger one. Expected fixpoint shape: auth(10) >
    auth(11) (more in-links from equal hubs), hub(1)=hub(2)=hub(3) >
    hub(4) (covering both authorities beats covering one), pure hubs
    carry authority 0 and pure authorities carry hub 0, and scores are
    deterministic longs (same run twice -> identical)."""
    from iconic_data_science_spark.operators.graph import hits_int

    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 11), (4, 10)],
        "src long, dst long",
    )
    out = {r.node: (r.hub_i, r.auth_i) for r in hits_int(edges, iterations=5).collect()}
    assert set(out) == {1, 2, 3, 4, 10, 11}
    assert out[1] == out[2] == out[3]
    assert out[1][0] > out[4][0] > 0
    assert out[10][1] > out[11][1] > 0
    for pure_hub in (1, 2, 3, 4):
        assert out[pure_hub][1] == 0
    for pure_auth in (10, 11):
        assert out[pure_auth][0] == 0
    again = {
        r.node: (r.hub_i, r.auth_i) for r in hits_int(edges, iterations=5).collect()
    }
    assert again == out


def test_hits_int_zero_iterations_rejected(spark):
    """iterations=0 has no defined fixpoint value (a is only bound in
    the loop); must raise a clear ValueError, not an AttributeError at
    the final join."""
    import pytest

    from iconic_data_science_spark.operators.graph import hits_int

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iterations"):
        hits_int(edges, iterations=0)


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=25,
    )
)
def test_hits_int_matches_python_model(spark, edges):
    """Integer HITS over arbitrary small graphs equals the sequential
    python recurrence (dedup, mutual updates, greatest(Σ,1) normalizer,
    floor div, absent-side zeros) — the second witness behind
    web_hits's unrolled-CTE oracle."""
    from iconic_data_science_spark.operators.graph import (
        HITS_INT_SCALE,
        hits_int,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: (r.hub_i, r.auth_i)
        for r in hits_int(df, iterations=3).collect()
    }
    es = sorted(set(edges))
    nodes = {u for u, _ in es} | {v for _, v in es}
    scale = HITS_INT_SCALE
    h = {n: scale for n in nodes}
    a: dict = {}
    for _ in range(3):
        ra: dict = {}
        for u, v in es:
            ra[v] = ra.get(v, 0) + h.get(u, 0)
        tot = max(sum(ra.values()), 1)
        a = {v: (s * scale) // tot for v, s in ra.items()}
        rh: dict = {}
        for u, v in es:
            rh[u] = rh.get(u, 0) + a.get(v, 0)
        tot = max(sum(rh.values()), 1)
        h = {u: (s * scale) // tot for u, s in rh.items()}
    want = {n: (h.get(n, 0), a.get(n, 0)) for n in nodes}
    assert got == want


@pytest.mark.usefixtures("arrow_strict")
def test_local_tier_matches_distributed_loops(spark, monkeypatch):
    """The driver-local tiers (pagerank_int / hits_int /
    label_propagation / sssp) must be row-identical to the distributed
    loops (tiers.LOCAL_ROWS=0) on a fixture with multi-edges, a
    dangling node, asymmetric direction, and an unreachable component —
    the exact-integer contract both tiers implement."""
    from iconic_data_science_spark.operators.graph import (
        hits_int,
        label_propagation,
        pagerank_int,
        sssp,
    )

    edges = [
        (1, 2), (1, 2),  # multi-edge (counts twice for pagerank/LPA votes)
        (1, 3), (2, 3), (3, 1), (4, 1), (4, 3), (5, 4), (2, 6),
        (7, 8),  # component reachable only via 7
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    cdf = spark.createDataFrame(
        [(s, d, (s + d) % 3 + 1) for s, d in edges], "src long, dst long, cost long"
    )
    runs = [
        (pagerank_int.__name__, lambda: pagerank_int(df, damping_pct=85, iterations=4)),
        (hits_int.__name__, lambda: hits_int(df, iterations=3)),
        (label_propagation.__name__, lambda: label_propagation(df, rounds=4)),
    ] + [
        (f"sssp source={s}", lambda s=s: sssp(cdf, rounds=5, source=s))
        for s in (1, 7, None)
    ]

    local = [sorted(map(tuple, run().collect())) for _, run in runs]
    monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)
    for (name, run), want in zip(runs, local):
        assert sorted(map(tuple, run().collect())) == want, name


def test_iterative_loops_empty_edges_route_distributed(spark, monkeypatch):
    """An EMPTY input must route to the distributed path in every tiered
    operator: ``tiers.solve_locally(0)`` is False (some local tiers'
    schema-less createDataFrame cannot represent an empty frame — found
    by the graph fuzz gate: a fuzzed year filter left pagerank_int zero
    edges and the local tier raised CANNOT_INFER_EMPTY_SCHEMA). The
    local solvers are replaced by a tripwire, so routing, not just the
    result, is pinned."""
    from iconic_data_science_spark.operators import bpe, dedup, graph

    def tripwire(*args, **kwargs):
        raise AssertionError("empty input took the driver-local tier")

    for mod, name in (
        (graph, "_local_root_closure"),
        (graph, "_pagerank_int_local"),
        (graph, "_local_bfs"),
        (graph, "_local_kcore"),
        (graph, "_sssp_local"),
        (graph, "_label_propagation_local"),
        (graph, "_hits_int_local"),
        (dedup, "_union_find_rows"),
        (bpe, "_train_local"),
    ):
        monkeypatch.setattr(mod, name, tripwire)

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert graph.pagerank_int(empty, damping_pct=85, iterations=3).collect() == []
    assert graph.hits_int(empty, iterations=2).collect() == []
    assert graph.label_propagation(empty, rounds=2).collect() == []
    assert graph.kcore(empty, k=2).collect() == []
    sources = spark.createDataFrame([(1,)], "author bigint")
    # the source itself is reachable at depth/distance 0 even with no edges
    assert [tuple(r) for r in graph.bfs(empty, sources, max_depth=2).collect()] == [(1, 0)]
    empty_costed = spark.createDataFrame([], "src bigint, dst bigint, cost bigint")
    assert [tuple(r) for r in graph.sssp(empty_costed, rounds=2, source=1).collect()] == [(1, 0)]
    empty_fc = spark.createDataFrame([], "child bigint, parent bigint")
    assert graph.hierarchy_roots(empty_fc).collect() == []
    empty_pairs = spark.createDataFrame([], "id1 bigint, id2 bigint")
    assert dedup.dedup_clusters(empty_pairs).collect() == []
    no_docs = spark.createDataFrame([], "doc_id bigint, text string")
    assert bpe.bpe_train(no_docs, num_merges=3) == []


_EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (4, 3), (5, 4), (2, 6), (7, 8), (3, 4)]
_SYMMETRIC = sorted({(a, b) for a, b in _EDGES} | {(b, a) for a, b in _EDGES})
_EDGE_SCHEMA = "src long, dst long"


def _bfs_from_1(d):
    # the seed frame is built through Arrow, so collecting it runs no
    # job and the budget below stays the edge table's alone
    seeds = d.sparkSession.createDataFrame(pd.DataFrame({"author": [1]}))
    return graph.bfs(d, seeds, max_depth=3)


def test_g4_bfs_seed_collects_without_a_job(spark, sf_dir, jobs_launched, monkeypatch):
    """q_g4_bfs builds its seed frame through Arrow, so the local tier's
    seed collect launches no job in any mag pass."""
    import __spark_entry__ as entrymod

    seeds = []
    monkeypatch.setattr(graph, "bfs", lambda edges, sources, **kw: seeds.append(sources))
    entrymod.queries()["g4_bfs"](spark, sf_dir)
    assert jobs_launched(lambda: seeds[0].select("author").collect()) == 0


# name → (local solve, input rows, input schema, distinct before gather?)
_LOCAL_TIERS = {
    "hierarchy_roots": (
        lambda d: graph.hierarchy_roots(d, children_unique=True),
        [(100, 10), (10, 1), (200, 20), (20, 2), (30, 3)],
        "child long, parent long",
        False,
    ),
    "pagerank_int": (lambda d: graph.pagerank_int(d, iterations=3), _EDGES, _EDGE_SCHEMA, False),
    "bfs": (_bfs_from_1, _EDGES, _EDGE_SCHEMA, False),
    "kcore": (lambda d: graph.kcore(d, k=2), _SYMMETRIC, _EDGE_SCHEMA, True),
    "sssp": (
        lambda d: graph.sssp(d, rounds=3),
        [(s, t, (s + t) % 3 + 1) for s, t in _EDGES],
        "src long, dst long, cost long",
        False,
    ),
    "label_propagation": (lambda d: graph.label_propagation(d, rounds=3), _EDGES, _EDGE_SCHEMA, False),
    "hits_int": (lambda d: graph.hits_int(d, iterations=2), _EDGES, _EDGE_SCHEMA, True),
    "dedup_clusters": (dedup.dedup_clusters, _EDGES, "id1 long, id2 long", False),
}


@pytest.mark.parametrize("name", sorted(_LOCAL_TIERS))
def test_local_tier_materializes_input_once(spark, jobs_launched, name):
    """A driver-local solve on a checkpointed input, result collected
    included, launches no more jobs than checkpointing and collecting
    the frame it gathers once (the row count rides the checkpoint's
    job): a second evaluation of the input (kcore's old
    count-then-toPandas on an unmaterialized distinct), a separate
    count, or a result built from a pickled Python RDD (whose collect
    is a job of its own) each break the bound."""
    solve, rows, schema, distinct = _LOCAL_TIERS[name]
    inp = spark.createDataFrame(rows, schema).localCheckpoint()
    gathered = inp.distinct() if distinct else inp

    def once():
        gathered.localCheckpoint().toPandas()

    budget = jobs_launched(once)
    used = jobs_launched(lambda: solve(inp).collect())
    assert used <= budget, (name, used, budget)
