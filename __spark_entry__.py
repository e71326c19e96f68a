"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001.
``queries()[name](spark, sf_dir)`` returns a DataFrame per implemented
operator from SURVEY.md §2; ``oracle_sql()[name]`` is the DuckDB-
equivalent ANSI SQL the driver hash-compares against at sf0.01.

Conventions that keep the hash gate deterministic:
  - every computed column is aliased identically in Spark and SQL;
  - years/counts are BIGINT on both sides;
  - double SUM/AVG goes through the exact-decimal discipline
    (``functions.numeric.dec_sum``) so float ordering can't flip a hash;
  - session timezone pinned to UTC before any timestamp math.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from iconic_data_science_spark.catalog import Catalog
from iconic_data_science_spark.session import ensure_engine_conf
from iconic_data_science_spark import magmap
from iconic_data_science_spark.functions import dec_sum, dec_avg
from iconic_data_science_spark.operators.coauthor import coauthor_edges
from iconic_data_science_spark.operators.personal_net import personal_net

# Literal parameter tables shared with the Spark side, embedded in the
# oracles so both engines hash identically.
from iconic_data_science_spark.operators.dedup import perm_table_sql as _perm_table_sql
from iconic_data_science_spark.operators.similarity import (
    RP_LSH_TABLE as _RP_LSH_TABLE,
    SQ8_LSH_TABLE as _SQ8_LSH_TABLE,
    plane_table_sql as _plane_table_sql,
)
from iconic_data_science_spark.operators.text import (
    stopword_array_sql as _stopword_array_sql,
    stopword_table_sql as _stopword_table_sql,
)

SF_SMOKE_DIR = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# helpers

def _cat(spark: SparkSession, sf_dir: str) -> Catalog:
    ensure_engine_conf(spark)
    return Catalog(spark, sf_dir)


# ---------------------------------------------------------------------------
# queries (SURVEY.md §2 inventory, driver star schema per magmap)

def q_g1_coauthor_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1+G2: coauthor edge table with weight and first-collab year."""
    cat = _cat(spark, sf_dir)
    return coauthor_edges(magmap.paa(cat), magmap.paper_years(cat)).select(
        "ego", "alter_id", "papers_together", "first_year"
    )


def q_g3_personal_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 flagship: triadic-closure personal nets.

    Truncation knobs (mirroring the reference's cost caps,
    StaticNet.scala:313-314 / PySparkles PAA year filter): papers
    restricted to year 1995, edge strength >= 2, focal egos sampled
    (ego % 10 == 0), and papers capped at 256 authors (the reference's
    papersToLookAt-style mega-paper guard; a 1000-author paper would
    otherwise fan out ~10^6 weight-1 pairs that the strength threshold
    kills only AFTER the O(k^2) shuffle — measured in SCALE.md's G3
    skew probe). The oracle mirrors the cap, so parity holds at any SF;
    on the driver fixtures the cap never binds (max authors/paper ~ 7).
    """
    cat = _cat(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    # The edge table is referenced 4x downstream (both pair sides, the
    # closure probe, the ego sample); materialize it once — it is small
    # (SF-proportional pairs), while re-deriving it would rescan lineitem
    # ~10x. At cluster scale this is the canonical cache-the-reduced-
    # intermediate pattern (SURVEY §4: "cache only multi-consumer frames").
    edges = (
        coauthor_edges(
            magmap.paa(cat), years, min_papers_together=2, max_authors_per_paper=256
        )
        .select("ego", "alter_id", "first_year")
        .localCheckpoint()
    )
    egos = edges.select("ego").filter(F.col("ego") % 10 == 0).distinct()
    return personal_net(edges, egos=egos)


def q_g3_personal_net_flatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 in the reference's OTHER formulation (X4: flatMap/UDTF →
    explode of a triangular pair expression, PersonalNet.scala:143-201)
    — same semantics, same oracle as the relational flagship; kept as a
    first-class contract query so the driver gate pins both forms."""
    from iconic_data_science_spark.operators.personal_net import personal_net_flatmap_form

    cat = _cat(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    edges = (
        coauthor_edges(
            magmap.paa(cat), years, min_papers_together=2, max_authors_per_paper=256
        )
        .select("ego", "alter_id", "first_year")
        .localCheckpoint()
    )
    egos = edges.select("ego").filter(F.col("ego") % 10 == 0).distinct()
    return personal_net_flatmap_form(edges, egos=egos)


def q_a1_papers_per_author(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: group-by count — papers per author (ReplApp.sc:79)."""
    cat = _cat(spark, sf_dir)
    return (
        magmap.paa(cat)
        .distinct()
        .groupBy("author")
        .agg(F.count("*").alias("n_papers"))
    )


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A7 multi-aggregate (TPC-H Q1 shape) with exact-decimal sums."""
    cat = _cat(spark, sf_dir)
    li = cat.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_avg("l_quantity", "avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q_p_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/P4 + F5: pushed-down projection/filter with computed column."""
    cat = _cat(spark, sf_dir)
    return (
        cat.lineitem
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 45)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


def q_w1_cumulative_papers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: running total over a year-ordered window
    (ProfileConversion.scala:114-115,139-143)."""
    cat = _cat(spark, sf_dir)
    per_year = (
        magmap.paa(cat)
        .distinct()
        .join(magmap.paper_years(cat), "paper")
        # hash(author) satisfies both the groupBy(author, year)
        # clustering and the window's partitionBy(author): one shuffle
        # instead of hash(author, year) + a re-exchange for the window
        .repartition("author")
        .groupBy("author", "year")
        .agg(F.count("*").alias("papers_in_year"))
    )
    w = W.partitionBy("author").orderBy("year").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_year.select(
        "author",
        "year",
        "papers_in_year",
        F.sum("papers_in_year").over(w).alias("cum_papers"),
    )


def q_pr_citation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4-shape theta self-join: the derived citation-edge table
    (same-customer temporal pairs; magmap.citation_edges)."""
    cat = _cat(spark, sf_dir)
    return magmap.citation_edges(cat)


def q_a8_zero_filled_citations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J9/U1/A8: year spine + union-with-zeros + re-aggregate
    (ProfileConversion.scala:106,137)."""
    from iconic_data_science_spark.operators import profiles

    cat = _cat(spark, sf_dir)
    cit = magmap.citation_edges(cat).groupBy("cited", "cite_year").agg(F.count("*").alias("n_cit"))
    spine = profiles.paper_year_spine(magmap.paper_years(cat), magmap.years_dim(cat))
    return profiles.zero_filled_citations(cit, spine)


def q_w1_cumulative_citations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: running citation total per paper (ProfileConversion.scala:114-115)."""
    from iconic_data_science_spark.operators import profiles

    cat = _cat(spark, sf_dir)
    cit = magmap.citation_edges(cat).groupBy("cited", "cite_year").agg(F.count("*").alias("n_cit"))
    spine = profiles.paper_year_spine(magmap.paper_years(cat), magmap.years_dim(cat))
    return profiles.cumulative_citations(profiles.zero_filled_citations(cit, spine))


def q_w_moving_3yr_citations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (the frame variant W1's rowsBetween form
    doesn't exercise): per-paper moving 3-year citation sum —
    rangeBetween(-2, current) over the year VALUE, so gap years
    naturally fall out of the frame."""
    cat = _cat(spark, sf_dir)
    cit = (
        magmap.citation_edges(cat)
        .groupBy("cited", "cite_year")
        .agg(F.count("*").alias("n_cit"))
    )
    w = (
        W.partitionBy("cited").orderBy("cite_year").rangeBetween(-2, W.currentRow)
    )
    return cit.select(
        F.col("cited").alias("paper"),
        F.col("cite_year").alias("year"),
        "n_cit",
        F.sum("n_cit").over(w).alias("cit_3yr"),
    )


def q_profile_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 headline: full per-author/year profile with papers_cum,
    citations_cum and h-index (A5/A7/A9 + W1/W2)."""
    from iconic_data_science_spark.operators import profiles

    cat = _cat(spark, sf_dir)
    return profiles.author_profiles(
        magmap.paa(cat),
        magmap.paper_years(cat),
        magmap.citation_edges(cat),
        magmap.years_dim(cat),
    )


def q_g7_ego_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7/A2: countDistinct family + domestic split per ego
    (PySparkles cells 43-47)."""
    from iconic_data_science_spark.operators import indicators

    cat = _cat(spark, sf_dir)
    # distinct=False: ego_indicators' aggs are duplicate-insensitive, so
    # the triple-level dedup shuffle is pure overhead here
    triples = indicators.coauthor_year_triples(
        magmap.paa(cat), magmap.paper_years(cat), distinct=False
    )
    return indicators.ego_indicators(triples, magmap.author_country(cat))


def q_g7_alter_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7/A3/A4: sum/max rollups over each ego's distinct alter set
    (PySparkles cells 48-49, 54-55)."""
    from iconic_data_science_spark.operators import indicators

    cat = _cat(spark, sf_dir)
    # distinct=False: ego_alter_rollups dedups to the alter set itself
    triples = indicators.coauthor_year_triples(
        magmap.paa(cat), magmap.paper_years(cat), distinct=False
    )
    stats = indicators.author_stats(magmap.paa(cat), magmap.citation_edges(cat))
    return indicators.ego_alter_rollups(triples, stats)


def q_a2_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB posture variant of A2: approx_count_distinct (HLL sketch).
    No oracle — sketches don't hash-match exact engines; the driver
    records the rows-only check. Exact hash-oracled twin: the same
    per-author grain computed with exact countDistinct inside
    `g7_ego_indicators` (A2); sketch-vs-exact error is bounded in
    tests/test_engine_surface.py."""
    cat = _cat(spark, sf_dir)
    return (
        magmap.paa(cat)
        .groupBy("author")
        .agg(F.approx_count_distinct("paper").alias("approx_papers"))
    )


def _order_chain_fc(cat: Catalog) -> DataFrame:
    """fc-shaped hierarchy (models.scala:30): each order's parent is the
    customer's previous order (lag over date, orderkey tiebreak) — a
    per-customer chain, root = first order."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _lag_orders(cat, w)
        .filter(F.col("parent").isNotNull())
        .select("child", "parent")
    )


def _lag_orders(cat: Catalog, w) -> DataFrame:
    return cat.orders.select(
        F.col("o_orderkey").alias("child"),
        F.lag("o_orderkey").over(w).alias("parent"),
    )


def q_g5_hierarchy_roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5: iterative root resolution (pointer-jumping fixpoint) over the
    order-chain hierarchy. Oracle shortcut: the chain root is the
    customer's first order."""
    from iconic_data_science_spark.operators.graph import hierarchy_roots

    cat = _cat(spark, sf_dir)
    # lag() yields exactly one parent per child — skip the multi-parent
    # resolve shuffle
    return hierarchy_roots(_order_chain_fc(cat), children_unique=True)


def q_g5_hierarchy_roots_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 via the Spark 4 recursive CTE (SPARK-24497): same hierarchy,
    same output, recursion planned by Catalyst (UnionLoop) instead of a
    driver loop — the declarative twin of g5_hierarchy_roots."""
    from iconic_data_science_spark.operators.graph import hierarchy_roots_sql

    cat = _cat(spark, sf_dir)
    return hierarchy_roots_sql(_order_chain_fc(cat), children_unique=True)


def q_g4_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: 3-hop BFS from author 0 over the thresholded 1995 coauthor
    graph (StaticNet BFS rewrite; oracle = recursive CTE)."""
    from iconic_data_science_spark.operators.graph import bfs

    cat = _cat(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    # no entry-level localCheckpoint: bfs materializes the edge table
    # once itself (tiers.gather), and every tier reads that copy
    edges = coauthor_edges(magmap.paa(cat), years, min_papers_together=2).select(
        F.col("ego").alias("src"), F.col("alter_id").alias("dst")
    )
    sources = spark.range(1).select(F.lit(0).cast("long").alias("author"))
    return bfs(edges, sources, max_depth=3)


def q_g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the thresholded 1995 coauthor graph."""
    from iconic_data_science_spark.operators.graph import triangle_count

    cat = _cat(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    edges = coauthor_edges(magmap.paa(cat), years, min_papers_together=2).select(
        F.col("ego").alias("src"), F.col("alter_id").alias("dst")
    )
    return triangle_count(edges)


def q_g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the thresholded 1995 coauthor graph (iterative peeling,
    three-tier strategy — operators/graph.kcore). Oracled since round 2:
    the peel is a round-stamped recursive CTE in DuckDB (edges re-emitted
    with r+1 while both endpoints keep degree ≥ k; the survivor set at
    the round cap is the k-core — integer output, exact hash). Round cap
    50 covers the sf0.01 peel depth with wide margin; tier equivalence
    and fixture tests in tests/test_graph.py pin the uncapped fixpoint."""
    from iconic_data_science_spark.operators.graph import kcore

    cat = _cat(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    edges = coauthor_edges(magmap.paa(cat), years, min_papers_together=2).select(
        F.col("ego").alias("src"), F.col("alter_id").alias("dst")
    )
    return kcore(edges, k=3)


def q_g_pagerank_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-lattice PageRank over the citation DAG — the power
    iteration defined AS integer arithmetic (floor divisions, fixed 10
    rounds) so ranks hash identically across engines. The float variant
    (graph.pagerank, 0.85 damping) is rows-only by nature and was
    RETIRED from the registry in round 7 (r6 verdict item 6) so every
    registry entry is hash-oracled or golden-pinned; the float operator
    itself remains, verified against analytic fixtures and
    ranking-agreement with this twin in tests/test_graph.py."""
    from iconic_data_science_spark.operators.graph import pagerank_int

    cat = _cat(spark, sf_dir)
    edges = magmap.citation_edges(cat).select(
        F.col("citing").alias("src"), F.col("cited").alias("dst")
    )
    return pagerank_int(edges, damping_pct=85, iterations=10)


def q_u3_except_authors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 (diff/except): authors active in 1995 but not 1996."""
    cat = _cat(spark, sf_dir)
    by_year = magmap.paa(cat).join(magmap.paper_years(cat), "paper")
    a95 = by_year.filter(F.col("year") == 1995).select("author").distinct()
    a96 = by_year.filter(F.col("year") == 1996).select("author").distinct()
    return a95.subtract(a96)


def q_u4_intersect_authors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 (intersect): authors active in both 1995 and 1996."""
    cat = _cat(spark, sf_dir)
    by_year = magmap.paa(cat).join(magmap.paper_years(cat), "paper")
    a95 = by_year.filter(F.col("year") == 1995).select("author").distinct()
    a96 = by_year.filter(F.col("year") == 1996).select("author").distinct()
    return a95.intersect(a96)


def q_j7_or_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 OR-join rewritten as union-of-equi-joins (MagDwarf.scala:115-120
    shape): parts matched by either FK column of lineitem."""
    from iconic_data_science_spark.operators.joins import or_join

    cat = _cat(spark, sf_dir)
    return or_join(
        cat.lineitem,
        cat.part,
        ["l_partkey", "l_suppkey"],
        "p_partkey",
        ["p_partkey", "l_orderkey"],
    )


def q_j12_dwarf_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 FK-closed sampling (MagDwarf dwarfing): lineitems of the
    sampled order set, via left-semi join."""
    from iconic_data_science_spark.operators.joins import fk_closure_sample

    cat = _cat(spark, sf_dir)
    seed = cat.orders.filter(F.col("o_orderkey") % 100 == 0)
    return fk_closure_sample(seed, "o_orderkey", cat.lineitem, "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
    )


def q_f7_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: JSON extraction over the events props column + aggregate."""
    cat = _cat(spark, sf_dir)
    return (
        cat.events
        .select(F.get_json_object("props", "$.k").cast("long").alias("k"), "value")
        .groupBy("k")
        .agg(F.count("*").alias("n_events"), dec_sum("value", "sum_value"))
    )


def q_f3_f4_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4/F5 scalar function family: string, date, math expressions."""
    cat = _cat(spark, sf_dir)
    return cat.events.select(
        "event_id",
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type3"),
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        F.length("props").cast("long").alias("props_len"),
        F.floor(F.col("value") / 10).cast("long").alias("value_bucket"),
        F.concat_ws("|", "event_type", F.col("user_id").cast("string")).alias("tag"),
    )


def q_g8_gexf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: GEXF serialization of the thresholded 1995 coauthor net.
    The document is deterministic (sorted fragments), so the oracle
    rebuilds the identical XML bytes with string_agg — a full hash row,
    not rows-only (plus the pytest determinism test)."""
    from iconic_data_science_spark.sources import gexf

    cat = _cat(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    # materialize the pairing join once — the edge fragments and the
    # distinct node set are two consumers of the same expensive
    # self-join subtree (the triangle_count r10 lesson)
    edges = coauthor_edges(magmap.paa(cat), years, min_papers_together=2).localCheckpoint()
    und = edges.filter(F.col("ego") < F.col("alter_id"))
    nodes = edges.select(F.col("ego").alias("id")).distinct()
    return gexf.to_gexf(
        gexf.node_fragments(nodes),
        gexf.edge_fragments(und, "ego", "alter_id", "papers_together"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on text md5 with canonical representative."""
    from iconic_data_science_spark.operators.dedup import exact_dedup

    cat = _cat(spark, sf_dir)
    return exact_dedup(cat.documents)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity join (relational inverted-index form).

    Runs with the engine's default shingle df cap
    (`dedup.DEFAULT_MAX_SHINGLE_FREQ`, mirrored in the oracle) — the
    uncapped Σdf² join is an explicit opt-in, not the default."""
    from iconic_data_science_spark.operators.dedup import ngram_jaccard_pairs

    cat = _cat(spark, sf_dir)
    return ngram_jaccard_pairs(cat.documents, n=3, threshold=0.5)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup join, exact-Jaccard verified; oracle replicates
    the full banding pipeline with identical hash arithmetic."""
    from iconic_data_science_spark.operators.dedup import minhash_lsh_pairs

    cat = _cat(spark, sf_dir)
    return minhash_lsh_pairs(cat.documents, n=3, num_perm=16, rows_per_band=4, threshold=0.5)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document."""
    from iconic_data_science_spark.operators.dedup import simhash32

    cat = _cat(spark, sf_dir)
    return simhash32(cat.documents)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup join: byte-banded candidates (pigeonhole over
    the 32-bit fingerprint) verified by exact Hamming distance ≤ 3 —
    the candidate→verify architecture over bit-sketches."""
    from iconic_data_science_spark.operators.dedup import simhash_near_pairs

    cat = _cat(spark, sf_dir)
    return simhash_near_pairs(cat.documents, max_hamming=3)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs (integer-lattice exact arithmetic)."""
    from iconic_data_science_spark.operators.dedup import embedding_cosine_pairs

    cat = _cat(spark, sf_dir)
    return embedding_cosine_pairs(cat.embeddings, threshold=0.4)


def _ann_queries(cat: Catalog) -> DataFrame:
    return cat.embeddings.filter(F.col("vec_id") % 50 == 0)


def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle document-frequency cap — THE skew knob for text dedup
    at scale — proven semantically against an oracle that applies the
    same cap (df <= 40)."""
    from iconic_data_science_spark.operators.dedup import ngram_jaccard_pairs

    cat = _cat(spark, sf_dir)
    return ngram_jaccard_pairs(cat.documents, n=3, threshold=0.5, max_shingle_freq=40)


def q_a1_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (skew toolkit) — same answer as the
    plain groupBy, same oracle as a1_papers_per_author."""
    from iconic_data_science_spark.operators.skew import salted_aggregate

    cat = _cat(spark, sf_dir)
    return salted_aggregate(
        magmap.paa(cat).distinct(), ["author"], {"n_papers": "count(*)"}, buckets=16
    )


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of near-dup candidates: Levenshtein
    over the Jaccard candidate pairs (exact integer in both engines) —
    the character-level confirmation pass after token-level candidates."""
    from iconic_data_science_spark.operators.dedup import ngram_jaccard_pairs

    cat = _cat(spark, sf_dir)
    cand = ngram_jaccard_pairs(cat.documents, n=3, threshold=0.5).select("id1", "id2")
    d1 = cat.documents.select(F.col("doc_id").alias("id1"), F.col("text").alias("t1"))
    d2 = cat.documents.select(F.col("doc_id").alias("id2"), F.col("text").alias("t2"))
    return (
        cand.join(d1, "id1")
        .join(d2, "id2")
        .select(
            "id1",
            "id2",
            F.levenshtein("t1", "t2").cast("long").alias("edit_distance"),
            (F.levenshtein("t1", "t2") / F.greatest(F.length("t1"), F.length("t2"))).alias(
                "edit_ratio"
            ),
        )
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components (min-label fixpoint) over
    the exact Jaccard pairs; cluster_id = canonical (min) member."""
    from iconic_data_science_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    cat = _cat(spark, sf_dir)
    # no entry-level localCheckpoint: dedup_clusters materializes the
    # pair subtree itself (one eager job, not two — r11)
    pairs = ngram_jaccard_pairs(cat.documents, n=3, threshold=0.5).select("id1", "id2")
    return dedup_clusters(pairs)


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for the sampled query set."""
    from iconic_data_science_spark.operators.similarity import brute_force_topk

    cat = _cat(spark, sf_dir)
    return brute_force_topk(cat.embeddings, _ann_queries(cat), k=5)


def q_ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncated-dimension retrieval (Kusupati et al.
    2022, MRL): exact cosine top-5 over only the FIRST 16 of 64
    dimensions — the coarse pass of the nested-representation stack
    (search cheap low-dim prefixes, refine survivors at full width;
    4× less dot-product work and memory traffic per candidate).
    Truncation is a map-side F.slice; cosine is scale-free so no
    re-normalization is needed; integer product lattice as everywhere,
    so the oracle slices and replays exactly. Prefix-vs-full recall is
    measured in tests/test_ann_recall.py."""
    from iconic_data_science_spark.operators.similarity import brute_force_topk

    cat = _cat(spark, sf_dir)
    trunc = lambda df: df.select(  # noqa: E731
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    return brute_force_topk(trunc(cat.embeddings), trunc(_ann_queries(cat)), k=5)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH-bucketed approximate top-5 (the scale path)."""
    from iconic_data_science_spark.operators.similarity import lsh_topk

    cat = _cat(spark, sf_dir)
    return lsh_topk(cat.embeddings, _ann_queries(cat), k=5)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell approximate top-5 (nprobe=1) — the second ANN scale path
    alongside hyperplane LSH."""
    from iconic_data_science_spark.operators.similarity import ivf_topk

    cat = _cat(spark, sf_dir)
    return ivf_topk(cat.embeddings, _ann_queries(cat), k=5, n_cells=8)


def q_ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-5 (nprobe=2): each query probes its two
    nearest cells — the recall/cost dial every IVF deployment turns."""
    from iconic_data_science_spark.operators.similarity import ivf_topk

    cat = _cat(spark, sf_dir)
    return ivf_topk(cat.embeddings, _ann_queries(cat), k=5, n_cells=8, nprobe=2)


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID per document (n-gram heuristic;
    broadcast literal stopword table — operators/text.language_id)."""
    from iconic_data_science_spark.operators.text import language_id

    cat = _cat(spark, sf_dir)
    return language_id(cat.documents)


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/alpha-ratio quality heuristic per document
    (operators/text.quality_score; fixed-order double arithmetic)."""
    from iconic_data_science_spark.operators.text import quality_score

    cat = _cat(spark, sf_dir)
    return quality_score(cat.documents)


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex token counts per document
    (operators/text.token_counts)."""
    from iconic_data_science_spark.operators.text import token_counts

    cat = _cat(spark, sf_dir)
    return token_counts(cat.documents)


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint ((a*31+b) mod 2^31-1 fold over
    word features — operators/text.fingerprint)."""
    from iconic_data_science_spark.operators.text import fingerprint

    cat = _cat(spark, sf_dir)
    return fingerprint(cat.documents)


def q_text_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucket train/val/test split (reproducible
    sampling — the rand()/TABLESAMPLE replacement for data pipelines)."""
    from iconic_data_science_spark.operators.text import train_val_test_split

    cat = _cat(spark, sf_dir)
    return train_val_test_split(cat.documents)


def q_dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication (operators/dedup.
    duplicate_spans): maximal token spans covered by 5-grams occurring
    twice or more anywhere in the corpus — the sub-document grain of
    Lee et al. 2022's ExactSubstr pass, re-expressed relationally
    (gram-hash frequency + gaps-and-islands merge) instead of a suffix
    array. Document-level dedup keeps a page that pastes a duplicated
    paragraph into fresh text; this finds the paragraph. Oracle replays
    the gram hashing, frequency filter, and island merge in SQL."""
    from iconic_data_science_spark.operators.dedup import duplicate_spans

    cat = _cat(spark, sf_dir)
    return duplicate_spans(cat.documents, n=5, min_count=2)


def q_text_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/text.
    leakage_safe_split): documents hash on their near-dup CLUSTER
    representative (connected components over the exact-Jaccard pairs,
    the dedup_clusters contract), so near-duplicates never straddle
    train and eval — the split-level twin of decontamination.
    Singletons land exactly where text_train_split puts them. Oracle:
    the dedup_clusters recursive-CTE replay composed with the md5
    bucket fold on the representative."""
    from iconic_data_science_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs
    from iconic_data_science_spark.operators.text import leakage_safe_split

    cat = _cat(spark, sf_dir)
    # dedup_clusters materializes the pair subtree itself (r11)
    pairs = ngram_jaccard_pairs(cat.documents, n=3, threshold=0.5).select("id1", "id2")
    return leakage_safe_split(cat.documents, dedup_clusters(pairs))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals (top-token / top-bigram
    fractions, integer-decided repetitive flag —
    operators/text.repetition_stats)."""
    from iconic_data_science_spark.operators.text import repetition_stats

    cat = _cat(spark, sf_dir)
    return repetition_stats(cat.documents)


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-flavored keyword extraction: top-3 distinctive terms per
    document, integer-scaled weight = tf·10⁶ div df (no float log — libm
    rounding is engine-dependent; operators/text.top_terms)."""
    from iconic_data_science_spark.operators.text import top_terms

    cat = _cat(spark, sf_dir)
    return top_terms(cat.documents, k=3)


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (email/SSN/phone/IPv4 regex counts + redacted text)
    — map-only regexp built-ins; patterns chosen to behave identically
    under Java regex and RE2 (operators/text.pii_redact). The synthetic
    corpus carries no PII, so the oracle verifies the no-op end-to-end
    (counts 0, text unchanged); real redaction behavior is pinned by the
    fixture tests in tests/test_llm_ops.py."""
    from iconic_data_science_spark.operators.text import pii_redact

    cat = _cat(spark, sf_dir)
    return pii_redact(cat.documents)


def q_text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-16 vocabulary coverage / OOV rate per document (deterministic
    frequency-then-term tie-break; broadcast vocab tally —
    operators/text.vocab_oov)."""
    from iconic_data_science_spark.operators.text import vocab_oov

    cat = _cat(spark, sf_dir)
    return vocab_oov(cat.documents, vocab_size=16)


def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing ≥1 word 5-gram
    with the (deterministic doc_id%10==0) benchmark split — the
    eval-leakage scan every training pipeline runs; benchmark shingles
    broadcast, train corpus never shuffled
    (operators/dedup.decontaminate)."""
    from iconic_data_science_spark.operators.dedup import decontaminate

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return decontaminate(train, bench, n=5)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (round 4) — the fixed-memory twin of
    decontaminate_ngram: the benchmark's 5-gram set compresses into a
    ~130 KiB broadcast bitset (2^20 bits, 4 seeded-LCG hashes, 63-bit
    word packing) and the train corpus probes it map-side. No false
    negatives (the flagged set is a superset of the exact scan,
    pytest-asserted), false positives bounded by (1-e^{-kn/m})^k —
    at 100 TB the exact join's broadcast side grows with the eval
    suite, the Bloom side never does. Deterministic integers, so the
    oracle rebuilds the identical filter bit-for-bit."""
    from iconic_data_science_spark.operators.dedup import bloom_decontaminate

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return bloom_decontaminate(train, bench, n=5)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation — the flagship composition of
    the LLM-pipeline operators in one plan: English language gate →
    quality-score gate → exact-dup removal (keep the canonical min id)
    → deterministic train/val/test assignment. Every stage is a
    doc_id-keyed semi/inner join, so Catalyst fuses the gates into one
    pass over documents with broadcast/shuffled hash joins; nothing
    leaves the executors."""
    from iconic_data_science_spark.operators.dedup import exact_dedup
    from iconic_data_science_spark.operators.text import (
        language_id,
        quality_score,
        train_val_test_split,
    )

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    lang = language_id(docs).filter(F.col("pred_lang") == "en").select("doc_id")
    qual = quality_score(docs).filter(F.col("score") >= 0.3).select("doc_id", "score")
    canon = exact_dedup(docs).select(F.col("canonical_id").alias("doc_id"))
    split = train_val_test_split(docs).select("doc_id", "split")
    return (
        qual.join(lang, "doc_id", "left_semi")
        .join(canon, "doc_id", "left_semi")
        .join(split, "doc_id")
        .select("doc_id", "score", "split")
    )


def q_inc_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the daily event rollup computed as
    merge_rollup(agg(days < 2024-01-15), agg(days >= 2024-01-15)) — the
    additive-refresh pattern whose oracle is the FULL recompute, so the
    hash gate proves incremental == from-scratch
    (operators/lakehouse.merge_rollup)."""
    from iconic_data_science_spark.operators.lakehouse import merge_rollup

    cat = _cat(spark, sf_dir)
    ev = cat.events.select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"), "value"
    )
    cut = "2024-01-15"

    def agg(df):
        return df.groupBy("day").agg(F.count("*").cast("long").alias("n_events"))

    old = agg(ev.filter(F.col("day") < cut))
    new = agg(ev.filter(F.col("day") >= cut))
    return merge_rollup(old, new, keys=["day"], sum_cols=["n_events"])


def q_ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase with min-timestamp chaining
    (a later stage counts only after entry into the previous one) —
    operators/events.funnel; user_id-keyed shuffles, state bounded by
    users."""
    from iconic_data_science_spark.operators.events import funnel

    cat = _cat(spark, sf_dir)
    return funnel(cat.events)


def q_ev_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle from the signup cohort — integer
    days-div-7 week buckets (engine-portable, unlike date_trunc week
    conventions); activity dedups to (user, week) before the shuffle
    (operators/events.retention_cohorts)."""
    from iconic_data_science_spark.operators.events import retention_cohorts

    cat = _cat(spark, sf_dir)
    return retention_cohorts(cat.events)


def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain — every curation operator composed in one
    fused plan: English gate → quality gate → repetition gate (Gopher) →
    benchmark-doc exclusion + decontamination (5-gram overlap, broadcast
    benchmark) → exact-dedup canonical → deterministic split. All gates
    are doc_id-keyed semi/anti joins over one documents scan family;
    Catalyst pipelines them into broadcast/shuffled hash joins with no
    driver materialization."""
    from iconic_data_science_spark.operators.dedup import decontaminate, exact_dedup
    from iconic_data_science_spark.operators.text import (
        language_id,
        quality_score,
        repetition_stats,
        train_val_test_split,
    )

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    lang = language_id(docs).filter(F.col("pred_lang") == "en").select("doc_id")
    qual = quality_score(docs).filter(F.col("score") >= 0.3).select("doc_id", "score")
    nonrep = repetition_stats(docs).filter(~F.col("repetitive")).select("doc_id")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    contaminated = decontaminate(train, bench, n=5).select("doc_id")
    canon = exact_dedup(docs).select(F.col("canonical_id").alias("doc_id"))
    split = train_val_test_split(docs).select("doc_id", "split")
    return (
        qual.join(lang, "doc_id", "left_semi")
        .join(nonrep, "doc_id", "left_semi")
        .join(canon, "doc_id", "left_semi")
        .join(train.select("doc_id"), "doc_id", "left_semi")  # eval docs never train
        .join(contaminated, "doc_id", "left_anti")
        .join(split, "doc_id")
        .select("doc_id", "score", "split")
    )


def q_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 + the fuzzy stage, in the measured production order: exact
    dedup and the cheap map-side gates run FIRST, MinHash-LSH near-dup
    pruning runs LAST over only the surviving canonical docs. The
    ordering is the point — on an exact-replica 10× corpus the composed
    exact→fuzzy pipeline returns to base-corpus-shaped cost (104.8 s →
    3.6 s, SCALE.md round-4 probe) because byte-identical copies never
    reach the shingle stage; near-dup-only corpora keep the documented
    banding/df-cap knobs. Keep rule: a survivor drops iff it is the
    HIGHER id of any verified near-dup pair (first occurrence wins,
    same as dedup_passage)."""
    from iconic_data_science_spark.operators.dedup import minhash_lsh_pairs

    # v2 feeds TWO consumers (the survivor semi-join under the fuzzy
    # stage's eager shingle checkpoint, and the final anti-join) —
    # materialize it once instead of running the whole gate chain twice
    # (the multi-consumer rule; r11, guide §1.2)
    v2 = q_curation_pipeline_v2(spark, sf_dir).localCheckpoint()
    cat = _cat(spark, sf_dir)
    survivors = cat.documents.join(v2.select("doc_id"), "doc_id", "left_semi")
    pairs = minhash_lsh_pairs(
        survivors, n=3, num_perm=16, rows_per_band=4, threshold=0.5
    )
    dropped = pairs.select(F.col("id2").alias("doc_id")).distinct()
    return v2.join(dropped, "doc_id", "left_anti")


def q_mm_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads → Arrow-batched mapInPandas
    feature extraction, emitted as exploded integer rows
    (media_id, bin, cnt) — raw 16-bin high-nibble byte counts.
    HASH-ORACLED: synth_media payloads are repeated md5 blocks, so the
    DuckDB twin replays the histogram by counting hex digits at odd
    positions of md5(CAST(media_id AS VARCHAR)) × the repeat count —
    numpy bincount over real bytes vs pure-SQL hex arithmetic. The
    L1-normalized array<float> embedder surface stays available as
    multimodal.byte_histogram_features (pytest-pinned)."""
    from iconic_data_science_spark.operators.multimodal import byte_histogram_bins, synth_media

    ensure_engine_conf(spark)
    return byte_histogram_bins(synth_media(spark, 256))


def q_mm_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata rollups (pure relational over binary
    payloads). HASH-ORACLED: every synth_media column is arithmetic on
    media_id (kind = id%3, payload length = 16 bytes × (id%16+1),
    meta from id), so the DuckDB twin regenerates the table from
    range(0,256) and aggregates — the Spark side must measure the REAL
    binary payload lengths to match."""
    from iconic_data_science_spark.operators.multimodal import media_stats, synth_media

    ensure_engine_conf(spark)
    return media_stats(synth_media(spark, 256))


def q_mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode: BMP/PNG/GIF/JPEG pixel parsing (PNG's DEFLATE
    via stdlib zlib with all five scanline filters; JPEG via the
    from-spec baseline codec in operators/jpeg.py), WAV PCM16 parsing,
    and AVI frame parsing in pure numpy over mapInPandas (exact integer
    pixel/sample statistics); the codec gate applies only to MP3/MP4
    sample decode. Rows-only BY NATURE: the JPEG and GIF rows' decoded
    pixels are codec outputs (quantization tables / palette fits), not
    generator arithmetic, so no SQL replay can predict their sums —
    the lossless subset IS hash-oracled as mm_lossless_decode_stats;
    decoder correctness here is pinned by round-trip and stdlib-wave
    cross-checks in tests/test_llm_ops.py."""
    from iconic_data_science_spark.operators.multimodal import decode_media, synth_media_real

    ensure_engine_conf(spark)
    return decode_media(synth_media_real(spark, 256), require_codecs=False)


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: uncompressed AVI payloads decode in
    pure numpy (RIFF walk, BI_RGB frames) and each 0.25s tick emits the
    nearest frame's exact integer pixel stats. HASH-ORACLED since round
    5 (arithmetic replay — AVI is lossless, so tick existence
    (5k < 4·nf), sampled frame (min(5k//4, nf−1); t·fps is exact
    binary), and per-frame pixel sums all recompute from the generator
    pattern in SQL); golden frame stats additionally pinned in
    tests/test_llm_ops.py::test_avi_roundtrip_and_frame_sample."""
    from iconic_data_science_spark.operators.multimodal import frame_sample, synth_media_real

    ensure_engine_conf(spark)
    return frame_sample(synth_media_real(spark, 256), every_s=0.25)


def q_a_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (grouping-sets family — engine built-in beyond reference
    parity, SURVEY §2.4 note): order counts by (year, priority) with
    subtotal rows; nulls coalesced so the hash gate is type-stable."""
    cat = _cat(spark, sf_dir)
    base = cat.orders.select(
        F.year("o_orderdate").cast("long").alias("year"), F.col("o_orderpriority").alias("prio")
    )
    return (
        base.rollup("year", "prio")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.coalesce(F.col("year"), F.lit(-1)).alias("year"),
            F.coalesce(F.col("prio"), F.lit("ALL")).alias("prio"),
            "n_orders",
        )
    )


def q_a_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube (all 4 grouping sets of (year, priority) — completes the
    rollup/cube/grouping-sets family, SURVEY §2.4 note); nulls coalesced
    so the hash gate is type-stable."""
    cat = _cat(spark, sf_dir)
    base = cat.orders.select(
        F.year("o_orderdate").cast("long").alias("year"), F.col("o_orderpriority").alias("prio")
    )
    return (
        base.cube("year", "prio")
        .agg(F.count("*").alias("n_orders"))
        .select(
            F.coalesce(F.col("year"), F.lit(-1)).alias("year"),
            F.coalesce(F.col("prio"), F.lit("ALL")).alias("prio"),
            "n_orders",
        )
    )


def q_a_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: lineitem counts by returnflag pivoted on linestatus
    (oracle = conditional aggregation, the relational equivalent)."""
    cat = _cat(spark, sf_dir)
    return (
        cat.lineitem.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        )
    )


def q_a_median_papers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (percentile) over integer-valued counts — interpolation
    lands on exact halves, so both engines agree bit-for-bit."""
    cat = _cat(spark, sf_dir)
    per_author = (
        magmap.paa(cat).distinct().groupBy("author").agg(F.count("*").alias("n_papers"))
    )
    return per_author.agg(
        F.expr("percentile(n_papers, 0.5)").alias("median_papers"),
        F.expr("percentile(n_papers, 0.25)").alias("p25_papers"),
        F.max("n_papers").alias("max_papers"),
    )


def q_g6_edge_citation_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 (DynamicNet): per coauthor edge, per year — cumulative citations
    of the papers the pair shares. The reference encoded this as nested
    mutable maps on edges (DLink, DynamicNet.scala:251) and couldn't make
    it work; the relational form is (pair, paper) ⋈ cumulative-citations
    rows (SURVEY.md §2.10 G6). Egos sampled (%25) to bound output."""
    from iconic_data_science_spark.operators.coauthor import coauthor_pairs
    from iconic_data_science_spark.operators import profiles

    cat = _cat(spark, sf_dir)
    pairs = coauthor_pairs(magmap.paa(cat)).filter(F.col("ego") % 25 == 0)
    cit = magmap.citation_edges(cat).groupBy("cited", "cite_year").agg(F.count("*").alias("n_cit"))
    spine = profiles.paper_year_spine(magmap.paper_years(cat), magmap.years_dim(cat))
    cum = profiles.cumulative_citations(profiles.zero_filled_citations(cit, spine))
    return (
        pairs.join(cum, "paper")
        .groupBy("ego", "alter_id", "year")
        .agg(F.sum("cum_cit").alias("shared_cum_citations"))
    )


def q_g6_citation_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 map-type contract query: the G6 per-edge series as an actual
    ``MAP<BIGINT,BIGINT>`` column (year → shared cumulative citations) —
    the reference's DLink nested-map edge type (DynamicNet.scala:251)
    materialized as a first-class Spark map. Entries are sorted before
    ``map_from_entries`` so ``to_json`` serializes deterministically;
    ``map_keys`` drives the n_years column. The oracle rebuilds the same
    compact JSON with an ordered string_agg."""
    series = q_g6_edge_citation_series(spark, sf_dir)
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct("year", "shared_cum_citations")))
    )
    return (
        series.groupBy("ego", "alter_id")
        .agg(m.alias("m"))
        .select(
            "ego",
            "alter_id",
            F.size(F.map_keys("m")).cast("long").alias("n_years"),
            F.to_json("m").alias("series_json"),
        )
    )


def q_g9_year_keyed_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9 (personal_network.py:29-68): the ego's network keyed by year —
    per (ego, year) the sorted alter list (egos sampled %25)."""
    from iconic_data_science_spark.operators.indicators import coauthor_year_triples

    cat = _cat(spark, sf_dir)
    triples = coauthor_year_triples(magmap.paa(cat), magmap.paper_years(cat)).filter(
        F.col("ego") % 25 == 0
    )
    return (
        triples.groupBy("ego", "year")
        .agg(
            F.array_join(F.array_sort(F.collect_set("alter_id")), ",").alias("alters_csv"),
            F.countDistinct("alter_id").alias("n_alters"),
        )
    )


def q_a6_flatten_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/X1: agg-of-arrays + flatten-distinct — per-paper author arrays
    collected per ego, flattened, deduped (the reference's flatten UDF,
    PersonalNet.scala:94-96, as pure built-ins), ego removed."""
    cat = _cat(spark, sf_dir)
    paa = magmap.paa(cat).distinct()
    per_paper = paa.groupBy("paper").agg(F.array_sort(F.collect_list("author")).alias("authors"))
    ego_papers = paa.select(F.col("author").alias("ego"), "paper").join(per_paper, "paper")
    return (
        ego_papers.groupBy("ego")
        .agg(F.flatten(F.collect_list("authors")).alias("_nested"))
        .select(
            "ego",
            F.array_join(
                F.array_sort(F.array_remove(F.array_distinct("_nested"), F.col("ego"))), ","
            ).alias("coauthors_csv"),
        )
    )


def q_q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join analytics (TPC-H Q5 shape): revenue by nation where
    customer and supplier share the nation — J1/J2 chain + broadcast dims
    + exact-decimal agg."""
    cat = _cat(spark, sf_dir)
    return (
        cat.lineitem.join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(cat.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(cat.nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + top-k (TPC-H Q3 shape): top 10 urgent orders by
    pre-ship revenue, deterministic tie-break."""
    cat = _cat(spark, sf_dir)
    return (
        cat.lineitem.join(cat.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("l_shipdate") > F.col("o_orderdate"))
        )
        .groupBy("o_orderkey")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_o2_topk_authors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: global sort + limit (top-10 authors by paper count,
    deterministic tie-break on author id)."""
    cat = _cat(spark, sf_dir)
    return (
        magmap.paa(cat)
        .distinct()
        .groupBy("author")
        .agg(F.count("*").alias("n_papers"))
        .orderBy(F.col("n_papers").desc(), F.col("author").asc())
        .limit(10)
    )


def q_a5_coauthor_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/F1: deterministic collect_set → array_sort → array_join
    (the engine's ordered-collect discipline, SURVEY.md §4.3), rendered
    as a string so the oracle compares exactly."""
    from iconic_data_science_spark.operators.indicators import coauthor_year_triples

    cat = _cat(spark, sf_dir)
    triples = coauthor_year_triples(magmap.paa(cat), magmap.paper_years(cat))
    return (
        triples.groupBy("ego")
        .agg(
            F.array_join(F.array_sort(F.collect_set("alter_id")), ",").alias("alters_csv"),
            F.countDistinct("alter_id").alias("n_alters"),
        )
    )


def q_j8_element_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: join on an array element — split the source tag, use its
    numeric element as the key (MagDwarf.scala:77-82 shape)."""
    cat = _cat(spark, sf_dir)
    src_num = F.element_at(F.split(F.col("source"), "src"), 2).cast("long")
    docs = cat.documents.select("doc_id", (src_num % 5).cast("int").alias("rk"))
    return (
        docs.join(F.broadcast(cat.region), docs["rk"] == F.col("r_regionkey"))
        .select("doc_id", "r_name")
    )


def q_p5_p6_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 string-contains + P6 membership (isin) filters."""
    cat = _cat(spark, sf_dir)
    return (
        cat.part
        .filter(F.col("p_type").contains("OM") & F.col("p_brand").isin("Brand#1", "Brand#3"))
        .select("p_partkey", "p_name", "p_brand", "p_type")
    )


def q_w_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greatest-n-per-group (ranking window): top-3 suppliers by account
    balance per nation, deterministic tie-break."""
    cat = _cat(spark, sf_dir)
    w = W.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    return (
        cat.supplier.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("s_nationkey", "s_suppkey", "s_acctbal", "rank")
    )


def q_w_ntile_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-window family completion (ntile + integer-scaled
    percent_rank): per-nation account-balance quartiles for suppliers.
    percent_rank is re-expressed as (rank-1)*1000 div (n-1) so the value
    is integer-exact in both engines (float percent_rank would hash on
    IEEE division luck)."""
    cat = _cat(spark, sf_dir)
    w = W.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
    wp = W.partitionBy("s_nationkey")
    return (
        cat.supplier.select("s_nationkey", "s_suppkey", "s_acctbal")
        .withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wp))
        .select(
            "s_nationkey",
            "s_suppkey",
            "s_acctbal",
            "quartile",
            F.expr(
                "CAST(CASE WHEN n = 1 THEN 0 ELSE (rnk - 1) * 1000 div (n - 1) END AS BIGINT)"
            ).alias("pr_milli"),
        )
    )


def q_w_lag_citation_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window family: year-over-year delta of the cumulative
    citation profile per author."""
    from iconic_data_science_spark.operators import profiles

    cat = _cat(spark, sf_dir)
    prof = profiles.author_profiles(
        magmap.paa(cat), magmap.paper_years(cat), magmap.citation_edges(cat), magmap.years_dim(cat)
    )
    w = W.partitionBy("author").orderBy("year")
    return prof.select(
        "author",
        "year",
        "citations_cum",
        (F.col("citations_cum") - F.coalesce(F.lag("citations_cum").over(w), F.lit(0))).alias(
            "citations_delta"
        ),
    )


def q_w_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization as gaps-and-islands (lag + cumulative sum) — the
    batch formulation of st_session_5m; must equal the session_window
    form, so it shares that oracle's semantics."""
    cat = _cat(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts")
    # compare in microseconds — a seconds-granularity cast would truncate
    # sub-second gaps and disagree with session_window semantics
    flagged = cat.events.select(
        "user_id",
        "ts",
        F.when(
            F.unix_micros("ts")
            - F.coalesce(F.unix_micros(F.lag("ts").over(w)), F.lit(-(10**18)))
            >= 300_000_000,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    return (
        islands.groupBy("user_id", "island")
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            (F.unix_micros(F.max("ts")) + F.lit(300_000_000)).alias("session_end_us"),
            F.count("*").alias("n_events"),
        )
        .drop("island")
    )


def q_asof_signup_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (temporal): each purchase event picks up the user's
    most recent prior-or-same signup value (DuckDB native ASOF JOIN is
    the oracle). Both sides are subsets of the SAME event log, so this
    uses the fused same-source form (one scan, one shuffle — 0.39 s vs
    0.82 s for the general union+window asof_join at sf0.1, round-5
    measurement); the general two-DataFrame operator stays available
    and equivalence is pinned in tests/test_asof.py."""
    from iconic_data_science_spark.operators.asof import asof_join_same_source

    cat = _cat(spark, sf_dir)
    ev = cat.events
    out = asof_join_same_source(
        ev.withColumn("ts_us", F.unix_micros("ts")),
        key="user_id",
        time_col="ts",
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "signup",
        value_col="value",
        left_cols=("event_id", "ts_us"),
    )
    return out.select(
        "event_id", "user_id", "ts_us", F.col("value").alias("signup_value")
    )


def q_j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large interval-overlap join via grid decomposition
    (operators/asof.interval_join_grid): derive a deterministic
    activity window per event ([minute(ts), minute(ts) + 1 +
    event_id % 180]) and find same-user pairs of overlapping windows —
    the concurrent-session / double-submission shape. Neither side is
    a dimension, so instead of a broadcast nested loop the intervals
    explode onto a 64-minute grid, equi-join on (user_id, cell), and
    each pair is credited to exactly one cell (no dedup shuffle). The
    oracle is the naive theta join — the grid plan must reproduce it
    row-for-row."""
    from iconic_data_science_spark.operators.asof import interval_join_grid

    cat = _cat(spark, sf_dir)
    iv = cat.events.select(
        "event_id",
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(60_000_000)).cast("long").alias("lo"),
    ).withColumn("hi", F.col("lo") + 1 + F.col("event_id") % 180)
    a = iv.select(
        "user_id", F.col("event_id").alias("id1"),
        F.col("lo").alias("lo1"), F.col("hi").alias("hi1"),
    )
    b = iv.select(
        "user_id", F.col("event_id").alias("id2"),
        F.col("lo").alias("lo2"), F.col("hi").alias("hi2"),
    )
    out = interval_join_grid(
        a, b, keys=["user_id"], l_lo="lo1", l_hi="hi1", r_lo="lo2", r_hi="hi2", grid=64
    )
    return (
        out.filter(F.col("id1") < F.col("id2"))
        .select(
            "user_id", "id1", "id2",
            (F.least("hi1", "hi2") - F.greatest("lo1", "lo2") + 1)
            .cast("long")
            .alias("overlap_min"),
        )
    )


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup (boilerplate removal — CCNet/RefinedWeb
    stage; operators/text.line_dedup). The flat token corpus has no
    newlines, so the query derives a lined corpus deterministically:
    each document's tokens regroup into 10-token lines and every
    document gains two per-source boilerplate lines (newsletter +
    copyright) — at sf0.01 each source has 25 docs, so the boilerplate
    crosses the min_docs=5 threshold and must be struck from every
    document while the content lines (unique token soup) all survive,
    in order. Output carries md5(clean_text) so rows stay narrow under
    the hash gate; the oracle replays the lining arithmetic and the
    strike in SQL."""
    from iconic_data_science_spark.operators.text import line_dedup

    cat = _cat(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_content = F.ceil(F.size(toks) / 10).cast("int")
    content = F.transform(
        F.sequence(F.lit(0), n_content - 1),
        lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
    )
    boiler = F.array(
        F.concat(F.lit("subscribe to the "), F.col("source"), F.lit(" newsletter")),
        F.concat(F.lit("copyright "), F.col("source"), F.lit(" all rights reserved")),
    )
    lined = cat.documents.select(
        "doc_id", F.array_join(F.concat(content, boiler), "\n").alias("text")
    )
    out = line_dedup(lined, min_docs=5)
    return out.select(
        "doc_id", "n_lines", "n_kept", F.md5("clean_text").alias("clean_fp")
    )


def q_st_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-surface tumbling window agg (batch semantics here; the
    identical transformation runs as a real stream in tests/test_streaming)."""
    from iconic_data_science_spark.streaming import events as ev

    cat = _cat(spark, sf_dir)
    return ev.tumbling_counts(cat.events)


def q_st_sliding_hour_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/15m window counts."""
    from iconic_data_science_spark.streaming import events as ev

    cat = _cat(spark, sf_dir)
    return ev.sliding_counts(cat.events)


def q_st_session_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user (end = last event + gap)."""
    from iconic_data_science_spark.streaming import events as ev

    cat = _cat(spark, sf_dir)
    return ev.session_windows(cat.events)


def q_st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (batch semantics here; the identical
    plan runs as a real two-stream join with watermark-bounded state in
    tests/test_streaming.py)."""
    from iconic_data_science_spark.streaming.events import purchase_signup_interval_join

    cat = _cat(spark, sf_dir)
    ev = cat.events
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select("user_id", "ts", "value")
    return purchase_signup_interval_join(purchases, signups)


def q_ts_multi_grain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: event counts at
    minute/hour/day grains in one scan (explode of (grain,bucket) pairs
    → single grouped count)."""
    from iconic_data_science_spark.operators.timeseries import multi_grain_counts

    cat = _cat(spark, sf_dir)
    return multi_grain_counts(cat.events)


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-mktsegment keep rates via
    content-hash buckets (reproducible across runs/engines, unlike
    sampleBy/TABLESAMPLE)."""
    from iconic_data_science_spark.operators.sampling import stratified_hash_sample

    cat = _cat(spark, sf_dir)
    return stratified_hash_sample(
        cat.customer.select("c_custkey", "c_mktsegment", "c_nationkey"),
        key_col="c_custkey",
        strata_col="c_mktsegment",
        rates_pct={"BUILDING": 50, "AUTOMOBILE": 20},
        default_pct=5,
    )


def q_range_join_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: each order tagged with the price tier whose
    [lo, hi) interval contains its total — broadcast nested loop over a
    3-row dimension, no shuffle of the fact side."""
    from iconic_data_science_spark.operators.asof import range_join

    cat = _cat(spark, sf_dir)
    bands = spark.createDataFrame(
        [("low", 0.0, 100000.0), ("mid", 100000.0, 300000.0), ("high", 300000.0, None)],
        "tier string, lo double, hi double",
    )
    return range_join(
        cat.orders.select("o_orderkey", "o_totalprice"), bands, value_col="o_totalprice"
    ).select("o_orderkey", "o_totalprice", "tier")


def q_lh_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE (upsert) emulation — anti-join + union rewrite.

    Target = each customer's latest pre-1997 order snapshot; source = the
    latest 1997+ order. MERGE keeps unmatched target rows, replaces
    matched ones, inserts new customers. (Delta/Iceberg jars absent; this
    is the relational plan those formats compile MERGE into.)
    """
    from iconic_data_science_spark.operators.lakehouse import merge_upsert

    cat = _cat(spark, sf_dir)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "o_custkey", "o_orderkey", "o_orderstatus", "o_orderpriority",
                # parquet stores o_orderdate as TIMESTAMP_NTZ; session TZ is
                # pinned UTC, so the LTZ cast is value-preserving
                F.unix_micros(F.col("o_orderdate").cast("timestamp_ltz")).alias("order_ts_us"),
            )
        )

    cutoff = F.lit("1997-01-01").cast("timestamp")
    base = latest(cat.orders.filter(F.col("o_orderdate") < cutoff))
    updates = latest(cat.orders.filter(F.col("o_orderdate") >= cutoff))
    return merge_upsert(base, updates, keys=["o_custkey"])


def q_lh_scd2_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history: per-customer order-priority change intervals.

    The order stream is the change log; consecutive orders with the same
    priority collapse into one validity interval (lag change-detect →
    lead interval close). valid_to is NULL on the current row.
    """
    from iconic_data_science_spark.operators.lakehouse import scd2_history

    cat = _cat(spark, sf_dir)
    changes = cat.orders.select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority"
    )
    hist = scd2_history(
        changes,
        key="o_custkey",
        order_col="o_orderdate",
        attr_cols=["o_orderpriority"],
        tiebreak_cols=["o_orderkey"],
    )
    return hist.select(
        "o_custkey",
        "o_orderpriority",
        F.unix_micros(F.col("valid_from").cast("timestamp_ltz")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp_ltz")).alias("valid_to_us"),
        "is_current",
    )


def q_q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct-supplier counts per part group with a NOT IN
    exclusion — the anti-join + countDistinct composition (suppliers in
    the exclusion set never reach the aggregation)."""
    cat = _cat(spark, sf_dir)
    bad = cat.supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = cat.lineitem.join(
        bad, cat.lineitem["l_suppkey"] == bad["s_suppkey"], "left_anti"
    )
    p = cat.part.filter(
        (F.col("p_size") <= 20) & ~F.col("p_type").startswith("MEDIUM")
    ).select("p_partkey", "p_type", "p_size")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_q20_top_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested semi-join with a correlated per-part scalar,
    decorrelated as a grouped join — suppliers shipping > 30% of a
    focus part's total quantity, then a left-semi back to supplier."""
    cat = _cat(spark, sf_dir)
    li_a = cat.lineitem.join(
        cat.part.filter(F.col("p_name").contains("gear")).select("p_partkey"),
        cat.lineitem["l_partkey"] == F.col("p_partkey"),
        "left_semi",
    )
    per_ps = li_a.groupBy("l_partkey", "l_suppkey").agg(
        dec_sum("l_quantity", "ps_qty")
    )
    per_p = li_a.groupBy("l_partkey").agg(
        dec_sum("l_quantity", "p_qty"),
        F.countDistinct("l_suppkey").alias("ns"),
    )
    # "ships more than 2x the average supplier's share of this part" —
    # SF-robust unlike a fixed share threshold (supplier counts per part
    # grow with scale and dilute every share)
    strong = (
        per_ps.join(per_p, "l_partkey")
        .filter(F.col("ps_qty") > 2.0 * F.col("p_qty") / F.col("ns"))
        .select("l_suppkey")
        .distinct()
    )
    return cat.supplier.join(
        strong, cat.supplier["s_suppkey"] == strong["l_suppkey"], "left_semi"
    ).select("s_suppkey", "s_name")


def q_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated (TPC-H Q17 shape): yearly
    revenue lost if small-quantity lineitems (below 20% of the part's
    average quantity) weren't shipped. The per-row correlated AVG becomes
    a grouped pre-aggregate joined back — the engine rule from SURVEY §4
    ("write decorrelated joins directly"); the reference's per-row-
    subquery antipattern is App.scala:45-52.
    """
    cat = _cat(spark, sf_dir)
    li = cat.lineitem
    # l_quantity is integer-valued (1..50): its double AVG is exact and
    # order-independent, so the threshold compare can't flip across engines
    avgq = li.groupBy(F.col("l_partkey").alias("p")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("lim")
    )
    return (
        li.join(avgq, li["l_partkey"] == avgq["p"])
        .filter(F.col("l_quantity") < F.col("lim"))
        .agg((dec_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


def q_q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery → join rewrite (TPC-H Q18 shape): orders whose total
    quantity exceeds 300, with customer attribution. The HAVING-filtered
    aggregate is tiny relative to lineitem, so it drives a selective join
    instead of a membership probe.
    """
    cat = _cat(spark, sf_dir)
    big = (
        cat.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(cat.orders, big["l_orderkey"] == F.col("o_orderkey"))
        .join(cat.customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("order_year"),
            # integer-valued quantities: the double sum is exact
            F.col("total_qty").cast("long").alias("total_qty"),
        )
    )


def q_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join + scalar aggregate threshold (TPC-H Q22 shape): per
    nation, wealthy customers (balance above the positive-balance average)
    with no 1998 orders. The scalar lands as a broadcast cross join — one
    row, no driver collect; the NOT EXISTS is a left-anti join.
    """
    cat = _cat(spark, sf_dir)
    thr = cat.customer.filter(F.col("c_acctbal") > 0).agg(
        dec_avg("c_acctbal", "thr")
    )
    recent = cat.orders.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    return (
        cat.customer.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("thr"))
        .join(recent, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"), dec_sum("c_acctbal", "total_bal"))
    )


def q_j_full_outer_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (declared-but-unused in the reference, SURVEY §2.3
    note): per-customer revenue in 1997 H1 vs H2, zero-filled on both
    sides — one-sided customers (~380 each way at sf0.01) exercise both
    null legs.
    """
    cat = _cat(spark, sf_dir)

    def half_rev(lo: str, hi: str, alias: str) -> DataFrame:
        rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (
            cat.orders.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
            .join(cat.lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy(F.col("o_custkey").alias("c"))
            .agg(dec_sum(rev, alias))
        )

    h1 = half_rev("1997-01-01", "1997-07-01", "rev_h1")
    h2 = half_rev("1997-07-01", "1998-01-01", "rev_h2")
    return (
        h1.join(h2, "c", "full_outer")
        .select(
            F.col("c").alias("c_custkey"),
            F.coalesce("rev_h1", F.lit(0.0)).alias("rev_h1"),
            F.coalesce("rev_h2", F.lit(0.0)).alias("rev_h2"),
        )
    )


# DuckDB oracle SQL. Views pre-registered: region nation customer supplier
# part orders lineitem events documents embeddings.
ORACLES: dict[str, str] = {
    "g1_coauthor_edges": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        py AS (SELECT o_orderkey AS paper, CAST(year(o_orderdate) AS BIGINT) AS year FROM orders)
        SELECT a.author AS ego, b.author AS alter_id,
               COUNT(*) AS papers_together, MIN(py.year) AS first_year
        FROM paa a
        JOIN paa b ON a.paper = b.paper AND a.author <> b.author
        JOIN py ON py.paper = a.paper
        GROUP BY 1, 2
    """,
    "g3_personal_net": """
        WITH paa0 AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        paa AS (
            SELECT * FROM paa0 WHERE paper IN (
                SELECT paper FROM paa0 GROUP BY paper HAVING COUNT(*) <= 256)
        ),
        py AS (SELECT o_orderkey AS paper, CAST(year(o_orderdate) AS BIGINT) AS year
               FROM orders WHERE year(o_orderdate) = 1995),
        co AS (
            SELECT a.author AS ego, b.author AS alter_id,
                   COUNT(*) AS papers_together, MIN(py.year) AS first_year
            FROM paa a
            JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            JOIN py ON py.paper = a.paper
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        )
        SELECT c1.ego AS ego, c1.alter_id AS alter1, c2.alter_id AS alter2,
               GREATEST(c1.first_year, c2.first_year, ap.first_year) AS year
        FROM co c1
        JOIN co c2 ON c1.ego = c2.ego AND c1.alter_id < c2.alter_id
        JOIN co ap ON ap.ego = c1.alter_id AND ap.alter_id = c2.alter_id
        WHERE c1.ego % 10 = 0
    """,
    "g3_personal_net_flatmap": """
        WITH paa0 AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        paa AS (
            SELECT * FROM paa0 WHERE paper IN (
                SELECT paper FROM paa0 GROUP BY paper HAVING COUNT(*) <= 256)
        ),
        py AS (SELECT o_orderkey AS paper, CAST(year(o_orderdate) AS BIGINT) AS year
               FROM orders WHERE year(o_orderdate) = 1995),
        co AS (
            SELECT a.author AS ego, b.author AS alter_id,
                   COUNT(*) AS papers_together, MIN(py.year) AS first_year
            FROM paa a
            JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            JOIN py ON py.paper = a.paper
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        )
        SELECT c1.ego AS ego, c1.alter_id AS alter1, c2.alter_id AS alter2,
               GREATEST(c1.first_year, c2.first_year, ap.first_year) AS year
        FROM co c1
        JOIN co c2 ON c1.ego = c2.ego AND c1.alter_id < c2.alter_id
        JOIN co ap ON ap.ego = c1.alter_id AND ap.alter_id = c2.alter_id
        WHERE c1.ego % 10 = 0
    """,
    "a1_papers_per_author": """
        SELECT author, COUNT(*) AS n_papers
        FROM (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem)
        GROUP BY author
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "p_projection_filter": """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS revenue
        FROM lineitem
        WHERE l_returnflag = 'R'
          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_quantity > 45
    """,
    "w1_cumulative_papers": """
        WITH per_year AS (
            SELECT author, year, COUNT(*) AS papers_in_year
            FROM (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem) paa
            JOIN (SELECT o_orderkey AS paper, CAST(year(o_orderdate) AS BIGINT) AS year FROM orders) py
              USING (paper)
            GROUP BY author, year
        )
        SELECT author, year, papers_in_year,
               CAST(SUM(papers_in_year) OVER (
                   PARTITION BY author ORDER BY year
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_papers
        FROM per_year
    """,
    "pr_citation_edges": """
        SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited,
               CAST(year(o2.o_orderdate) AS BIGINT) AS cite_year
        FROM orders o1
        JOIN orders o2 ON o1.o_custkey = o2.o_custkey
                      AND o2.o_orderdate > o1.o_orderdate
    """,
    "a8_zero_filled_citations": """
        WITH pr AS (
            SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited,
                   CAST(year(o2.o_orderdate) AS BIGINT) AS cite_year
            FROM orders o1
            JOIN orders o2 ON o1.o_custkey = o2.o_custkey
                          AND o2.o_orderdate > o1.o_orderdate
        ),
        cit AS (SELECT cited, cite_year, COUNT(*) AS n_cit FROM pr GROUP BY 1, 2),
        years AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS year FROM orders),
        spine AS (
            SELECT o_orderkey AS paper, y.year
            FROM orders JOIN years y ON y.year >= CAST(year(o_orderdate) AS BIGINT)
        )
        SELECT s.paper, s.year, CAST(COALESCE(c.n_cit, 0) AS BIGINT) AS n_cit
        FROM spine s
        LEFT JOIN cit c ON c.cited = s.paper AND c.cite_year = s.year
    """,
    "w_moving_3yr_citations": """
        WITH pr AS (
            SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited,
                   CAST(year(o2.o_orderdate) AS BIGINT) AS cite_year
            FROM orders o1
            JOIN orders o2 ON o1.o_custkey = o2.o_custkey
                          AND o2.o_orderdate > o1.o_orderdate
        ),
        cit AS (SELECT cited, cite_year, CAST(COUNT(*) AS BIGINT) AS n_cit FROM pr GROUP BY 1, 2)
        SELECT cited AS paper, cite_year AS year, n_cit,
               CAST(SUM(n_cit) OVER (
                   PARTITION BY cited ORDER BY cite_year
                   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cit_3yr
        FROM cit
    """,
    "w1_cumulative_citations": """
        WITH pr AS (
            SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited,
                   CAST(year(o2.o_orderdate) AS BIGINT) AS cite_year
            FROM orders o1
            JOIN orders o2 ON o1.o_custkey = o2.o_custkey
                          AND o2.o_orderdate > o1.o_orderdate
        ),
        cit AS (SELECT cited, cite_year, COUNT(*) AS n_cit FROM pr GROUP BY 1, 2),
        years AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS year FROM orders),
        spine AS (
            SELECT o_orderkey AS paper, y.year
            FROM orders JOIN years y ON y.year >= CAST(year(o_orderdate) AS BIGINT)
        ),
        filled AS (
            SELECT s.paper, s.year, COALESCE(c.n_cit, 0) AS n_cit
            FROM spine s
            LEFT JOIN cit c ON c.cited = s.paper AND c.cite_year = s.year
        )
        SELECT paper, year,
               CAST(SUM(n_cit) OVER (
                   PARTITION BY paper ORDER BY year
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_cit
        FROM filled
    """,
    "profile_conversion": """
        WITH pr AS (
            SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited,
                   CAST(year(o2.o_orderdate) AS BIGINT) AS cite_year
            FROM orders o1
            JOIN orders o2 ON o1.o_custkey = o2.o_custkey
                          AND o2.o_orderdate > o1.o_orderdate
        ),
        cit AS (SELECT cited, cite_year, COUNT(*) AS n_cit FROM pr GROUP BY 1, 2),
        years AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS year FROM orders),
        spine AS (
            SELECT o_orderkey AS paper, y.year
            FROM orders JOIN years y ON y.year >= CAST(year(o_orderdate) AS BIGINT)
        ),
        filled AS (
            SELECT s.paper, s.year, COALESCE(c.n_cit, 0) AS n_cit
            FROM spine s
            LEFT JOIN cit c ON c.cited = s.paper AND c.cite_year = s.year
        ),
        cum AS (
            SELECT paper, year,
                   CAST(SUM(n_cit) OVER (
                       PARTITION BY paper ORDER BY year
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_cit
            FROM filled
        ),
        paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        apy AS (
            SELECT a.author, c.year, c.paper, c.cum_cit
            FROM paa a JOIN cum c ON c.paper = a.paper
        ),
        ranked AS (
            SELECT author, year, cum_cit,
                   ROW_NUMBER() OVER (PARTITION BY author, year ORDER BY cum_cit DESC) AS rn
            FROM apy
        )
        SELECT author, year,
               COUNT(*) AS papers_cum,
               CAST(SUM(cum_cit) AS BIGINT) AS citations_cum,
               CAST(COUNT(CASE WHEN cum_cit >= rn THEN 1 END) AS BIGINT) AS h_index
        FROM ranked
        GROUP BY author, year
    """,
    "g7_ego_indicators": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        py AS (SELECT o_orderkey AS paper, CAST(year(o_orderdate) AS BIGINT) AS year FROM orders),
        tri AS (
            SELECT DISTINCT a.author AS ego, py.year, b.author AS alter_id
            FROM paa a
            JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            JOIN py ON py.paper = a.paper
        ),
        ac AS (
            SELECT s_suppkey AS author, n_name AS country
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        )
        SELECT tri.ego,
               COUNT(DISTINCT tri.alter_id) AS n_coauthors,
               COUNT(DISTINCT tri.year) AS years_collaborated,
               COUNT(DISTINCT ac2.country) AS n_alter_countries,
               COUNT(DISTINCT CASE WHEN ac2.country = ac1.country THEN tri.alter_id END) AS n_domestic,
               COUNT(DISTINCT CASE WHEN ac2.country <> ac1.country THEN tri.alter_id END) AS n_foreign
        FROM tri
        LEFT JOIN ac ac1 ON ac1.author = tri.ego
        LEFT JOIN ac ac2 ON ac2.author = tri.alter_id
        GROUP BY tri.ego
    """,
    "g7_alter_rollups": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        py AS (SELECT o_orderkey AS paper, CAST(year(o_orderdate) AS BIGINT) AS year FROM orders),
        tri AS (
            SELECT DISTINCT a.author AS ego, b.author AS alter_id
            FROM paa a JOIN paa b ON a.paper = b.paper AND a.author <> b.author
        ),
        pr AS (
            SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited
            FROM orders o1
            JOIN orders o2 ON o1.o_custkey = o2.o_custkey
                          AND o2.o_orderdate > o1.o_orderdate
        ),
        per_paper AS (SELECT cited, COUNT(*) AS n_cit FROM pr GROUP BY cited),
        stats AS (
            SELECT a.author,
                   COUNT(*) AS n_papers,
                   CAST(SUM(COALESCE(p.n_cit, 0)) AS BIGINT) AS n_citations
            FROM paa a LEFT JOIN per_paper p ON p.cited = a.paper
            GROUP BY a.author
        )
        SELECT tri.ego,
               CAST(SUM(s.n_papers) AS BIGINT) AS sum_alter_papers,
               MAX(s.n_papers) AS max_alter_papers,
               CAST(SUM(s.n_citations) AS BIGINT) AS sum_alter_citations,
               MAX(s.n_citations) AS max_alter_citations
        FROM tri JOIN stats s ON s.author = tri.alter_id
        GROUP BY tri.ego
    """,
    "g5_hierarchy_roots": """
        WITH chain AS (
            SELECT o_orderkey AS child,
                   LAG(o_orderkey) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS parent,
                   FIRST_VALUE(o_orderkey) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS root
            FROM orders
        )
        SELECT child, root FROM chain WHERE parent IS NOT NULL
    """,
    "g5_hierarchy_roots_sql": """
        WITH chain AS (
            SELECT o_orderkey AS child,
                   LAG(o_orderkey) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS parent,
                   FIRST_VALUE(o_orderkey) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS root
            FROM orders
        )
        SELECT child, root FROM chain WHERE parent IS NOT NULL
    """,
    "g4_bfs": """
        WITH RECURSIVE paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        py AS (SELECT o_orderkey AS paper FROM orders WHERE year(o_orderdate) = 1995),
        e AS (
            SELECT a.author AS src, b.author AS dst
            FROM paa a
            JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            JOIN py ON py.paper = a.paper
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        ),
        walk(author, depth) AS (
            SELECT CAST(0 AS BIGINT) AS author, CAST(0 AS BIGINT) AS depth
            UNION
            SELECT e.dst, w.depth + 1
            FROM walk w JOIN e ON e.src = w.author
            WHERE w.depth < 3
        )
        SELECT author, MIN(depth) AS depth FROM walk GROUP BY author
    """,
    "g_kcore": """
        WITH RECURSIVE paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        py AS (SELECT o_orderkey AS paper FROM orders WHERE year(o_orderdate) = 1995),
        e AS (
            SELECT a.author AS src, b.author AS dst
            FROM paa a
            JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            JOIN py ON py.paper = a.paper
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        ),
        -- round-stamped peel: an edge advances to round r+1 while BOTH
        -- endpoints keep degree >= k; the survivor set goes stationary at
        -- the fixpoint, so the rows at the round cap ARE the k-core
        alive(r, src, dst) AS (
            SELECT 0, src, dst FROM e
            UNION ALL
            SELECT r + 1, src, dst FROM (
                SELECT r, src, dst,
                       COUNT(*) OVER (PARTITION BY r, src) AS ds,
                       COUNT(*) OVER (PARTITION BY r, dst) AS dd
                FROM alive
            ) WHERE ds >= 3 AND dd >= 3 AND r < 50
        )
        SELECT src AS author, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM alive WHERE r = 50
        GROUP BY src
    """,
    "g_pagerank_int": """
        WITH RECURSIVE ce AS (
            SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited
            FROM orders o1
            JOIN orders o2 ON o1.o_custkey = o2.o_custkey AND o2.o_orderdate > o1.o_orderdate
        ),
        nodes AS (SELECT DISTINCT v FROM (SELECT citing AS v FROM ce UNION ALL SELECT cited FROM ce)),
        od AS (SELECT citing AS v, COUNT(*) AS deg FROM ce GROUP BY 1),
        -- zero-weight self rows keep every node (incl. no-in-edge nodes)
        -- in the recursive join with a single reference to pr
        aug AS (
            SELECT citing AS src, cited AS dst, 1 AS w FROM ce
            UNION ALL
            SELECT v, v, 0 FROM nodes
        ),
        oda AS (SELECT n.v, COALESCE(od.deg, 1) AS deg FROM nodes n LEFT JOIN od ON od.v = n.v),
        pr(it, v, r) AS (
            SELECT 0, v, CAST(1000000000 AS BIGINT) FROM nodes
            UNION ALL
            SELECT p.it + 1, a.dst,
                   CAST(150000000 + (85 * SUM((p.r // o.deg) * a.w)) // 100 AS BIGINT)
            FROM pr p
            JOIN aug a ON a.src = p.v
            JOIN oda o ON o.v = p.v
            WHERE p.it < 10
            GROUP BY p.it, a.dst
        )
        SELECT v AS node, r AS rank_i FROM pr WHERE it = 10
    """,
    "g_triangle_count": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        py AS (SELECT o_orderkey AS paper FROM orders WHERE year(o_orderdate) = 1995),
        co AS (
            SELECT a.author AS ego, b.author AS alter_id
            FROM paa a
            JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            JOIN py ON py.paper = a.paper
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        ),
        canon AS (SELECT DISTINCT ego AS s, alter_id AS d FROM co WHERE ego < alter_id)
        SELECT COUNT(*) AS n_triangles
        FROM canon e1
        JOIN canon e2 ON e1.d = e2.s
        JOIN canon e3 ON e3.s = e1.s AND e3.d = e2.d
    """,
    "u3_except_authors": """
        SELECT DISTINCT l_suppkey AS author
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(o_orderdate) = 1995
        EXCEPT
        SELECT DISTINCT l_suppkey AS author
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(o_orderdate) = 1996
    """,
    "u4_intersect_authors": """
        SELECT DISTINCT l_suppkey AS author
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(o_orderdate) = 1995
        INTERSECT
        SELECT DISTINCT l_suppkey AS author
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(o_orderdate) = 1996
    """,
    "j7_or_join": """
        SELECT DISTINCT p_partkey, l_orderkey
        FROM lineitem JOIN part
          ON l_partkey = p_partkey OR l_suppkey = p_partkey
    """,
    "j12_dwarf_lineitem": """
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 0)
    """,
    "f7_json_extract": """
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1
    """,
    "f3_f4_scalar_funcs": """
        SELECT event_id,
               upper(event_type) AS type_upper,
               substr(event_type, 1, 3) AS type3,
               strftime(ts, '%Y-%m-%d') AS event_date,
               CAST(length(props) AS BIGINT) AS props_len,
               CAST(floor(value / 10) AS BIGINT) AS value_bucket,
               concat_ws('|', event_type, CAST(user_id AS VARCHAR)) AS tag
        FROM events
    """,
    "dedup_exact": """
        SELECT md5(text) AS text_md5, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
        FROM documents GROUP BY 1
    """,
    "dedup_ngram_jaccard": """
        WITH sh0 AS (
            SELECT DISTINCT doc_id, s AS shingle FROM (
                SELECT doc_id,
                       unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                               for i in generate_series(1, len(th)-2)]) AS s
                FROM (
                    SELECT doc_id,
                           [list_reduce(
                                [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                                 for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                                (a, b) -> a * 16 + b) % 2147483647
                            for tok in string_split(lower(text), ' ')] AS th
                    FROM documents
                )
            )
        ),
        -- mirror of the engine's DEFAULT_MAX_SHINGLE_FREQ df cap
        rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000),
        sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT * FROM (
            SELECT id1, id2, i / (z1.sz + z2.sz - i) AS jaccard
            FROM inter
            JOIN sz z1 ON z1.doc_id = id1
            JOIN sz z2 ON z2.doc_id = id2
        ) WHERE jaccard >= 0.5
    """,
    "dedup_minhash_lsh": f"""
        WITH sh AS (
            SELECT DISTINCT doc_id, s AS shingle FROM (
                SELECT doc_id,
                       unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                               for i in generate_series(1, len(th)-2)]) AS s
                FROM (
                    SELECT doc_id,
                           [list_reduce(
                                [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                                 for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                                (a, b) -> a * 16 + b) % 2147483647
                            for tok in string_split(lower(text), ' ')] AS th
                    FROM documents
                )
            )
        ),
        h AS (SELECT doc_id, shingle AS h FROM sh),
        perms AS (SELECT * FROM {{PERMS}}),
        sig AS (
            SELECT doc_id, i, MIN((a * h + b) % 2147483647) AS minhash
            FROM h CROSS JOIN perms GROUP BY 1, 2
        ),
        bs AS (
            SELECT doc_id, CAST(i // 4 AS INT) AS band,
                   string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY i) AS band_sig
            FROM sig GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
            FROM bs b1 JOIN bs b2 ON b1.band = b2.band AND b1.band_sig = b2.band_sig
                                  AND b1.doc_id < b2.doc_id
        ),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT * FROM (
            SELECT c.id1, c.id2, i.i / (z1.sz + z2.sz - i.i) AS jaccard
            FROM cand c
            JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
            JOIN sz z1 ON z1.doc_id = c.id1
            JOIN sz z2 ON z2.doc_id = c.id2
        ) WHERE jaccard >= 0.5
    """.replace("{PERMS}", _perm_table_sql(16)),
    "dedup_simhash": """
        WITH tok AS (
            SELECT DISTINCT doc_id, t AS tok
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
        ),
        h AS (
            SELECT doc_id,
                   list_reduce(
                       [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                        for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                       (a, b) -> a * 16 + b
                   ) AS h
            FROM tok
        ),
        bits AS (
            SELECT doc_id, b, (h >> b) & 1 AS bit
            FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bs
        ),
        votes AS (SELECT doc_id, b, SUM(bit) AS ones, COUNT(*) AS total FROM bits GROUP BY 1, 2)
        SELECT doc_id,
               CAST(SUM(CASE WHEN ones * 2 > total
                             THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    """,
    "dedup_simhash_pairs": """
        WITH fp AS (
        WITH tok AS (
            SELECT DISTINCT doc_id, t AS tok
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
        ),
        h AS (
            SELECT doc_id,
                   list_reduce(
                       [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                        for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                       (a, b) -> a * 16 + b
                   ) AS h
            FROM tok
        ),
        bits AS (
            SELECT doc_id, b, (h >> b) & 1 AS bit
            FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bs
        ),
        votes AS (SELECT doc_id, b, SUM(bit) AS ones, COUNT(*) AS total FROM bits GROUP BY 1, 2)
        SELECT doc_id,
               CAST(SUM(CASE WHEN ones * 2 > total
                             THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id),
        bands AS (
            SELECT doc_id, simhash, b.band, (simhash >> (8 * b.band)) & 255 AS bv
            FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b
        ),
        cand AS (
            SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2,
                            b1.simhash AS s1, b2.simhash AS s2
            FROM bands b1 JOIN bands b2 ON b1.band = b2.band AND b1.bv = b2.bv
                                        AND b1.doc_id < b2.doc_id
        )
        SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(s1, s2)) <= 3
    """,
    "dedup_embedding_cosine": """
        WITH e AS (
            SELECT vec_id,
                   embedding,
                   list_reduce(
                       [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                        for x in embedding],
                       (a, b) -> a + b
                   ) AS sq
            FROM embeddings
        )
        SELECT * FROM (
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   list_reduce(
                       [CAST(round(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(a.embedding))],
                       (x, y) -> x + y
                   ) / sqrt(CAST(a.sq AS DOUBLE) * CAST(b.sq AS DOUBLE)) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        ) WHERE cosine >= 0.4
    """,
    "a1_salted": """
        SELECT author, COUNT(*) AS n_papers
        FROM (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem)
        GROUP BY author
    """,
    "dedup_edit_distance": """
        WITH sh0 AS (
            SELECT DISTINCT doc_id, s AS shingle FROM (
                SELECT doc_id,
                       unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                               for i in generate_series(1, len(th)-2)]) AS s
                FROM (
                    SELECT doc_id,
                           [list_reduce(
                                [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                                 for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                                (a, b) -> a * 16 + b) % 2147483647
                            for tok in string_split(lower(text), ' ')] AS th
                    FROM documents
                )
            )
        ),
        -- mirror of the engine's DEFAULT_MAX_SHINGLE_FREQ df cap
        rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000),
        sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        ),
        cand AS (
            SELECT id1, id2 FROM (
                SELECT id1, id2, i / (z1.sz + z2.sz - i) AS jaccard
                FROM inter
                JOIN sz z1 ON z1.doc_id = id1
                JOIN sz z2 ON z2.doc_id = id2
            ) WHERE jaccard >= 0.5
        )
        SELECT c.id1, c.id2,
               CAST(levenshtein(d1.text, d2.text) AS BIGINT) AS edit_distance,
               levenshtein(d1.text, d2.text) / GREATEST(length(d1.text), length(d2.text)) AS edit_ratio
        FROM cand c
        JOIN documents d1 ON d1.doc_id = c.id1
        JOIN documents d2 ON d2.doc_id = c.id2
    """,
    "dedup_ngram_capped": """
        WITH sh0 AS (
            SELECT DISTINCT doc_id, s AS shingle FROM (
                SELECT doc_id,
                       unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                               for i in generate_series(1, len(th)-2)]) AS s
                FROM (
                    SELECT doc_id,
                           [list_reduce(
                                [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                                 for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                                (a, b) -> a * 16 + b) % 2147483647
                            for tok in string_split(lower(text), ' ')] AS th
                    FROM documents
                )
            )
        ),
        rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 40),
        sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT * FROM (
            SELECT id1, id2, i / (z1.sz + z2.sz - i) AS jaccard
            FROM inter
            JOIN sz z1 ON z1.doc_id = id1
            JOIN sz z2 ON z2.doc_id = id2
        ) WHERE jaccard >= 0.5
    """,
    "dedup_clusters": """
        WITH RECURSIVE sh0 AS (
            SELECT DISTINCT doc_id, s AS shingle FROM (
                SELECT doc_id,
                       unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                               for i in generate_series(1, len(th)-2)]) AS s
                FROM (
                    SELECT doc_id,
                           [list_reduce(
                                [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                                 for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                                (a, b) -> a * 16 + b) % 2147483647
                            for tok in string_split(lower(text), ' ')] AS th
                    FROM documents
                )
            )
        ),
        -- mirror of the engine's DEFAULT_MAX_SHINGLE_FREQ df cap
        rare AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING COUNT(*) <= 1000),
        sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
        sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
            FROM sh a JOIN sh b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        ),
        pairs AS (
            SELECT id1, id2 FROM (
                SELECT id1, id2, i / (z1.sz + z2.sz - i) AS jaccard
                FROM inter
                JOIN sz z1 ON z1.doc_id = id1
                JOIN sz z2 ON z2.doc_id = id2
            ) WHERE jaccard >= 0.5
        ),
        und AS (
            SELECT id1 AS a, id2 AS b FROM pairs
            UNION SELECT id2, id1 FROM pairs
        ),
        reach(node, lab) AS (
            SELECT a, a FROM und
            UNION
            SELECT u.a, r.lab FROM und u JOIN reach r ON r.node = u.b
        )
        SELECT node AS doc_id, MIN(lab) AS cluster_id
        FROM reach GROUP BY node
    """,
    "ann_matryoshka_topk": """
        WITH e AS (
            SELECT vec_id, embedding[1:16] AS embedding,
                   list_reduce(
                       [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                        for x in embedding[1:16]], (a, b) -> a + b) AS sq
            FROM embeddings
        ),
        q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_reduce(
                       [CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(q.embedding))], (x, y) -> x + y)
                   / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
            FROM q JOIN e c ON q.vec_id <> c.vec_id
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
    """,
    "ann_brute_topk": """
        WITH e AS (
            SELECT vec_id, embedding,
                   list_reduce(
                       [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                        for x in embedding], (a, b) -> a + b) AS sq
            FROM embeddings
        ),
        q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_reduce(
                       [CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(q.embedding))], (x, y) -> x + y)
                   / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
            FROM q JOIN e c ON q.vec_id <> c.vec_id
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
    """,
    "ann_lsh_topk": """
        WITH pl AS (SELECT * FROM {PLANES}),
        e AS (
            SELECT vec_id, embedding,
                   list_reduce(
                       [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                        for x in embedding], (a, b) -> a + b) AS sq
            FROM embeddings
        ),
        elems AS (
            SELECT vec_id, i, embedding[i] AS x
            FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix
        ),
        dots AS (
            SELECT vec_id, plane,
                   CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(coeff AS DOUBLE)
                                       * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dot
            FROM elems JOIN pl USING (i) GROUP BY 1, 2
        ),
        sig AS (
            SELECT vec_id,
                   string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
            FROM dots GROUP BY 1
        ),
        eb AS (SELECT e.*, sig.bucket FROM e JOIN sig USING (vec_id)),
        q AS (SELECT * FROM eb WHERE vec_id % 50 = 0),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_reduce(
                       [CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(q.embedding))], (x, y) -> x + y)
                   / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
            FROM q JOIN eb c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
    """.replace("{PLANES}", _plane_table_sql()),
    "ann_ivf_topk": """
        WITH e AS (
            SELECT vec_id, embedding,
                   list_reduce(
                       [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                        for x in embedding], (a, b) -> a + b) AS sq
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS c_id, embedding AS c_v, sq AS c_sq
            FROM e ORDER BY vec_id LIMIT 8
        ),
        scored AS (
            SELECT e.vec_id AS id, c.c_id,
                   list_reduce(
                       [CAST(round(CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_v[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(e.embedding))], (x, y) -> x + y)
                   / sqrt(CAST(e.sq AS DOUBLE) * CAST(c.c_sq AS DOUBLE)) AS sim
            FROM e CROSS JOIN cent c
        ),
        assign AS (
            SELECT id, c_id AS cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, c_id) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        eb AS (SELECT e.*, a.cell FROM e JOIN assign a ON a.id = e.vec_id),
        q AS (SELECT * FROM eb WHERE vec_id % 50 = 0),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_reduce(
                       [CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(q.embedding))], (x, y) -> x + y)
                   / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
            FROM q JOIN eb c ON q.cell = c.cell AND q.vec_id <> c.vec_id
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
    """,
    "ann_ivf_nprobe2": """
        WITH e AS (
            SELECT vec_id, embedding,
                   list_reduce(
                       [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                        for x in embedding], (a, b) -> a + b) AS sq
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS c_id, embedding AS c_v, sq AS c_sq
            FROM e ORDER BY vec_id LIMIT 8
        ),
        scored AS (
            SELECT e.vec_id AS id, c.c_id,
                   list_reduce(
                       [CAST(round(CAST(e.embedding[i] AS DOUBLE) * CAST(c.c_v[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(e.embedding))], (x, y) -> x + y)
                   / sqrt(CAST(e.sq AS DOUBLE) * CAST(c.c_sq AS DOUBLE)) AS sim
            FROM e CROSS JOIN cent c
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, c_id) AS rn
            FROM scored
        ),
        assign1 AS (SELECT id, c_id AS cell FROM ranked WHERE rn = 1),
        assign2 AS (SELECT id, c_id AS cell FROM ranked WHERE rn <= 2),
        eb AS (SELECT e.*, a.cell FROM e JOIN assign1 a ON a.id = e.vec_id),
        q AS (
            SELECT e.*, a.cell FROM e JOIN assign2 a ON a.id = e.vec_id
            WHERE e.vec_id % 50 = 0
        ),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_reduce(
                       [CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(q.embedding))], (x, y) -> x + y)
                   / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
            FROM q JOIN eb c ON q.cell = c.cell AND q.vec_id <> c.vec_id
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
    """,
    "text_language_id": """
        WITH sw AS (SELECT * FROM {STOPWORDS}),
        toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        hits AS (
            SELECT doc_id, lang, COUNT(*) AS hits
            FROM toks JOIN sw USING (word) GROUP BY 1, 2
        ),
        ranked AS (
            SELECT doc_id, lang, hits,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
            FROM hits
        )
        SELECT d.doc_id,
               COALESCE(r.lang, 'und') AS pred_lang,
               CAST(COALESCE(r.hits, 0) AS BIGINT) AS hits
        FROM documents d
        LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (doc_id)
    """.replace("{STOPWORDS}", _stopword_table_sql()),
    "text_quality_score": """
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
               (CAST(length(text) AS BIGINT) - (CAST(len(string_split(lower(text), ' ')) AS BIGINT) - 1))
                   / CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS avg_word_len,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                   / CAST(length(text) AS BIGINT) AS alpha_ratio,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    t -> list_contains({SW_ARRAY}, t))) AS BIGINT)
                   / CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS stopword_ratio,
               CAST(LEAST(CAST(len(string_split(lower(text), ' ')) AS BIGINT), 100) AS DOUBLE) / 100.0
                   * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                      / CAST(length(text) AS BIGINT)) AS score
        FROM documents
    """.replace("{SW_ARRAY}", _stopword_array_sql()),
    "text_token_counts": """
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
        FROM documents
    """,
    "text_fingerprint": """
        SELECT doc_id,
               list_reduce(
                   list_prepend(
                       CAST(0 AS BIGINT),
                       [CAST(length(w) AS BIGINT) * 7 + COALESCE(ascii(w), 0)
                        for w in string_split(lower(text), ' ')]
                   ),
                   (a, b) -> (a * 31 + b) % 2147483647
               ) AS fingerprint
        FROM documents
    """,
    "text_repetition": """
        WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
        tc AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(l) AS tok FROM t) GROUP BY 1, 2
        ),
        td AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
                   CAST(MAX(c) AS BIGINT) AS top_token_count
            FROM tc GROUP BY 1
        ),
        bc AS (
            SELECT doc_id, bg, COUNT(*) AS c
            FROM (SELECT doc_id,
                         unnest([l[i] || ' ' || l[i+1] for i in generate_series(1, len(l)-1)]) AS bg
                  FROM t)
            GROUP BY 1, 2
        ),
        bd AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                   CAST(MAX(c) AS BIGINT) AS top_bigram_count
            FROM bc GROUP BY 1
        )
        SELECT td.doc_id, n_tokens, distinct_tokens, top_token_count,
               CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
               top_token_count / n_tokens AS top_token_ratio,
               CASE WHEN COALESCE(n_bigrams, 0) > 0
                    THEN top_bigram_count / n_bigrams ELSE 0.0 END AS top_bigram_ratio,
               (top_token_count * 5 > n_tokens)
                   OR (COALESCE(top_bigram_count, 0) * 50 > COALESCE(n_bigrams, 0) * 9) AS repetitive
        FROM td LEFT JOIN bd ON td.doc_id = bd.doc_id
    """,
    "text_top_terms": """
        WITH tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
            GROUP BY 1, 2
        ),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        r AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   CAST(tf.tf * 1000000 // dfreq.df AS BIGINT) AS weight,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * 1000000 // dfreq.df DESC, tf.term ASC
                   ) AS BIGINT) AS rn
            FROM tf JOIN dfreq USING (term)
        )
        SELECT doc_id, term, tf, df, weight, rn FROM r WHERE rn <= 3
    """,
    "text_pii_redact": "{PII_SQL}",
    "text_vocab_oov": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
        ),
        vocab AS (
            SELECT tok FROM (
                SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1
                ORDER BY n DESC, tok ASC LIMIT 16
            )
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (v.tok IS NULL) AS BIGINT) AS n_oov,
               CAST(COUNT(*) FILTER (v.tok IS NULL) AS BIGINT)
                   / CAST(COUNT(*) AS BIGINT) AS oov_ratio
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY 1
    """,
    "decontaminate_ngram": """
        WITH th AS (
            SELECT doc_id,
                   [list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                        (a, b) -> a * 16 + b) % 2147483647
                    for tok in string_split(lower(text), ' ')] AS th
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, s AS shingle FROM (
                SELECT doc_id,
                       unnest([((((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647 * 1000003 + th[i+3]) % 2147483647 * 1000003 + th[i+4]) % 2147483647
                               for i in generate_series(1, len(th)-4)]) AS s
                FROM th
            )
        ),
        tr AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
        b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 10 = 0)
        SELECT tr.doc_id,
               CAST(COUNT(DISTINCT tr.shingle) AS BIGINT) AS n_shared_ngrams,
               CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_benchmark_docs
        FROM tr JOIN b ON tr.shingle = b.shingle
        GROUP BY 1
    """,
    "a_rollup_orders": """
        SELECT COALESCE(year, -1) AS year,
               COALESCE(prio, 'ALL') AS prio,
               COUNT(*) AS n_orders
        FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS year, o_orderpriority AS prio FROM orders)
        GROUP BY ROLLUP (year, prio)
    """,
    "a_cube_orders": """
        SELECT COALESCE(year, -1) AS year,
               COALESCE(prio, 'ALL') AS prio,
               COUNT(*) AS n_orders
        FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS year, o_orderpriority AS prio FROM orders)
        GROUP BY CUBE (year, prio)
    """,
    "a_pivot_returnflag": """
        SELECT l_returnflag,
               CAST(COUNT(*) FILTER (l_linestatus = 'O') AS BIGINT) AS n_open,
               CAST(COUNT(*) FILTER (l_linestatus = 'F') AS BIGINT) AS n_filled
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "a_median_papers": """
        WITH per_author AS (
            SELECT author, COUNT(*) AS n_papers
            FROM (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem)
            GROUP BY author
        )
        SELECT quantile_cont(n_papers, 0.5) AS median_papers,
               quantile_cont(n_papers, 0.25) AS p25_papers,
               MAX(n_papers) AS max_papers
        FROM per_author
    """,
    "g6_edge_citation_series": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        pairs AS (
            SELECT a.paper, a.author AS ego, b.author AS alter_id
            FROM paa a JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            WHERE a.author % 25 = 0
        ),
        pr AS (
            SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited,
                   CAST(year(o2.o_orderdate) AS BIGINT) AS cite_year
            FROM orders o1
            JOIN orders o2 ON o1.o_custkey = o2.o_custkey AND o2.o_orderdate > o1.o_orderdate
        ),
        cit AS (SELECT cited, cite_year, COUNT(*) AS n_cit FROM pr GROUP BY 1, 2),
        years AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS year FROM orders),
        spine AS (
            SELECT o_orderkey AS paper, y.year
            FROM orders JOIN years y ON y.year >= CAST(year(o_orderdate) AS BIGINT)
        ),
        filled AS (
            SELECT s.paper, s.year, COALESCE(c.n_cit, 0) AS n_cit
            FROM spine s LEFT JOIN cit c ON c.cited = s.paper AND c.cite_year = s.year
        ),
        cum AS (
            SELECT paper, year,
                   CAST(SUM(n_cit) OVER (
                       PARTITION BY paper ORDER BY year
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_cit
            FROM filled
        )
        SELECT p.ego, p.alter_id, c.year,
               CAST(SUM(c.cum_cit) AS BIGINT) AS shared_cum_citations
        FROM pairs p JOIN cum c ON c.paper = p.paper
        GROUP BY 1, 2, 3
    """,
    "g9_year_keyed_network": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        py AS (SELECT o_orderkey AS paper, CAST(year(o_orderdate) AS BIGINT) AS year FROM orders),
        tri AS (
            SELECT DISTINCT a.author AS ego, py.year, b.author AS alter_id
            FROM paa a
            JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            JOIN py ON py.paper = a.paper
            WHERE a.author % 25 = 0
        )
        SELECT ego, year,
               array_to_string(list_sort(list(DISTINCT alter_id)), ',') AS alters_csv,
               COUNT(DISTINCT alter_id) AS n_alters
        FROM tri GROUP BY ego, year
    """,
    "a6_flatten_distinct": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        co AS (
            SELECT a.author AS ego, b.author AS coauthor
            FROM paa a JOIN paa b ON a.paper = b.paper AND a.author <> b.author
        )
        SELECT ego,
               array_to_string(list_sort(list(DISTINCT coauthor)), ',') AS coauthors_csv
        FROM co GROUP BY ego
    """,
    "q5_nation_revenue": """
        SELECT n_name AS nation,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE c_nationkey = s_nationkey
        GROUP BY n_name
    """,
    "q3_shipping_priority": """
        SELECT o_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT' AND l_shipdate > o_orderdate
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    "o2_topk_authors": """
        SELECT author, n_papers FROM (
            SELECT l_suppkey AS author, COUNT(DISTINCT l_orderkey) AS n_papers
            FROM lineitem GROUP BY 1
        ) ORDER BY n_papers DESC, author ASC LIMIT 10
    """,
    "a5_coauthor_list": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        tri AS (
            SELECT DISTINCT a.author AS ego, b.author AS alter_id
            FROM paa a JOIN paa b ON a.paper = b.paper AND a.author <> b.author
        )
        SELECT ego,
               array_to_string(list_sort(list(DISTINCT alter_id)), ',') AS alters_csv,
               COUNT(DISTINCT alter_id) AS n_alters
        FROM tri GROUP BY ego
    """,
    "j8_element_join": """
        SELECT doc_id, r_name
        FROM documents
        JOIN region ON CAST(CAST(string_split(source, 'src')[2] AS BIGINT) % 5 AS INT) = r_regionkey
    """,
    "p5_p6_filters": """
        SELECT p_partkey, p_name, p_brand, p_type
        FROM part
        WHERE p_type LIKE '%OM%' AND p_brand IN ('Brand#1', 'Brand#3')
    """,
    "w_top_supplier_per_nation": """
        SELECT s_nationkey, s_suppkey, s_acctbal, rank FROM (
            SELECT s_nationkey, s_suppkey, s_acctbal,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
                   ) AS BIGINT) AS rank
            FROM supplier
        ) WHERE rank <= 3
    """,
    "w_ntile_balance_quartiles": """
        SELECT s_nationkey, s_suppkey, s_acctbal,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               CAST(CASE WHEN COUNT(*) OVER p = 1 THEN 0
                         ELSE (ROW_NUMBER() OVER w - 1) * 1000 // (COUNT(*) OVER p - 1)
                    END AS BIGINT) AS pr_milli
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey),
               p AS (PARTITION BY s_nationkey)
    """,
    "w_lag_citation_delta": """
        WITH pr AS (
            SELECT o2.o_orderkey AS citing, o1.o_orderkey AS cited,
                   CAST(year(o2.o_orderdate) AS BIGINT) AS cite_year
            FROM orders o1
            JOIN orders o2 ON o1.o_custkey = o2.o_custkey AND o2.o_orderdate > o1.o_orderdate
        ),
        cit AS (SELECT cited, cite_year, COUNT(*) AS n_cit FROM pr GROUP BY 1, 2),
        years AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS year FROM orders),
        spine AS (
            SELECT o_orderkey AS paper, y.year
            FROM orders JOIN years y ON y.year >= CAST(year(o_orderdate) AS BIGINT)
        ),
        filled AS (
            SELECT s.paper, s.year, COALESCE(c.n_cit, 0) AS n_cit
            FROM spine s LEFT JOIN cit c ON c.cited = s.paper AND c.cite_year = s.year
        ),
        cum AS (
            SELECT paper, year,
                   CAST(SUM(n_cit) OVER (
                       PARTITION BY paper ORDER BY year
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_cit
            FROM filled
        ),
        paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        prof AS (
            SELECT a.author, c.year, CAST(SUM(c.cum_cit) AS BIGINT) AS citations_cum
            FROM paa a JOIN cum c ON c.paper = a.paper
            GROUP BY 1, 2
        )
        SELECT author, year, citations_cum,
               CAST(citations_cum - COALESCE(LAG(citations_cum) OVER (
                   PARTITION BY author ORDER BY year), 0) AS BIGINT) AS citations_delta
        FROM prof
    """,
    "w_sessionize_lag": """
        WITH ordered AS (
            SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts,
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS new_session
            FROM ordered
        ),
        islands AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        )
        SELECT user_id,
               epoch_us(MIN(ts)) AS session_start_us,
               epoch_us(MAX(ts) + INTERVAL '5 minutes') AS session_end_us,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, island
    """,
    "dedup_dup_spans": """
        WITH toks AS (
            SELECT doc_id,
                   [list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                        (a, b) -> a * 16 + b) % 2147483647
                    for tok in string_split(lower(text), ' ')] AS t
            FROM documents
        ),
        pos AS (
            SELECT toks.doc_id, CAST(g.i - 1 AS BIGINT) AS pos,
                   ((((((((t[g.i] * 1000003 + t[g.i+1]) % 2147483647)
                       * 1000003 + t[g.i+2]) % 2147483647)
                       * 1000003 + t[g.i+3]) % 2147483647)
                       * 1000003 + t[g.i+4]) % 2147483647) AS gh
            FROM toks, LATERAL (
                SELECT UNNEST(range(1, CAST(len(t) - 3 AS BIGINT))) AS i
            ) g
            WHERE len(t) >= 5
        ),
        freq AS (SELECT gh FROM pos GROUP BY gh HAVING COUNT(*) >= 2),
        dup AS (SELECT p.doc_id, p.pos FROM pos p JOIN freq USING (gh)),
        isl AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM dup
        )
        SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
               CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM isl GROUP BY doc_id, island
    """,
    "text_line_dedup": """
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        ),
        content AS (
            SELECT toks.doc_id, CAST(g.i AS BIGINT) AS pos,
                   array_to_string(t[g.i*10+1 : g.i*10+10], ' ') AS line
            FROM toks, LATERAL (
                SELECT UNNEST(range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS i
            ) g
        ),
        boiler AS (
            SELECT toks.doc_id,
                   CAST(ceil(len(t)/10.0) AS BIGINT) + b.i AS pos,
                   CASE b.i
                        WHEN 0 THEN 'subscribe to the ' || source || ' newsletter'
                        ELSE 'copyright ' || source || ' all rights reserved'
                   END AS line
            FROM toks, (VALUES (0), (1)) b(i)
        ),
        lines AS (SELECT * FROM content UNION ALL SELECT * FROM boiler),
        freq AS (
            SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 5
        ),
        kept AS (
            SELECT l.doc_id, l.pos, l.line
            FROM lines l LEFT JOIN freq f ON l.line = f.line
            WHERE f.line IS NULL
        ),
        nl AS (
            SELECT doc_id, CAST(ceil(len(t)/10.0) AS BIGINT) + 2 AS n_lines FROM toks
        )
        SELECT k.doc_id, nl.n_lines, CAST(COUNT(*) AS BIGINT) AS n_kept,
               md5(string_agg(k.line, chr(10) ORDER BY k.pos)) AS clean_fp
        FROM kept k JOIN nl ON nl.doc_id = k.doc_id
        GROUP BY k.doc_id, nl.n_lines
    """,
    "j_interval_overlap": """
        WITH iv AS (
            SELECT event_id, user_id,
                   CAST(floor(epoch(ts) / 60) AS BIGINT) AS lo,
                   CAST(floor(epoch(ts) / 60) AS BIGINT) + 1 + event_id % 180 AS hi
            FROM events
        )
        SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
               CAST(LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) + 1 AS BIGINT)
                   AS overlap_min
        FROM iv a JOIN iv b
          ON a.user_id = b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
         AND a.event_id < b.event_id
    """,
    "asof_signup_value": """
        WITH s AS (
            SELECT user_id, ts, MAX(value) AS signup_value
            FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
        )
        SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, s.signup_value
        FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        ASOF LEFT JOIN s ON l.user_id = s.user_id AND l.ts >= s.ts
    """,
    "curation_pipeline_v2": """
        WITH sw AS (SELECT * FROM {STOPWORDS}),
        toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        hits AS (
            SELECT doc_id, lang, COUNT(*) AS hits
            FROM toks JOIN sw USING (word) GROUP BY 1, 2
        ),
        lang AS (
            SELECT doc_id FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
                FROM hits
            ) WHERE rn = 1 AND lang = 'en'
        ),
        qual AS (
            SELECT doc_id,
                   CAST(LEAST(CAST(len(string_split(lower(text), ' ')) AS BIGINT), 100) AS DOUBLE) / 100.0
                       * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                          / CAST(length(text) AS BIGINT)) AS score
            FROM documents
        ),
        t2 AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
        tc2 AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(l) AS tok FROM t2) GROUP BY 1, 2
        ),
        td2 AS (SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_tok FROM tc2 GROUP BY 1),
        bc2 AS (
            SELECT doc_id, bg, COUNT(*) AS c
            FROM (SELECT doc_id,
                         unnest([l[i] || ' ' || l[i+1] for i in generate_series(1, len(l)-1)]) AS bg
                  FROM t2)
            GROUP BY 1, 2
        ),
        bd2 AS (SELECT doc_id, SUM(c) AS n_bg, MAX(c) AS top_bg FROM bc2 GROUP BY 1),
        nonrep AS (
            SELECT td2.doc_id
            FROM td2 LEFT JOIN bd2 ON td2.doc_id = bd2.doc_id
            WHERE NOT ((top_tok * 5 > n_tokens)
                       OR (COALESCE(top_bg, 0) * 50 > COALESCE(n_bg, 0) * 9))
        ),
        th AS (
            SELECT doc_id,
                   [list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                        (a, b) -> a * 16 + b) % 2147483647
                    for tok in string_split(lower(text), ' ')] AS th
            FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, s AS shingle FROM (
                SELECT doc_id,
                       unnest([((((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647 * 1000003 + th[i+3]) % 2147483647 * 1000003 + th[i+4]) % 2147483647
                               for i in generate_series(1, len(th)-4)]) AS s
                FROM th
            )
        ),
        contaminated AS (
            SELECT DISTINCT tr.doc_id
            FROM (SELECT * FROM sh WHERE doc_id % 10 <> 0) tr
            JOIN (SELECT shingle FROM sh WHERE doc_id % 10 = 0) b ON tr.shingle = b.shingle
        ),
        canon AS (
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ),
        sp AS (
            SELECT doc_id,
                   list_reduce(
                       [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                        for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                       (a, b) -> a * 16 + b
                   ) % 100 AS bucket
            FROM documents
        )
        SELECT q.doc_id, q.score,
               CASE WHEN sp.bucket < 80 THEN 'train'
                    WHEN sp.bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM qual q
        JOIN lang USING (doc_id)
        JOIN nonrep USING (doc_id)
        JOIN canon USING (doc_id)
        JOIN sp USING (doc_id)
        WHERE q.score >= 0.3
          AND q.doc_id % 10 <> 0
          AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """.replace("{STOPWORDS}", _stopword_table_sql()),
    "inc_rollup_daily": """
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1
    """,
    "ev_funnel": """
        WITH v AS (
            SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
            WHERE e.event_type = 'click' GROUP BY 1
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
            WHERE e.event_type = 'purchase' GROUP BY 1
        )
        SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage,
               CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'click', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'purchase', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
    """,
    "ev_retention": """
        WITH f AS (
            SELECT user_id,
                   CAST(datediff('day', DATE '2024-01-01', CAST(MIN(ts) AS DATE)) // 7 AS BIGINT) AS cohort_week
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        act AS (
            SELECT DISTINCT user_id,
                   CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS week
            FROM events
        )
        SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
        FROM act a JOIN f USING (user_id)
        WHERE a.week >= f.cohort_week
        GROUP BY 1, 2
    """,
    "text_train_split": """
        WITH b AS (
            SELECT doc_id,
                   list_reduce(
                       [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                        for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                       (a, b) -> a * 16 + b
                   ) % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """,
    "curation_pipeline": """
        WITH sw AS (SELECT * FROM {STOPWORDS}),
        toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
        hits AS (
            SELECT doc_id, lang, COUNT(*) AS hits
            FROM toks JOIN sw USING (word) GROUP BY 1, 2
        ),
        lang AS (
            SELECT doc_id FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
                FROM hits
            ) WHERE rn = 1 AND lang = 'en'
        ),
        qual AS (
            SELECT doc_id,
                   CAST(LEAST(CAST(len(string_split(lower(text), ' ')) AS BIGINT), 100) AS DOUBLE) / 100.0
                       * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                          / CAST(length(text) AS BIGINT)) AS score
            FROM documents
        ),
        canon AS (
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ),
        sp AS (
            SELECT doc_id,
                   list_reduce(
                       [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                        for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                       (a, b) -> a * 16 + b
                   ) % 100 AS bucket
            FROM documents
        )
        SELECT q.doc_id, q.score,
               CASE WHEN sp.bucket < 80 THEN 'train'
                    WHEN sp.bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM qual q
        JOIN lang USING (doc_id)
        JOIN canon USING (doc_id)
        JOIN sp USING (doc_id)
        WHERE q.score >= 0.3
    """.replace("{STOPWORDS}", _stopword_table_sql()),
    "st_tumbling_hour": """
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "st_sliding_hour_15m": """
        WITH slid AS (
            SELECT e.event_type,
                   time_bucket(INTERVAL '15 minutes', e.ts) - k.k * INTERVAL '15 minutes' AS win_start
            FROM events e
            CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
            WHERE e.ts < time_bucket(INTERVAL '15 minutes', e.ts) - k.k * INTERVAL '15 minutes'
                         + INTERVAL '1 hour'
        )
        SELECT epoch_us(win_start) AS window_start_us, event_type, COUNT(*) AS n_events
        FROM slid GROUP BY 1, 2
    """,
    "st_session_5m": """
        WITH ordered AS (
            SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events
        ),
        flagged AS (
            SELECT user_id, ts,
                   -- Spark merges sessions only while ts < prev_end (prev+gap),
                   -- so a gap of exactly 5 minutes starts a NEW session: >=
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts >= INTERVAL '5 minutes' THEN 1 ELSE 0 END AS new_session
            FROM ordered
        ),
        islands AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS island
            FROM flagged
        )
        SELECT user_id,
               epoch_us(MIN(ts)) AS session_start_us,
               epoch_us(MAX(ts) + INTERVAL '5 minutes') AS session_end_us,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, island
    """,
    "lh_merge_upsert": """
        WITH base AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
                   epoch_us(o_orderdate) AS order_ts_us
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders
                WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            ) WHERE rn = 1
        ),
        upd AS (
            SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,
                   epoch_us(o_orderdate) AS order_ts_us
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
            ) WHERE rn = 1
        )
        SELECT * FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_custkey = b.o_custkey)
        UNION ALL
        SELECT * FROM upd
    """,
    "lh_scd2_priority": """
        WITH ordered AS (
            SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
                   LAG(o_orderpriority) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev
            FROM orders
        ),
        points AS (
            SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority
            FROM ordered
            WHERE prev IS NULL OR o_orderpriority <> prev
        ),
        hist AS (
            SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
                   LEAD(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS valid_to
            FROM points
        )
        SELECT o_custkey, o_orderpriority,
               epoch_us(valid_from) AS valid_from_us,
               epoch_us(valid_to) AS valid_to_us,
               valid_to IS NULL AS is_current
        FROM hist
    """,
    "range_join_price_tiers": """
        SELECT o_orderkey, o_totalprice, tier
        FROM orders
        LEFT JOIN (VALUES ('low', 0.0, 100000.0),
                          ('mid', 100000.0, 300000.0),
                          ('high', 300000.0, NULL)) AS bands(tier, lo, hi)
          ON o_totalprice >= lo AND (hi IS NULL OR o_totalprice < hi)
    """,
    "ts_multi_grain_counts": """
        WITH g AS (
            SELECT 'minute' AS grain, epoch_us(date_trunc('minute', ts)) AS bucket_us, event_type FROM events
            UNION ALL
            SELECT 'hour', epoch_us(date_trunc('hour', ts)), event_type FROM events
            UNION ALL
            SELECT 'day', epoch_us(date_trunc('day', ts)), event_type FROM events
        )
        SELECT grain, bucket_us, event_type, COUNT(*) AS n_events
        FROM g GROUP BY grain, bucket_us, event_type
    """,
    "sample_stratified": """
        WITH b AS (
            SELECT c_custkey, c_mktsegment, c_nationkey,
                   list_reduce(
                       [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                        for c in string_split_regex(substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12), '')],
                       (a, b) -> a * 16 + b
                   ) % 100 AS bucket
            FROM customer
        )
        SELECT c_custkey, c_mktsegment, c_nationkey
        FROM b
        WHERE bucket < CASE c_mktsegment
                           WHEN 'BUILDING' THEN 50
                           WHEN 'AUTOMOBILE' THEN 20
                           ELSE 5 END
    """,
    "st_stream_stream_join": """
        SELECT p.event_id, p.user_id,
               epoch_us(p.ts) AS ts_us,
               epoch_us(s.ts) AS signup_ts_us,
               p.value AS amount,
               s.value AS signup_value
        FROM events p
        JOIN events s
          ON p.user_id = s.user_id
         AND p.event_type = 'purchase'
         AND s.event_type = 'signup'
         AND s.ts <= p.ts
         AND s.ts >= p.ts - INTERVAL '1 hour'
    """,
    "q16_part_supplier_counts": """
        SELECT p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_size <= 20 AND p_type NOT LIKE 'MEDIUM%'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_type, p_size
    """,
    "q20_top_part_suppliers": """
        WITH li_a AS (
            SELECT l.* FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_name LIKE '%gear%'
        ),
        per_ps AS (
            SELECT l_partkey, l_suppkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS ps_qty
            FROM li_a GROUP BY 1, 2
        ),
        per_p AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS p_qty,
                   COUNT(DISTINCT l_suppkey) AS ns
            FROM li_a GROUP BY 1
        )
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        JOIN (SELECT DISTINCT l_suppkey FROM per_ps
              JOIN per_p USING (l_partkey) WHERE ps_qty > 2.0 * p_qty / ns) t
          ON s.s_suppkey = t.l_suppkey
    """,
    "q17_small_quantity_revenue": """
        WITH avgq AS (
            SELECT l_partkey AS p, 0.2 * AVG(l_quantity) AS lim
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem JOIN avgq ON l_partkey = p
        WHERE l_quantity < lim
    """,
    "q18_large_volume_orders": """
        WITH big AS (
            SELECT l_orderkey, SUM(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 300
        )
        SELECT c_name, c_custkey, o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS order_year,
               CAST(total_qty AS BIGINT) AS total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q22_idle_customers": """
        WITH thr AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE)
                   / COUNT(c_acctbal) AS thr
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey, COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS total_bal
        FROM customer, thr
        WHERE c_acctbal > thr.thr
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        GROUP BY c_nationkey
    """,
    "j_full_outer_halves": """
        WITH h1 AS (
            SELECT o_custkey AS c,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS rev_h1
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
            GROUP BY o_custkey
        ),
        h2 AS (
            SELECT o_custkey AS c,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS rev_h2
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY o_custkey
        )
        SELECT COALESCE(h1.c, h2.c) AS c_custkey,
               COALESCE(rev_h1, 0.0) AS rev_h1,
               COALESCE(rev_h2, 0.0) AS rev_h2
        FROM h1 FULL OUTER JOIN h2 ON h1.c = h2.c
    """,
}

from iconic_data_science_spark.operators.dedup import bloom_oracle_sql as _bloom_oracle_sql  # noqa: E402

ORACLES["decontaminate_bloom"] = _bloom_oracle_sql()
ORACLES["decontaminate_bloom_inrow"] = _bloom_oracle_sql()

# v3 = v2 wrapped as a CTE + the MinHash-LSH near-dup prune over the v2
# survivors (same 3-gram Horner shingles / 16-perm / 4-row bands /
# jaccard >= 0.5 literals as the dedup_minhash_lsh oracle); drop rule =
# the higher id of any verified pair.
ORACLES["curation_pipeline_v3"] = f"""
    WITH v2 AS ({ORACLES["curation_pipeline_v2"]}),
    surv AS (SELECT d.doc_id, d.text FROM documents d JOIN v2 USING (doc_id)),
    sh3 AS (
        SELECT DISTINCT doc_id, s AS shingle FROM (
            SELECT doc_id,
                   unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                           for i in generate_series(1, len(th)-2)]) AS s
            FROM (
                SELECT doc_id,
                       [list_reduce(
                            [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                             for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                            (a, b) -> a * 16 + b) % 2147483647
                        for tok in string_split(lower(text), ' ')] AS th
                FROM surv
            )
        )
    ),
    perms3 AS (SELECT * FROM {_perm_table_sql(16)}),
    sig3 AS (
        SELECT doc_id, i, MIN((a * shingle + b) % 2147483647) AS minhash
        FROM sh3 CROSS JOIN perms3 GROUP BY 1, 2
    ),
    bs3 AS (
        SELECT doc_id, CAST(i // 4 AS INT) AS band,
               string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY i) AS band_sig
        FROM sig3 GROUP BY 1, 2
    ),
    cand3 AS (
        SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
        FROM bs3 b1 JOIN bs3 b2 ON b1.band = b2.band AND b1.band_sig = b2.band_sig
                                AND b1.doc_id < b2.doc_id
    ),
    sz3 AS (SELECT doc_id, COUNT(*) AS sz FROM sh3 GROUP BY 1),
    inter3 AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
        FROM sh3 a JOIN sh3 b USING (shingle)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    dropped AS (
        SELECT DISTINCT c.id2 AS doc_id
        FROM cand3 c
        JOIN inter3 i ON i.id1 = c.id1 AND i.id2 = c.id2
        JOIN sz3 z1 ON z1.doc_id = c.id1
        JOIN sz3 z2 ON z2.doc_id = c.id2
        WHERE i.i / (z1.sz + z2.sz - i.i) >= 0.5
    )
    SELECT v2.* FROM v2 WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def _pii_oracle_sql() -> str:
    """Build the PII oracle from the same PII_PATTERNS literals the Spark
    operator applies (single source of truth for the regexes). DuckDB
    single-quoted strings take backslashes literally, so the patterns
    embed verbatim; regexp_replace needs the 'g' flag for global."""
    from iconic_data_science_spark.operators.text import PII_PATTERNS

    counts = ",\n               ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    clean = "text"
    for _, pat, rep in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{rep}', 'g')"
    return f"""
        SELECT doc_id,
               {counts},
               {clean} AS clean_text
        FROM documents
    """


ORACLES["text_pii_redact"] = _pii_oracle_sql()


def q_ann_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane LSH (n_tables=3): candidate pairs are the
    UNION over independent plane sets, then one exact-cosine verify join
    — the standard recall dial when a single B-bit signature splits a
    neighborhood (recall-measured on clustered fixtures in
    tests/test_ann_recall.py)."""
    from iconic_data_science_spark.operators.similarity import lsh_topk

    cat = _cat(spark, sf_dir)
    return lsh_topk(cat.embeddings, _ann_queries(cat), k=5, n_tables=3)


# ---------------------------------------------------------------------------
# TPC-H-shape suite (the classic decision-support operator shapes the
# reference never wrote but the engine must cover: EXISTS / NOT EXISTS,
# disjunctive predicate joins, decorrelated correlated-MIN, left-join
# distributions, case-when ratio aggregates). Adapted to the driver star
# schema: no partsupp table, no commit/receipt dates — lateness is
# l_shipdate > o_orderdate + 365 days; part value is quantity*retailprice.

_TS = lambda s: F.lit(s).cast("timestamp")  # noqa: E731


def _vol():
    "Revenue expression; built lazily (Columns need an active session)."
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side scalar aggregate. All three
    predicates push to the parquet scan (PushedFilters); nothing shuffles
    — at 100 TB this is the I/O-bound floor and the plan must show it."""
    cat = _cat(spark, sf_dir)
    li = cat.lineitem.filter(
        (F.col("l_shipdate") >= _TS("1997-01-01"))
        & (F.col("l_shipdate") < _TS("1998-01-01"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))


def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (never a row-multiplying
    inner join + distinct). Lateness predicate lives in the join condition
    so the semi join short-circuits per order."""
    cat = _cat(spark, sf_dir)
    o = cat.orders.filter(
        (F.col("o_orderdate") >= _TS("1996-01-01"))
        & (F.col("o_orderdate") < _TS("1997-01-01"))
    )
    sel = o.join(
        cat.lineitem,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional two-nation trade volume by ship year.
    Scale posture: restrict supplier/customer to the two nations BEFORE
    touching the fact table (selective broadcast inner joins cut lineitem
    to ~2/25 early); the pair-direction filter runs on the tiny joined
    residue, not inside a BNL."""
    cat = _cat(spark, sf_dir)
    nations = ["NATION_3", "NATION_9"]
    n = cat.nation.filter(F.col("n_name").isin(nations))
    s_sel = (
        cat.supplier.join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c_sel = (
        cat.customer.join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    df = (
        cat.lineitem.filter(
            (F.col("l_shipdate") >= _TS("1996-01-01"))
            & (F.col("l_shipdate") < _TS("1998-01-01"))
        )
        .join(F.broadcast(s_sel), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cat.orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c_sel), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return df.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(dec_sum(_vol(), "revenue"))


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue sold into
    ASIA customers, per order year. Numerator/denominator are both exact
    decimal sums; the share is a single IEEE division (hash-stable)."""
    cat = _cat(spark, sf_dir)
    asia_c = (
        cat.customer.join(
            cat.nation.filter(F.col("n_regionkey") == 2),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    df = (
        cat.lineitem.join(
            F.broadcast(cat.part.filter(F.col("p_type") == "PROMO").select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(cat.supplier.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cat.orders.select("o_orderkey", "o_custkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(asia_c), F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    flagged = F.when(F.col("s_nationkey") == 3, _vol()).otherwise(F.lit(0.0))
    return (
        df.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(dec_sum(flagged, "nation_rev"), dec_sum(_vol(), "total_rev"))
        .select(
            "o_year",
            (F.col("nation_rev") / F.col("total_rev")).alias("mkt_share"),
        )
    )


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    part-name substring. Cost side adapted (no partsupp):
    0.5*p_retailprice*l_quantity. Dim joins broadcast; the only shuffle
    is lineitem⋈orders plus the final 2-key aggregation."""
    cat = _cat(spark, sf_dir)
    profit = _vol() - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    df = (
        cat.lineitem.join(
            F.broadcast(
                cat.part.filter(F.col("p_name").contains("widget")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(cat.supplier.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cat.nation.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(cat.orders.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return df.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(dec_sum(profit, "sum_profit"))


def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in a quarter.
    Orders are date-filtered before the fact join (partition-prunable at
    scale); customer/nation dims broadcast onto the aggregated residue."""
    cat = _cat(spark, sf_dir)
    o = cat.orders.filter(
        (F.col("o_orderdate") >= _TS("1997-01-01"))
        & (F.col("o_orderdate") < _TS("1997-04-01"))
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        cat.lineitem.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dec_sum(_vol(), "revenue"))
    )
    return (
        per_cust.join(F.broadcast(cat.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"), "revenue")
    )


def q_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped inventory value exceeds 0.1%
    of the global total. The scalar total rides a one-row broadcast cross
    join — no driver collect; the per-part aggregate is reused for both
    sides (exchange reuse)."""
    cat = _cat(spark, sf_dir)
    val = (F.col("l_quantity") * F.col("p_retailprice")).cast("decimal(28,4)")
    per_part = (
        cat.lineitem.join(
            F.broadcast(cat.part.select("p_partkey", "p_retailprice")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_partkey")
        .agg(F.sum(val).alias("value_dec"))
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("total_dec").cast("double") * 0.001)
        .select("p_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


def q_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix by lateness bucket (case-when counts
    inside one aggregation — a single pass, no per-bucket scans)."""
    cat = _cat(spark, sf_dir)
    j = cat.lineitem.filter(
        (F.col("l_shipdate") >= _TS("1997-01-01"))
        & (F.col("l_shipdate") < _TS("1998-01-01"))
    ).join(
        cat.orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    bucket = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS"), "LATE"
    ).otherwise("ONTIME")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("ship_bucket")).agg(
        F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
        F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
    )


def q_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of orders-per-customer including the
    zero bucket — the left outer join + double aggregation composition."""
    cat = _cat(spark, sf_dir)
    o = cat.orders.filter(~F.col("o_orderpriority").startswith("4")).select(
        "o_orderkey", "o_custkey"
    )
    per_c = (
        cat.customer.select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_c.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO share of one month's revenue as a percent —
    conditional aggregate over a broadcast dim join, one output row."""
    cat = _cat(spark, sf_dir)
    j = cat.lineitem.filter(
        (F.col("l_shipdate") >= _TS("1997-09-01"))
        & (F.col("l_shipdate") < _TS("1997-10-01"))
    ).join(
        F.broadcast(cat.part.select("p_partkey", "p_type")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    promo = F.when(F.col("p_type") == "PROMO", _vol()).otherwise(F.lit(0.0))
    return j.agg(dec_sum(promo, "promo_rev"), dec_sum(_vol(), "total_rev")).select(
        (100.0 * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct")
    )


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with max quarterly revenue. The max
    comparison runs on the exact DECIMAL aggregate (not double), so ties
    and the argmax are engine-independent; the revenue frame is computed
    once and self-compared via a one-row broadcast."""
    cat = _cat(spark, sf_dir)
    rev = (
        cat.lineitem.filter(
            (F.col("l_shipdate") >= _TS("1997-01-01"))
            & (F.col("l_shipdate") < _TS("1997-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_vol().cast("decimal(28,4)")).alias("rev_dec"))
    )
    best = rev.agg(F.max("rev_dec").alias("max_dec"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("rev_dec") == F.col("max_dec"))
        .join(F.broadcast(cat.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("rev_dec").cast("double").alias("total_revenue"))
    )


def q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions over a part equi-join. The
    disjunction shares one equi-join key, so it stays a single broadcast
    hash join with a residual filter — never a BNL (SURVEY §2.3 J7)."""
    cat = _cat(spark, sf_dir)
    j = cat.lineitem.join(
        F.broadcast(cat.part.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size") <= 5) & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#22") & (F.col("p_size") <= 10) & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 15) & (q >= 20) & (q <= 30))
    )
    return j.filter(cond).agg(dec_sum(_vol(), "revenue"))


def q_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    finished multi-supplier order. EXISTS → left-semi, NOT EXISTS →
    left-anti, both at distinct (order, supplier) granularity so lineitem
    row multiplicity can't inflate the count."""
    cat = _cat(spark, sf_dir)
    fo = cat.orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    base = cat.lineitem.join(fo, F.col("l_orderkey") == F.col("o_orderkey"))
    # r10 restructure (guide §2.1/§2.4, oracle-proven equivalent): the
    # EXISTS/NOT EXISTS pair used to be a semi + anti join of THREE
    # distinct-pair aggregations of base — the lineitem⋈orders subtree
    # triplicated in the plan, 6 exchanges + 2 sort-merge joins.  At
    # pair grain the two predicates are order-level counts:
    #   EXISTS another supplier        ⇔ n_supp  > 1
    #   NOT EXISTS another LATE suppl. ⇔ n_late == 1 (the pair itself)
    # so ONE pass builds the (order, supplier, is_late) pair table and a
    # same-key window attaches both counts.  The explicit repartition on
    # l_orderkey satisfies the pair aggregate AND the window (hash(ok)
    # clusters (ok, sk)), so the whole middle runs on a single exchange;
    # per-order supplier fan-out is bounded (an order has few lineitems),
    # so the coarser key adds no skew.
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS"),
        F.lit(1),
    ).otherwise(F.lit(0))
    pairs = (
        base.select("l_orderkey", "l_suppkey", late.alias("_late"))
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("_late").alias("is_late"))
    )
    wspec = W.partitionBy("l_orderkey")
    sole_late = (
        pairs.select(
            "l_suppkey",
            "is_late",
            F.count("*").over(wspec).alias("n_supp"),
            F.sum("is_late").over(wspec).alias("n_late"),
        )
        .filter(
            (F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
    )
    return (
        sole_late.groupBy(F.col("l_suppkey").alias("w_sk"))
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(cat.supplier), F.col("w_sk") == F.col("s_suppkey"))
        .select("s_name", "numwait")
    )


def q_q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part, the minimum-balance EUROPE supplier that
    ships it (correlated MIN decorrelated into a grouped pre-aggregate +
    equality join back — the SURVEY §4 rule; ties keep all rows). The
    'offers' bridge is distinct (part, supplier) from lineitem."""
    cat = _cat(spark, sf_dir)
    eu_supp = (
        cat.supplier.join(
            F.broadcast(cat.nation.filter(F.col("n_regionkey") == 3)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    parts = cat.part.filter(
        (F.col("p_size") >= 10) & (F.col("p_size") <= 20) & (F.col("p_type") == "LARGE")
    ).select("p_partkey")
    # broadcast-filter BEFORE the distinct (the selective part predicate
    # shrinks the dedup shuffle ~50x), and materialize the candidate set
    # once — it feeds both the min pre-aggregate and the join-back
    # (multi-consumer rule; recomputing cand doubled the query)
    offers = (
        cat.lineitem.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "l_suppkey")
        .distinct()
    )
    cand = offers.join(
        F.broadcast(eu_supp), F.col("l_suppkey") == F.col("s_suppkey")
    ).localCheckpoint()
    minb = cand.groupBy(F.col("p_partkey").alias("mb_pk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        cand.join(
            minb,
            (F.col("p_partkey") == F.col("mb_pk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "nation")
    )


ORACLES.update({
    "ann_lsh_multitable": """
        WITH e AS (
            SELECT vec_id, embedding,
                   list_reduce(
                       [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                        for x in embedding], (a, b) -> a + b) AS sq
            FROM embeddings
        ),
        elems AS (
            SELECT vec_id, i, embedding[i] AS x
            FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix
        ),
        sig0 AS (
            SELECT vec_id, string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
            FROM (SELECT vec_id, plane,
                         CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(coeff AS DOUBLE)
                                             * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dot
                  FROM elems JOIN {P0} USING (i) GROUP BY 1, 2) d GROUP BY 1
        ),
        sig1 AS (
            SELECT vec_id, string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
            FROM (SELECT vec_id, plane,
                         CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(coeff AS DOUBLE)
                                             * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dot
                  FROM elems JOIN {P1} USING (i) GROUP BY 1, 2) d GROUP BY 1
        ),
        sig2 AS (
            SELECT vec_id, string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
            FROM (SELECT vec_id, plane,
                         CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(coeff AS DOUBLE)
                                             * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dot
                  FROM elems JOIN {P2} USING (i) GROUP BY 1, 2) d GROUP BY 1
        ),
        qids AS (SELECT vec_id FROM e WHERE vec_id % 50 = 0),
        cand AS (
            SELECT DISTINCT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
                FROM sig0 q JOIN qids USING (vec_id) JOIN sig0 c
                  ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
                UNION ALL
                SELECT q.vec_id, c.vec_id
                FROM sig1 q JOIN qids USING (vec_id) JOIN sig1 c
                  ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
                UNION ALL
                SELECT q.vec_id, c.vec_id
                FROM sig2 q JOIN qids USING (vec_id) JOIN sig2 c
                  ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            ) u
        ),
        pairs AS (
            SELECT cand.query_id, cand.neighbor_id,
                   list_reduce(
                       [CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(q.embedding))], (x, y) -> x + y)
                   / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
            FROM cand
            JOIN e q ON q.vec_id = cand.query_id
            JOIN e c ON c.vec_id = cand.neighbor_id
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
    """.replace("{P0}", _plane_table_sql(table=0))
    .replace("{P1}", _plane_table_sql(table=1))
    .replace("{P2}", _plane_table_sql(table=2)),
    "q6_forecast_revenue": """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 365 DAY
          )
        GROUP BY o_orderpriority
    """,
    "q7_volume_shipping": """
        WITH n AS (SELECT n_nationkey, n_name FROM nation WHERE n_name IN ('NATION_3', 'NATION_9')),
        s_sel AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier JOIN n ON s_nationkey = n_nationkey),
        c_sel AS (SELECT c_custkey, n_name AS cust_nation FROM customer JOIN n ON c_nationkey = n_nationkey)
        SELECT supp_nation, cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN s_sel ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN c_sel ON o_custkey = c_custkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          AND supp_nation <> cust_nation
        GROUP BY 1, 2, 3
    """,
    "q8_market_share": """
        WITH asia_c AS (
            SELECT c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_regionkey = 2
        )
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(CASE WHEN s_nationkey = 3
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END AS DECIMAL(28,4))) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
               AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey IN (SELECT c_custkey FROM asia_c)
        GROUP BY 1
    """,
    "q9_product_profit": """
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity
                             AS DECIMAL(28,4))) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        GROUP BY 1, 2, 3, 4
    """,
    "q11_important_parts": """
        WITH per_part AS (
            SELECT p_partkey, SUM(CAST(l_quantity * p_retailprice AS DECIMAL(28,4))) AS value_dec
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_partkey
        )
        SELECT p_partkey, CAST(value_dec AS DOUBLE) AS part_value
        FROM per_part
        WHERE CAST(value_dec AS DOUBLE) >
              (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM per_part) * 0.001
    """,
    "q12_late_lines": """
        SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 365 DAY
                    THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1
    """,
    "q13_order_distribution": """
        WITH per_c AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '4%'
            GROUP BY c_custkey
        )
        SELECT c_count, COUNT(*) AS custdist
        FROM per_c
        GROUP BY c_count
    """,
    "q14_promo_revenue": """
        SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                          THEN l_extendedprice * (1 - l_discount)
                                          ELSE 0.0 END AS DECIMAL(28,4))) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
               AS promo_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
    "q15_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        FROM rev
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
    """,
    "q19_disjunctive_revenue": """
        SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#11' AND p_size <= 5  AND l_quantity >= 1  AND l_quantity <= 11)
           OR (p_brand = 'Brand#22' AND p_size <= 10 AND l_quantity >= 10 AND l_quantity <= 20)
           OR (p_brand = 'Brand#3'  AND p_size <= 15 AND l_quantity >= 20 AND l_quantity <= 30)
    """,
    "q21_waiting_suppliers": """
        WITH base AS (
            SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ),
        all_pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM base),
        late_pairs AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM base
            WHERE l_shipdate > o_orderdate + INTERVAL 365 DAY
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM late_pairs w
        JOIN supplier ON w.l_suppkey = s_suppkey
        WHERE EXISTS (
            SELECT 1 FROM all_pairs a
            WHERE a.l_orderkey = w.l_orderkey AND a.l_suppkey <> w.l_suppkey
        )
        AND NOT EXISTS (
            SELECT 1 FROM late_pairs l2
            WHERE l2.l_orderkey = w.l_orderkey AND l2.l_suppkey <> w.l_suppkey
        )
        GROUP BY s_name
    """,
    "q2_min_balance_supplier": """
        WITH eu_supp AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name AS nation
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_regionkey = 3
        ),
        parts AS (
            SELECT p_partkey FROM part
            WHERE p_size >= 10 AND p_size <= 20 AND p_type = 'LARGE'
        ),
        offers AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        cand AS (
            SELECT p_partkey, s_suppkey, s_name, s_acctbal, nation
            FROM offers
            JOIN parts ON l_partkey = p_partkey
            JOIN eu_supp ON l_suppkey = s_suppkey
        )
        SELECT c.p_partkey, s_suppkey, s_name, s_acctbal, nation
        FROM cand c
        JOIN (SELECT p_partkey, MIN(s_acctbal) AS min_bal FROM cand GROUP BY p_partkey) m
          ON c.p_partkey = m.p_partkey AND c.s_acctbal = m.min_bal
    """,
})

# F6 map contract: wrap the g6 series oracle; the ordered string_agg
# rebuilds exactly Spark's compact to_json(map) serialization.
ORACLES["g6_citation_map"] = f"""
    SELECT ego, alter_id,
           CAST(COUNT(*) AS BIGINT) AS n_years,
           '{{' || string_agg('"' || year || '":' || shared_cum_citations, ',' ORDER BY year) || '}}' AS series_json
    FROM ({ORACLES["g6_edge_citation_series"]}) s
    GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Training-batch assembly (operators/packing.py): sequence packing,
# passage-level dedup, source-weighted epoch mixing.


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing schedule: shard the corpus by
    content hash, lay token streams head-to-tail per shard, cut into
    512-token training sequences; one row per document with its
    placement (shard, offset, first/last sequence index)."""
    from iconic_data_science_spark.operators.packing import pack_sequences

    cat = _cat(spark, sf_dir)
    return pack_sequences(cat.documents, seq_len=512, shards=8)


def q_dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: 3-token passages hashed corpus-wide,
    first occurrence kept; per-document duplicate passage/token counts —
    the sub-document pass document-level dedup misses."""
    from iconic_data_science_spark.operators.packing import passage_dedup

    cat = _cat(spark, sf_dir)
    return passage_dedup(cat.documents, passage_tokens=3)


def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted epoch replication (training-mix assembly):
    src0 ×2.5, src1 ×1.5, src2 ×0.5, src3 ×0, everything else ×1;
    fractional epochs decided by the deterministic content-hash bucket."""
    from iconic_data_science_spark.operators.packing import mix_epochs

    cat = _cat(spark, sf_dir)
    return mix_epochs(
        cat.documents, {"src0": 250, "src1": 150, "src2": 50, "src3": 0}
    )


# Fixed BPE merge table for the oracled encoder query — learned once by
# operators/bpe.bpe_train(documents, num_merges=10) on the sf0.01 corpus
# (deterministic: pair-count desc, lexicographic tie-break) and embedded
# as literals on BOTH engine sides, like the LSH perm/plane tables.
_BPE_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
]


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding under a fixed merge table (rank-ordered replaceAll
    per merge — the standard encoder): per-document word/char/BPE-token
    counts. Map-side only; the oracle replays the identical literal
    merge chain."""
    from iconic_data_science_spark.operators.bpe import bpe_token_counts

    cat = _cat(spark, sf_dir)
    return bpe_token_counts(cat.documents, _BPE_MERGES)


def q_text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training (3-tier since round 3: the word-frequency table
    collects once under a vocab threshold and the classical incremental
    trainer runs driver-locally — ONE Spark job; the distributed
    per-round weighted-pair-count loop is the exact over-threshold
    fallback): the learned rank-ordered merge table. Hash-oracled
    since round 8 (closing the r7 rows-only debt): num_merges is a
    fixed literal, so the oracle UNROLLS the ten training rounds as
    chained CTEs — each round's argmax pair is a 1-row CTE and the
    next round's vocabulary applies it with a literal (non-regex)
    own-delimiter replace whose pattern is BUILT from that CTE's
    columns — exactly the classical greedy recurrence both tiers are
    golden-pinned to in tests/test_bpe.py."""
    from iconic_data_science_spark.operators.bpe import bpe_train

    cat = _cat(spark, sf_dir)
    merges = bpe_train(cat.documents, num_merges=10)
    return spark.createDataFrame(
        [(i, left, right) for i, (left, right) in enumerate(merges)],
        "rank int, left string, right string",
    )


def _bpe_oracle_sql(merges: list[tuple[str, str]]) -> str:
    # own-delimiter representation (double-space join): single-pass
    # non-overlapping replaceAll == classical greedy BPE; identical
    # scan semantics in RE2 and Java regex (operators/bpe._spaced)
    enc = "' ' || array_to_string(string_split_regex(w, ''), '  ') || ' '"
    for left, right in merges:
        enc = f"regexp_replace({enc}, ' {left}  {right} ', ' {left}{right} ', 'g')"
    return f"""
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
               CAST(list_reduce([len(w) for w in string_split(lower(text), ' ')],
                                (a, b) -> a + b) AS BIGINT) AS n_chars,
               CAST(list_reduce(
                   [len(string_split(trim({enc}), '  '))
                    for w in string_split(lower(text), ' ')],
                   (a, b) -> a + b) AS BIGINT) AS n_bpe_tokens
        FROM documents
    """


def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility/compression rollup per language — the
    standard tokenizer-eval table (tokens-per-word a.k.a. fertility,
    chars-per-token a.k.a. compression), aggregated from the oracled
    BPE encoder's per-doc counts. Ratios are BIGINT milli-units
    (1000·x div y) so the hash gate stays float-free. A language whose
    fertility runs high is under-served by the merge table — the
    signal tokenizer teams track per release."""
    from iconic_data_science_spark.operators.bpe import bpe_token_counts

    cat = _cat(spark, sf_dir)
    counts = bpe_token_counts(cat.documents, _BPE_MERGES)
    return (
        counts.join(cat.documents.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            F.expr("1000 * n_bpe_tokens div n_words").alias("fertility_x1000"),
            F.expr("1000 * n_chars div n_bpe_tokens").alias("chars_per_token_x1000"),
        )
    )


def q_ev_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ingestion quota (operators/events.quota_sample): the
    first 50 events per event_type in deterministic (ts, event_id)
    order, with admission index — reproducible crawl/pipeline budget
    control. streaming.events.quota_sampler_state is the continuous
    twin (explicit admitted-count state); stream==batch pinned in
    tests/test_streaming.py."""
    from iconic_data_science_spark.operators.events import quota_sample

    cat = _cat(spark, sf_dir)
    return quota_sample(cat.events, key_col="event_type", quota=50)


def q_ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent click/view within a 1-hour lookback (as-of union+window form,
    one user-keyed shuffle; deterministic max-event_id tie-break)."""
    from iconic_data_science_spark.operators.events import last_touch_attribution

    cat = _cat(spark, sf_dir)
    return last_touch_attribution(cat.events, lookback_s=3600)


def q_curation_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile gating: drop each source's worst 10% by
    quality score (percent_rank window within source) — the relative
    curation filter absolute thresholds can't express."""
    from iconic_data_science_spark.operators.text import quality_percentile_gate

    cat = _cat(spark, sf_dir)
    return quality_percentile_gate(cat.documents, drop_bottom_pct=10)


def q_disambig_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Author-name disambiguation candidates (blocked record linkage —
    the workload the reference archived literature for,
    archive/links.md): normalize → last-token+first-initial blocking →
    in-block token-Jaccard + Levenshtein verify. Runs over brand-
    enriched part names (the synthetic corpus's only multi-token name
    column with near-duplicates)."""
    from iconic_data_science_spark.operators.disambiguation import (
        candidate_author_pairs,
    )

    cat = _cat(spark, sf_dir)
    names = cat.part.select(
        F.col("p_partkey").alias("author"),
        F.concat_ws(" ", "p_name", "p_brand").alias("name"),
    )
    return candidate_author_pairs(
        names, min_token_jaccard=0.4, max_edit_distance=3
    )


def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-facing packing manifest: per (shard, training sequence,
    document) the token span the document occupies inside the sequence
    — the attention-mask/loss-boundary metadata for concat-and-chunk
    batches."""
    from iconic_data_science_spark.operators.packing import pack_manifest

    cat = _cat(spark, sf_dir)
    return pack_manifest(cat.documents, seq_len=512, shards=8)


def q_text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking for embedding/retrieval prep: 16-token
    windows every 12 tokens (4-token overlap), map-side explode."""
    from iconic_data_science_spark.operators.packing import chunk_documents

    cat = _cat(spark, sf_dir)
    return chunk_documents(cat.documents, chunk_tokens=16, stride=12)


def q_pack_bins_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-respecting next-fit bin packing (applyInPandas custom
    stateful operator — the sequential recurrence a window can't
    express; the oracle walks the identical recurrence as a recursive
    CTE)."""
    from iconic_data_science_spark.operators.packing import pack_bins_nextfit

    cat = _cat(spark, sf_dir)
    return pack_bins_nextfit(cat.documents, capacity=512, shards=8)


ORACLES["ev_quota_sample"] = """
    WITH r AS (
        SELECT event_type AS key, event_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS BIGINT) AS seq
        FROM events
    )
    SELECT key, event_id, seq FROM r WHERE seq <= 50
"""

ORACLES["ev_attribution"] = """
    WITH t AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE event_type IN ('click', 'view')
    ),
    p AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ),
    j AS (
        SELECT p.event_id, p.user_id, p.ts, p.value,
               t.event_id AS tid, t.event_type AS ttype, t.ts AS tts,
               ROW_NUMBER() OVER (
                   PARTITION BY p.event_id
                   ORDER BY t.ts DESC, t.event_id DESC
               ) AS rn
        FROM p LEFT JOIN t
          ON t.user_id = p.user_id
         AND t.ts <= p.ts
         AND t.ts >= p.ts - INTERVAL '3600 seconds'
    )
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS amount,
           tid AS attributed_id, ttype AS attributed_type,
           epoch_us(tts) AS attributed_ts_us
    FROM j WHERE rn = 1
"""

ORACLES["text_bpe_encode"] = _bpe_oracle_sql(_BPE_MERGES)


def _bpe_train_oracle_sql(num_merges: int = 10) -> str:
    """Unrolled BPE TRAINING oracle (r7 verdict item 5). Round k:
    weighted pair counts over vocabulary w{k}, argmax with the
    (count desc, left asc, right asc) tie-break as a 1-row CTE m{k},
    then w{k+1} applies the merge via plain (non-regex) replace whose
    literal pattern is concatenated from m{k}'s columns — the
    own-delimiter representation makes single-pass non-overlapping
    replace exactly classical greedy BPE (operators/bpe._spaced), and
    avoiding regex means a merge symbol containing a metacharacter
    can never change semantics. An empty m{k} (no pairs left) empties
    every later w/m CTE, matching the trainer's early break."""
    parts = [
        """wf AS (
        SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY 1
    ),
    w0 AS MATERIALIZED (
        SELECT ' ' || array_to_string(string_split_regex(word, ''), '  ') || ' ' AS sym,
               cnt
        FROM wf
    )"""
    ]
    for k in range(num_merges):
        parts.append(
            f"""p{k} AS (
        SELECT p.l AS l, p.r AS r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
            SELECT unnest([{{'l': syms[i], 'r': syms[i+1]}}
                           for i in generate_series(1, len(syms) - 1)]) AS p,
                   cnt
            FROM (SELECT string_split(trim(sym), '  ') AS syms, cnt FROM w{k})
        ) GROUP BY 1, 2
    ),
    m{k} AS MATERIALIZED (SELECT l, r FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
    w{k + 1} AS MATERIALIZED (
        SELECT replace(sym, ' ' || m.l || '  ' || m.r || ' ',
                       ' ' || m.l || m.r || ' ') AS sym, cnt
        FROM w{k}, m{k} m
    )"""
        )
    union = "\n    UNION ALL ".join(
        f'SELECT CAST({k} AS INT) AS rank, l AS "left", r AS "right" FROM m{k}'
        for k in range(num_merges)
    )
    return "WITH " + ",\n    ".join(parts) + f"\n    {union}"


ORACLES["text_bpe_vocab"] = _bpe_train_oracle_sql(10)
ORACLES["text_bpe_fertility"] = f"""
    WITH c AS ({ORACLES["text_bpe_encode"]}),
    j AS (SELECT d.lang, c.n_words, c.n_chars, c.n_bpe_tokens
          FROM c JOIN documents d USING (doc_id))
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST(1000 * SUM(n_bpe_tokens) // SUM(n_words) AS BIGINT) AS fertility_x1000,
           CAST(1000 * SUM(n_chars) // SUM(n_bpe_tokens) AS BIGINT) AS chars_per_token_x1000
    FROM j GROUP BY lang
"""
ORACLES["text_chunk_sliding"] = """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    x AS (
        SELECT doc_id,
               unnest([i for i in generate_series(0, (greatest(0, len(toks) - 16) + 11) // 12)]) AS ci,
               unnest([array_to_string(list_slice(toks, i * 12 + 1, i * 12 + 16), ' ')
                       for i in generate_series(0, (greatest(0, len(toks) - 16) + 11) // 12)]) AS ct
        FROM t
    )
    SELECT doc_id,
           CAST(ci AS BIGINT) AS chunk_idx,
           CAST(ci * 12 AS BIGINT) AS tok_start,
           CAST(len(string_split(ct, ' ')) AS BIGINT) AS n_tokens,
           ct AS chunk_text
    FROM x
"""

# per-source quantile gate: compose the proven quality-score oracle with
# a percent_rank window (ties share ranks in both engines; the score is
# already bit-identical across engines per the text_quality_score row)
ORACLES["curation_quality_gate"] = f"""
    WITH q AS ({ORACLES["text_quality_score"]})
    SELECT q.doc_id, d.source, q.score,
           cume_dist() OVER (PARTITION BY d.source ORDER BY q.score) AS cume,
           cume_dist() OVER (PARTITION BY d.source ORDER BY q.score)
               > CAST(10 AS DOUBLE) / 100.0 AS keep
    FROM q JOIN documents d USING (doc_id)
"""

_MD5_FOLD = """list_reduce(
    [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
     for c in string_split_regex(substr(md5({arg}), 1, 12), '')],
    (a, b) -> a * 16 + b)"""

ORACLES.update({
    "pack_sequences": f"""
        WITH b AS (
            SELECT doc_id,
                   {_MD5_FOLD.format(arg="CAST(doc_id AS VARCHAR)")} % 8 AS shard,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, shard, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS tok_end
            FROM b
        )
        SELECT doc_id, shard, n_tokens,
               tok_end - n_tokens AS tok_start,
               (tok_end - n_tokens) // 512 AS first_seq,
               (tok_end - 1) // 512 AS last_seq
        FROM c
    """,
    "dedup_passage": f"""
        WITH t AS (
            SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
        ),
        p AS (
            SELECT doc_id,
                   unnest([i for i in generate_series(0, (len(toks) + 2) // 3 - 1)]) AS p_idx,
                   unnest([array_to_string(list_slice(toks, i * 3 + 1, i * 3 + 3), ' ')
                           for i in generate_series(0, (len(toks) + 2) // 3 - 1)]) AS passage
            FROM t
        ),
        h AS (
            SELECT doc_id, CAST(p_idx AS BIGINT) AS p_idx,
                   {_MD5_FOLD.format(arg="passage")} AS p_hash,
                   CAST(len(string_split(passage, ' ')) AS BIGINT) AS p_tokens
            FROM p
        ),
        k AS (
            SELECT doc_id, p_tokens,
                   ROW_NUMBER() OVER (PARTITION BY p_hash ORDER BY doc_id, p_idx) AS rn
            FROM h
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_passages,
               CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_passages,
               CAST(SUM(CASE WHEN rn > 1 THEN p_tokens ELSE 0 END) AS BIGINT) AS dup_tokens
        FROM k GROUP BY doc_id
    """,
    "mix_epochs": f"""
        WITH b AS (
            SELECT doc_id, source,
                   {_MD5_FOLD.format(arg="CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
                   CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 150
                               WHEN 'src2' THEN 50 WHEN 'src3' THEN 0
                               ELSE 100 END AS pct
            FROM documents
        ),
        c AS (
            SELECT doc_id, source,
                   CAST(pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END AS BIGINT) AS copies
            FROM b
        )
        SELECT doc_id, source, unnest(generate_series(1, copies)) AS epoch
        FROM c WHERE copies >= 1
    """,
    "pack_bins_nextfit": f"""
        WITH RECURSIVE b AS (
            SELECT doc_id,
                   {_MD5_FOLD.format(arg="CAST(doc_id AS VARCHAR)")} % 8 AS shard,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        o AS (
            SELECT doc_id, shard, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
            FROM b
        ),
        walk AS (
            SELECT doc_id, shard, n_tokens, rn,
                   CAST(0 AS BIGINT) AS bin_idx, n_tokens AS bin_fill
            FROM o WHERE rn = 1
            UNION ALL
            SELECT o.doc_id, o.shard, o.n_tokens, o.rn,
                   CASE WHEN w.bin_fill + o.n_tokens > 512
                        THEN w.bin_idx + 1 ELSE w.bin_idx END,
                   CASE WHEN w.bin_fill + o.n_tokens > 512
                        THEN o.n_tokens ELSE w.bin_fill + o.n_tokens END
            FROM o JOIN walk w ON o.shard = w.shard AND o.rn = w.rn + 1
        )
        SELECT doc_id, shard, n_tokens, bin_idx, bin_fill FROM walk
    """,
    "disambig_candidates": """
        WITH base AS (
            SELECT p_partkey AS id,
                   trim(regexp_replace(regexp_replace(
                       lower(p_name || ' ' || p_brand),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
            FROM part
        ),
        b2 AS (SELECT id, norm, string_split(norm, ' ') AS toks0 FROM base),
        b3 AS (
            SELECT id, norm,
                   toks0[len(toks0)] || '|' || substr(toks0[1], 1, 1) AS block,
                   list_distinct(toks0) AS toks
            FROM b2
        ),
        ok AS (SELECT block FROM b3 GROUP BY block HAVING COUNT(*) <= 1000),
        bb AS (SELECT b3.* FROM b3 JOIN ok USING (block))
        SELECT a.id AS id1, b.id AS id2,
               len(list_intersect(a.toks, b.toks))
                   / len(list_distinct(list_concat(a.toks, b.toks))) AS token_jaccard,
               CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS edit_distance
        FROM bb a JOIN bb b ON a.block = b.block AND a.id < b.id
        WHERE len(list_intersect(a.toks, b.toks))
                  / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.4
          AND levenshtein(a.norm, b.norm) <= 3
    """,
    # G8 upgraded from rows-only: the GEXF document is deterministic
    # (sorted fragments), so DuckDB can rebuild the identical bytes —
    # string_agg ORDER BY frag == Spark array_sort(collect_list) for
    # ASCII fragments under binary collation.
    "g8_gexf": """
        WITH paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
        py AS (
            SELECT o_orderkey AS paper FROM orders
            WHERE CAST(year(o_orderdate) AS BIGINT) = 1995
        ),
        e AS (
            SELECT a.author AS ego, b.author AS alter_id, COUNT(*) AS pt
            FROM paa a
            JOIN paa b ON a.paper = b.paper AND a.author <> b.author
            JOIN py ON py.paper = a.paper
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        ),
        nx AS (
            SELECT COALESCE(string_agg(frag, chr(10) ORDER BY frag), '') AS nodes_xml
            FROM (SELECT DISTINCT '<node id="' || ego || '" label="' || ego || '" />' AS frag FROM e)
        ),
        ex AS (
            SELECT COALESCE(string_agg(frag, chr(10) ORDER BY frag), '') AS edges_xml
            FROM (
                SELECT '<edge source="' || ego || '" target="' || alter_id
                       || '" weight="' || pt || '" />' AS frag
                FROM e WHERE ego < alter_id
            )
        )
        SELECT '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
               || '<gexf xmlns="http://www.gexf.net/1.2draft" version="1.2">' || chr(10)
               || '<graph mode="static" defaultedgetype="undirected">' || chr(10)
               || '<nodes>' || chr(10) || nodes_xml || chr(10) || '</nodes>' || chr(10)
               || '<edges>' || chr(10) || edges_xml || chr(10) || '</edges>' || chr(10)
               || '</graph>' || chr(10) || '</gexf>' AS gexf
        FROM nx, ex
    """,
})

ORACLES["pack_manifest"] = f"""
    WITH ps AS ({ORACLES["pack_sequences"]}),
    x AS (
        SELECT shard, doc_id, tok_start, tok_start + n_tokens AS tok_end,
               unnest(generate_series(first_seq, last_seq)) AS s
        FROM ps
    )
    SELECT shard, CAST(s AS BIGINT) AS seq, doc_id,
           CAST(GREATEST(0, tok_start - s * 512) AS BIGINT) AS start_in_seq,
           CAST(LEAST(512, tok_end - s * 512) AS BIGINT) AS end_in_seq
    FROM x
"""


# ---------------------------------------------------------------------------
# Round-2 continuation (session 3): lexical retrieval, semantic dedup
# pruning, deterministic corpus shuffle, token-budget selection.

_BM25_TERMS = ["customer", "merge", "spark", "window"]


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact BM25 top-20 for a bag-of-words query — the corpus
    search / hard-negative-mining retrieval surface. Scores are pure
    BIGINT rational arithmetic (k1=6/5, b=3/4 cleared to integer
    products), so the oracle reproduces them bit-for-bit; top-k is a
    TakeOrdered sort+limit, never a global window."""
    from iconic_data_science_spark.operators.retrieval import bm25_topk

    cat = _cat(spark, sf_dir)
    return bm25_topk(cat.documents, _BM25_TERMS, k=20)


def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (arXiv 2303.09540): embeddings
    land in deterministic hyperplane cells; within a cell a vector is
    pruned when a lower-id vector covers it at cosine ≥ 0.4. Cell-scoped
    equi-join — never all-pairs — with integer-lattice cosines."""
    from iconic_data_science_spark.operators.similarity import semdedup_prune

    cat = _cat(spark, sf_dir)
    return semdedup_prune(cat.embeddings, threshold=0.4)


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global training order: md5(seed:id) permutation with a
    scale-correct distributed enumeration (range repartition →
    per-partition counts → prefix-sum offsets → partition-local
    row_number), not a single-partition window."""
    from iconic_data_science_spark.operators.packing import seeded_shuffle

    cat = _cat(spark, sf_dir)
    return seeded_shuffle(cat.documents, seed=42)


def q_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked selection under a per-source token budget (the
    data-mixing cut): best documents first within each source until 800
    tokens are spent; running sums windowed per source partition."""
    from iconic_data_science_spark.operators.packing import select_token_budget

    cat = _cat(spark, sf_dir)
    return select_token_budget(cat.documents, budget_tokens=800)


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the MAG-format abstract inverted index from text — the
    write-side twin of reconstruct_abstract (F7 surface; the reference
    ships the artifact, data/samples/PaperAbstractsInvertedIndex.txt:1,
    but never builds or queries it). Deterministic sorted-key
    serialization so the JSON hashes identically in both engines."""
    from iconic_data_science_spark.operators.text import build_inverted_index

    cat = _cat(spark, sf_dir)
    return build_inverted_index(cat.documents)


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (Jégou et al. 2011): 8 subspaces
    × 16 codewords, corpus vectors touched only through their 8 codes,
    per-query distance table broadcast — the memory-compressed third
    ANN scale path beside hyperplane LSH and IVF. All-BIGINT lattice
    distances, so the oracle reproduces ranks exactly."""
    from iconic_data_science_spark.operators.similarity import pq_topk

    cat = _cat(spark, sf_dir)
    return pq_topk(cat.embeddings, _ann_queries(cat), k=5, m=8, n_codes=16)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup — the new-batch-vs-persisted-index
    shape of a continuously-crawled corpus (even doc_ids play the
    existing corpus, odd the incoming batch): cross-side band-bucket
    candidates only, exact-Jaccard verified. The oracle states the
    equivalence: the cross-side slice of the full-corpus LSH join."""
    from iconic_data_science_spark.operators.dedup import minhash_lsh_incremental

    cat = _cat(spark, sf_dir)
    corpus = cat.documents.filter(F.col("doc_id") % 2 == 0)
    new_docs = cat.documents.filter(F.col("doc_id") % 2 == 1)
    return minhash_lsh_incremental(corpus, new_docs, n=3, num_perm=16, rows_per_band=4, threshold=0.5)


def q_ts_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event-volume anomaly flags (|z| > 2 vs the corpus-wide
    hourly mean): BIGINT counts and BIGINT moment sums, one broadcast
    stats row — the feed-monitoring primitive, with no double
    aggregation anywhere."""
    from iconic_data_science_spark.operators.timeseries import anomaly_hours

    cat = _cat(spark, sf_dir)
    return anomaly_hours(cat.events, z=2.0)


def q_lh_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot/CDC diff between two table versions (the audit
    companion to the write_snapshot/read_snapshot time-travel module):
    added / removed / changed per key, detected on narrow md5
    fingerprints instead of full payload comparison. Versions are
    derived deterministically from the documents table (v_old drops
    doc_id%7==0, v_new drops %5==0 and edits %11==0)."""
    from iconic_data_science_spark.operators.lakehouse import snapshot_diff

    cat = _cat(spark, sf_dir)
    d = cat.documents
    old = d.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text", "source")
    new = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" edited")))
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    return snapshot_diff(old, new, keys=["doc_id"], compare_cols=["text", "source"])


def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: ground-truth lang × predicted lang
    doc counts — the eval harness for the stopword-vote classifier
    (precision/recall per language fall straight out of the cells)."""
    from iconic_data_science_spark.operators.text import language_id

    cat = _cat(spark, sf_dir)
    li = language_id(cat.documents)
    return (
        cat.documents.select("doc_id", "lang")
        .join(li, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def q_text_bm25_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage hybrid search: BM25 top-20 lexical candidates, then
    embedding-cosine rerank against the top hit's vector (integer
    lattice — fully oracled). The standard retrieval stack shape:
    cheap sparse recall, dense precision on a bounded candidate set."""
    from iconic_data_science_spark.operators.retrieval import bm25_embed_rerank

    cat = _cat(spark, sf_dir)
    return bm25_embed_rerank(
        cat.documents, cat.embeddings, _BM25_TERMS, k_candidates=20, k=10
    )


def q_g_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths over the coauthor graph
    (bounded Bellman-Ford, 6 relaxation rounds): edge cost =
    greatest(1, 5 - papers_together) — closer collaborators are cheaper
    to reach — from the minimum author id. Integer distances; the
    oracle walks the identical bounded relaxation as a recursive CTE."""
    from iconic_data_science_spark.operators.graph import sssp

    cat = _cat(spark, sf_dir)
    edges = coauthor_edges(magmap.paa(cat), magmap.paper_years(cat)).select(
        F.col("ego").alias("src"),
        F.col("alter_id").alias("dst"),
        F.greatest(F.lit(1), F.lit(5) - F.col("papers_together")).cast("long").alias("cost"),
    )
    return sssp(edges, rounds=6)


def q_g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (5 rounds, ties → min
    label) over the thresholded 1995 coauthor graph — the deterministic
    fixed-round LPA contract (Raghavan et al. 2007). Oracle: the
    identical vote/argmax replayed as a round-stamped recursive CTE
    (the k-core oracle pattern)."""
    from iconic_data_science_spark.operators.graph import label_propagation

    cat = _cat(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    edges = coauthor_edges(magmap.paa(cat), years, min_papers_together=2).select(
        F.col("ego").alias("src"), F.col("alter_id").alias("dst")
    )
    return label_propagation(edges, rounds=5)


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-card rollup a corpus release ships: docs / tokens /
    chars / exact-distinct texts at every (lang × source) grain — CUBE
    (all four grouping sets) in one scan, partial-aggregated; subtotal
    nulls coalesced to 'ALL' so the hash gate is type-stable."""
    cat = _cat(spark, sf_dir)
    d = cat.documents.select(
        "lang",
        "source",
        F.size(F.split(F.lower(F.col("text")), " ")).cast("long").alias("n_toks"),
        F.length("text").cast("long").alias("nc"),
        F.md5("text").alias("t_md5"),
    )
    return (
        d.cube("lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("nc").cast("long").alias("n_chars"),
            F.countDistinct("t_md5").cast("long").alias("distinct_texts"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            "n_docs",
            "n_tokens",
            "n_chars",
            "distinct_texts",
        )
    )


def q_lh_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning — the OPTIMIZE step every table
    format runs: a per-(year, month) file inventory derived from orders
    packs into right-sized rewrite groups by the next-fit recurrence
    (target 5000 rows/group; oversized files sit alone). The plan runs
    over file METADATA (one row per file), partitions plan in parallel
    via applyInPandas, and the oracle walks the identical recurrence as
    a recursive CTE."""
    from iconic_data_science_spark.operators.lakehouse import compaction_plan

    cat = _cat(spark, sf_dir)
    inventory = cat.orders.groupBy(
        F.year("o_orderdate").cast("long").alias("part"),
        F.month("o_orderdate").cast("long").alias("file_id"),
    ).agg(F.count("*").cast("long").alias("size"))
    return compaction_plan(inventory, target=5000)


def q_text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-hash dedup (LBFS/FastCDC idea
    on text): rolling-window Horner hash picks boundaries that move
    WITH the content, chunks fingerprint with md5, and shared chunk
    hashes across docs surface partial duplication at sub-document
    grain. All array HOFs inside the row — no per-char explode; the
    only shuffle is the chunk-hash dedup join. Oracle replays the
    identical hash per position with a window cumulative boundary
    count."""
    from iconic_data_science_spark.operators.text import cdc_chunks

    cat = _cat(spark, sf_dir)
    return cdc_chunks(cat.documents)


def q_lh_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout statistics (the relational core of Delta's
    OPTIMIZE ZORDER, Morton 1966): orders keyed by (custkey, order-day)
    Morton-interleave into a z-value, rows land in fixed z-range chunks
    (the file-sized unit), and per-chunk min/max of BOTH dims are the
    skipping stats a format footer stores. Map-side arithmetic + one
    per-chunk partial agg — no global sort, so the layout pass runs at
    any scale. Pruning effectiveness asserted in
    tests/test_lakehouse.py."""
    from iconic_data_science_spark.operators.lakehouse import zorder_chunk_stats

    cat = _cat(spark, sf_dir)
    base = cat.orders.select(
        (F.col("o_custkey") % 65536).cast("long").alias("ck"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
            % 65536
        ).cast("long").alias("dd"),
    )
    return zorder_chunk_stats(base, "ck", "dd")


def q_lh_hilbert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout statistics — the better-locality twin of
    lh_zorder_stats (consecutive Hilbert indices are always grid-
    adjacent, so per-chunk dim spans are tighter; measured against
    Morton in SCALE.md). Same shape: map-side curve arithmetic (one
    F.aggregate fold over bit levels — no exponential expression
    tree), fixed index-range chunks, one per-chunk partial agg. The
    oracle replays the identical bit walk as 16 generated CTE levels."""
    from iconic_data_science_spark.operators.lakehouse import hilbert_chunk_stats

    cat = _cat(spark, sf_dir)
    base = cat.orders.select(
        (F.col("o_custkey") % 65536).cast("long").alias("ck"),
        (
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
            % 65536
        ).cast("long").alias("dd"),
    )
    return hilbert_chunk_stats(base, "ck", "dd")


def q_ev_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user estimate per event type
    (Bar-Yossef et al. 2002) — the engine-exact approximate-distinct
    twin of A2's HLL surface (`a2_approx_distinct` stays rows-only
    because Spark's HLL sketch bytes are engine-internal; KMV's
    seeded-LCG hashes and BIGINT division reproduce bit-for-bit in the
    oracle). One (group, hash) distinct shuffle, ≤ k rows per group
    after the rank filter, mergeable by construction."""
    from iconic_data_science_spark.operators.sketch import kmv_distinct

    cat = _cat(spark, sf_dir)
    return kmv_distinct(cat.events)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-k (round 4) — the FAISS IVFADC
    composition: IVF prunes each query to its 2 nearest cells (of 8),
    PQ ADC scores only those candidates through their 8 BIGINT codes.
    Centroids and codebooks are the deterministic lowest-id seeds, ADC
    stays on the product lattice, so the composed oracle replays the
    identical pipeline — hash-exact. The multiplicative scale win over
    plain PQ: the partial-sum shuffle carries ~nprobe/n_cells of the
    corpus per query instead of all of it."""
    from iconic_data_science_spark.operators.similarity import ivfpq_topk

    cat = _cat(spark, sf_dir)
    emb = cat.embeddings
    return ivfpq_topk(emb, emb.filter(F.col("vec_id") % 50 == 0), k=5, nprobe=2)


def q_ev_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-user overlap between event types, estimated
    ENTIRELY from the per-type KMV sketches (round 4): union minima by
    the KMV merge rule, intersection by inclusion–exclusion, clamped
    at 0. After the one bounded-shuffle sketch build, every pairwise
    overlap touches ≤ k rows per type — the data is never rescanned,
    which is why a 100 TB feed keeps sketches instead of re-joining.
    Integer lattice; the oracle reproduces the estimates bit-for-bit.
    Accuracy vs exact overlaps asserted in tests."""
    from iconic_data_science_spark.operators.sketch import kmv_overlap

    cat = _cat(spark, sf_dir)
    return kmv_overlap(cat.events)


def q_ev_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the event stream (Cormode &
    Muthukrishnan 2005): 4×64 grid of BIGINT cells with literal seeded
    hash rows, min-over-rows estimate, users at est ≥ 80 — the
    fixed-memory mergeable summary, with true counts alongside so the
    one-sided (est ≥ true) property is visible. Deterministic integers:
    the oracle rebuilds the identical sketch."""
    from iconic_data_science_spark.operators.sketch import cms_heavy_hitters

    cat = _cat(spark, sf_dir)
    return cms_heavy_hitters(cat.events, threshold=80)


def q_ev_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch percentiles (p50/p90/p99) of event value per
    type: unit-width integer bins, smallest bin covering p% by the
    all-BIGINT test 100·cum ≥ p·N — the deterministic t-digest/KLL
    niche (single pass, one row of state per (group, bin))."""
    from iconic_data_science_spark.operators.sketch import histogram_quantiles

    cat = _cat(spark, sf_dir)
    return histogram_quantiles(cat.events)


def q_mm_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ffprobe-style metadata pass over a mixed media corpus: REAL
    ISO-BMFF box walking (MP4 duration/track count) and MP3
    frame-header parsing (bitrate/sample-rate/frame count) plus the
    decodable formats' basic facts — container triage without spending
    decode cycles, which is how a 100 TB crawl schedules its decoders.
    HASH-ORACLED: every synth_media_mixed payload is generated from
    arithmetic on media_id (MP4 duration/timescale/tracks, MP3
    bitrate/rate/frame count, WAV sample count, AVI frame count, image
    codec rotation), so the DuckDB twin recomputes the expected probe
    fields from range(0,256) — if the encoders or the byte-level
    parsers drift from the generation parameters, the hash breaks."""
    from iconic_data_science_spark.operators.multimodal import probe_media, synth_media_mixed

    ensure_engine_conf(spark)
    return probe_media(synth_media_mixed(spark, 256))


def q_mm_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup pairs, END-TO-END under the hash
    gate: 16 deterministic base images × 4 variants (BMP / bit-exact
    PNG / JPEG re-encode / 3:4 nearest-resize BMP) → real decode →
    grayscale → 32×32 DCT-II pHash (multimodal.phash64) → banded
    16→8-bit Hamming join (multimodal.phash_neardup_pairs). The corpus
    is built so ground truth is id arithmetic (media_id = group·4 +
    variant; within-group hamming ≤ 4 ≪ cross-group ≥ 22, margin
    pinned in tests/test_llm_ops.py), so the DuckDB twin replays the
    expected pair set — exactly the within-group pairs — from range():
    any drift in a codec, the DCT, the median threshold, or the band
    join breaks the hash. n_bands=8 makes recall GUARANTEED for
    hamming < 8 (pigeonhole) and max_hamming=10 kills every
    cross-group candidate. The byte-level twin of dedup_simhash_pairs:
    byte dedup misses a re-encoded or resized image; this catches both."""
    from iconic_data_science_spark.operators.multimodal import (
        phash64,
        phash_neardup_pairs,
        synth_image_neardup,
    )

    ensure_engine_conf(spark)
    pairs = phash_neardup_pairs(
        phash64(synth_image_neardup(spark, 16)), max_hamming=10, n_bands=8
    )
    return pairs.select("id1", "id2")


def q_mm_lossless_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode under the HASH gate: the lossless corpus
    (BMP/PNG images, PCM16 WAV, uncompressed AVI — every byte the
    decoder recovers equals the generator arithmetic) through the same
    decode_media pass as mm_decode_stats. The DuckDB twin replays each
    pixel/sample statistic as pure integer arithmetic over range() —
    sum_abs and peak recompute the generator pattern value-for-value,
    so an off-by-one in a BMP row pad, a PNG filter, a WAV sample
    width, or an AVI frame walk breaks the hash. (mm_decode_stats
    keeps the full corpus including JPEG/GIF and stays rows-only:
    their decoded pixels are codec outputs — quantized — not
    SQL-replayable arithmetic.)"""
    from iconic_data_science_spark.operators.multimodal import decode_media, synth_media_lossless

    ensure_engine_conf(spark)
    return decode_media(synth_media_lossless(spark, 256), require_codecs=True)


from iconic_data_science_spark.operators.lakehouse import compaction_oracle_sql as _compaction_oracle_sql  # noqa: E402

ORACLES["lh_compaction_plan"] = _compaction_oracle_sql(
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS part,
              CAST(month(o_orderdate) AS BIGINT) AS file_id,
              CAST(COUNT(*) AS BIGINT) AS size
       FROM orders GROUP BY 1, 2""",
    target=5000,
)

from iconic_data_science_spark.operators.lakehouse import hilbert_oracle_levels as _hilbert_levels  # noqa: E402

ORACLES["lh_hilbert_stats"] = f"""
    WITH b AS (
        SELECT CAST(o_custkey % 65536 AS BIGINT) AS x0,
               CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y0
        FROM orders
    ),
    s0 AS (SELECT x0, y0, x0 AS x, y0 AS y, CAST(0 AS BIGINT) AS d FROM b),
    {_hilbert_levels(16)}
    SELECT CAST(d >> 18 AS BIGINT) AS chunk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x0) AS min_x, MAX(x0) AS max_x,
           MIN(y0) AS min_y, MAX(y0) AS max_y
    FROM s16 GROUP BY 1
"""

from iconic_data_science_spark.operators.text import cdc_oracle_sql as _cdc_oracle_sql  # noqa: E402

ORACLES["text_cdc_chunks"] = _cdc_oracle_sql()

# mm oracles (round 4): synth_media / synth_media_mixed payloads are pure
# arithmetic on media_id, so DuckDB regenerates the EXPECTED values from
# range(0,256) while Spark measures the REAL bytes — encoder/parser drift
# breaks the hash. byte histogram: payload = reps repeats of the 16-byte
# md5(media_id) digest, so bin counts = reps × (hex digits at odd
# positions of the md5 hex string, parsed as the byte's high nibble).
ORACLES["mm_byte_histogram"] = """
    WITH m AS (
        SELECT CAST(t.range AS BIGINT) AS media_id,
               md5(CAST(t.range AS VARCHAR)) AS h,
               CAST(t.range % 16 + 1 AS BIGINT) AS reps
        FROM range(0, 256) t
    ),
    nib AS (
        SELECT m.media_id, m.reps,
               CAST(strpos('0123456789abcdef',
                           substr(m.h, CAST(2 * j.range - 1 AS INT), 1)) - 1
                    AS BIGINT) AS bin
        FROM m, range(1, 17) j
    ),
    c AS (SELECT media_id, bin, SUM(reps) AS cnt FROM nib GROUP BY 1, 2),
    grid AS (SELECT m.media_id, CAST(b.range AS BIGINT) AS bin FROM m, range(0, 16) b)
    SELECT g.media_id, g.bin, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
    FROM grid g LEFT JOIN c ON c.media_id = g.media_id AND c.bin = g.bin
"""

ORACLES["mm_media_stats"] = """
    WITH m AS (
        SELECT CAST(t.range AS BIGINT) AS media_id,
               CASE CAST(t.range % 3 AS INT)
                    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CAST(16 * (t.range % 16 + 1) AS BIGINT) AS nbytes,
               CAST(t.range % 640 + 32 AS INT) AS width,
               CAST(t.range % 300 AS DOUBLE) / 10.0 AS duration_s
        FROM range(0, 256) t
    )
    SELECT kind,
           COUNT(*) AS n,
           CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
           MAX(nbytes) AS max_bytes,
           MIN(width) AS min_width,
           MAX(duration_s) AS max_duration_s
    FROM m GROUP BY kind
"""

ORACLES["mm_probe"] = """
    WITH m AS (SELECT CAST(t.range AS BIGINT) AS media_id FROM range(0, 256) t)
    SELECT media_id,
           CASE
             WHEN media_id % 5 = 3 THEN 'mp4'
             WHEN media_id % 5 = 4 THEN 'mp3'
             WHEN media_id % 3 = 0 THEN
               CASE CAST((media_id // 3) % 4 AS INT)
                    WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'gif' ELSE 'jpeg' END
             WHEN media_id % 3 = 1 THEN 'wav'
             ELSE 'avi'
           END AS format,
           CASE
             WHEN media_id % 5 = 3 THEN CAST(media_id % 90 + 1 AS DOUBLE)
             WHEN media_id % 5 = 4 THEN CAST((media_id % 40 + 5) * 1152 AS DOUBLE) / 44100
             WHEN media_id % 3 = 0 THEN NULL
             WHEN media_id % 3 = 1 THEN CAST(media_id % 500 + 100 AS DOUBLE) / 8000
             ELSE CAST(media_id % 4 + 2 AS DOUBLE) / 5
           END AS duration_s,
           CASE WHEN media_id % 5 = 3 THEN CAST(media_id % 3 + 1 AS INT) END AS n_tracks,
           CASE WHEN media_id % 5 = 4 THEN CAST(128 AS INT) END AS bitrate_kbps,
           CASE
             WHEN media_id % 5 = 3 THEN NULL
             WHEN media_id % 5 = 4 THEN CAST(44100 AS INT)
             WHEN media_id % 3 = 1 THEN CAST(8000 AS INT)
           END AS sample_rate,
           CASE
             WHEN media_id % 5 = 3 THEN NULL
             WHEN media_id % 5 = 4 THEN CAST(media_id % 40 + 5 AS BIGINT)
             WHEN media_id % 3 = 0 THEN NULL
             WHEN media_id % 3 = 1 THEN CAST(media_id % 500 + 100 AS BIGINT)
             ELSE CAST(media_id % 4 + 2 AS BIGINT)
           END AS n_frames
    FROM m
"""

# leakage-safe split (round 5): the dedup_clusters recursive-CTE replay
# composed with the md5 bucket fold, keyed on the cluster representative.
ORACLES["text_leakage_safe_split"] = f"""
    WITH cl AS ({ORACLES["dedup_clusters"]}),
    rep AS (
        SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS rep
        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
    ),
    bk AS (
        SELECT doc_id, rep,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(rep AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) % 100 AS bucket
        FROM rep
    )
    SELECT doc_id, rep, bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM bk
"""

# frame sampling (round 5): synth_media_real's AVI payloads are lossless,
# so every sampled frame's statistics replay as integer arithmetic:
# tick k exists while 5k < 4·nf (0.25 s ticks at 5 fps), the sampled
# frame is min(5k//4, nf-1) (t·fps is exact binary: 0.25·5·k = 1.25k),
# and the frame's pixel values are the generator pattern
# (mid·31 + p·7 + c·13 + f·97) mod 256 over the frame's flat indices.
ORACLES["mm_frame_sample"] = """
    WITH ids AS (SELECT CAST(t.range AS BIGINT) AS mid FROM range(0, 256) t),
    vid AS (
        SELECT mid, mid % 4 + 2 AS nf, mid % 12 + 4 AS w, mid % 8 + 4 AS h
        FROM ids WHERE mid % 3 = 2
    ),
    ticks AS (
        SELECT v.mid, v.nf, v.w, v.h, CAST(k.range AS BIGINT) AS k,
               LEAST(5 * k.range // 4, v.nf - 1) AS fi
        FROM vid v JOIN range(0, 4) k ON 5 * k.range < 4 * v.nf
    ),
    stats AS (
        SELECT t.mid, t.k, t.fi, t.h, t.w,
               SUM((t.mid*31 + (t.fi*t.h*t.w + j.range//3)*7
                    + (j.range%3)*13 + t.fi*97) % 256) AS s,
               MAX((t.mid*31 + (t.fi*t.h*t.w + j.range//3)*7
                    + (j.range%3)*13 + t.fi*97) % 256) AS p
        FROM ticks t JOIN range(0, 495) j ON j.range < t.h * t.w * 3
        GROUP BY t.mid, t.k, t.fi, t.h, t.w
    )
    SELECT mid AS media_id, k * 0.25 AS t_s, CAST(fi AS INT) AS frame_idx,
           CAST(h * w AS BIGINT) AS n_pixels, CAST(s AS BIGINT) AS sum_abs,
           CAST(p AS INT) AS peak
    FROM stats
"""

# pHash near-dup pairs (round 5): the corpus is built so ground truth is
# id arithmetic — media_id = group*4 + variant, and the measured hamming
# margin (within ≤ 4, cross ≥ 22, pinned in tests) means the pipeline
# must return EXACTLY the within-group pairs or the hash breaks.
ORACLES["mm_phash_neardup"] = """
    SELECT CAST(a.range AS BIGINT) AS id1, CAST(b.range AS BIGINT) AS id2
    FROM range(0, 64) a, range(0, 64) b
    WHERE a.range < b.range AND a.range // 4 = b.range // 4
"""

# lossless decode stats (round 5): BMP/PNG/WAV/AVI round-trip bit-exact,
# so every decode statistic replays as integer arithmetic over range()
# — the generator pattern value-for-value (see _real_media_row).
ORACLES["mm_lossless_decode_stats"] = """
    WITH ids AS (SELECT CAST(t.range AS BIGINT) AS mid FROM range(0, 256) t),
    img AS (
        SELECT mid, mid % 16 + 4 AS w, mid % 12 + 4 AS h,
               CASE WHEN (mid // 3) % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt
        FROM ids WHERE mid % 3 = 0
    ),
    img_px AS (
        SELECT i.mid,
               CAST(SUM((i.mid*31 + (j.range//3)*7 + (j.range%3)*13) % 256) AS BIGINT) AS sum_abs,
               CAST(MAX((i.mid*31 + (j.range//3)*7 + (j.range%3)*13) % 256) AS INT) AS peak
        FROM img i JOIN range(0, 855) j ON j.range < i.w * i.h * 3
        GROUP BY i.mid
    ),
    aud AS (SELECT mid, mid % 500 + 100 AS ns FROM ids WHERE mid % 3 = 1),
    aud_s AS (
        SELECT a.mid,
               CAST(SUM(ABS((a.mid*13 + j.range*17) % 4096 - 2048)) AS BIGINT) AS sum_abs,
               CAST(MAX(ABS((a.mid*13 + j.range*17) % 4096 - 2048)) AS INT) AS peak
        FROM aud a JOIN range(0, 599) j ON j.range < a.ns
        GROUP BY a.mid
    ),
    vid AS (
        SELECT mid, mid % 4 + 2 AS nf, mid % 12 + 4 AS w, mid % 8 + 4 AS h
        FROM ids WHERE mid % 3 = 2
    ),
    vid_px AS (
        SELECT v.mid,
               CAST(SUM((v.mid*31 + (j.range//3)*7 + (j.range%3)*13
                         + (j.range//(v.h*v.w*3))*97) % 256) AS BIGINT) AS sum_abs,
               CAST(MAX((v.mid*31 + (j.range//3)*7 + (j.range%3)*13
                         + (j.range//(v.h*v.w*3))*97) % 256) AS INT) AS peak
        FROM vid v JOIN range(0, 2475) j ON j.range < v.nf * v.h * v.w * 3
        GROUP BY v.mid
    )
    SELECT i.mid AS media_id, i.fmt AS format,
           CAST(i.w AS INT) AS width, CAST(i.h AS INT) AS height,
           CAST(3 AS INT) AS n_channels, CAST(NULL AS INT) AS sample_rate,
           CAST(NULL AS BIGINT) AS n_samples, CAST(i.w * i.h AS BIGINT) AS n_pixels,
           p.sum_abs, p.peak
    FROM img i JOIN img_px p USING (mid)
    UNION ALL
    SELECT a.mid, 'wav', CAST(NULL AS INT), CAST(NULL AS INT),
           CAST(1 AS INT), CAST(8000 AS INT),
           CAST(a.ns AS BIGINT), CAST(NULL AS BIGINT), s.sum_abs, s.peak
    FROM aud a JOIN aud_s s USING (mid)
    UNION ALL
    SELECT v.mid, 'avi', CAST(v.w AS INT), CAST(v.h AS INT),
           CAST(3 AS INT), CAST(NULL AS INT),
           CAST(v.nf AS BIGINT), CAST(v.nf * v.h * v.w AS BIGINT), p.sum_abs, p.peak
    FROM vid v JOIN vid_px p USING (mid)
"""

ORACLES["g_label_propagation"] = """
    WITH RECURSIVE paa AS (SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem),
    py AS (SELECT o_orderkey AS paper FROM orders WHERE year(o_orderdate) = 1995),
    e AS (
        SELECT a.author AS src, b.author AS dst
        FROM paa a
        JOIN paa b ON a.paper = b.paper AND a.author <> b.author
        JOIN py ON py.paper = a.paper
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    nodes AS (SELECT DISTINCT src AS v FROM e),
    lp(it, v, lab) AS (
        SELECT 0, v, v FROM nodes
        UNION ALL
        SELECT it + 1, v, lab FROM (
            SELECT p.it AS it, e.src AS v, p.lab AS lab,
                   ROW_NUMBER() OVER (PARTITION BY p.it, e.src
                                      ORDER BY COUNT(*) DESC, p.lab) AS rn
            FROM lp p JOIN e ON e.dst = p.v
            WHERE p.it < 5
            GROUP BY p.it, e.src, p.lab
        ) WHERE rn = 1
    )
    SELECT v AS node, lab AS label FROM lp WHERE it = 5
"""

from iconic_data_science_spark.operators.sketch import cms_param_table_sql as _cms_param_table_sql  # noqa: E402
from iconic_data_science_spark.operators.sketch import kmv_oracle_sql as _kmv_oracle_sql  # noqa: E402

ORACLES["ev_kmv_distinct"] = _kmv_oracle_sql()

from iconic_data_science_spark.operators.sketch import kmv_overlap_oracle_sql as _kmv_overlap_oracle_sql  # noqa: E402

ORACLES["ev_kmv_overlap"] = _kmv_overlap_oracle_sql()

_Z_TERMS = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})" for i in range(16)
)
ORACLES["lh_zorder_stats"] = f"""
    WITH b AS (
        SELECT CAST(o_custkey % 65536 AS BIGINT) AS x,
               CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y
        FROM orders
    ),
    zt AS (SELECT x, y, {_Z_TERMS} AS z FROM b)
    SELECT CAST(z >> 18 AS BIGINT) AS chunk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM zt GROUP BY 1
"""

ORACLES["ev_cms_heavy_hitters"] = f"""
    WITH cp AS (SELECT * FROM {_cms_param_table_sql()}),
    cells AS (
        SELECT cp.row_i,
               ((cp.a * e.user_id + cp.b) % 2147483647) % 64 AS bucket
        FROM events e CROSS JOIN cp
    ),
    sketch AS (
        SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2
    ),
    keys AS (SELECT DISTINCT user_id AS k FROM events),
    probes AS (
        SELECT k, cp.row_i, ((cp.a * k + cp.b) % 2147483647) % 64 AS bucket
        FROM keys CROSS JOIN cp
    ),
    est AS (
        SELECT k, CAST(MIN(cnt) AS BIGINT) AS est_count
        FROM probes JOIN sketch USING (row_i, bucket) GROUP BY k
    ),
    tc AS (
        SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM events GROUP BY 1
    )
    SELECT k AS user_id, est_count, true_count
    FROM est JOIN tc USING (k)
    WHERE est_count >= 80
"""

ORACLES["ev_value_quantiles"] = """
    WITH hist AS (
        SELECT event_type AS grp,
               LEAST(CAST(FLOOR(value) AS BIGINT), 1000) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    cum AS (
        SELECT grp, bin, cnt,
               CAST(SUM(cnt) OVER (
                   PARTITION BY grp ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM hist
    ),
    tot AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
    -- a VALUES list, not unnest-in-select: the latter trips a DuckDB
    -- binder assertion when the un-nested column feeds an aggregate
    ps AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(p_pct)),
    x AS (
        SELECT cum.grp, cum.bin, cum.cum, tot.n, ps.p_pct
        FROM cum JOIN tot USING (grp) CROSS JOIN ps
    )
    SELECT grp AS event_type, CAST(p_pct AS BIGINT) AS p_pct, MIN(bin) AS q_bin
    FROM x WHERE 100 * cum >= p_pct * n
    GROUP BY 1, 2
"""

from iconic_data_science_spark.operators.retrieval import bm25_oracle_sql as _bm25_oracle_sql  # noqa: E402

ORACLES["text_bm25_topk"] = _bm25_oracle_sql(_BM25_TERMS, k=20)

_SEMDEDUP_DOT = """list_reduce(
    [CAST(round(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                * 1000000000000.0) AS BIGINT)
     for i in generate_series(1, len(a.embedding))], (x, y) -> x + y)"""

ORACLES["semdedup_prune"] = f"""
    WITH pl AS (SELECT * FROM {{PLANES}}),
    e AS (
        SELECT vec_id, embedding,
               list_reduce(
                   [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                    for x in embedding], (a, b) -> a + b) AS sq
        FROM embeddings
    ),
    elems AS (
        SELECT vec_id, i, embedding[i] AS x
        FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix
    ),
    dots AS (
        SELECT vec_id, plane,
               CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(coeff AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dot
        FROM elems JOIN pl USING (i) GROUP BY 1, 2
    ),
    sig AS (
        SELECT vec_id,
               string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
        FROM dots GROUP BY 1
    ),
    eb AS (SELECT e.*, sig.bucket FROM e JOIN sig USING (vec_id)),
    pruned AS (
        SELECT DISTINCT b.vec_id AS id
        FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_SEMDEDUP_DOT} / sqrt(CAST(a.sq AS DOUBLE) * CAST(b.sq AS DOUBLE)) >= 0.4
    )
    SELECT eb.vec_id, eb.bucket AS cell,
           CAST(CASE WHEN p.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM eb LEFT JOIN pruned p ON p.id = eb.vec_id
""".replace("{PLANES}", _plane_table_sql())

ORACLES["corpus_shuffle"] = """
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR))
           ) AS BIGINT) AS shuffle_pos
    FROM documents
"""

ORACLES["select_token_budget"] = """
    WITH b AS (
        SELECT doc_id, source,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
               CAST(LEAST(CAST(len(string_split(lower(text), ' ')) AS BIGINT), 100) AS DOUBLE) / 100.0
                   * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
                      / CAST(length(text) AS BIGINT)) AS score
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY score DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM b
    )
    SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 800
"""

# Incremental dedup == the cross-side slice of the full-corpus LSH join
# (band signatures don't depend on the corpus/batch split; verify is
# pair-local) — the oracle says exactly that.
ORACLES["dedup_incremental"] = f"""
    SELECT CASE WHEN id1 % 2 = 0 THEN id1 ELSE id2 END AS corpus_id,
           CASE WHEN id1 % 2 = 0 THEN id2 ELSE id1 END AS new_id,
           jaccard
    FROM ({ORACLES["dedup_minhash_lsh"]})
    WHERE (id1 % 2) <> (id2 % 2)
"""

ORACLES["ts_anomaly_hours"] = """
    WITH hourly AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS h,
               CAST(SUM(n_events) AS BIGINT) AS tot,
               CAST(SUM(n_events * n_events) AS BIGINT) AS sqtot
        FROM hourly
    )
    , v AS (
        SELECT hourly.*, stats.h, stats.tot,
               CAST(sqtot AS DOUBLE) / CAST(h AS DOUBLE)
                   - (CAST(tot AS DOUBLE) / CAST(h AS DOUBLE))
                     * (CAST(tot AS DOUBLE) / CAST(h AS DOUBLE)) AS var
        FROM hourly CROSS JOIN stats
    )
    SELECT window_start_us, n_events,
           CASE WHEN var > 0
                THEN (CAST(n_events AS DOUBLE) - CAST(tot AS DOUBLE) / CAST(h AS DOUBLE))
                     / sqrt(var)
                ELSE 0.0 END AS deviation,
           CAST(CASE WHEN var > 0 AND abs(
                   (CAST(n_events AS DOUBLE) - CAST(tot AS DOUBLE) / CAST(h AS DOUBLE))
                   / sqrt(var)
               ) > 2.0 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM v
"""

ORACLES["corpus_datacard"] = """
    SELECT COALESCE(lang, 'ALL') AS lang,
           COALESCE(source, 'ALL') AS source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS n_chars,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_texts
    FROM documents
    GROUP BY CUBE (lang, source)
"""

ORACLES["g_sssp"] = """
    WITH RECURSIVE paa AS (
        SELECT DISTINCT l_orderkey AS paper, l_suppkey AS author FROM lineitem
    ),
    py AS (SELECT o_orderkey AS paper FROM orders),
    e AS (
        SELECT a.author AS src, b.author AS dst,
               GREATEST(1, 5 - COUNT(*)) AS cost
        FROM paa a
        JOIN paa b ON a.paper = b.paper AND a.author <> b.author
        JOIN py ON py.paper = a.paper
        GROUP BY 1, 2
    ),
    w(author, dist, depth) AS (
        SELECT (SELECT MIN(src) FROM e), CAST(0 AS BIGINT), 0
        UNION
        SELECT e.dst, w.dist + e.cost, w.depth + 1
        FROM w JOIN e ON w.author = e.src
        WHERE w.depth < 6
    )
    SELECT author, CAST(MIN(dist) AS BIGINT) AS dist
    FROM w GROUP BY author
"""

ORACLES["lh_snapshot_diff"] = """
    WITH v_old AS (
        SELECT doc_id, text, source FROM documents WHERE doc_id % 7 <> 0
    ),
    v_new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN text || ' edited' ELSE text END AS text,
               source
        FROM documents WHERE doc_id % 5 <> 0
    ),
    o AS (SELECT doc_id, md5(text || chr(31) || source) AS fp FROM v_old),
    n AS (SELECT doc_id, md5(text || chr(31) || source) AS fp FROM v_new),
    j AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.fp IS NULL THEN 'added'
                    WHEN n.fp IS NULL THEN 'removed'
                    WHEN o.fp <> n.fp THEN 'changed' END AS change_type
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    )
    SELECT doc_id, change_type FROM j WHERE change_type IS NOT NULL
"""

ORACLES["text_lang_confusion"] = f"""
    WITH li AS ({ORACLES["text_language_id"]})
    SELECT d.lang, li.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM li JOIN documents d USING (doc_id)
    GROUP BY 1, 2
"""

_RERANK_LAT = "CAST(round(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE) * 1000000000000.0) AS BIGINT)"

ORACLES["text_bm25_rerank"] = f"""
    WITH cand AS ({_bm25_oracle_sql(_BM25_TERMS, k=20)}),
    vecs AS (
        SELECT vec_id AS doc_id, embedding,
               list_reduce([{_RERANK_LAT.format(x="x", y="x")} for x in embedding],
                           (a, b) -> a + b) AS sq
        FROM embeddings
    ),
    joined AS (
        SELECT c.doc_id, c.bm25_scaled, c.rank, v.embedding, v.sq
        FROM cand c LEFT JOIN vecs v USING (doc_id)
    ),
    anchor AS (
        SELECT embedding AS a_v, sq AS a_sq
        FROM joined WHERE embedding IS NOT NULL ORDER BY rank LIMIT 1
    ),
    n AS (SELECT COUNT(embedding) AS n_emb FROM joined),
    scored AS (
        SELECT j.doc_id, j.bm25_scaled, j.rank,
               list_reduce([{_RERANK_LAT.format(x="j.embedding[i]", y="a.a_v[i]")}
                            for i in generate_series(1, len(j.embedding))], (x, y) -> x + y)
               / sqrt(CAST(j.sq AS DOUBLE) * CAST(a.a_sq AS DOUBLE)) AS cosine
        FROM joined j CROSS JOIN anchor a WHERE j.embedding IS NOT NULL
        UNION ALL
        SELECT j.doc_id, j.bm25_scaled, j.rank, CAST(NULL AS DOUBLE) AS cosine
        FROM joined j CROSS JOIN n WHERE n.n_emb = 0
    ),
    r AS (
        SELECT doc_id, bm25_scaled, cosine,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY cosine DESC NULLS LAST, rank, doc_id) AS BIGINT) AS rerank
        FROM scored
    )
    SELECT doc_id, bm25_scaled, cosine, rerank FROM r WHERE rerank <= 10
"""

_PQ_LAT = "CAST(round(CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE) * 1000000000000.0) AS BIGINT)"

ORACLES["ann_pq_topk"] = f"""
    WITH subs AS (
        SELECT vec_id AS id, s AS sub,
               list_slice(embedding, s * 8 + 1, s * 8 + 8) AS sv
        FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) mm
    ),
    subs2 AS (
        SELECT id, sub, sv,
               list_reduce([{_PQ_LAT.format(x="x", y="x")} for x in sv],
                           (a, b) -> a + b) AS sv_sq
        FROM subs
    ),
    cb AS (
        SELECT sub, id AS c_id, sv AS c_v, sv_sq AS c_sq
        FROM subs2
        WHERE id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    scored AS (
        SELECT s.id, s.sub, c.c_id, c.c_sq,
               s.sv_sq
               - 2 * list_reduce([{_PQ_LAT.format(x="s.sv[i]", y="c.c_v[i]")}
                                  for i in generate_series(1, len(s.sv))], (x, y) -> x + y)
               + c.c_sq AS d
        FROM subs2 s JOIN cb c USING (sub)
    ),
    codes AS (
        SELECT id, sub, c_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY id, sub ORDER BY d ASC, c_id ASC) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    q AS (SELECT * FROM subs2 WHERE id % 50 = 0),
    dtable AS (
        SELECT q.id AS query_id, q.sub, c.c_id,
               q.sv_sq
               - 2 * list_reduce([{_PQ_LAT.format(x="q.sv[i]", y="c.c_v[i]")}
                                  for i in generate_series(1, len(q.sv))], (x, y) -> x + y)
               + c.c_sq AS d
        FROM q JOIN cb c USING (sub)
    ),
    sums AS (
        SELECT d.query_id, codes.id, CAST(SUM(d.d) AS BIGINT) AS approx_d_scaled
        FROM codes JOIN dtable d ON codes.sub = d.sub AND codes.c_id = d.c_id
        WHERE d.query_id <> codes.id
        GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY approx_d_scaled ASC, id ASC) AS rnk
        FROM sums
    )
    SELECT query_id, id AS neighbor_id, approx_d_scaled,
           CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 5
"""

# IVF-PQ (round 4): the PQ CTE chain with the ADC sum restricted to the
# IVF candidate set — corpus in its 1 nearest cell, queries probing
# their 2 nearest (lowest-id pseudo-centroids, the ann_ivf discipline).
ORACLES["ann_ivfpq_topk"] = f"""
    WITH e AS (
        SELECT vec_id, embedding,
               list_reduce([{_PQ_LAT.format(x="x", y="x")} for x in embedding],
                           (a, b) -> a + b) AS sq
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS c_id, embedding AS c_v, sq AS c_sq
        FROM e ORDER BY vec_id LIMIT 8
    ),
    cscored AS (
        SELECT e.vec_id AS id, c.c_id,
               list_reduce([{_PQ_LAT.format(x="e.embedding[i]", y="c.c_v[i]")}
                            for i in generate_series(1, len(e.embedding))], (x, y) -> x + y)
               / sqrt(CAST(e.sq AS DOUBLE) * CAST(c.c_sq AS DOUBLE)) AS sim
        FROM e CROSS JOIN cent c
    ),
    cranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY sim DESC, c_id) AS rn
        FROM cscored
    ),
    corpus_cells AS (SELECT id, c_id AS cell FROM cranked WHERE rn = 1),
    query_cells AS (
        SELECT id AS query_id, c_id AS cell FROM cranked
        WHERE rn <= 2 AND id % 50 = 0
    ),
    cand AS (
        SELECT q.query_id, c.id
        FROM query_cells q JOIN corpus_cells c USING (cell)
        WHERE q.query_id <> c.id
    ),
    subs AS (
        SELECT vec_id AS id, s AS sub,
               list_slice(embedding, s * 8 + 1, s * 8 + 8) AS sv
        FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS s) mm
    ),
    subs2 AS (
        SELECT id, sub, sv,
               list_reduce([{_PQ_LAT.format(x="x", y="x")} for x in sv],
                           (a, b) -> a + b) AS sv_sq
        FROM subs
    ),
    cb AS (
        SELECT sub, id AS c_id, sv AS c_v, sv_sq AS c_sq
        FROM subs2
        WHERE id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
    ),
    cbscored AS (
        SELECT s.id, s.sub, c.c_id, c.c_sq,
               s.sv_sq
               - 2 * list_reduce([{_PQ_LAT.format(x="s.sv[i]", y="c.c_v[i]")}
                                  for i in generate_series(1, len(s.sv))], (x, y) -> x + y)
               + c.c_sq AS d
        FROM subs2 s JOIN cb c USING (sub)
    ),
    codes AS (
        SELECT id, sub, c_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY id, sub ORDER BY d ASC, c_id ASC) AS rn
            FROM cbscored
        ) WHERE rn = 1
    ),
    qsubs AS (SELECT * FROM subs2 WHERE id % 50 = 0),
    dtable AS (
        SELECT q.id AS query_id, q.sub, c.c_id,
               q.sv_sq
               - 2 * list_reduce([{_PQ_LAT.format(x="q.sv[i]", y="c.c_v[i]")}
                                  for i in generate_series(1, len(q.sv))], (x, y) -> x + y)
               + c.c_sq AS d
        FROM qsubs q JOIN cb c USING (sub)
    ),
    sums AS (
        SELECT d.query_id, codes.id, CAST(SUM(d.d) AS BIGINT) AS approx_d_scaled
        FROM cand
        JOIN codes ON codes.id = cand.id
        JOIN dtable d ON d.query_id = cand.query_id
                     AND d.sub = codes.sub AND d.c_id = codes.c_id
        GROUP BY 1, 2
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY approx_d_scaled ASC, id ASC) AS rnk
        FROM sums
    )
    SELECT query_id, id AS neighbor_id, approx_d_scaled,
           CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 5
"""

ORACLES["text_inverted_index"] = """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    p AS (
        SELECT doc_id,
               unnest([toks[i] for i in generate_series(1, len(toks))]) AS word,
               unnest([i - 1 for i in generate_series(1, len(toks))]) AS pos
        FROM t
    ),
    g AS (
        SELECT doc_id, word,
               '[' || string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) || ']' AS poss
        FROM p GROUP BY doc_id, word
    ),
    n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS index_length FROM t)
    SELECT n.doc_id, n.index_length,
           '{"IndexLength":' || n.index_length || ',"InvertedIndex":{'
               || string_agg('"' || g.word || '":' || g.poss, ',' ORDER BY g.word)
               || '}}' AS inverted_index_json
    FROM g JOIN n USING (doc_id)
    GROUP BY n.doc_id, n.index_length
"""


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional reproducible sampling (DCLM/FineWeb-style
    quality- or size-weighted subset): each document kept by an exact
    integer Bernoulli draw with p = min(1, target_n·w/W_total), weight =
    ``n_chars`` (token-budget proxy). The W_total aggregate is a 1-row
    exchange broadcast back via cross join; the keep test itself is a
    map-side DECIMAL comparison — bit-identical in any engine and safe
    past int64 at 100 TB weight sums. Oracle replays the md5 fold and
    the HUGEINT comparison."""
    from iconic_data_science_spark.operators.sampling import weighted_bernoulli_sample

    cat = _cat(spark, sf_dir)
    return weighted_bernoulli_sample(
        cat.documents.select("doc_id", "source", "n_chars"),
        key_col="doc_id",
        weight_col="n_chars",
        target_n=100,
    )


def q_text_rare_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality gate, integerized (CCNet §4.3 stand-in for
    KenLM-perplexity filtering): per-document permille of bigrams whose
    corpus frequency is < 5. One exchange counts bigrams corpus-wide;
    the frequent head (Zipf-bounded) broadcasts back and documents
    probe it map-side; one exchange re-groups per doc. Pure counting —
    no floating log-probs — so the DuckDB twin reproduces every row."""
    from iconic_data_science_spark.operators.text import rare_bigram_ratio

    cat = _cat(spark, sf_dir)
    return rare_bigram_ratio(cat.documents, min_count=5)


def q_text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC→text main-content extraction under the HASH gate: every
    document is deterministically rendered into a full HTML page
    (title/style/script/nav/h1/<p>-reflow/footer boilerplate, entities
    encoded — text.synth_html), then text.html_extract strips
    script/style/nav/footer, takes the <title> and only the <p>-block
    text, decodes entities and collapses whitespace. Both sides are
    pure JVM regexp/array built-ins — embarrassingly parallel, no
    shuffle. The oracle replays the fixpoint: extraction must equal the
    whitespace-normalized original text (and the id-derived title), so
    any drift in either the renderer or the extractor breaks the hash."""
    from iconic_data_science_spark.operators.text import html_extract, synth_html

    cat = _cat(spark, sf_dir)
    return html_extract(synth_html(cat.documents))


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic member
    of the decontamination family (exact 5-gram, Bloom, now cosine):
    corpus vectors within cosine ≥ 0.35 of ANY benchmark vector
    (deterministic vec_id%25==0 split). The benchmark side collapses to
    one broadcast row of (id, vec, sqnorm) structs; every corpus vector
    scans it with in-row higher-order functions — ZERO shuffles, the
    corpus read exactly once, the right shape for a tiny eval suite
    against a 100 TB corpus. Cosines on the integer product lattice, so
    the DuckDB join+group twin agrees bit-for-bit."""
    from iconic_data_science_spark.operators.similarity import semantic_decontaminate

    cat = _cat(spark, sf_dir)
    emb = cat.embeddings
    bench = emb.filter(F.col("vec_id") % 25 == 0)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    return semantic_decontaminate(corpus, bench, threshold=0.35)


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard with prefix filtering (Bayardo et al.
    WWW'07) — the LOSSLESS scale path for the similarity join: index
    only each document's |d|−ceil(t·|d|)+1 globally-rarest shingles
    (pigeonhole: any pair with J ≥ t must collide inside both
    prefixes), length-filter, then verify exact Jaccard on full sets
    for candidates only. Same output as the uncapped Σdf² join —
    the oracle IS the uncapped threshold join — with boilerplate
    shingles never entering the index. Complements the df cap
    (dedup_ngram_capped), which is the lossy/cheaper knob."""
    from iconic_data_science_spark.operators.dedup import jaccard_prefix_pairs

    cat = _cat(spark, sf_dir)
    return jaccard_prefix_pairs(cat.documents, n=3, threshold=0.5)


def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPR-style hard-negative mining: for the sampled query set, the
    top-5 most-similar corpus vectors with a DIFFERENT label — the
    contrastive-training batch-construction step. Exact lattice scan;
    the label-inequality join predicate also excludes self."""
    from iconic_data_science_spark.operators.similarity import hard_negative_topk

    cat = _cat(spark, sf_dir)
    return hard_negative_topk(cat.embeddings, _ann_queries(cat), k=5)


def q_sample_group_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-group uniform reproducible sampling: 20 documents per
    source, ranked by the md5 content hash of doc_id — the eval-set /
    per-source-cap builder (fixed SIZE, unbiased), completing the
    sampling family next to the rate-stratified, weight-proportional,
    and arrival-order-quota forms. One shuffle on source; the k-cut is
    WindowGroupLimit-pushed into each partial sort."""
    from iconic_data_science_spark.operators.sampling import group_uniform_k

    cat = _cat(spark, sf_dir)
    return group_uniform_k(
        cat.documents.select("doc_id", "source", "lang"), "source", "doc_id", 20
    )


ORACLES["sample_group_k"] = """
    WITH h AS (
        SELECT doc_id, source, lang,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS hv
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk
        FROM h
    )
    SELECT doc_id, source, lang FROM r WHERE rk <= 20
"""


def q_decontaminate_bloom_inrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-row (zero-aggregation) Bloom decontamination probe: the
    densified bitset broadcasts as ONE array row and each document
    tests its shingle array with a higher-order filter — the streaming
    ingest-gate shape (watermark-free append), two exchanges fewer than
    the join form in batch. Same output row-for-row as
    decontaminate_bloom, so it shares that oracle."""
    from iconic_data_science_spark.operators.dedup import bloom_decontaminate_inrow

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return bloom_decontaminate_inrow(train, bench, n=5)


ORACLES["ann_hard_negatives"] = """
    WITH e AS (
        SELECT vec_id, label, embedding,
               list_reduce(
                   [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                    for x in embedding], (a, b) -> a + b) AS sq
        FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(
                   [CAST(round(CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for i in generate_series(1, len(q.embedding))], (x, y) -> x + y)
               / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
        FROM q JOIN e c ON q.label <> c.label
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
"""

# The prefix-filtered join is exact: its oracle is the plain UNCAPPED
# n-gram Jaccard threshold join (no df-cap CTE).
ORACLES["dedup_jaccard_prefix"] = """
    WITH sh AS (
        SELECT DISTINCT doc_id, s AS shingle FROM (
            SELECT doc_id,
                   unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                           for i in generate_series(1, len(th)-2)]) AS s
            FROM (
                SELECT doc_id,
                       [list_reduce(
                            [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                             for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                            (a, b) -> a * 16 + b) % 2147483647
                        for tok in string_split(lower(text), ' ')] AS th
                FROM documents
            )
        )
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT id1, id2, i / (z1.sz + z2.sz - i) AS jaccard
        FROM inter
        JOIN sz z1 ON z1.doc_id = id1
        JOIN sz z2 ON z2.doc_id = id2
    ) WHERE jaccard >= 0.5
"""


def q_mm_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE under the HASH gate — the thumbnail/normalize step
    of an image-training pipeline, end to end: the lossless image
    corpus (BMP/PNG, generator-arithmetic pixels) goes through
    resize_images (decode → nearest-neighbor resample to 16×16 →
    re-encode in the same format, one mapInPandas pass) and the result
    is decoded AGAIN by decode_media. The DuckDB twin replays the
    resample in SQL: pixel (j,i,c) of the resized image is the
    generator pattern at row j*h//16, col i*w//16 — so sum/peak
    recompute exactly, and any drift in the resampler, either codec's
    encode, or the second decode breaks the hash."""
    from iconic_data_science_spark.operators.multimodal import (
        decode_media,
        resize_images,
        synth_media_lossless,
    )

    ensure_engine_conf(spark)
    small = resize_images(synth_media_lossless(spark, 256), width=16, height=16)
    return decode_media(small, require_codecs=True).select(
        "media_id", "format", "width", "height", "sum_abs", "peak"
    )


# Arithmetic replay of the nearest-neighbor resample: resized pixel
# (j,i,c) samples the generator pattern at (j*h//16, i*w//16, c).
ORACLES["mm_resize_stats"] = """
    WITH ids AS (SELECT CAST(t.range AS BIGINT) AS mid FROM range(0, 256) t),
    img AS (
        SELECT mid, mid % 16 + 4 AS w, mid % 12 + 4 AS h,
               CASE WHEN (mid // 3) % 2 = 0 THEN 'bmp' ELSE 'png' END AS fmt
        FROM ids WHERE mid % 3 = 0
    ),
    px AS (
        SELECT i.mid, i.fmt,
               (i.mid*31 + ((j.range * i.h // 16) * i.w + (k.range * i.w // 16))*7
                + c.range*13) % 256 AS v
        FROM img i, range(0, 16) j, range(0, 16) k, range(0, 3) c
    )
    SELECT mid AS media_id, fmt AS format,
           CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
           CAST(SUM(v) AS BIGINT) AS sum_abs, CAST(MAX(v) AS INT) AS peak
    FROM px GROUP BY 1, 2
"""

ORACLES["decontaminate_semantic"] = """
    WITH e AS (
        SELECT vec_id, embedding,
               list_reduce(
                   [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000000.0) AS BIGINT)
                    for x in embedding],
                   (a, b) -> a + b
               ) AS sq
        FROM embeddings
    ),
    b AS (SELECT * FROM e WHERE vec_id % 25 = 0),
    c AS (SELECT * FROM e WHERE vec_id % 25 <> 0),
    p AS (
        SELECT c.vec_id,
               list_reduce(
                   [CAST(round(CAST(c.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for i in generate_series(1, len(c.embedding))],
                   (x, y) -> x + y
               ) / sqrt(CAST(c.sq AS DOUBLE) * CAST(b.sq AS DOUBLE)) AS cosine
        FROM c JOIN b ON true
    )
    SELECT vec_id,
           CAST(COUNT(*) FILTER (cosine >= 0.35) AS BIGINT) AS n_bench_hits,
           MAX(cosine) FILTER (cosine >= 0.35) AS max_bench_cosine
    FROM p
    GROUP BY 1
    HAVING COUNT(*) FILTER (cosine >= 0.35) >= 1
"""

ORACLES["sample_weighted"] = """
    WITH tot AS (SELECT CAST(SUM(n_chars) AS HUGEINT) AS w FROM documents),
    u AS (
        SELECT doc_id, source, n_chars,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) % 1000000 AS u
        FROM documents
    )
    SELECT doc_id, source, n_chars
    FROM u, tot
    WHERE CAST(u AS HUGEINT) * w
          < CAST(100 * 1000000 AS HUGEINT) * CAST(n_chars AS HUGEINT)
"""

ORACLES["text_rare_bigram"] = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    bg AS (
        SELECT doc_id, ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] AS bigram
        FROM toks, UNNEST(range(1, len(ts))) AS r(i)
        WHERE len(ts) >= 2
    ),
    cnt AS (SELECT bigram, COUNT(*) AS n FROM bg GROUP BY 1),
    freq AS (SELECT bigram FROM cnt WHERE n >= 5)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(1000 * SUM(CASE WHEN f.bigram IS NULL THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS rare_permille
    FROM bg LEFT JOIN freq f USING (bigram)
    GROUP BY 1
"""

# The synth→extract round trip is a fixpoint on documents: main-content
# extraction of the rendered page must reproduce the whitespace-
# normalized original text and the id-derived title.
ORACLES["text_html_extract"] = r"""
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean_text
    FROM documents
"""


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed multilingual mixing plan (mBERT/XLM-R
    style alpha=0.5 resampling): per-language token counts smoothed on
    the integer lattice (floor-sqrt — IEEE sqrt is correctly rounded,
    so the weights are engine-exact) and turned into ppm sampling
    rates and token allocations with bigint `div`. One language-grain
    aggregate; the ≲10³-row stats table is pinned so derived frames
    never re-scan the corpus."""
    from iconic_data_science_spark.operators.mixing import temperature_mix_rates

    cat = _cat(spark, sf_dir)
    return temperature_mix_rates(cat.documents, budget_tokens=1_000_000)


def q_mix_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temperature plan APPLIED: documents kept by a reproducible
    md5 Bernoulli draw at their language's smoothed rate
    (u·n_tokens_l·Σw < B·w_l·S, all integers compared in DECIMAL), so
    expected kept tokens per language ∝ sqrt(natural share) — the
    corpus-rebalancing step before training. Rate table broadcasts;
    the corpus itself is filtered map-side with zero corpus
    shuffles."""
    from iconic_data_science_spark.operators.mixing import temperature_sample

    cat = _cat(spark, sf_dir)
    return temperature_sample(cat.documents, budget_tokens=1_000_000)


def q_text_hashed_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (Weinberger et al. ICML'09): top-8 signed
    hashed tf-idf features per document in a FIXED 1024-dim space —
    the bounded-vocabulary featurizer (a true vocab is unbounded and
    skewed at 100 TB; `dim` is a constant). Signs come from the hash
    bit above the bucket so collisions cancel in expectation; idf is
    the integer lattice N·10⁶ div df. One corpus shuffle to the
    (doc, feature) grain; the ≤dim-row idf table broadcasts back;
    the per-doc k-cut is WindowGroupLimit-pushed."""
    from iconic_data_science_spark.operators.featurize import hashed_tfidf

    cat = _cat(spark, sf_dir)
    return hashed_tfidf(cat.documents, dim=1024, top_k=8)


_TAG_TAXONOMY = {
    "storage": ["table", "row", "part", "batch", "parquet"],
    "execution": ["scan", "hash", "merge", "sort", "agg"],
    "planning": ["key", "window", "spark", "value", "line"],
}


def q_text_topic_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast taxonomy tagging (the FineWeb-Edu-style topic gate):
    per-document hit counts against a keyword→topic table that
    broadcasts and probes the corpus map-side — the only exchange is
    the partial-aggregated (doc, topic) rollup."""
    from iconic_data_science_spark.operators.featurize import keyword_tags

    cat = _cat(spark, sf_dir)
    return keyword_tags(cat.documents, _TAG_TAXONOMY)


def q_mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-grain audio analysis under the HASH gate — the
    silence-trim/VAD step: every WAV payload of the real-codec corpus
    decodes (Arrow-batched mapInPandas, the only Python in the plan)
    into 160-sample (20 ms) frames of exact-integer statistics
    (energy=Σx², peak, floor-sqrt RMS, silent = energy < thr²·n). The
    DuckDB twin replays each frame from the generator arithmetic, so
    a sample-width, byte-order, or framing bug breaks the hash."""
    from iconic_data_science_spark.operators.audio import audio_frame_stats
    from iconic_data_science_spark.operators.multimodal import synth_media_real

    ensure_engine_conf(spark)
    return audio_frame_stats(synth_media_real(spark, 256), frame=160, silence_rms=1200)


def q_text_intra_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-document repetition removal at the 10-token-window grain:
    repeats of an already-seen window inside the SAME document are
    dropped, first occurrence kept, order preserved — the removal twin
    of the Gopher repetition SCORES (text_repetition) and the in-doc
    complement of corpus-level line dedup. Entirely in-row
    higher-order functions: a zero-shuffle map over the corpus, no
    state crosses documents. The oracle replays it relationally
    (unnest + first-occurrence window + ordered reassembly)."""
    from iconic_data_science_spark.operators.text import intra_doc_dedup

    cat = _cat(spark, sf_dir)
    return intra_doc_dedup(cat.documents, window_tokens=10)


def q_ev_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization at the EXACT rank-based p95: the
    robustness step before mean/σ normalization (one fat-fingered 1e9
    value otherwise owns the group mean). The cutoff row is selected
    with integer arithmetic ((95·n+99) div 100) and values are only
    compared/selected — never arithmetically combined — so raw doubles
    stay hash-exact. One shuffle to the event_type grain; the sketch
    twin (ev_value_quantiles) is the bounded-error scale path."""
    from iconic_data_science_spark.operators.events import winsorize_values

    cat = _cat(spark, sf_dir)
    return winsorize_values(cat.events)


ORACLES["text_intra_dedup"] = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    ch AS (
        SELECT toks.doc_id, CAST(g.i AS BIGINT) AS pos,
               array_to_string(t[g.i*10+1 : g.i*10+10], ' ') AS chunk,
               CAST(ceil(len(t)/10.0) AS BIGINT) AS n_chunks
        FROM toks, LATERAL (
            SELECT UNNEST(range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS i
        ) g
    ),
    firsts AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, chunk ORDER BY pos) AS rn
        FROM ch
    ),
    kept AS (SELECT doc_id, n_chunks, pos, chunk FROM firsts WHERE rn = 1)
    SELECT doc_id, n_chunks, CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(chunk, ' ' ORDER BY pos) AS clean_text
    FROM kept GROUP BY 1, 2
"""

def q_web_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl link extraction under the HASH gate: deterministic pages
    (synth_html_linked — nav links plus a related-links block wired by
    pure id arithmetic: i → i div 2, i div 3, i div 5, self-links
    dropped) parsed back by html_links (JVM regexps, zero shuffle) into
    (doc_id, pos, href, anchor) rows. The oracle recomputes the
    expected link set from the id arithmetic alone, so a drift in the
    page synthesis OR the anchor parser breaks the hash."""
    from iconic_data_science_spark.operators.text import html_links, synth_html_linked

    cat = _cat(spark, sf_dir)
    return html_links(synth_html_linked(cat.documents))


def q_web_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl→link-graph→quality pipeline end to end: extract the
    deterministic link graph from rendered pages (q_web_link_graph),
    keep the doc→doc edges, and run integer-lattice PageRank over them
    — the link-based quality prior (Common-Crawl-style harmonic/PR
    ranking) every web-corpus curation recipe starts from. The hub
    shape (low ids collect in-links) makes the ranking non-trivial;
    the oracle replays the edges arithmetically and the power
    iteration as a recursive CTE."""
    from iconic_data_science_spark.operators.graph import pagerank_int
    from iconic_data_science_spark.operators.text import html_links, synth_html_linked

    cat = _cat(spark, sf_dir)
    links = html_links(synth_html_linked(cat.documents))
    edges = (
        links.filter(F.col("href").rlike("^/doc/[0-9]+$"))
        .select(
            F.col("doc_id").alias("src"),
            F.regexp_extract(F.col("href"), "^/doc/([0-9]+)$", 1)
            .cast("long")
            .alias("dst"),
        )
        .distinct()
    )
    return pagerank_int(edges, damping_pct=85, iterations=10)


def q_ev_kmv_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users per event type from MERGED hourly
    KMV panes: raw events are scanned once (bounded map-side partial,
    ≤k sketch rows per pane); every 3-hour window estimate is computed
    by re-ranking the union of its panes' minima — k-minima of a union
    == k-minima of the k-minima, so merging sketches is exact. The
    naive sliding COUNT(DISTINCT) rescans each event window_hours
    times and shuffles raw keys; this is the mergeability argument for
    sketches at 100 TB, realized in the plan. Same LCG/estimator
    literals as ev_kmv_distinct; epoch-hour panes are TZ-free."""
    from iconic_data_science_spark.operators.sketch import kmv_sliding_distinct

    cat = _cat(spark, sf_dir)
    return kmv_sliding_distinct(cat.events, window_hours=3)


def q_text_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE at corpus scale (the
    DCLM/FineWeb-Edu gate: train a small model offline, score
    everything online): 256 integer micro-weights over the signed
    feature-hashing space, forward pass fully IN-ROW (one aggregate
    HOF per document, weights a plan literal) — zero shuffles, zero
    joins, no Python. The weight vector here is a deterministic
    stand-in derived from the feature id (w_f = (f·2654435761 mod
    2001) − 1000 — no trained artifact exists in this sandbox, the
    contract is the scoring plumbing), which also lets the oracle
    replay the model arithmetically instead of embedding 256
    literals."""
    from iconic_data_science_spark.operators.featurize import linear_classifier_gate

    cat = _cat(spark, sf_dir)
    weights = [((f * 2654435761) % 2001) - 1000 for f in range(256)]
    return linear_classifier_gate(cat.documents, weights, bias_micro=0)


def q_curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second-continuation capstone: exact dedup → classifier gate
    → temperature resampling, composed in cost order (hash groupBy
    first, then two map passes; the sampling RATES are learned on the
    gated corpus, not the raw one — gating shifts language shares, and
    sampling at pre-gate rates would mis-allocate the budget). Returns
    the (doc_id, lang, n_tokens) training subset. Every stage is
    individually hash-oracled; the composition is oracled end to end
    by chaining the stage CTEs."""
    from iconic_data_science_spark.operators.dedup import exact_dedup
    from iconic_data_science_spark.operators.featurize import linear_classifier_gate
    from iconic_data_science_spark.operators.mixing import temperature_sample

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    canon = exact_dedup(docs).select(F.col("canonical_id").alias("doc_id"))
    survivors = docs.join(canon, "doc_id", "left_semi")
    weights = [((f * 2654435761) % 2001) - 1000 for f in range(256)]
    kept_ids = (
        linear_classifier_gate(survivors, weights, bias_micro=0)
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    gated = survivors.join(kept_ids, "doc_id", "left_semi")
    return temperature_sample(gated, budget_tokens=500_000)


def q_ev_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted value rollup on an exact integer lattice:
    Σ value_cents · (10⁶ div 2^age_buckets) per event type, age in
    24-hour buckets from the newest event — the freshness-weighted
    engagement feature, computed so partial aggregation, re-ordering,
    and engine swaps cannot change a bit (float exponential decay can
    do none of those). 1-row reference broadcast, map-side weighting,
    one group rollup."""
    from iconic_data_science_spark.operators.decay import decayed_value

    cat = _cat(spark, sf_dir)
    return decayed_value(cat.events, bucket_hours=24, max_age_buckets=20)


def q_mm_video_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection under the HASH gate — the shot-segmentation
    grain completing the multimodal frame-level trio (image resize,
    audio frames, video cuts): every adjacent frame pair of every real
    AVI decodes (mapInPandas) into exact-integer per-pair statistics
    (Σ|Δpixel|, value count, an integer threshold flag at the
    generator's expected inter-frame delta so both flag values occur).
    The DuckDB twin replays each delta from the generator arithmetic —
    a frame-walk or channel-order bug breaks the hash."""
    from iconic_data_science_spark.operators.multimodal import synth_media_real
    from iconic_data_science_spark.operators.video import video_scene_cuts

    ensure_engine_conf(spark)
    return video_scene_cuts(synth_media_real(spark, 256))


def q_text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word co-occurrence statistics within a 3-token forward window —
    the GloVe/PMI corpus builder. Pairs are constructed IN-ROW
    (slice/transform over the token array: no positional self-join, so
    the corpus never shuffles against itself), partial-aggregated into
    ONE (w1, w2) rollup, min-count 5; unigram counts broadcast back
    and lift_ppm is the documented nested integer expression — every
    engine computes the identical value."""
    from iconic_data_science_spark.operators.featurize import window_cooccurrence

    cat = _cat(spark, sf_dir)
    return window_cooccurrence(cat.documents, window=3, min_count=5)


def q_mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio sample-rate-normalization pipeline end to end under
    the HASH gate (the audio twin of mm_resize_stats): every WAV
    decodes, decimates by 2 (integer decimation — each output byte a
    pure function of the input), re-encodes at 4 kHz, then flows
    through the frame analyzer AGAIN — so the resampler, both codec
    passes, and the framing are all under the hash. The oracle replays
    each frame from the generator arithmetic at stride 2."""
    from iconic_data_science_spark.operators.audio import audio_frame_stats, resample_audio
    from iconic_data_science_spark.operators.multimodal import synth_media_real

    ensure_engine_conf(spark)
    half = resample_audio(synth_media_real(spark, 256), factor=2)
    return audio_frame_stats(half, frame=160, silence_rms=1200)


def q_lh_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planning — the retention step completing the lakehouse
    maintenance family (MERGE/SCD2/snapshots/diff/compaction/layout):
    a deterministic version→file ledger derived from orders (file =
    (year, month) with row-count size; file f's last referenced
    version is (file_id·3 + part) mod 5) classified against retention
    horizon 3 into live / retained / deletable. Metadata grain only —
    one ledger groupBy plus a broadcast 1-row current-version max."""
    from iconic_data_science_spark.operators.lakehouse import vacuum_plan

    cat = _cat(spark, sf_dir)
    inventory = cat.orders.groupBy(
        F.year("o_orderdate").cast("long").alias("part"),
        F.month("o_orderdate").cast("long").alias("file_id"),
    ).agg(F.count("*").cast("long").alias("size"))
    refs = inventory.select(
        "file_id",
        "part",
        "size",
        F.explode(
            F.sequence(F.lit(0), ((F.col("file_id") * 3 + F.col("part")) % 5).cast("int"))
        ).alias("_v"),
    ).select("file_id", "part", "size", F.col("_v").cast("long").alias("version"))
    return vacuum_plan(refs, retain_from_version=3)


def q_ev_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix (the Markov/Sankey builder):
    consecutive event pairs per user in deterministic (ts, event_id)
    order → transition counts + integer-ppm conditional probabilities.
    ONE user-grain window shuffle; the (from,to) rollup and the
    broadcast marginal are ≤|event types|² rows."""
    from iconic_data_science_spark.operators.events import transition_matrix

    cat = _cat(spark, sf_dir)
    return transition_matrix(cat.events)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CONTAINMENT join (|x∩y|/|x| ≥ 0.5 on 3-gram shingles) —
    the asymmetric member of the similarity-join family: symmetric
    Jaccard misses a short document duplicated INSIDE a long one
    (syndication, quoting) because the union is dominated by the long
    side. Contained-side prefix filtering (pigeonhole on the
    globally-rarest ⌈(1−t)|x|⌉+1 shingles, DECIMAL ceil), full
    container postings, per-pair array-intersect verify. Oracle = the
    naive directed theta join reproduced row-for-row."""
    from iconic_data_science_spark.operators.dedup import containment_pairs

    cat = _cat(spark, sf_dir)
    return containment_pairs(cat.documents, n=3, threshold=0.5)


def q_ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST hourly volume anomalies: |n_h − median| > 3·MAD per
    event type — the median-absolute-deviation twin of the z-score
    flags (one outage hour owns a mean/σ baseline, breaks neither
    median). Counts, lower medians (deterministic tie order), MAD, and
    the compare are all integers — engine-exact with no float at any
    step. One hourly rollup + two rank windows at (type, hour) grain."""
    from iconic_data_science_spark.operators.timeseries import mad_anomaly_hours

    cat = _cat(spark, sf_dir)
    return mad_anomaly_hours(cat.events, k=3)


ORACLES["ts_anomaly_mad"] = """
    WITH c AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, hour, n,
               MAX(CASE WHEN rk = (m + 1) // 2 THEN n END)
                   OVER (PARTITION BY event_type) AS med
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY n, hour) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS m
            FROM c
        )
    ),
    mad AS (
        SELECT event_type, hour, n, med, d,
               MAX(CASE WHEN rk = (m + 1) // 2 THEN d END)
                   OVER (PARTITION BY event_type) AS mad
        FROM (
            SELECT *, ABS(n - med) AS d,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY ABS(n - med), hour) AS rk,
                   COUNT(*) OVER (PARTITION BY event_type) AS m
            FROM med
        )
    )
    SELECT event_type, hour, n, med, mad,
           CAST(CASE WHEN d > 3 * mad THEN 1 ELSE 0 END AS BIGINT) AS anomalous
    FROM mad
"""

ORACLES["dedup_containment"] = """
    WITH sh AS (
        SELECT DISTINCT doc_id, s AS shingle FROM (
            SELECT doc_id,
                   unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                           for i in generate_series(1, len(th)-2)]) AS s
            FROM (
                SELECT doc_id,
                       [list_reduce(
                            [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                             for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                            (a, b) -> a * 16 + b) % 2147483647
                        for tok in string_split(lower(text), ' ')] AS th
                FROM documents
            )
        )
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b USING (shingle)
        WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
    )
    SELECT i.id_contained, i.id_container, i.inter,
           z.sz AS size_contained,
           CAST((i.inter * 100) // z.sz AS BIGINT) AS containment_pct
    FROM inter i JOIN sz z ON z.doc_id = i.id_contained
    WHERE i.inter >= CAST(ceil(CAST(0.5 AS DECIMAL(10,6)) * z.sz) AS BIGINT)
"""

ORACLES["ev_transition_matrix"] = """
    WITH seq AS (
        SELECT user_id, event_type AS to_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type
        FROM events
    ),
    c AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
    ),
    m AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS from_n FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n, m.from_n,
           CAST((c.n * 1000000) // m.from_n AS BIGINT) AS prob_ppm
    FROM c JOIN m USING (from_type)
"""

ORACLES["lh_vacuum_plan"] = """
    WITH inv AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS part,
               CAST(month(o_orderdate) AS BIGINT) AS file_id,
               CAST(COUNT(*) AS BIGINT) AS size
        FROM orders GROUP BY 1, 2
    ),
    f AS (
        SELECT file_id, part, size,
               CAST(0 AS BIGINT) AS first_version,
               (file_id * 3 + part) % 5 AS last_version
        FROM inv
    ),
    cur AS (SELECT MAX(last_version) AS c FROM f)
    SELECT file_id, part, size, first_version, last_version,
           CASE WHEN last_version = cur.c THEN 'live'
                WHEN last_version >= 3 THEN 'retained'
                ELSE 'deletable' END AS status
    FROM f, cur
"""

ORACLES["text_cooccurrence"] = """
    WITH toks AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
    p AS (
        SELECT t[g.i + 1] AS w1, t[g.i + 1 + j.range] AS w2
        FROM toks,
             LATERAL (SELECT UNNEST(range(0, len(t))) AS i) g,
             range(1, 4) j
        WHERE g.i + j.range < len(t)
    ),
    pairs AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_n
        FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    uni AS (
        SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT UNNEST(t) AS w FROM toks) u GROUP BY 1
    ),
    tot AS (SELECT SUM(pair_n) AS t_all FROM pairs)
    SELECT p.w1, p.w2, p.pair_n, u1.n AS w1_n, u2.n AS w2_n,
           CAST((((p.pair_n * 1000000) // u1.n) * tot.t_all) // u2.n AS BIGINT) AS lift_ppm
    FROM pairs p
    JOIN uni u1 ON u1.w = p.w1
    JOIN uni u2 ON u2.w = p.w2, tot
"""

ORACLES["mm_audio_resample"] = """
    WITH ids AS (SELECT CAST(t.range AS BIGINT) AS mid FROM range(0, 256) t),
    aud AS (
        SELECT mid, (mid % 500 + 100 + 1) // 2 AS ns
        FROM ids WHERE mid % 3 = 1
    ),
    s AS (
        SELECT a.mid, CAST(j.range AS BIGINT) AS i,
               (a.mid*13 + (2*j.range)*17) % 4096 - 2048 AS x
        FROM aud a JOIN range(0, 300) j ON j.range < a.ns
    ),
    f AS (
        SELECT mid AS media_id, i // 160 AS frame_no,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x*x) AS BIGINT) AS energy,
               CAST(MAX(ABS(x)) AS BIGINT) AS peak
        FROM s GROUP BY 1, 2
    )
    SELECT media_id, frame_no, n, energy, peak,
           CAST(FLOOR(SQRT(CAST(energy // n AS DOUBLE))) AS BIGINT) AS rms,
           CASE WHEN energy < 1440000 * n THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS silent
    FROM f
"""

from iconic_data_science_spark.operators.decay import decay_oracle_sql as _decay_oracle_sql  # noqa: E402

ORACLES["ev_decayed_value"] = _decay_oracle_sql(bucket_hours=24, max_age_buckets=20)

# Arithmetic replay: value (f, j) of video mid is
# (mid*31 + (f*h*w + j//3)*7 + (j%3)*13 + f*97) % 256 — the frame-pair
# delta recomputes both frames' values per position.
ORACLES["mm_video_cuts"] = """
    WITH ids AS (SELECT CAST(t.range AS BIGINT) AS mid FROM range(0, 256) t),
    vid AS (
        SELECT mid, mid % 4 + 2 AS nf, mid % 12 + 4 AS w, mid % 8 + 4 AS h
        FROM ids WHERE mid % 3 = 2
    ),
    pairs AS (
        SELECT v.mid, CAST(f.range AS BIGINT) AS f, v.nf, v.w, v.h
        FROM vid v JOIN range(1, 5) f ON f.range < v.nf
    ),
    d AS (
        SELECT p.mid, p.f AS frame_no, CAST(p.h * p.w * 3 AS BIGINT) AS n_values,
               CAST(SUM(ABS(
                   (p.mid*31 + (p.f*p.h*p.w + j.range//3)*7 + (j.range%3)*13 + p.f*97) % 256
                 - (p.mid*31 + ((p.f-1)*p.h*p.w + j.range//3)*7 + (j.range%3)*13 + (p.f-1)*97) % 256
               )) AS BIGINT) AS delta
        FROM pairs p JOIN range(0, 495) j ON j.range < p.h * p.w * 3
        GROUP BY 1, 2, 3
    )
    SELECT mid AS media_id, frame_no, n_values, delta,
           CAST(CASE WHEN delta * 2 > 241 * n_values THEN 1 ELSE 0 END AS BIGINT) AS cut
    FROM d
"""

ORACLES["curation_pipeline_v4"] = """
    WITH canon AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    surv AS (SELECT d.* FROM documents d JOIN canon USING (doc_id)),
    tk AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM surv
    ),
    nz AS (SELECT doc_id, token FROM tk WHERE token <> ''),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(token), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS h
        FROM nz
    ),
    logit AS (
        SELECT doc_id,
               SUM((CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END)
                   * (((h % 256) * 2654435761) % 2001 - 1000)) AS l
        FROM hashed GROUP BY 1
    ),
    gated AS (
        SELECT s.* FROM surv s JOIN logit ON logit.doc_id = s.doc_id
        WHERE logit.l > 0
    ),
    per_lang AS (
        SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_toks
        FROM gated GROUP BY 1
    ),
    w AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(lang_toks AS DOUBLE))) AS BIGINT) AS weight
        FROM per_lang
    ),
    tot AS (SELECT SUM(weight) AS w_sum FROM w),
    d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) % 1000000 AS u
        FROM gated
    )
    SELECT doc_id, lang, n_tokens
    FROM d JOIN w USING (lang), tot
    WHERE CAST(u AS HUGEINT) * lang_toks * w_sum
          < CAST(500000 AS HUGEINT) * 1000000 * weight
"""

ORACLES["text_classifier_gate"] = """
    WITH tk AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    nz AS (SELECT doc_id, token FROM tk WHERE token <> ''),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(token), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS h
        FROM nz
    ),
    c AS (
        SELECT doc_id,
               (CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END)
               * (((h % 256) * 2654435761) % 2001 - 1000) AS contrib
        FROM hashed
    ),
    n AS (
        SELECT d.doc_id, CAST(COUNT(t.token) AS BIGINT) AS n_tokens
        FROM documents d LEFT JOIN nz t USING (doc_id) GROUP BY 1
    ),
    s AS (
        SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS logit FROM c GROUP BY 1
    )
    SELECT n.doc_id, n.n_tokens,
           CAST(COALESCE(s.logit, 0) AS BIGINT) AS logit_micro,
           CAST(CASE WHEN COALESCE(s.logit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM n LEFT JOIN s USING (doc_id)
"""

from iconic_data_science_spark.operators.sketch import kmv_sliding_oracle_sql as _kmv_sliding_oracle_sql  # noqa: E402

ORACLES["ev_kmv_sliding"] = _kmv_sliding_oracle_sql(window_hours=3)

ORACLES["web_link_graph"] = """
    WITH cand AS (
        SELECT doc_id, doc_id // r.k AS dst,
               CASE r.k WHEN 2 THEN 0 WHEN 3 THEN 1 ELSE 2 END AS rule_ord
        FROM documents, (VALUES (2), (3), (5)) r(k)
    ),
    docl AS (
        SELECT doc_id,
               1 + ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rule_ord) AS pos,
               '/doc/' || CAST(dst AS VARCHAR) AS href,
               'doc ' || CAST(dst AS VARCHAR) AS anchor
        FROM cand WHERE dst <> doc_id
    )
    SELECT doc_id, CAST(0 AS BIGINT) AS pos, '/' AS href, 'Home' AS anchor
    FROM documents
    UNION ALL
    SELECT doc_id, CAST(1 AS BIGINT), '/s/' || source, source FROM documents
    UNION ALL
    SELECT doc_id, CAST(pos AS BIGINT), href, anchor FROM docl
"""

ORACLES["web_pagerank"] = """
    WITH RECURSIVE ce AS (
        SELECT DISTINCT doc_id AS citing, doc_id // r.k AS cited
        FROM documents, (VALUES (2), (3), (5)) r(k)
        WHERE doc_id // r.k <> doc_id
    ),
    nodes AS (SELECT DISTINCT v FROM (SELECT citing AS v FROM ce UNION ALL SELECT cited FROM ce)),
    od AS (SELECT citing AS v, COUNT(*) AS deg FROM ce GROUP BY 1),
    aug AS (
        SELECT citing AS src, cited AS dst, 1 AS w FROM ce
        UNION ALL
        SELECT v, v, 0 FROM nodes
    ),
    oda AS (SELECT n.v, COALESCE(od.deg, 1) AS deg FROM nodes n LEFT JOIN od ON od.v = n.v),
    pr(it, v, r) AS (
        SELECT 0, v, CAST(1000000000 AS BIGINT) FROM nodes
        UNION ALL
        SELECT p.it + 1, a.dst,
               CAST(150000000 + (85 * SUM((p.r // o.deg) * a.w)) // 100 AS BIGINT)
        FROM pr p
        JOIN aug a ON a.src = p.v
        JOIN oda o ON o.v = p.v
        WHERE p.it < 10
        GROUP BY p.it, a.dst
    )
    SELECT v AS node, r AS rank_i FROM pr WHERE it = 10
"""

ORACLES["ev_winsorize"] = """
    WITH r AS (
        SELECT event_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value NULLS FIRST, event_id) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    c AS (
        SELECT event_type,
               MAX(CASE WHEN rk = (95*n + 99)//100 THEN value END) AS cutoff
        FROM r GROUP BY 1
    )
    SELECT r.event_id, r.event_type, r.value, c.cutoff,
           LEAST(r.value, c.cutoff) AS clipped
    FROM r JOIN c USING (event_type)
"""

_MIX_PER_LANG = """
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
"""

ORACLES["mix_temperature"] = f"""
    WITH per_lang AS ({_MIX_PER_LANG}),
    w AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
        FROM per_lang
    ),
    tot AS (SELECT SUM(weight) AS w_sum FROM w)
    SELECT lang, n_docs, n_tokens, weight,
           CAST(1000000 * weight // w_sum AS BIGINT) AS rate_ppm,
           CAST(1000000 * weight // w_sum AS BIGINT) AS alloc_tokens
    FROM w, tot
"""

ORACLES["mix_temperature_sample"] = f"""
    WITH per_lang AS ({_MIX_PER_LANG}),
    w AS (
        SELECT lang, n_tokens AS lang_toks,
               CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
        FROM per_lang
    ),
    tot AS (SELECT SUM(weight) AS w_sum FROM w),
    d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) % 1000000 AS u
        FROM documents
    )
    SELECT doc_id, lang, n_tokens
    FROM d JOIN w USING (lang), tot
    WHERE CAST(u AS HUGEINT) * lang_toks * w_sum
          < CAST(1000000 AS HUGEINT) * 1000000 * weight
"""

ORACLES["text_hashed_tfidf"] = """
    WITH tk AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(token), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS h
        FROM tk WHERE token <> ''
    ),
    pairs AS (
        SELECT doc_id, h % 1024 AS feature,
               CASE WHEN (h // 1024) % 2 = 0 THEN 1 ELSE -1 END AS sign
        FROM hashed
    ),
    vals AS (
        SELECT doc_id, feature, CAST(SUM(sign) AS BIGINT) AS value
        FROM pairs GROUP BY 1, 2
    ),
    dfq AS (SELECT feature, CAST(COUNT(*) AS BIGINT) AS df FROM vals GROUP BY 1),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT v.doc_id, v.feature, v.value,
               v.value * ((nd.n_docs * 1000000) // d.df) AS score
        FROM vals v JOIN dfq d USING (feature), nd
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY ABS(score) DESC, feature
        ) AS rank FROM scored
    )
    SELECT doc_id, feature, value, CAST(score AS BIGINT) AS score,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 8
"""

ORACLES["text_topic_tags"] = """
    WITH kw(token, topic) AS (VALUES
        ('agg', 'execution'), ('hash', 'execution'), ('merge', 'execution'),
        ('scan', 'execution'), ('sort', 'execution'),
        ('key', 'planning'), ('line', 'planning'), ('spark', 'planning'),
        ('value', 'planning'), ('window', 'planning'),
        ('batch', 'storage'), ('parquet', 'storage'), ('part', 'storage'),
        ('row', 'storage'), ('table', 'storage')
    ),
    tk AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        FROM documents
    )
    SELECT doc_id, topic, CAST(COUNT(*) AS BIGINT) AS hits
    FROM tk JOIN kw USING (token)
    GROUP BY 1, 2
"""

# Arithmetic replay: frame f of audio mid aggregates the generator
# samples x_i = (mid*13 + i*17) % 4096 - 2048 for i in [160f, 160f+160).
ORACLES["mm_audio_frames"] = """
    WITH ids AS (SELECT CAST(t.range AS BIGINT) AS mid FROM range(0, 256) t),
    aud AS (SELECT mid, mid % 500 + 100 AS ns FROM ids WHERE mid % 3 = 1),
    s AS (
        SELECT a.mid, CAST(j.range AS BIGINT) AS i,
               (a.mid*13 + j.range*17) % 4096 - 2048 AS x
        FROM aud a JOIN range(0, 599) j ON j.range < a.ns
    ),
    f AS (
        SELECT mid AS media_id, i // 160 AS frame_no,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x*x) AS BIGINT) AS energy,
               CAST(MAX(ABS(x)) AS BIGINT) AS peak
        FROM s GROUP BY 1, 2
    )
    SELECT media_id, frame_no, n, energy, peak,
           CAST(FLOOR(SQRT(CAST(energy // n AS DOUBLE))) AS BIGINT) AS rms,
           CASE WHEN energy < 1440000 * n THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS silent
    FROM f
"""


# ---------------------------------------------------------------------------
# round 6: distributed classifier TRAINING (VERDICT r5 item 2)

# The heuristic label rule both trainer queries bootstrap from — the
# standard curation move (DCLM/FineWeb-Edu train their quality models on
# rule- or LLM-labeled seed sets; here the seed labeler is a keyword
# rule, fully SQL-replayable): a doc is "good" iff its good-keyword
# count exceeds its bad-keyword count.
_TRAIN_GOOD = ("data", "query", "table")
_TRAIN_BAD = ("slow", "batch")


def _quality_label_col():
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
        lambda t: t != "",
    )
    good = F.size(F.filter(toks, lambda t: t.isin(*_TRAIN_GOOD)))
    bad = F.size(F.filter(toks, lambda t: t.isin(*_TRAIN_BAD)))
    return F.when(good - bad > 0, 1).otherwise(-1)


_TRAIN_LABEL_SQL = (
    "CASE WHEN len(list_filter(string_split(lower(coalesce(text, '')), ' '), "
    f"t -> t IN {_TRAIN_GOOD})) "
    "- len(list_filter(string_split(lower(coalesce(text, '')), ' '), "
    f"t -> t IN {_TRAIN_BAD})) > 0 THEN 1 ELSE -1 END"
)


def q_text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED pocket-perceptron training of the quality gate —
    the half of the DCLM/FineWeb-Edu recipe `text_classifier_gate`'s
    stand-in weights left open (r5 verdict item 2; the reference trains
    nothing, magNets.scala:1-80). Full-batch all-integer recurrence
    (harmonic `div` steps + pocket argmin over epoch error counts), so
    the learned 257 weights hash-match DuckDB's unrolled-CTE replay of
    the same 12 epochs. Labels come from a keyword seed rule; the
    trained model reaches ~95% agreement with it from hashed
    bag-of-words alone. Scale: design matrix and labels materialize
    once (doc-partitioned); per epoch one co-partitioned doc-grain
    aggregate + one ≤257-row exchange; weights broadcast each round —
    corpus-size work is epochs × one pass, and the OUTPUT is a plan
    literal any 100 TB scoring pass embeds for free."""
    from iconic_data_science_spark.operators.featurize import train_linear_classifier

    cat = _cat(spark, sf_dir)
    return train_linear_classifier(
        cat.documents, _quality_label_col(), dim=256, epochs=12
    )


def q_curation_pipeline_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end TRAINED curation pipeline (v4 with the stand-in
    model replaced by verdict item 2's real trainer): exact dedup →
    train the gate ON THE SURVIVORS against the keyword seed rule →
    score everything with the learned weights as a plan literal (the
    ≤257-row weight collect is the bounded driver tier — train small,
    score in one map pass) → temperature-resample at rates learned on
    the gated corpus. Oracle chains the trainer's unrolled-epoch CTEs
    into v4's dedup/score/sample replay — one hash covers training,
    inference, and sampling."""
    from iconic_data_science_spark.operators.dedup import exact_dedup
    from iconic_data_science_spark.operators.featurize import (
        linear_classifier_gate,
        train_linear_classifier,
    )
    from iconic_data_science_spark.operators.mixing import temperature_sample

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    canon = exact_dedup(docs).select(F.col("canonical_id").alias("doc_id"))
    survivors = docs.join(canon, "doc_id", "left_semi")
    trained = train_linear_classifier(
        survivors, _quality_label_col(), dim=256, epochs=12
    )
    # ≤ 257 integers to the driver: the model IS small by construction
    # (dim is a constant) — this is the "train offline, embed as a
    # literal" deployment shape, not a data-sized collect.
    w_map = {int(r["feature"]): int(r["weight_micro"]) for r in trained.collect()}
    weights = [w_map.get(f, 0) for f in range(256)]
    kept_ids = (
        linear_classifier_gate(survivors, weights, bias_micro=w_map.get(-1, 0))
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    gated = survivors.join(kept_ids, "doc_id", "left_semi")
    return temperature_sample(gated, budget_tokens=500_000)


def q_ann_ivf_kmeans_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means on the INTEGER lattice — the hash-oracled twin
    of the float IVF-over-learned-centroids pipeline (r5 verdict item
    3, the same float→int move as g_pagerank→g_pagerank_int; the float
    registry entry was RETIRED in round 7 per r6 verdict item 6 — the
    operators kmeans_centroids/ivf_topk remain, recall-tested): quantize
    components to round(x·1000) BIGINTs, then 3 exact Lloyd rounds
    (argmin Σ(q−c)², trunc-div centroid means, empty cells carry) and
    the final assignment with its exact squared distance. Any drift in
    seeding, distance, tie-break, or update breaks the hash; the float
    original keeps the recall contract (test_ann_recall.py), this twin
    carries the correctness gate. Per round: map-side argmin over K
    literal centroids + one K×(dim+1)-row exchange — corpus scanned,
    never moved."""
    from iconic_data_science_spark.operators.similarity import kmeans_int_assign

    cat = _cat(spark, sf_dir)
    return kmeans_int_assign(cat.embeddings, n_cells=8, n_iters=3)


def q_g3_personal_net_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's SALTED pair build (r5 verdict item 5): the
    mega-ego O(k²) explosion spreads over buckets² reducer keys
    instead of one (personal_net.personal_net_salted). Row-identical
    to g3_personal_net for any bucket count — it shares the flagship's
    hash oracle, so the driver gate IS the oracle-equality proof; the
    mega-ego fixture timing lives in SCALE.md."""
    from iconic_data_science_spark.operators.personal_net import personal_net_salted

    cat = _cat(spark, sf_dir)
    years = magmap.paper_years(cat).filter(F.col("year") == 1995)
    edges = (
        coauthor_edges(
            magmap.paa(cat), years, min_papers_together=2, max_authors_per_paper=256
        )
        .select("ego", "alter_id", "first_year")
        .localCheckpoint()
    )
    egos = edges.select("ego").filter(F.col("ego") % 10 == 0).distinct()
    return personal_net_salted(edges, egos=egos, buckets=4)


def q_text_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate operating-curve sweep — the eval step between training and
    the 100 TB scoring pass: confusion counts + integer-ppm
    precision/recall of the stand-in-weight gate against the keyword
    seed rule at five thresholds. One in-row scoring pass, a
    ≤5×-constant fan-out over the literal threshold array, one tiny
    groupBy — the cost is the same single corpus map the gate itself
    costs."""
    from iconic_data_science_spark.operators.featurize import (
        classifier_threshold_eval,
    )

    cat = _cat(spark, sf_dir)
    weights = [((f * 2654435761) % 2001) - 1000 for f in range(256)]
    return classifier_threshold_eval(
        cat.documents, weights, _quality_label_col(), bias_micro=0,
        thresholds_micro=(-2000, -1000, 0, 1000, 2000),
    )


def q_dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding audit: exact-Jaccard ground truth vs the LSH
    candidate set ON THIS CORPUS — (n_true, n_candidates, n_found,
    n_missed, recall_ppm, cand_precision_ppm) in one row. The
    measurement a production dedup publishes next to its (num_perm,
    rows_per_band) choice instead of trusting the iid-minhash formula;
    at 100 TB the same audit runs on a content-hash sample (banding
    recall is a per-pair property, so the sample estimate is
    unbiased)."""
    from iconic_data_science_spark.operators.dedup import minhash_recall_eval

    cat = _cat(spark, sf_dir)
    return minhash_recall_eval(
        cat.documents, n=3, num_perm=16, rows_per_band=4, threshold=0.5
    )


def q_dedup_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION step of ExactSubstr (Lee et al. 2022 §4.2): cut every
    corpus-duplicated 5-gram span out of the training text. Rides the
    dedup_dup_spans plan + one doc-grain join; the excision is an
    in-row filter over the token array. Untouched documents pass
    through bit-identical (the oracle hashes the full cleaned corpus,
    so both the cut positions and the pass-through are under the
    gate)."""
    from iconic_data_science_spark.operators.dedup import strip_duplicate_spans

    cat = _cat(spark, sf_dir)
    return strip_duplicate_spans(cat.documents, n=5, min_count=2)


def q_text_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact value-bucket quality deciles (text.quality_deciles) — the
    curriculum/filter-sweep input. Deliberately NOT a global rank
    window: the integer score has ≤1001 values, so cutoffs come from a
    bounded histogram and attach back by broadcast — corpus scanned,
    never globally sorted."""
    from iconic_data_science_spark.operators.text import quality_deciles

    cat = _cat(spark, sf_dir)
    return quality_deciles(cat.documents)


def q_mix_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting on the integer lattice (Xie et
    al. 2023 reduced to its deterministic Hedge core): per-source
    excess loss = ppm of documents where the stand-in quality gate
    DISAGREES with the keyword seed rule (the 'hard for the proxy'
    signal), then 5 multiplicative-weight rounds upweight the hard
    sources. The corpus pass is one in-row scoring + a source-grain
    aggregate; the rounds run over bounded domain metadata. Oracle
    unrolls the rounds as chained CTEs over the gate replay."""
    from iconic_data_science_spark.operators.featurize import linear_classifier_gate
    from iconic_data_science_spark.operators.mixing import domain_reweight

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    weights = [((f * 2654435761) % 2001) - 1000 for f in range(256)]
    scored = linear_classifier_gate(docs, weights, bias_micro=0).select(
        "doc_id", "keep"
    )
    lab = docs.select(
        "doc_id", F.col("source"), _quality_label_col().alias("_y")
    )
    losses = (
        lab.join(scored, "doc_id")
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.expr(
                "(1000000 * count(CASE WHEN (keep = 1) != (_y = 1) THEN 1 END)) "
                "div count(1)"
            ).cast("long").alias("loss_ppm")
        )
    )
    return domain_reweight(losses, rounds=5, eta_milli=500)


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style normalization (text.normalize_text): lowercase →
    strip URLs → strip non-alphanumerics → collapse whitespace → trim,
    in a pure JVM regexp chain with RE2-safe character classes so the
    oracle replays it byte-for-byte. Zero shuffles — the pass that must
    precede any content-hash dedup of web text."""
    from iconic_data_science_spark.operators.text import normalize_text

    cat = _cat(spark, sf_dir)
    return normalize_text(cat.documents)


def q_text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-identifier confusion matrix (text.langid_confusion):
    the stopword-vote predictor against the labeled lang column —
    per-language precision/recall fall out of the matrix, telling you
    whether the langid gate is safe to filter on. One langid pass +
    one (true, pred)-grain rollup."""
    from iconic_data_science_spark.operators.text import langid_confusion

    cat = _cat(spark, sf_dir)
    return langid_confusion(cat.documents)


def q_dedup_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-loop index maintenance (dedup.minhash_index_upsert): the
    even-doc_id half is the persisted MinHash index, the odd half is
    the incoming crawl batch; batch docs near-duplicating the corpus
    (band candidates + exact Jaccard ≥ 0.5) are refused, survivors
    union in tagged 'new', re-crawled ids stay idempotent. Returns the
    next index generation's (doc_id, band, band_sig, origin) rows —
    the step that keeps streaming doc-dedup's static side current. In
    production the result lands via lakehouse.write_snapshot
    (versioned index generations)."""
    from iconic_data_science_spark.operators.dedup import (
        minhash_index_build,
        minhash_index_upsert,
    )

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    # materialize the index once: the upsert reads it THREE times (the
    # candidate join, the id anti-join, the final union), and the
    # production shape IS a persisted table — the lazy form re-ran the
    # even-half tokenize pipeline per consumer (r11, multi-consumer
    # rule; the streaming bench's doc_dedup side already pins the same
    # localCheckpoint shape)
    index = minhash_index_build(docs.filter(F.col("doc_id") % 2 == 0)).localCheckpoint()
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return minhash_index_upsert(index, batch).select(
        "doc_id", F.col("band").cast("long").alias("band"), "band_sig", "origin"
    )


def q_curation_pipeline_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 capstone composition, in the order a web pipeline
    actually runs: NORMALIZE (byte noise must not defeat the hash) →
    exact dedup ON THE NORMALIZED text (mirror pages collapse; all-
    boilerplate pages normalize to '' and collapse to one canonical) →
    quality-DECILE gate (keep deciles ≥ 5, the top half — the
    filter-sweep knob) → temperature-resample at rates learned on the
    gated corpus. Returns (doc_id, lang, n_tokens). Every stage is
    individually hash-oracled; the composition chains their CTEs under
    one hash."""
    from iconic_data_science_spark.operators.dedup import exact_dedup
    from iconic_data_science_spark.operators.mixing import temperature_sample
    from iconic_data_science_spark.operators.text import normalize_text, quality_deciles

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    normed = docs.join(normalize_text(docs).select("doc_id", "norm_text"), "doc_id")
    canon = exact_dedup(normed, text_col="norm_text").select(
        F.col("canonical_id").alias("doc_id")
    )
    surv = normed.join(canon, "doc_id", "left_semi").localCheckpoint()
    good = quality_deciles(surv).filter(F.col("decile") >= 5).select("doc_id")
    gated = surv.join(good, "doc_id", "left_semi")
    return temperature_sample(gated, budget_tokens=500_000)


def q_text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decile gate in its streaming-compatible form
    (text.quality_gate_against_cutoff): cutoff learned once on the
    static corpus, admission a pure in-row score+compare behind a
    1-row broadcast — stream == batch pinned in test_streaming. Here
    the batch form carries the driver hash."""
    from iconic_data_science_spark.operators.text import quality_gate_against_cutoff

    cat = _cat(spark, sf_dir)
    return quality_gate_against_cutoff(cat.documents, cat.documents, min_decile=5)


# (oracle assigned after ORACLES["text_quality_deciles"] below)


def q_ann_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality vs the labeled column — the clustering member
    of the eval trio (classifier sweep, banding audit, this): per
    kmeans_int cell, size, majority label and integer-ppm purity. One
    exact assignment pass + label-dimension-sized rollups; the oracle
    chains the unrolled k-means replay into the purity CTEs."""
    from iconic_data_science_spark.operators.similarity import kmeans_cluster_eval

    cat = _cat(spark, sf_dir)
    return kmeans_cluster_eval(cat.embeddings, n_cells=8, n_iters=3)


def q_web_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected components of the crawl link graph — the
    site/community grouping step (mirror detection, per-site quotas,
    crawl frontier partitioning): extract links (pure JVM regexps),
    treat edges undirected, run the engine's three-tier CC
    (dedup_clusters: local union-find under 2M pairs, broadcast/shuffle
    min-label + pointer-jump fixpoint above). cluster_id = the
    component's minimum doc id; oracle replays reachability as a
    recursive CTE."""
    from iconic_data_science_spark.operators.dedup import dedup_clusters
    from iconic_data_science_spark.operators.text import html_links, synth_html_linked

    cat = _cat(spark, sf_dir)
    links = html_links(synth_html_linked(cat.documents))
    edges = (
        links.filter(F.col("href").rlike("^/doc/[0-9]+$"))
        .select(
            F.col("doc_id").alias("id1"),
            F.regexp_extract(F.col("href"), "^/doc/([0-9]+)$", 1)
            .cast("long")
            .alias("id2"),
        )
        .filter(F.col("id1") != F.col("id2"))
        .distinct()
    )
    return dedup_clusters(edges)


def q_sample_global_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global fixed-size uniform sample (sampling.global_uniform_n):
    exactly N rows by md5-rank of the key — one TakeOrdered, no global
    sort; the 'give me exactly 1000 docs, reproducibly' primitive the
    reference approximates with shuf -n 1000 (scripts/get_samples.sh:7),
    made engine- and partitioning-stable."""
    from iconic_data_science_spark.operators.sampling import global_uniform_n

    cat = _cat(spark, sf_dir)
    return global_uniform_n(
        cat.documents.select("doc_id", "lang", "source"), "doc_id", 100
    )


def q_text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length percentiles per source from a unit-width integer-bin
    histogram (sketch.histogram_quantiles over token counts) — the
    max_seq_len / packing-capacity planning input: one bounded-state
    histogram per source, exact BIGINT cumulative rule, no sort of the
    corpus."""
    from iconic_data_science_spark.operators.sketch import histogram_quantiles

    cat = _cat(spark, sf_dir)
    toks = cat.documents.select(
        F.col("source").alias("grp_src"),
        F.size(F.filter(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
                        lambda t: t != "")).cast("double").alias("n_tokens"),
    )
    return histogram_quantiles(
        toks, value_col="n_tokens", group_col="grp_src",
        percentiles=(50, 90, 99), max_bin=1000,
    ).withColumnRenamed("grp_src", "source")


def q_text_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical Gopher quality rule set (Rae et al. 2021 §A1.1)
    as integer-decided per-document flags + the keep verdict
    (text.gopher_quality_flags): word count, mean word length,
    symbol ratio, alphabetic-word share, stopword presence — every
    comparison cross-multiplied on the integer lattice, zero shuffle.
    Composes with repetition_stats as the full §A1.1 filter."""
    from iconic_data_science_spark.operators.text import gopher_quality_flags

    cat = _cat(spark, sf_dir)
    return gopher_quality_flags(cat.documents)


def q_curation_pipeline_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation stack in production cost order — cheap
    structural rules first, the trained model last, resampling at the
    end — every stage an already-oracled engine operator:

      normalize → exact dedup ON NORMALIZED text → Gopher rule set
      (keep = no flag) → repetition filter (Gopher §A1.1's other half)
      → TRAIN the classifier on the structural survivors → score with
      the learned literal weights → temperature-resample at rates
      learned on the gated corpus.

    Returns (doc_id, lang, n_tokens). One chained-CTE oracle hashes
    normalization, dedup, both rule families, all 12 training epochs,
    inference, and the sampler — the whole pipeline under one hash."""
    from iconic_data_science_spark.operators.dedup import exact_dedup
    from iconic_data_science_spark.operators.featurize import (
        linear_classifier_gate,
        train_linear_classifier,
    )
    from iconic_data_science_spark.operators.mixing import temperature_sample
    from iconic_data_science_spark.operators.text import (
        gopher_quality_flags,
        normalize_text,
        repetition_stats,
    )

    cat = _cat(spark, sf_dir)
    docs = cat.documents
    normed = docs.join(normalize_text(docs).select("doc_id", "norm_text"), "doc_id")
    canon = exact_dedup(normed, text_col="norm_text").select(
        F.col("canonical_id").alias("doc_id")
    )
    surv = normed.join(canon, "doc_id", "left_semi").localCheckpoint()
    gop = gopher_quality_flags(surv).filter(F.col("keep") == 1).select("doc_id")
    rep = (
        repetition_stats(surv)
        .filter(~F.col("repetitive"))
        .select("doc_id")
    )
    structural = (
        surv.join(gop, "doc_id", "left_semi")
        .join(rep, "doc_id", "left_semi")
        .localCheckpoint()
    )
    trained = train_linear_classifier(
        structural, _quality_label_col(), dim=256, epochs=12
    )
    w_map = {int(r["feature"]): int(r["weight_micro"]) for r in trained.collect()}
    weights = [w_map.get(f, 0) for f in range(256)]
    kept = (
        linear_classifier_gate(structural, weights, bias_micro=w_map.get(-1, 0))
        .filter(F.col("keep") == 1)
        .select("doc_id")
    )
    gated = structural.join(kept, "doc_id", "left_semi")
    return temperature_sample(gated, budget_tokens=500_000)


ORACLES["text_gopher_flags"] = """
    WITH base AS (
        SELECT doc_id,
               coalesce(text, '') AS t,
               list_filter(string_split(lower(coalesce(text, '')), ' '),
                           x -> x <> '') AS toks
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_sum([CAST(len(x) AS BIGINT) for x in toks]) AS BIGINT) AS tc,
               CAST(len(t) - len(regexp_replace(t, '[#…]', '', 'g')) AS BIGINT) AS ns,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS aw,
               CAST(len(list_filter(toks, x -> list_contains({SW_ARRAY}, x))) AS BIGINT) AS sh
        FROM base
    ),
    f AS (
        SELECT doc_id, n_words, COALESCE(tc, 0) AS tc, ns, aw, sh,
               CAST(n_words < 50 OR n_words > 100000 AS BIGINT) AS f_word_count,
               CAST(COALESCE(tc, 0) < 3 * n_words
                    OR COALESCE(tc, 0) > 10 * n_words AS BIGINT) AS f_mean_word_len,
               CAST(10 * ns > n_words AS BIGINT) AS f_symbol_ratio,
               CAST(5 * aw < 4 * n_words AS BIGINT) AS f_alpha_words,
               CAST(sh < 2 AS BIGINT) AS f_stopwords
        FROM m
    )
    SELECT doc_id, n_words,
           CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
                ELSE (tc * 1000) // n_words END AS mean_word_len_milli,
           CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
                ELSE (ns * 1000000) // n_words END AS symbol_word_ppm,
           CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT)
                ELSE (aw * 1000000) // n_words END AS alpha_word_ppm,
           sh AS stopword_hits,
           f_word_count, f_mean_word_len, f_symbol_ratio, f_alpha_words,
           f_stopwords,
           CAST(f_word_count + f_mean_word_len + f_symbol_ratio
                + f_alpha_words + f_stopwords = 0 AS BIGINT) AS keep
    FROM f
""".replace("{SW_ARRAY}", _stopword_array_sql())


ORACLES["sample_global_n"] = """
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS _h
        FROM documents
        ORDER BY _h, doc_id LIMIT 100
    )
"""

ORACLES["text_length_quantiles"] = """
    WITH base AS (
        SELECT source,
               CAST(len(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                    t -> t <> '')) AS DOUBLE) AS n_tokens
        FROM documents
    ),
    hist AS (
        SELECT source AS grp,
               LEAST(CAST(FLOOR(n_tokens) AS BIGINT), 1000) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM base GROUP BY 1, 2
    ),
    cum AS (
        SELECT grp, bin, cnt,
               CAST(SUM(cnt) OVER (
                   PARTITION BY grp ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM hist
    ),
    tot AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
    ps AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(p_pct)),
    x AS (
        SELECT cum.grp, cum.bin, cum.cum, tot.n, ps.p_pct
        FROM cum JOIN tot USING (grp) CROSS JOIN ps
    )
    SELECT grp AS source, CAST(p_pct AS BIGINT) AS p_pct, MIN(bin) AS q_bin
    FROM x WHERE 100 * cum >= p_pct * n
    GROUP BY 1, 2
"""

ORACLES["web_components"] = """
    WITH RECURSIVE ce AS (
        SELECT DISTINCT doc_id AS src, doc_id // r.k AS dst
        FROM documents, (VALUES (2), (3), (5)) r(k)
        WHERE doc_id // r.k <> doc_id
    ),
    und AS (
        SELECT src AS a, dst AS b FROM ce
        UNION SELECT dst, src FROM ce
    ),
    reach(node, lab) AS (
        SELECT a, a FROM und
        UNION
        SELECT u.a, r.lab FROM und u JOIN reach r ON r.node = u.b
    )
    SELECT node AS doc_id, CAST(MIN(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
"""


_V6_NORM = """trim(regexp_replace(
                   regexp_replace(
                       regexp_replace(lower(text), 'https?://[^ ]*', ' ', 'g'),
                       '[^a-z0-9 ]', ' ', 'g'),
                   ' +', ' ', 'g'))"""

ORACLES["curation_pipeline_v6"] = f"""
    WITH normed AS MATERIALIZED (
        SELECT d.*, {_V6_NORM} AS norm_text FROM documents d
    ),
    canon AS (
        SELECT MIN(doc_id) AS doc_id FROM normed GROUP BY md5(norm_text)
    ),
    surv AS MATERIALIZED (
        SELECT n.* FROM normed n JOIN canon USING (doc_id)
    ),
    qbase AS (
        SELECT doc_id,
               CAST(len(coalesce(text, '')) AS BIGINT) AS nc,
               CAST(len(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                    t -> t <> '')) AS BIGINT) AS nw,
               CAST(len(regexp_replace(coalesce(text, ''), '[^a-zA-Z]', '', 'g'))
                    AS BIGINT) AS na
        FROM surv
    ),
    qscored AS (
        SELECT doc_id,
               CASE WHEN nc = 0 THEN CAST(0 AS BIGINT)
                    ELSE (LEAST(nw, 100) * na * 1000) // (100 * nc) END AS sm
        FROM qbase
    ),
    qhist AS (SELECT sm, CAST(COUNT(*) AS BIGINT) AS c FROM qscored GROUP BY 1),
    qcuts AS (
        SELECT sm,
               CAST((10 * COALESCE(SUM(c) OVER (ORDER BY sm
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                    // (SELECT SUM(c) FROM qhist) AS BIGINT) AS decile
        FROM qhist
    ),
    gated AS MATERIALIZED (
        SELECT s.* FROM surv s
        JOIN qscored q USING (doc_id) JOIN qcuts c USING (sm)
        WHERE c.decile >= 5
    ),
    per_lang AS (
        SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_toks
        FROM gated GROUP BY 1
    ),
    w AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(lang_toks AS DOUBLE))) AS BIGINT) AS weight
        FROM per_lang
    ),
    tot AS (SELECT SUM(weight) AS w_sum FROM w),
    d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) % 1000000 AS u
        FROM gated
    )
    SELECT doc_id, lang, n_tokens
    FROM d JOIN w USING (lang), tot
    WHERE CAST(u AS HUGEINT) * lang_toks * w_sum
          < CAST(500000 AS HUGEINT) * 1000000 * weight
"""

from iconic_data_science_spark.operators.featurize import train_oracle_sql as _train_oracle_sql  # noqa: E402,F811

ORACLES["curation_pipeline_v7"] = f"""
    WITH normed AS MATERIALIZED (
        SELECT d.*, {_V6_NORM} AS norm_text FROM documents d
    ),
    canon AS (
        SELECT MIN(doc_id) AS doc_id FROM normed GROUP BY md5(norm_text)
    ),
    surv AS MATERIALIZED (
        SELECT n.* FROM normed n JOIN canon USING (doc_id)
    ),
    gb AS (
        SELECT doc_id, coalesce(text, '') AS t,
               list_filter(string_split(lower(coalesce(text, '')), ' '),
                           x -> x <> '') AS toks
        FROM surv
    ),
    gm AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(COALESCE(list_sum([CAST(len(x) AS BIGINT) for x in toks]), 0)
                    AS BIGINT) AS tc,
               CAST(len(t) - len(regexp_replace(t, '[#…]', '', 'g')) AS BIGINT) AS ns,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS aw,
               CAST(len(list_filter(toks, x -> list_contains({{SW_ARRAY}}, x))) AS BIGINT) AS sh
        FROM gb
    ),
    gok AS (
        SELECT doc_id FROM gm
        WHERE n_words >= 50 AND n_words <= 100000
          AND tc >= 3 * n_words AND tc <= 10 * n_words
          AND 10 * ns <= n_words
          AND 5 * aw >= 4 * n_words
          AND sh >= 2
    ),
    rt AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM surv),
    rtc AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(l) AS tok FROM rt) GROUP BY 1, 2
    ),
    rtd AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(MAX(c) AS BIGINT) AS top_token_count
        FROM rtc GROUP BY 1
    ),
    rbc AS (
        SELECT doc_id, bg, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest([l[i] || ' ' || l[i+1] for i in generate_series(1, len(l)-1)]) AS bg
              FROM rt)
        GROUP BY 1, 2
    ),
    rbd AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(MAX(c) AS BIGINT) AS top_bigram_count
        FROM rbc GROUP BY 1
    ),
    rok AS (
        SELECT rtd.doc_id
        FROM rtd LEFT JOIN rbd ON rtd.doc_id = rbd.doc_id
        WHERE NOT ((top_token_count * 5 > n_tokens)
                   OR (COALESCE(top_bigram_count, 0) * 50 > COALESCE(n_bigrams, 0) * 9))
    ),
    structural AS MATERIALIZED (
        SELECT s.* FROM surv s JOIN gok USING (doc_id) JOIN rok USING (doc_id)
    ),
    trained AS MATERIALIZED (
        {_train_oracle_sql(_TRAIN_LABEL_SQL, dim=256, epochs=12, table="structural")}
    ),
    tk7 AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM structural
    ),
    hashed7 AS (
        SELECT doc_id,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(token), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS h
        FROM tk7 WHERE token <> ''
    ),
    px7 AS (
        SELECT doc_id, h % 256 AS f,
               CAST(SUM(CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS x
        FROM hashed7 GROUP BY 1, 2
    ),
    logit7 AS (
        SELECT s.doc_id,
               (SELECT weight_micro FROM trained WHERE feature = -1)
               + COALESCE(SUM(p.x * t.weight_micro), 0) AS l
        FROM structural s
        LEFT JOIN px7 p ON p.doc_id = s.doc_id
        LEFT JOIN trained t ON t.feature = p.f
        GROUP BY 1
    ),
    gated AS MATERIALIZED (
        SELECT s.* FROM structural s JOIN logit7 ON logit7.doc_id = s.doc_id
        WHERE logit7.l > 0
    ),
    per_lang AS (
        SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_toks
        FROM gated GROUP BY 1
    ),
    w AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(lang_toks AS DOUBLE))) AS BIGINT) AS weight
        FROM per_lang
    ),
    tot AS (SELECT SUM(weight) AS w_sum FROM w),
    d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) % 1000000 AS u
        FROM gated
    )
    SELECT doc_id, lang, n_tokens
    FROM d JOIN w USING (lang), tot
    WHERE CAST(u AS HUGEINT) * lang_toks * w_sum
          < CAST(500000 AS HUGEINT) * 1000000 * weight
""".replace("{SW_ARRAY}", _stopword_array_sql())

ORACLES["dedup_index_upsert"] = """
    WITH shA AS MATERIALIZED (
        SELECT DISTINCT doc_id, s AS shingle FROM (
            SELECT doc_id,
                   unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                           for i in generate_series(1, len(th)-2)]) AS s
            FROM (
                SELECT doc_id,
                       [list_reduce(
                            [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                             for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                            (a, b) -> a * 16 + b) % 2147483647
                        for tok in string_split(lower(text), ' ')] AS th
                FROM documents
            )
        )
    ),
    perms AS (SELECT * FROM {PERMS}),
    sig AS MATERIALIZED (
        SELECT doc_id, i, MIN((a * shingle + b) % 2147483647) AS minhash
        FROM shA CROSS JOIN perms GROUP BY 1, 2
    ),
    bs AS MATERIALIZED (
        SELECT doc_id, CAST(i // 4 AS INT) AS band,
               string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY i) AS band_sig
        FROM sig GROUP BY 1, 2
    ),
    bsE AS (SELECT * FROM bs WHERE doc_id % 2 = 0),
    bsO AS (SELECT * FROM bs WHERE doc_id % 2 = 1),
    cand AS MATERIALIZED (
        SELECT DISTINCT o.doc_id AS new_id, e.doc_id AS corpus_id
        FROM bsO o JOIN bsE e ON o.band = e.band AND o.band_sig = e.band_sig
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shA GROUP BY 1),
    ji AS (
        SELECT c.new_id, c.corpus_id, COUNT(*) AS i
        FROM cand c
        JOIN shA a ON a.doc_id = c.new_id
        JOIN shA b ON b.doc_id = c.corpus_id AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT DISTINCT j.new_id AS doc_id
        FROM ji j JOIN sz zo ON zo.doc_id = j.new_id
                  JOIN sz ze ON ze.doc_id = j.corpus_id
        WHERE CAST(j.i AS DOUBLE) / (zo.n + ze.n - j.i) >= 0.5
    )
    SELECT doc_id, CAST(band AS BIGINT) AS band, band_sig,
           'corpus' AS origin
    FROM bsE
    UNION ALL
    SELECT doc_id, CAST(band AS BIGINT) AS band, band_sig, 'new'
    FROM bsO WHERE doc_id NOT IN (SELECT doc_id FROM dup)
""".replace("{PERMS}", _perm_table_sql(16))

ORACLES["text_normalize"] = """
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(
                   regexp_replace(lower(text), 'https?://[^ ]*', ' ', 'g'),
                   '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS norm_text,
           CAST(CASE WHEN trim(regexp_replace(
                    regexp_replace(
                        regexp_replace(lower(text), 'https?://[^ ]*', ' ', 'g'),
                        '[^a-z0-9 ]', ' ', 'g'),
                    ' +', ' ', 'g')) = '' THEN 0
                ELSE len(string_split(trim(regexp_replace(
                    regexp_replace(
                        regexp_replace(lower(text), 'https?://[^ ]*', ' ', 'g'),
                        '[^a-z0-9 ]', ' ', 'g'),
                    ' +', ' ', 'g')), ' ')) END AS BIGINT) AS n_tokens
    FROM documents
"""

ORACLES["text_langid_eval"] = """
    WITH sw AS (SELECT * FROM {STOPWORDS}),
    toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents),
    hits AS (
        SELECT doc_id, lang, COUNT(*) AS hits
        FROM toks JOIN sw USING (word) GROUP BY 1, 2
    ),
    ranked AS (
        SELECT doc_id, lang, hits,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
        FROM hits
    ),
    preds AS (
        SELECT d.doc_id, d.lang AS true_lang, COALESCE(r.lang, 'und') AS pred_lang
        FROM documents d
        LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (doc_id)
    )
    SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM preds GROUP BY 1, 2
""".replace("{STOPWORDS}", _stopword_table_sql())

ORACLES["text_quality_deciles"] = """
    WITH base AS (
        SELECT doc_id,
               CAST(len(coalesce(text, '')) AS BIGINT) AS nc,
               CAST(len(list_filter(string_split(lower(coalesce(text, '')), ' '),
                                    t -> t <> '')) AS BIGINT) AS nw,
               CAST(len(regexp_replace(coalesce(text, ''), '[^a-zA-Z]', '', 'g'))
                    AS BIGINT) AS na
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CASE WHEN nc = 0 THEN CAST(0 AS BIGINT)
                    ELSE (LEAST(nw, 100) * na * 1000) // (100 * nc) END AS score_milli
        FROM base
    ),
    hist AS (
        SELECT score_milli, CAST(COUNT(*) AS BIGINT) AS c
        FROM scored GROUP BY 1
    ),
    cuts AS (
        SELECT score_milli,
               CAST((10 * COALESCE(SUM(c) OVER (ORDER BY score_milli
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                    // (SELECT SUM(c) FROM hist) AS BIGINT) AS decile
        FROM hist
    )
    SELECT s.doc_id, s.score_milli, c.decile
    FROM scored s JOIN cuts c USING (score_milli)
"""

ORACLES["text_quality_gate"] = f"""
    WITH dec AS MATERIALIZED ({ORACLES["text_quality_deciles"]}),
    cut AS (SELECT MIN(score_milli) AS c FROM dec WHERE decile >= 5)
    SELECT doc_id, score_milli FROM dec, cut WHERE score_milli >= cut.c
"""


def q_corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anneal-phase curriculum order (packing.curriculum_order): the
    corpus globally ordered (quality decile asc, seeded md5, doc_id) —
    train low→high quality, ending on the best data (the FineWeb/OLMo
    anneal recipe). Deciles via the bounded value-bucket histogram,
    enumeration via the seeded_shuffle prefix-sum recipe — no global
    single-partition sort anywhere; the position is a pure function of
    (corpus, seed) like corpus_shuffle's."""
    from iconic_data_science_spark.operators.packing import curriculum_order

    cat = _cat(spark, sf_dir)
    return curriculum_order(cat.documents, seed=42)


ORACLES["corpus_curriculum"] = f"""
    WITH dec AS MATERIALIZED ({ORACLES["text_quality_deciles"]})
    SELECT doc_id, decile,
           CAST(ROW_NUMBER() OVER (
               ORDER BY decile,
                        md5('42:' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS BIGINT) AS curriculum_pos
    FROM dec
"""

from iconic_data_science_spark.operators.mixing import domain_reweight_oracle_sql as _domain_reweight_oracle_sql  # noqa: E402

_REWEIGHT_LOSS_CTE = f"""
        WITH tk AS (
            SELECT doc_id, unnest(string_split(lower(coalesce(text, '')), ' '))
                   AS token
            FROM documents
        ),
        nz AS (SELECT doc_id, token FROM tk WHERE token <> ''),
        hashed AS (
            SELECT doc_id,
                   list_reduce(
                       [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                        for c in string_split_regex(substr(md5(token), 1, 12), '')],
                       (a, b) -> a * 16 + b
                   ) AS h
            FROM nz
        ),
        s AS (
            SELECT doc_id,
                   CAST(SUM((CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END)
                       * (((h % 256) * 2654435761) % 2001 - 1000)) AS BIGINT) AS logit
            FROM hashed GROUP BY 1
        ),
        j AS (
            SELECT d.source,
                   CASE WHEN COALESCE(s.logit, 0) > 0 THEN 1 ELSE 0 END AS keep,
                   CASE WHEN CAST({_TRAIN_LABEL_SQL} AS BIGINT) = 1 THEN 1 ELSE 0 END AS y
            FROM documents d LEFT JOIN s USING (doc_id)
        )
        SELECT source AS domain,
               CAST((1000000 * COUNT(CASE WHEN keep <> y THEN 1 END)) // COUNT(*)
                    AS BIGINT) AS loss_ppm
        FROM j GROUP BY 1
"""

ORACLES["mix_domain_reweight"] = _domain_reweight_oracle_sql(
    f"SELECT * FROM ({_REWEIGHT_LOSS_CTE})", rounds=5, eta_milli=500
)

ORACLES["dedup_span_strip"] = f"""
    WITH spans AS MATERIALIZED ({ORACLES["dedup_dup_spans"]}),
    base AS MATERIALIZED (
        SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
    ),
    tok AS (
        SELECT b.doc_id, CAST(g.i AS BIGINT) AS i, b.t[g.i] AS tok
        FROM base b, LATERAL (
            SELECT UNNEST(range(1, CAST(len(t) + 1 AS BIGINT))) AS i
        ) g
    ),
    kept AS (
        SELECT k.doc_id, k.i, k.tok
        FROM tok k LEFT JOIN spans s
          ON s.doc_id = k.doc_id
         AND k.i - 1 BETWEEN s.span_start AND s.span_end
        WHERE s.doc_id IS NULL
    ),
    reasm AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_agg,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM kept GROUP BY 1
    ),
    has_span AS (SELECT DISTINCT doc_id FROM spans)
    SELECT b.doc_id,
           CASE WHEN h.doc_id IS NULL THEN b.text
                ELSE COALESCE(r.clean_agg, '') END AS clean_text,
           CAST(COALESCE(len(b.t), 0) AS BIGINT) AS n_tokens,
           CASE WHEN h.doc_id IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(len(b.t) - COALESCE(r.n_kept, 0) AS BIGINT) END AS n_removed
    FROM base b
    LEFT JOIN has_span h ON h.doc_id = b.doc_id
    LEFT JOIN reasm r ON r.doc_id = b.doc_id
"""

ORACLES["dedup_minhash_eval"] = """
    WITH sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, s AS shingle FROM (
            SELECT doc_id,
                   unnest([((th[i] * 1000003 + th[i+1]) % 2147483647 * 1000003 + th[i+2]) % 2147483647
                           for i in generate_series(1, len(th)-2)]) AS s
            FROM (
                SELECT doc_id,
                       [list_reduce(
                            [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                             for c in string_split_regex(substr(md5(tok), 1, 12), '')],
                            (a, b) -> a * 16 + b) % 2147483647
                        for tok in string_split(lower(text), ' ')] AS th
                FROM documents
            )
        )
    ),
    sz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS MATERIALIZED (
        SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS MATERIALIZED (
        SELECT i.id1, i.id2,
               CAST(i.i AS DOUBLE) / (z1.n + z2.n - i.i) AS jaccard
        FROM inter i JOIN sz z1 ON z1.doc_id = i.id1
                     JOIN sz z2 ON z2.doc_id = i.id2
    ),
    perms AS (SELECT * FROM {PERMS}),
    sig AS MATERIALIZED (
        SELECT doc_id, i, MIN((a * shingle + b) % 2147483647) AS minhash
        FROM sh CROSS JOIN perms GROUP BY 1, 2
    ),
    bs AS MATERIALIZED (
        SELECT doc_id, CAST(i // 4 AS INT) AS band,
               string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY i) AS band_sig
        FROM sig GROUP BY 1, 2
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT b1.doc_id AS id1, b2.doc_id AS id2
        FROM bs b1 JOIN bs b2 ON b1.band = b2.band AND b1.band_sig = b2.band_sig
                              AND b1.doc_id < b2.doc_id
    ),
    agg AS (
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM jac WHERE jaccard >= 0.5) AS n_true_pairs,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
            (SELECT CAST(COUNT(*) AS BIGINT)
             FROM jac j JOIN cand c ON c.id1 = j.id1 AND c.id2 = j.id2
             WHERE j.jaccard >= 0.5) AS n_found_pairs
    )
    SELECT n_true_pairs, n_candidates, n_found_pairs,
           n_true_pairs - n_found_pairs AS n_missed,
           CAST(CASE WHEN n_true_pairs = 0 THEN -1
                ELSE (n_found_pairs * 1000000) // n_true_pairs END AS BIGINT) AS recall_ppm,
           CAST(CASE WHEN n_candidates = 0 THEN -1
                ELSE (n_found_pairs * 1000000) // n_candidates END AS BIGINT) AS cand_precision_ppm
    FROM agg
""".replace("{PERMS}", _perm_table_sql(16))

ORACLES["text_classifier_eval"] = f"""
    WITH tk AS (
        SELECT doc_id, unnest(string_split(lower(coalesce(text, '')), ' '))
               AS token
        FROM documents
    ),
    nz AS (SELECT doc_id, token FROM tk WHERE token <> ''),
    hashed AS (
        SELECT doc_id,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(token), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS h
        FROM nz
    ),
    s AS (
        SELECT doc_id,
               CAST(SUM((CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END)
                   * (((h % 256) * 2654435761) % 2001 - 1000)) AS BIGINT) AS logit
        FROM hashed GROUP BY 1
    ),
    scored AS (
        SELECT d.doc_id, COALESCE(s.logit, 0) AS logit,
               CAST({_TRAIN_LABEL_SQL} AS BIGINT) AS y
        FROM documents d LEFT JOIN s USING (doc_id)
    ),
    thr(thr_micro) AS (
        VALUES (CAST(-2000 AS BIGINT)), (-1000), (0), (1000), (2000)
    ),
    c AS (
        SELECT t.thr_micro,
               CAST(COUNT(*) FILTER (WHERE logit > t.thr_micro AND y = 1) AS BIGINT) AS tp,
               CAST(COUNT(*) FILTER (WHERE logit > t.thr_micro AND y <> 1) AS BIGINT) AS fp,
               CAST(COUNT(*) FILTER (WHERE logit <= t.thr_micro AND y = 1) AS BIGINT) AS fn,
               CAST(COUNT(*) FILTER (WHERE logit <= t.thr_micro AND y <> 1) AS BIGINT) AS tn
        FROM scored, thr t GROUP BY 1
    )
    SELECT thr_micro, tp, fp, fn, tn,
           CAST(CASE WHEN tp + fp = 0 THEN -1
                ELSE (tp * 1000000) // (tp + fp) END AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN tp + fn = 0 THEN -1
                ELSE (tp * 1000000) // (tp + fn) END AS BIGINT) AS recall_ppm
    FROM c
"""

ORACLES["g3_personal_net_salted"] = ORACLES["g3_personal_net"]

from iconic_data_science_spark.operators.similarity import kmeans_int_oracle_sql as _kmeans_int_oracle_sql  # noqa: E402

ORACLES["ann_ivf_kmeans_int"] = _kmeans_int_oracle_sql(n_cells=8, n_iters=3)

ORACLES["ann_cluster_eval"] = f"""
    WITH assign AS MATERIALIZED (
        {_kmeans_int_oracle_sql(n_cells=8, n_iters=3)}
    ),
    labeled AS (
        SELECT a.vec_id, a.c_id, CAST(e.label AS BIGINT) AS label
        FROM assign a JOIN embeddings e USING (vec_id)
    ),
    per AS (
        SELECT c_id, label, CAST(COUNT(*) AS BIGINT) AS ln
        FROM labeled GROUP BY 1, 2
    ),
    tot AS (SELECT c_id, CAST(SUM(ln) AS BIGINT) AS n FROM per GROUP BY 1),
    top AS (
        SELECT c_id, label AS top_label, ln AS top_n FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY c_id
                                         ORDER BY ln DESC, label ASC) AS rn
            FROM per
        ) WHERE rn = 1
    )
    SELECT t.c_id, t.n, p.top_label, p.top_n,
           CAST((p.top_n * 1000000) // t.n AS BIGINT) AS purity_ppm
    FROM tot t JOIN top p USING (c_id)
"""


from iconic_data_science_spark.operators.featurize import train_oracle_sql as _train_oracle_sql  # noqa: E402

ORACLES["text_classifier_train"] = _train_oracle_sql(
    _TRAIN_LABEL_SQL, dim=256, epochs=12
)

ORACLES["curation_pipeline_v5"] = f"""
    WITH canon AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    surv AS MATERIALIZED (SELECT d.* FROM documents d JOIN canon USING (doc_id)),
    trained AS MATERIALIZED (
        {_train_oracle_sql(_TRAIN_LABEL_SQL, dim=256, epochs=12, table="surv")}
    ),
    tk2 AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM surv
    ),
    hashed2 AS (
        SELECT doc_id,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(token), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) AS h
        FROM tk2 WHERE token <> ''
    ),
    px2 AS (
        SELECT doc_id, h % 256 AS f,
               CAST(SUM(CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS x
        FROM hashed2 GROUP BY 1, 2
    ),
    logit AS (
        SELECT s.doc_id,
               (SELECT weight_micro FROM trained WHERE feature = -1)
               + COALESCE(SUM(p.x * t.weight_micro), 0) AS l
        FROM surv s
        LEFT JOIN px2 p ON p.doc_id = s.doc_id
        LEFT JOIN trained t ON t.feature = p.f
        GROUP BY 1
    ),
    gated AS (
        SELECT s.* FROM surv s JOIN logit ON logit.doc_id = s.doc_id
        WHERE logit.l > 0
    ),
    per_lang AS (
        SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS lang_toks
        FROM gated GROUP BY 1
    ),
    w AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(lang_toks AS DOUBLE))) AS BIGINT) AS weight
        FROM per_lang
    ),
    tot AS (SELECT SUM(weight) AS w_sum FROM w),
    d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) % 1000000 AS u
        FROM gated
    )
    SELECT doc_id, lang, n_tokens
    FROM d JOIN w USING (lang), tot
    WHERE CAST(u AS HUGEINT) * lang_toks * w_sum
          < CAST(500000 AS HUGEINT) * 1000000 * weight
"""


def _c4_pages(documents: DataFrame) -> DataFrame:
    """Deterministic paging of the flat token corpus for the C4 family
    (shared by text_c4_line_filter and curation_pipeline_v8 so query
    and composition can never drift): 10-token lines; line i of doc d
    gains ' javascript' when (d*7+i) % 13 == 0 and a terminal mark
    chosen by (d*31+i) % 5 (0 = none); pages gain a lorem-ipsum line
    (d % 37 == 0), a brace line (d % 41 == 0) and a bad-word line
    (d % 43 == 0). The SQL twin is _C4_STATS_SQL."""
    # named token column: the line lambda slices it per line, and HOF
    # lambda bodies get no subexpression elimination (SCALE.md rule)
    documents = documents.select(
        "doc_id", "text", F.split(F.col("text"), " ").alias("_t")
    )
    toks = F.col("_t")
    n_content = F.ceil(F.size(toks) / 10).cast("int")
    d = F.col("doc_id")
    content = F.transform(
        F.sequence(F.lit(0), n_content - 1),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            F.when((d * 7 + i) % 13 == 0, F.lit(" javascript")).otherwise(
                F.lit("")
            ),
            F.element_at(
                F.array(
                    F.lit(""), F.lit("."), F.lit("!"), F.lit("?"), F.lit('"')
                ),
                ((d * 31 + i) % 5 + 1).cast("int"),
            ),
        ),
    )

    def _maybe(cond, line):
        return F.when(cond, F.array(F.lit(line))).otherwise(
            F.array().cast("array<string>")
        )

    return documents.select(
        "doc_id",
        F.array_join(
            F.concat(
                content,
                _maybe(d % 37 == 0, "lorem ipsum dolor sit amet."),
                _maybe(d % 41 == 0, "var config = { a: 1 };"),
                _maybe(d % 43 == 0, "utterly badword rubbish here."),
            ),
            "\n",
        ).alias("text"),
    )


def q_text_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 JMLR §2.2;
    operators/text.c4_line_filter). The flat token corpus has no lines
    or punctuation, so the query derives a paged corpus
    deterministically (same recipe family as text_line_dedup): tokens
    regroup into 10-token lines; line i of doc d gains ' javascript'
    when (d*7+i) % 13 == 0 and a terminal mark chosen by (d*31+i) % 5
    (0 = none — the line must then be struck); pages gain a
    'lorem ipsum' line (d % 37 == 0), a '{' line (d % 41 == 0) and a
    bad-word line (d % 43 == 0), so every rule fires on real rows in
    both engines. Output carries md5(clean_text) so rows stay narrow
    under the hash gate; the oracle replays the paging arithmetic and
    every rule in SQL."""
    from iconic_data_science_spark.operators.text import c4_line_filter

    cat = _cat(spark, sf_dir)
    out = c4_line_filter(
        _c4_pages(cat.documents),
        min_words_per_line=3,
        min_kept_lines=3,
        bad_words=["badword"],
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        "f_lorem",
        "f_brace",
        "f_bad_words",
        "f_too_few_lines",
        "keep",
        F.md5("clean_text").alias("clean_fp"),
    )


# Shared SQL prefix for the C4 family: page synthesis + per-line
# verdicts + per-page stats/flags (the WITH body ends open so callers
# append their own final CTEs/select). Twin of _c4_pages.
_C4_STATS_SQL = """toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    content AS (
        SELECT toks.doc_id, CAST(g.i AS BIGINT) AS pos,
               array_to_string(t[g.i*10+1 : g.i*10+10], ' ')
               || CASE WHEN (doc_id*7 + g.i) % 13 = 0
                       THEN ' javascript' ELSE '' END
               || CASE (doc_id*31 + g.i) % 5
                      WHEN 0 THEN '' WHEN 1 THEN '.' WHEN 2 THEN '!'
                      WHEN 3 THEN '?' ELSE '"' END AS line
        FROM toks, LATERAL (
            SELECT UNNEST(range(0, CAST(ceil(len(t)/10.0) AS BIGINT))) AS i
        ) g
    ),
    extras AS (
        SELECT doc_id, CAST(1000001 AS BIGINT) AS pos,
               'lorem ipsum dolor sit amet.' AS line
        FROM toks WHERE doc_id % 37 = 0
        UNION ALL
        SELECT doc_id, CAST(1000002 AS BIGINT), 'var config = { a: 1 };'
        FROM toks WHERE doc_id % 41 = 0
        UNION ALL
        SELECT doc_id, CAST(1000003 AS BIGINT),
               'utterly badword rubbish here.'
        FROM toks WHERE doc_id % 43 = 0
    ),
    lines AS (SELECT * FROM content UNION ALL SELECT * FROM extras),
    pages AS MATERIALIZED (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        FROM lines GROUP BY 1
    ),
    judged AS (
        SELECT doc_id, pos, line,
               CASE WHEN right(line, 1) IN ('.', '!', '?', '"')
                     AND len(list_filter(string_split(line, ' '),
                                         w -> w <> '')) >= 3
                     AND strpos(lower(line), 'javascript') = 0
                    THEN 1 ELSE 0 END AS ok
        FROM (
            SELECT doc_id, CAST(g.i AS BIGINT) AS pos, l[g.i] AS line
            FROM (SELECT doc_id, string_split(text, chr(10)) AS l
                  FROM pages) p,
                 LATERAL (
                     SELECT UNNEST(range(1, CAST(len(l)+1 AS BIGINT))) AS i
                 ) g
        )
    ),
    stats AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(ok) AS BIGINT) AS n_kept,
               COALESCE(string_agg(CASE WHEN ok = 1 THEN line END,
                                   chr(10) ORDER BY pos), '') AS kept_text
        FROM judged GROUP BY 1
    ),
    flags AS (
        SELECT doc_id,
               CAST(CASE WHEN strpos(lower(text), 'lorem ipsum') > 0
                         THEN 1 ELSE 0 END AS BIGINT) AS f_lorem,
               CAST(CASE WHEN strpos(text, '{') > 0
                         THEN 1 ELSE 0 END AS BIGINT) AS f_brace,
               CAST(CASE WHEN list_contains(
                        string_split_regex(lower(text), '[ \n]'), 'badword')
                         THEN 1 ELSE 0 END AS BIGINT) AS f_bad_words
        FROM pages
    )
"""

ORACLES["text_c4_line_filter"] = f"""
    WITH {_C4_STATS_SQL}
    SELECT s.doc_id, s.n_lines, s.n_kept, f.f_lorem, f.f_brace,
           f.f_bad_words,
           CAST(CASE WHEN s.n_kept < 3 THEN 1 ELSE 0 END AS BIGINT)
               AS f_too_few_lines,
           CAST(CASE WHEN f.f_lorem + f.f_brace + f.f_bad_words = 0
                      AND s.n_kept >= 3
                     THEN 1 ELSE 0 END AS BIGINT) AS keep,
           CASE WHEN f.f_lorem + f.f_brace + f.f_bad_words = 0
                 AND s.n_kept >= 3
                THEN md5(s.kept_text) ELSE md5('') END AS clean_fp
    FROM stats s JOIN flags f USING (doc_id)
"""


def q_mix_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., NeurIPS 2023;
    operators/featurize.dsir_bucket_weights + dsir_select): hashed-
    bigram importance weights learned from the lang='en' slice as the
    target domain vs the whole corpus as the source, then the global
    top-200 documents by in-row importance score. The ≤256-row bucket
    table collects driver-side (bounded model metadata as literals, the
    trained-classifier discipline); scoring is a zero-shuffle map;
    selection is a TakeOrdered with a seeded md5 tie lottery. The
    oracle replays the bigram hashing, the Laplace-smoothed ratio
    weights (HUGEINT-safe), the per-doc scores, and the top-200 cut."""
    from iconic_data_science_spark.operators.featurize import dsir_pipeline

    cat = _cat(spark, sf_dir)
    return dsir_pipeline(
        cat.documents, target=F.col("lang") == "en", n_keep=200, dim=256, seed=42
    )


ORACLES["mix_dsir_select"] = """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(coalesce(text, '')), ' '),
                           w -> w <> '') AS t
        FROM documents
    ),
    occ AS MATERIALIZED (
        SELECT doc_id, lang, unnest(bs) AS b FROM (
            SELECT doc_id, lang,
                   [list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(
                             substr(md5(t[i] || ' ' || t[i+1]), 1, 12), '')],
                        (a, b) -> a * 16 + b) % 256
                    for i in generate_series(1, len(t)-1)] AS bs
            FROM toks
        )
    ),
    cnt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c_s,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_t
        FROM occ GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(c_s) AS BIGINT) AS n_s,
               CAST(SUM(c_t) AS BIGINT) AS n_t
        FROM cnt
    ),
    wts AS (
        SELECT g.b,
               CAST((CAST(1000000 AS HUGEINT)
                     * (COALESCE(c.c_t, 0) + 1) * (t.n_s + 256))
                    // (CAST(COALESCE(c.c_s, 0) + 1 AS HUGEINT)
                        * (t.n_t + 256)) AS BIGINT) AS w
        FROM (SELECT UNNEST(range(0, 256)) AS b) g
        LEFT JOIN cnt c ON c.b = g.b, tot t
    ),
    per_doc AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS f
        FROM occ GROUP BY 1, 2
    ),
    scored AS (
        SELECT d.doc_id,
               CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(s.score, 0) AS BIGINT) AS dsir_score
        FROM documents d
        LEFT JOIN (
            SELECT p.doc_id, SUM(p.f * w.w) AS score
            FROM per_doc p JOIN wts w ON w.b = p.b GROUP BY 1
        ) s USING (doc_id)
        LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n FROM occ GROUP BY 1
        ) nb USING (doc_id)
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
                   ORDER BY dsir_score DESC,
                            md5('42:' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS rn
        FROM scored
    )
    SELECT doc_id, n_bigrams, dsir_score FROM r WHERE rn <= 200
"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection (operators/dedup.
    keep_best_per_cluster): near-dup clusters from the exact Jaccard
    pairs (same candidates as dedup_clusters), then inside each cluster
    keep exactly the member with the highest integer quality score
    (text.quality_score_milli; ties to the smallest id). Singletons
    always keep. The argmax window runs only over the clustered slice;
    the corpus itself attaches through broadcast joins and is never
    reshuffled. The oracle composes the recursive-CTE cluster replay
    with the score arithmetic and a per-cluster ROW_NUMBER."""
    from iconic_data_science_spark.operators.dedup import (
        dedup_clusters,
        keep_best_per_cluster,
        ngram_jaccard_pairs,
    )
    from iconic_data_science_spark.operators.text import quality_score_milli

    cat = _cat(spark, sf_dir)
    # dedup_clusters materializes the pair subtree itself (r11)
    pairs = ngram_jaccard_pairs(cat.documents, n=3, threshold=0.5).select("id1", "id2")
    clusters = dedup_clusters(pairs)
    scored = quality_score_milli(cat.documents)
    return keep_best_per_cluster(scored, clusters)


ORACLES["dedup_keep_best"] = f"""
    WITH cl AS MATERIALIZED ({ORACLES["dedup_clusters"]}),
    qbase AS (
        SELECT doc_id,
               CAST(len(coalesce(text, '')) AS BIGINT) AS nc,
               CAST(len(list_filter(string_split(lower(coalesce(text, '')),
                                                 ' '), t -> t <> ''))
                    AS BIGINT) AS nw,
               CAST(len(regexp_replace(coalesce(text, ''), '[^a-zA-Z]', '',
                                       'g')) AS BIGINT) AS na
        FROM documents
    ),
    sc AS (
        SELECT doc_id,
               CASE WHEN nc = 0 THEN CAST(0 AS BIGINT)
                    ELSE (LEAST(nw, 100) * na * 1000) // (100 * nc)
               END AS score_milli
        FROM qbase
    ),
    r AS (
        SELECT c.doc_id, c.cluster_id, s.score_milli,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY s.score_milli DESC, c.doc_id)
                   AS rk
        FROM cl c JOIN sc s USING (doc_id)
    )
    SELECT s.doc_id,
           COALESCE(r.cluster_id, s.doc_id) AS cluster_id,
           s.score_milli,
           CAST(CASE WHEN r.doc_id IS NULL OR r.rk = 1 THEN 1 ELSE 0 END
                AS BIGINT) AS keep
    FROM sc s LEFT JOIN r ON r.doc_id = s.doc_id
"""


def q_curation_pipeline_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 composition: C4 line-level cleaning at ingest
    (pages synthesized by _c4_pages; dropped pages and struck lines
    gone) → DSIR importance selection over the CLEANED corpus (hashed-
    bigram weights learned on the survivors toward the lang='en'
    target, top-100 by in-row score) — the classic web recipe: clean
    first, then select toward the target domain with weights learned on
    what survived (cleaning shifts the bigram distribution, so learning
    on the raw corpus would mis-weight). One hash covers paging, every
    C4 rule, the bucket histograms, the ratio weights, the scores and
    the cut. The cleaned frame localCheckpoints because it feeds BOTH
    the weights job and the scoring plan (no cross-branch CSE — the
    r7 structural rule)."""
    from iconic_data_science_spark.operators.featurize import dsir_pipeline
    from iconic_data_science_spark.operators.text import c4_line_filter

    cat = _cat(spark, sf_dir)
    cleaned = (
        c4_line_filter(
            _c4_pages(cat.documents),
            min_words_per_line=3,
            min_kept_lines=3,
            bad_words=["badword"],
        )
        .filter(F.col("keep") == 1)
        .select("doc_id", F.col("clean_text").alias("text"))
        .join(cat.documents.select("doc_id", "lang"), "doc_id")
        .localCheckpoint()
    )
    return dsir_pipeline(
        cleaned, target=F.col("lang") == "en", n_keep=100, dim=256, seed=42
    )


ORACLES["curation_pipeline_v8"] = f"""
    WITH {_C4_STATS_SQL},
    cleaned AS MATERIALIZED (
        SELECT s.doc_id, s.kept_text AS text, d.lang
        FROM stats s
        JOIN flags f USING (doc_id)
        JOIN documents d USING (doc_id)
        WHERE f.f_lorem + f.f_brace + f.f_bad_words = 0 AND s.n_kept >= 3
    ),
    ctoks AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(coalesce(text, '')), ' '),
                           w -> w <> '') AS t
        FROM cleaned
    ),
    occ AS MATERIALIZED (
        SELECT doc_id, lang, unnest(bs) AS b FROM (
            SELECT doc_id, lang,
                   [list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(
                             substr(md5(t[i] || ' ' || t[i+1]), 1, 12), '')],
                        (a, b) -> a * 16 + b) % 256
                    for i in generate_series(1, len(t)-1)] AS bs
            FROM ctoks
        )
    ),
    cnt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c_s,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_t
        FROM occ GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(c_s) AS BIGINT) AS n_s,
               CAST(SUM(c_t) AS BIGINT) AS n_t
        FROM cnt
    ),
    wts AS (
        SELECT g.b,
               CAST((CAST(1000000 AS HUGEINT)
                     * (COALESCE(c.c_t, 0) + 1) * (t.n_s + 256))
                    // (CAST(COALESCE(c.c_s, 0) + 1 AS HUGEINT)
                        * (t.n_t + 256)) AS BIGINT) AS w
        FROM (SELECT UNNEST(range(0, 256)) AS b) g
        LEFT JOIN cnt c ON c.b = g.b, tot t
    ),
    per_doc AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS f
        FROM occ GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.doc_id,
               CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(s.score, 0) AS BIGINT) AS dsir_score
        FROM cleaned c
        LEFT JOIN (
            SELECT p.doc_id, SUM(p.f * w.w) AS score
            FROM per_doc p JOIN wts w ON w.b = p.b GROUP BY 1
        ) s USING (doc_id)
        LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n FROM occ GROUP BY 1
        ) nb USING (doc_id)
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
                   ORDER BY dsir_score DESC,
                            md5('42:' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS rn
        FROM scored
    )
    SELECT doc_id, n_bigrams, dsir_score FROM r WHERE rn <= 100
"""


def q_curation_pipeline_v9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-8 composition — the CCNet+DSIR hybrid: C4 line-level
    cleaning at ingest → pruned-LM perplexity gate ON the cleaned
    corpus (the 256 hottest cleaned-corpus bigrams as driver-literal
    LM, keep at/below the median-ish 8240 milli cutoff — CCNet keeps
    the low-perplexity head) → DSIR importance selection over the gate
    SURVIVORS (weights learned on what passed, toward lang='en',
    top-50). Each stage learns on the previous stage's output — the
    order-matters property one hash covers end to end: paging, every
    C4 rule, the LM tie-break, the fold with defaults, the histograms,
    the ratio weights, the scores and both cuts. The cleaned frame
    localCheckpoints (feeds the LM job, the gate plan, and DSIR — the
    r7 cross-branch rule)."""
    from iconic_data_science_spark.operators.featurize import dsir_pipeline
    from iconic_data_science_spark.operators.text import (
        bigram_lm_topk,
        bigram_surprisal_gate,
        c4_line_filter,
    )

    cat = _cat(spark, sf_dir)
    cleaned = (
        c4_line_filter(
            _c4_pages(cat.documents),
            min_words_per_line=3,
            min_kept_lines=3,
            bad_words=["badword"],
        )
        .filter(F.col("keep") == 1)
        .select("doc_id", F.col("clean_text").alias("text"))
        .join(cat.documents.select("doc_id", "lang"), "doc_id")
        .localCheckpoint()
    )
    lm = bigram_lm_topk(cleaned, k=256)
    survivors = bigram_surprisal_gate(
        cleaned, lm, default_s=10, cutoff_milli=8240
    ).select("doc_id")
    gated = cleaned.join(survivors, "doc_id")
    return dsir_pipeline(
        gated, target=F.col("lang") == "en", n_keep=50, dim=256, seed=42
    )


# v8's C4 block, then the pruned-LM gate over `cleaned`, then v8's DSIR
# chain re-rooted at the gate survivors.
ORACLES["curation_pipeline_v9"] = f"""
    WITH {_C4_STATS_SQL},
    cleaned AS MATERIALIZED (
        SELECT s.doc_id, s.kept_text AS text, d.lang
        FROM stats s
        JOIN flags f USING (doc_id)
        JOIN documents d USING (doc_id)
        WHERE f.f_lorem + f.f_brace + f.f_bad_words = 0 AND s.n_kept >= 3
    ),
    gtk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM cleaned
    ),
    gbg AS MATERIALIZED (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest([{{'w1': t[i], 'w2': t[i+1]}}
                           for i in generate_series(1, len(t) - 1)]) AS p
            FROM gtk WHERE len(t) >= 2
        )
    ),
    gbgc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg FROM gbg GROUP BY 1, 2
    ),
    glm AS MATERIALIZED (
        SELECT w1, w2,
               (length(bin(CAST(SUM(cbg) OVER (PARTITION BY w1) AS BIGINT)))
                - length(bin(cbg))) AS s
        FROM gbgc
        ORDER BY cbg DESC, w1, w2 LIMIT 256
    ),
    gmilli AS (
        SELECT gbg.doc_id,
               CAST(1000 * SUM(coalesce(glm.s, 10)) // COUNT(*) AS BIGINT)
                   AS surprisal_milli
        FROM gbg LEFT JOIN glm USING (w1, w2)
        GROUP BY 1
    ),
    gated AS MATERIALIZED (
        SELECT c.* FROM cleaned c
        LEFT JOIN gmilli g USING (doc_id)
        WHERE coalesce(g.surprisal_milli, 0) <= 8240
    ),
    ctoks AS (
        SELECT doc_id, lang,
               list_filter(string_split(lower(coalesce(text, '')), ' '),
                           w -> w <> '') AS t
        FROM gated
    ),
    occ AS MATERIALIZED (
        SELECT doc_id, lang, unnest(bs) AS b FROM (
            SELECT doc_id, lang,
                   [list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(
                             substr(md5(t[i] || ' ' || t[i+1]), 1, 12), '')],
                        (a, b) -> a * 16 + b) % 256
                    for i in generate_series(1, len(t)-1)] AS bs
            FROM ctoks
        )
    ),
    cnt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c_s,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_t
        FROM occ GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(c_s) AS BIGINT) AS n_s,
               CAST(SUM(c_t) AS BIGINT) AS n_t
        FROM cnt
    ),
    wts AS (
        SELECT g.b,
               CAST((CAST(1000000 AS HUGEINT)
                     * (COALESCE(c.c_t, 0) + 1) * (t.n_s + 256))
                    // (CAST(COALESCE(c.c_s, 0) + 1 AS HUGEINT)
                        * (t.n_t + 256)) AS BIGINT) AS w
        FROM (SELECT UNNEST(range(0, 256)) AS b) g
        LEFT JOIN cnt c ON c.b = g.b, tot t
    ),
    per_doc AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS f
        FROM occ GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.doc_id,
               CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(s.score, 0) AS BIGINT) AS dsir_score
        FROM gated c
        LEFT JOIN (
            SELECT p.doc_id, SUM(p.f * w.w) AS score
            FROM per_doc p JOIN wts w ON w.b = p.b GROUP BY 1
        ) s USING (doc_id)
        LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n FROM occ GROUP BY 1
        ) nb USING (doc_id)
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
                   ORDER BY dsir_score DESC,
                            md5('42:' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS rn
        FROM scored
    )
    SELECT doc_id, n_bigrams, dsir_score FROM r WHERE rn <= 50
"""


def q_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained product quantization (operators/similarity.
    pq_trained_codes): per-subspace integer-lattice k-means codebooks
    (greedy k-center seeding, exact Lloyd rounds) and the resulting PQ
    code matrix with exact per-subspace quantization error — the
    production form ann_pq_topk's sampled codebooks stand in for,
    delivered as a hash-exact trained twin. The oracle chains one
    prefixed kmeans replay per subspace (seeding + rounds unrolled ×4)
    over sliced embedding views."""
    from iconic_data_science_spark.operators.similarity import pq_trained_codes

    cat = _cat(spark, sf_dir)
    return pq_trained_codes(cat.embeddings, m=4, n_codes=8, n_iters=2)


from iconic_data_science_spark.operators.similarity import pq_trained_oracle_sql as _pq_trained_oracle_sql  # noqa: E402

ORACLES["ann_pq_trained"] = _pq_trained_oracle_sql(m=4, n_codes=8, n_iters=2)


def q_ann_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 retrieval against the TRAINED per-subspace codebooks
    (operators/similarity.pq_trained_topk) — the serving half of
    ann_pq_trained, completing the trained-PQ story: the query touches
    each corpus vector only through its m codes; the query distance
    table broadcasts; the one exchange is the (query, vector)
    partial-sum rollup (ann_pq_topk's shape, learned codebooks). The
    oracle reuses the per-subspace training chains' quantized tables
    and final-codebook CTEs directly."""
    from iconic_data_science_spark.operators.similarity import pq_trained_topk

    cat = _cat(spark, sf_dir)
    return pq_trained_topk(
        cat.embeddings, _ann_queries(cat), k=5, m=4, n_codes=8, n_iters=2
    )


from iconic_data_science_spark.operators.similarity import pq_trained_topk_oracle_sql as _pq_trained_topk_oracle_sql  # noqa: E402

ORACLES["ann_pq_trained_topk"] = _pq_trained_topk_oracle_sql(
    k=5, m=4, n_codes=8, n_iters=2
)


def q_ann_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector ingest validation (operators/similarity.
    embedding_audit): dimensionality / zero-norm / clipped-component
    flags plus the exact integer squared norm, all on the quantized
    lattice — the gate a vector store runs before indexing. Pure map,
    zero shuffle; streaming-compatible."""
    from iconic_data_science_spark.operators.similarity import embedding_audit

    cat = _cat(spark, sf_dir)
    return embedding_audit(cat.embeddings, dim=64, clip=4.0)


ORACLES["ann_embedding_audit"] = """
    WITH q AS (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                for x in embedding] AS qv
        FROM embeddings
    ),
    s AS (
        SELECT vec_id,
               CAST(len(qv) AS BIGINT) AS n_dims,
               CAST(list_reduce(list_prepend(0, [x * x for x in qv]),
                                (a, b) -> a + b) AS BIGINT) AS norm2,
               CAST(len(list_filter(qv, x -> abs(x) >= 4000))
                    AS BIGINT) AS n_clipped
        FROM q
    )
    SELECT vec_id, n_dims, norm2, n_clipped,
           CAST(CASE WHEN n_dims <> 64 THEN 1 ELSE 0 END AS BIGINT) AS f_dim,
           CAST(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS f_zero,
           CAST(CASE WHEN n_clipped > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS f_clipped,
           CAST(CASE WHEN n_dims = 64 AND norm2 <> 0 AND n_clipped = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM s
"""


def q_ann_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss reduced-dimension retrieval (operators/
    similarity.random_projection): 64 → 16 dims through a deterministic
    md5-derived ±1 sign matrix (Achlioptas-style Rademacher
    projection), then exact cosine top-5 in the PROJECTED space — the
    4× cheaper distance path that complements the Matryoshka prefix
    truncation (that one needs nested-trained embeddings; JL works on
    ANY embedding). TRUTH BASELINE: this is the all-pairs form, kept —
    like `ann_brute_topk` — as the exact-recall reference for the
    composed candidate-generation plan `ann_rp_lsh_topk` (same
    projection, same integer-lattice cosines, bucket-restricted
    pairs); it is NOT the plan to run at scale. The oracle re-derives
    the sign matrix from the same md5 parity and replays projection +
    cosine + ranking."""
    from iconic_data_science_spark.operators.similarity import (
        brute_force_topk,
        random_projection,
    )

    cat = _cat(spark, sf_dir)
    proj = lambda df: random_projection(df, out_dim=16, in_dim=64, seed=0)  # noqa: E731
    return brute_force_topk(proj(cat.embeddings), proj(_ann_queries(cat)), k=5)


ORACLES["ann_rp_topk"] = """
    WITH sgn AS MATERIALIZED (
        SELECT j.range AS j, i.range AS i,
               CASE WHEN list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(
                             substr(md5('0:' || CAST(j.range AS VARCHAR)
                                        || ':' || CAST(i.range AS VARCHAR)),
                                    1, 12), '')],
                        (a, b) -> a * 16 + b) % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM range(0, 16) j, range(0, 64) i
    ),
    qv AS (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                for x in embedding] AS q
        FROM embeddings
    ),
    el AS (
        SELECT vec_id, CAST(r.range AS BIGINT) - 1 AS i, q[r.range] AS v
        FROM qv, range(1, 65) r
    ),
    proj AS (
        SELECT el.vec_id, s.j, CAST(SUM(el.v * s.s) AS BIGINT) AS y
        FROM el JOIN sgn s ON s.i = el.i
        GROUP BY 1, 2
    ),
    pv AS MATERIALIZED (
        SELECT vec_id,
               array_agg(CAST(CAST(y AS DOUBLE) / 1000 AS FLOAT)
                         ORDER BY j) AS embedding
        FROM proj GROUP BY 1
    ),
    e AS (
        SELECT vec_id, embedding,
               list_reduce(
                   [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for x in embedding], (a, b) -> a + b) AS sq
        FROM pv
    ),
    q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(
                   [CAST(round(CAST(q.embedding[i] AS DOUBLE)
                               * CAST(c.embedding[i] AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for i in generate_series(1, len(q.embedding))],
                   (x, y) -> x + y)
               / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
        FROM q JOIN e c ON q.vec_id <> c.vec_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 5
"""


def q_ann_rp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection composed UNDER a hyperplane candidate generator
    (operators/similarity.rp_lsh_topk — the r7 verdict's one design
    gap): 64 → 16 dims through the deterministic ±1 md5 sign matrix,
    then an 8-bit hyperplane bucket computed IN the projected space
    (in-row integer-lattice dots with the seeded table-7 plane set —
    no explode, no aggregation), candidates = bucket-equality join,
    exact projected-space cosine verify + top-5. `ann_rp_topk` is the
    all-pairs truth baseline for this query: identical cosine values,
    this plan just restricts the pairs to shared buckets — the
    candidate join is ~2^8 cheaper than the cartesian at scale. The
    oracle re-derives the sign matrix from md5 parity and the plane
    table from the same seeded literals, then replays projection,
    bucketing, and ranking."""
    from iconic_data_science_spark.operators.similarity import rp_lsh_topk

    cat = _cat(spark, sf_dir)
    return rp_lsh_topk(cat.embeddings, _ann_queries(cat), k=5)


# Shares the ann_rp_topk projection CTEs (same md5 sign matrix); adds
# the projected-space lattice + plane-dot bucket and restricts pairs to
# bucket equality. Bucket dots are PURE INTEGER lattice×coeff sums (the
# Spark side multiplies the named long lattice by literal coeffs — no
# DOT_SCALE), so the oracle sums lat.y * pl.coeff exactly.
ORACLES["ann_rp_lsh_topk"] = """
    WITH sgn AS MATERIALIZED (
        SELECT j.range AS j, i.range AS i,
               CASE WHEN list_reduce(
                        [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                         for c in string_split_regex(
                             substr(md5('0:' || CAST(j.range AS VARCHAR)
                                        || ':' || CAST(i.range AS VARCHAR)),
                                    1, 12), '')],
                        (a, b) -> a * 16 + b) % 2 = 0
                    THEN 1 ELSE -1 END AS s
        FROM range(0, 16) j, range(0, 64) i
    ),
    qv AS (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                for x in embedding] AS q
        FROM embeddings
    ),
    el AS (
        SELECT vec_id, CAST(r.range AS BIGINT) - 1 AS i, q[r.range] AS v
        FROM qv, range(1, 65) r
    ),
    proj AS (
        SELECT el.vec_id, s.j, CAST(SUM(el.v * s.s) AS BIGINT) AS y
        FROM el JOIN sgn s ON s.i = el.i
        GROUP BY 1, 2
    ),
    pv AS MATERIALIZED (
        SELECT vec_id,
               array_agg(CAST(CAST(y AS DOUBLE) / 1000 AS FLOAT)
                         ORDER BY j) AS embedding,
               array_agg(y ORDER BY j) AS lat
        FROM proj GROUP BY 1
    ),
    pl AS (SELECT * FROM {RP_PLANES}),
    lat AS (
        SELECT vec_id, CAST(r.range AS INT) AS i, lat[r.range] AS y
        FROM pv, range(1, 17) r
    ),
    pdots AS (
        SELECT lat.vec_id, pl.plane, CAST(SUM(lat.y * pl.coeff) AS BIGINT) AS dot
        FROM lat JOIN pl USING (i)
        GROUP BY 1, 2
    ),
    bk AS MATERIALIZED (
        SELECT vec_id,
               string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END,
                          '' ORDER BY plane) AS bucket
        FROM pdots GROUP BY 1
    ),
    e AS (
        SELECT pv.vec_id, pv.embedding, bk.bucket,
               list_reduce(
                   [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for x in pv.embedding], (a, b) -> a + b) AS sq
        FROM pv JOIN bk USING (vec_id)
    ),
    q AS (SELECT * FROM e WHERE vec_id % 50 = 0),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(
                   [CAST(round(CAST(q.embedding[i] AS DOUBLE)
                               * CAST(c.embedding[i] AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for i in generate_series(1, len(q.embedding))],
                   (x, y) -> x + y)
               / sqrt(CAST(q.sq AS DOUBLE) * CAST(c.sq AS DOUBLE)) AS cosine
        FROM q JOIN e c
          ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 5
""".replace("{RP_PLANES}", _plane_table_sql(8, 16, table=_RP_LSH_TABLE))


def q_text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering input (operators/
    text.bigram_surprisal): per-document integer surprisal under the
    corpus's own bigram LM — s = ilog2(ctx(w1)) - ilog2(c(w1,w2)) per
    occurrence, ilog2 as length(bin(x))-1 so the score is engine-exact
    (true logs differ in the last ulp). Formulaic/repetitive docs
    score near 0, rare-transition docs score high — the head/middle/
    tail signal CCNet buckets on. Bounded LM tables (vocab-grain
    aggregates), two equi-joins, one per-doc rollup; <2-token docs
    rejoin as a map-side union. The oracle replays the counts, the
    binary-length logs, and the milli division."""
    from iconic_data_science_spark.operators.text import bigram_surprisal

    cat = _cat(spark, sf_dir)
    return bigram_surprisal(cat.documents)


def q_text_surprisal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet ingest filter in its production shape (operators/
    text.bigram_lm_topk + bigram_surprisal_gate): the 256 hottest
    corpus bigrams collect once as the PRUNED LM (bounded model
    metadata, the classifier-weights discipline — CCNet prunes its
    KenLM the same way), then the gate is a pure in-row fold over the
    doc's bigram keys with a literal map lookup (unseen → default 10),
    keeping docs at or below the median-ish 7900 milli cutoff. Zero
    exchanges in the gate — streamable (stream == batch pinned in
    test_streaming). The oracle re-derives the top-256 LM with the
    same (count desc, w1, w2) tie-break and replays the fold as a
    left join + coalesce."""
    from iconic_data_science_spark.operators.text import (
        bigram_lm_topk,
        bigram_surprisal_gate,
    )

    cat = _cat(spark, sf_dir)
    lm = bigram_lm_topk(cat.documents, k=256)
    return bigram_surprisal_gate(
        cat.documents, lm, default_s=10, cutoff_milli=7900
    )


ORACLES["text_surprisal_gate"] = """
    WITH tk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest([{'w1': t[i], 'w2': t[i+1]}
                           for i in generate_series(1, len(t) - 1)]) AS p
            FROM tk WHERE len(t) >= 2
        )
    ),
    bgc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY 1, 2
    ),
    lm AS MATERIALIZED (
        SELECT w1, w2,
               (length(bin(CAST(SUM(cbg) OVER (PARTITION BY w1) AS BIGINT)))
                - length(bin(cbg))) AS s
        FROM bgc
        ORDER BY cbg DESC, w1, w2 LIMIT 256
    ),
    agg AS (
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(1000 * SUM(coalesce(lm.s, 10)) // COUNT(*) AS BIGINT)
                   AS surprisal_milli
        FROM bg LEFT JOIN lm USING (w1, w2)
        GROUP BY 1
    ),
    allrows AS (
        SELECT doc_id, n_bigrams, surprisal_milli FROM agg
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM tk WHERE len(t) < 2
    )
    SELECT * FROM allrows WHERE surprisal_milli <= 7900
"""

ORACLES["text_bigram_surprisal"] = """
    WITH tk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest([{'w1': t[i], 'w2': t[i+1]}
                           for i in generate_series(1, len(t) - 1)]) AS p
            FROM tk WHERE len(t) >= 2
        )
    ),
    bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cctx FROM bg GROUP BY 1),
    agg AS (
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(1000 * SUM(length(bin(ctx.cctx)) - length(bin(bgc.cbg)))
                    // COUNT(*) AS BIGINT) AS surprisal_milli
        FROM bg
        JOIN bgc USING (w1, w2)
        JOIN ctx USING (w1)
        GROUP BY 1
    )
    SELECT doc_id, n_bigrams, surprisal_milli FROM agg
    UNION ALL
    SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM tk WHERE len(t) < 2
"""


_UNIMAX_ALLOC_SQL = """per_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ),
    ranked AS (
        SELECT lang, n_docs, n_tokens,
               CAST(2 * n_tokens AS BIGINT) AS cap,
               CAST(ROW_NUMBER() OVER (ORDER BY 2 * n_tokens, lang)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(COALESCE(SUM(2 * n_tokens) OVER (
                        ORDER BY 2 * n_tokens, lang
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cum_prev
        FROM per_lang
    ),
    flags AS (
        SELECT *,
               CASE WHEN cap <= GREATEST(500000 - cum_prev, 0)
                               // (n - i + 1)
                    THEN 1 ELSE 0 END AS is_capped
        FROM ranked
    ),
    kk AS (
        SELECT COALESCE(MAX(CASE WHEN is_capped = 1 THEN i END), 0) AS k
        FROM flags
    ),
    fs AS (
        SELECT kk.k,
               CASE WHEN kk.k >= (SELECT MAX(n) FROM flags)
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(GREATEST(500000 - COALESCE(
                             (SELECT cum_prev + cap FROM flags
                              WHERE i = kk.k), 0), 0)
                         // ((SELECT MAX(n) FROM flags) - kk.k)
                         AS BIGINT) END AS final_share
        FROM kk
    ),
    alloc AS (
        SELECT f.lang, f.n_docs, f.n_tokens, f.cap AS cap_tokens,
               CAST(CASE WHEN f.i <= fs.k THEN f.cap
                         ELSE LEAST(f.cap, fs.final_share)
                    END AS BIGINT) AS alloc_tokens
        FROM flags f, fs
    )"""


def q_mix_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023; operators/
    mixing.unimax_allocation): the token budget spread as uniformly as
    possible across languages under a max-epochs cap — integer
    waterfilling on the bounded language table, both engines replay
    the closed form (share/capped-prefix/final-share) bit-for-bit."""
    from iconic_data_science_spark.operators.mixing import unimax_allocation

    cat = _cat(spark, sf_dir)
    return unimax_allocation(cat.documents, budget_tokens=500_000, max_epochs=2)


ORACLES["mix_unimax_alloc"] = f"""
    WITH {_UNIMAX_ALLOC_SQL}
    SELECT lang, n_docs, n_tokens, cap_tokens, alloc_tokens FROM alloc
"""


def q_mix_unimax_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UniMax allocation applied as a reproducible Bernoulli keep
    rule (operators/mixing.unimax_sample): keep iff
    u(doc)·n_tokens_l < alloc_l·10⁶, u the md5-fold bucket of doc_id.
    Allocation + sampling under one hash; the rate table broadcasts
    and the rule is a pure map (streamable — the temperature-gate
    pattern)."""
    from iconic_data_science_spark.operators.mixing import unimax_sample

    cat = _cat(spark, sf_dir)
    return unimax_sample(cat.documents, budget_tokens=500_000, max_epochs=2)


ORACLES["mix_unimax_sample"] = f"""
    WITH {_UNIMAX_ALLOC_SQL},
    d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b
               ) % 1000000 AS u
        FROM documents
    )
    SELECT d.doc_id, d.lang, d.n_tokens
    FROM d JOIN alloc a USING (lang)
    WHERE CAST(d.u AS HUGEINT) * a.n_tokens
          < CAST(a.alloc_tokens AS HUGEINT) * 1000000
"""


def q_text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption pair synthesis (operators/text.
    span_corruption): block-grid masked spans with sentinel tokens and
    the masked spans as targets — the denoising-objective
    preprocessing step, as one zero-shuffle map. Output carries md5 of
    both sequences so rows stay narrow under the hash gate; the oracle
    replays the block/offset/length arithmetic and both
    reassemblies."""
    from iconic_data_science_spark.operators.text import span_corruption

    cat = _cat(spark, sf_dir)
    out = span_corruption(cat.documents, block=20, offset_space=17, max_span=3)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_masked",
        F.md5("input_text").alias("input_fp"),
        F.md5("targets_text").alias("targets_fp"),
    )


ORACLES["text_span_corruption"] = """
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(coalesce(text, ''), ' '),
                           w -> w <> '') AS t
        FROM documents
    ),
    blocks AS (
        SELECT base.doc_id, CAST(g.k AS BIGINT) AS k, t,
               CAST(len(t) AS BIGINT) AS n
        FROM base, LATERAL (
            SELECT UNNEST(range(0, GREATEST(1,
                CAST(ceil(len(t)/20.0) AS BIGINT)))) AS k
        ) g
    ),
    calc AS (
        SELECT doc_id, k, t, n,
               LEAST(20, n - k*20) AS blen,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(
                        CAST(doc_id AS VARCHAR) || ':' ||
                        CAST(k AS VARCHAR)), 1, 12), '')],
                   (a, b) -> a * 16 + b) % 17 AS off,
               list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(
                        CAST(doc_id AS VARCHAR) || ':' ||
                        CAST(k AS VARCHAR) || ':len'), 1, 12), '')],
                   (a, b) -> a * 16 + b) % 3 + 1 AS ln
        FROM blocks
    ),
    parts AS (
        SELECT doc_id, k,
               CAST(CASE WHEN off < blen THEN 1 ELSE 0 END AS BIGINT) AS has,
               CAST(CASE WHEN off < blen THEN LEAST(ln, blen - off)
                         ELSE 0 END AS BIGINT) AS l_eff,
               CASE WHEN off < blen THEN
                    t[k*20+1 : k*20+off]
                    || ['<extra_id_' || CAST(k AS VARCHAR) || '>']
                    || t[k*20+off+LEAST(ln, blen-off)+1 : k*20+blen]
               ELSE t[k*20+1 : k*20+blen] END AS inp,
               CASE WHEN off < blen THEN
                    ['<extra_id_' || CAST(k AS VARCHAR) || '>']
                    || t[k*20+off+1 : k*20+off+LEAST(ln, blen-off)]
               ELSE CAST([] AS VARCHAR[]) END AS tgt
        FROM calc
    ),
    agg AS (
        SELECT p.doc_id,
               CAST(SUM(p.has) AS BIGINT) AS n_spans,
               CAST(SUM(p.l_eff) AS BIGINT) AS n_masked,
               COALESCE(string_agg(array_to_string(p.inp, ' '), ' '
                        ORDER BY p.k)
                        FILTER (WHERE len(p.inp) > 0), '') AS input_text,
               COALESCE(string_agg(array_to_string(p.tgt, ' '), ' '
                        ORDER BY p.k)
                        FILTER (WHERE len(p.tgt) > 0), '') AS targets_text
        FROM parts p GROUP BY 1
    )
    SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tokens,
           a.n_spans, a.n_masked,
           md5(a.input_text) AS input_fp,
           md5(a.targets_text) AS targets_fp
    FROM base b JOIN agg a USING (doc_id)
"""


def q_ann_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-vector late-interaction top-5 (operators/
    similarity.maxsim_topk, candidates=None): ColBERT's MaxSim
    (Khattab & Zaharia 2020) — each document is the ordered bag of 4
    token vectors (tdoc = vec_id div 4), and score(Q, D) = Σ over
    query tokens of the best token-pair cosine in D. TRUTH BASELINE
    ONLY, the ``ann_brute_topk`` discipline: it scores every
    query×corpus doc pair, so it exists to anchor the recall of the
    bucketed serving form ``ann_maxsim_rerank`` — never the plan to
    run at scale. Token dots come off the 1e12 integer lattice; the
    query-token fold starts at 0.0 in array order, which the oracle
    replays with list_prepend(0.0, …) + list_reduce."""
    from iconic_data_science_spark.operators.similarity import (
        maxsim_topk,
        multivector_docs,
    )

    cat = _cat(spark, sf_dir)
    docs = multivector_docs(cat.embeddings, m=4)
    return maxsim_topk(docs, docs.filter(F.col("tdoc") % 10 == 0), k=5)


_MAXSIM_DOCS_SQL = """e AS (
        SELECT vec_id, embedding,
               vec_id // 4 AS tdoc, vec_id % 4 AS tok,
               list_reduce(
                   [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for x in embedding], (a, b) -> a + b) AS sq
        FROM embeddings
    ),
    docs AS MATERIALIZED (
        SELECT tdoc, list(struct_pack(v := embedding, sq := sq)
                          ORDER BY tok) AS tv
        FROM e GROUP BY 1
    )"""

_MAXSIM_SCORE_SQL = """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [ list_max([
                   list_reduce(
                       [CAST(round(CAST(qt.v[i] AS DOUBLE)
                                   * CAST(ct.v[i] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)
                        for i in generate_series(1, len(qt.v))],
                       (x, y) -> x + y)
                   / sqrt(CAST(qt.sq AS DOUBLE) * CAST(ct.sq AS DOUBLE))
                 for ct in c.tv])
               for qt in q.tv]), (a, b) -> a + b)"""

ORACLES["ann_maxsim_topk"] = f"""
    WITH {_MAXSIM_DOCS_SQL},
    q AS (SELECT * FROM docs WHERE tdoc % 10 = 0),
    pairs AS (
        SELECT q.tdoc AS query_id, c.tdoc AS neighbor_id,
               {_MAXSIM_SCORE_SQL} AS maxsim
        FROM q JOIN docs c ON q.tdoc <> c.tdoc
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY maxsim DESC, neighbor_id) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, maxsim, CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 5
"""


def q_ann_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MaxSim SERVING shape (operators/similarity.maxsim_topk over
    maxsim_lsh_candidates): first-stage retrieval runs per query TOKEN
    — two docs are candidates iff any of their tokens share a 6-bit
    hyperplane sign bucket (seed table 11) — then exact late-
    interaction MaxSim reranks only the candidate pairs. This is
    ColBERT's architecture verbatim: token-level ANN for candidates,
    MaxSim for the final order.

    100 TB: the token bucket join is the only corpus-sized exchange
    (~2^B cheaper than all-pairs, OR-ed across m=4 query tokens so
    doc-level recall survives lower per-token recall); the rerank
    joins move (m·dim)-wide doc rows for candidate pairs only. The
    plane count B comes from the corpus-size policy
    maxsim_auto_planes (clamp(ilog2(n_docs)-2, 6, 10) — 6 at the
    driver/bench scales, the measured 10-plane sweet spot at sf1);
    the oracle replays the SAME integer formula against one 10-plane
    literal table (plane-coefficient draws are sequential, so every B
    is a prefix). Subset property + recall vs ``ann_maxsim_topk``
    pinned in test_llm_ops.

    Compute-dense (r10): the candidate-pair rescore runs ~1k FP ops
    per sub-KB row, so the AQE byte floor would coalesce it to 1-2
    serial tasks — opt into the dense floor (session.mark_compute_dense;
    sf0.1 execution 3.8 → 1.1 s)."""
    from iconic_data_science_spark.operators.similarity import (
        maxsim_lsh_candidates,
        maxsim_topk,
        multivector_docs,
    )
    from iconic_data_science_spark.session import mark_compute_dense

    cat = _cat(spark, sf_dir)
    mark_compute_dense(spark)
    docs = multivector_docs(cat.embeddings, m=4)
    cand = maxsim_lsh_candidates(
        cat.embeddings, query_pred=F.col("tdoc") % 10 == 0, m=4, n_planes=None
    )
    return maxsim_topk(docs, docs.filter(F.col("tdoc") % 10 == 0), k=5, candidates=cand)


ORACLES["ann_maxsim_rerank"] = f"""
    WITH pl10 AS (SELECT * FROM {{MAXSIM_PLANES}}),
    bsel AS (
        -- the maxsim_auto_planes policy, replayed in integer SQL:
        -- B = clamp(ilog2(n_docs) - 2, 6, 10)
        SELECT LEAST(10, GREATEST(6,
            (length(bin(CAST(COUNT(DISTINCT vec_id // 4) AS BIGINT))) - 1) - 2
        )) AS b
        FROM embeddings
    ),
    pl AS (SELECT * FROM pl10 WHERE plane < (SELECT b FROM bsel)),
    {_MAXSIM_DOCS_SQL},
    elems AS (
        SELECT vec_id, i, embedding[i] AS x
        FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) ix
    ),
    dots AS (
        SELECT vec_id, plane,
               CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(coeff AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)) AS BIGINT) AS dot
        FROM elems JOIN pl USING (i) GROUP BY 1, 2
    ),
    sig AS (
        SELECT vec_id,
               string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END,
                          '' ORDER BY plane) AS bucket
        FROM dots GROUP BY 1
    ),
    tb AS (SELECT vec_id // 4 AS tdoc, bucket FROM sig),
    cand AS (
        SELECT DISTINCT qt.tdoc AS query_id, ct.tdoc AS neighbor_id
        FROM tb qt JOIN tb ct ON qt.bucket = ct.bucket AND qt.tdoc <> ct.tdoc
        WHERE qt.tdoc % 10 = 0
    ),
    pairs AS (
        SELECT cand.query_id, cand.neighbor_id,
               {_MAXSIM_SCORE_SQL} AS maxsim
        FROM cand
        JOIN docs q ON q.tdoc = cand.query_id
        JOIN docs c ON c.tdoc = cand.neighbor_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY maxsim DESC, neighbor_id) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, maxsim, CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 5
""".replace("{MAXSIM_PLANES}", _plane_table_sql(10, 64, table=11))


def q_text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail (operators/text.surprisal_buckets):
    per-language perplexity terciles under the corpus bigram LM
    (Wenzek et al. 2020 §4.3), as VALUE thresholds — t_head(lang) is
    the smallest surprisal whose per-language CDF reaches 1/3 — so the
    doc-grain assignment is a broadcast-join map, never an ntile sort
    of the corpus. The CDF window runs on the bounded
    (lang, surprisal_milli) histogram. The oracle replays the integer
    surprisal, the histogram CDF, and the threshold min-when."""
    from iconic_data_science_spark.operators.text import surprisal_buckets

    cat = _cat(spark, sf_dir)
    return surprisal_buckets(cat.documents)


ORACLES["text_ppl_buckets"] = """
    WITH tk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest([{'w1': t[i], 'w2': t[i+1]}
                           for i in generate_series(1, len(t) - 1)]) AS p
            FROM tk WHERE len(t) >= 2
        )
    ),
    bgc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cctx FROM bg GROUP BY 1),
    agg AS (
        SELECT bg.doc_id,
               CAST(1000 * SUM(length(bin(ctx.cctx)) - length(bin(bgc.cbg)))
                    // COUNT(*) AS BIGINT) AS surprisal_milli
        FROM bg
        JOIN bgc USING (w1, w2)
        JOIN ctx USING (w1)
        GROUP BY 1
    ),
    allrows AS MATERIALIZED (
        SELECT doc_id, surprisal_milli FROM agg
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT) FROM tk WHERE len(t) < 2
    ),
    sl AS MATERIALIZED (
        SELECT a.doc_id, d.lang, a.surprisal_milli
        FROM allrows a JOIN documents d USING (doc_id)
    ),
    hist AS (
        SELECT lang, surprisal_milli, CAST(COUNT(*) AS BIGINT) AS c
        FROM sl GROUP BY 1, 2
    ),
    cdf AS (
        SELECT lang, surprisal_milli,
               SUM(c) OVER (PARTITION BY lang ORDER BY surprisal_milli
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
               SUM(c) OVER (PARTITION BY lang) AS n
        FROM hist
    ),
    thr AS (
        SELECT lang,
               MIN(CASE WHEN cum * 3 >= n THEN surprisal_milli END) AS t_head,
               MIN(CASE WHEN cum * 3 >= 2 * n THEN surprisal_milli END) AS t_middle
        FROM cdf GROUP BY 1
    )
    SELECT sl.doc_id, sl.lang, sl.surprisal_milli,
           CASE WHEN sl.surprisal_milli <= thr.t_head THEN 'head'
                WHEN sl.surprisal_milli <= thr.t_middle THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM sl JOIN thr USING (lang)
"""


_SYNTH_URLS_SQL = """u AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END)
               || '://'
               || (CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                        WHEN 2 THEN '' ELSE 'cdn.assets.' END)
               || 'site' || CAST(doc_id % 23 AS VARCHAR) || '.'
               || (CASE doc_id % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                        WHEN 2 THEN 'co.uk' WHEN 3 THEN 'net'
                        ELSE 'ac.jp' END)
               || (CASE WHEN doc_id % 17 = 0 THEN ':8080' ELSE '' END)
               || '/' || source || '/page-' || CAST(doc_id % 7 AS VARCHAR)
               AS url
        FROM documents
    )"""

_URL_PARTS_SQL = """parts AS (
        SELECT doc_id, url,
               regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
               string_split(regexp_extract(url, '^[a-z]+://([^/]+)', 1),
                            ':')[1] AS host,
               len(string_split(regexp_extract(url, '^[a-z]+://([^/]+)', 1),
                                ':')) > 1 AS has_port,
               CAST(len(string_split(
                   regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1), '/'))
                   - 1 AS BIGINT) AS depth
        FROM u
    ),
    dom AS (
        -- single-label hosts (localhost): registrable domain = host,
        -- mirroring the Spark-side n >= 2 guard (operators/text.py
        -- _url_parts); DuckDB's labels[-2] would be NULL there, Spark's
        -- element_at would throw under ANSI
        SELECT *,
               CASE WHEN len(labels) < 2 THEN host
                    WHEN labels[-2] || '.' || labels[-1]
                         IN ('co.uk', 'ac.jp')
                         AND len(labels) >= 3
                    THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                    ELSE labels[-2] || '.' || labels[-1] END AS domain
        FROM (SELECT *, string_split(host, '.') AS labels FROM parts)
    )"""


def q_web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb URL-filtering statistics (operators/text.synth_urls +
    url_domain_stats; Penedo et al. 2024 §3.1): registrable-domain
    (eTLD+1) rollup — doc count, distinct hosts, http share, literal
    blocklist flag. The suffix table and blocklist are bounded literal
    metadata; one domain-grain aggregate over in-row URL parsing. The
    oracle replays the synth URLs (pure id arithmetic, the
    web_link_graph discipline) and the same regex/split parse."""
    from iconic_data_science_spark.operators.text import (
        synth_urls,
        url_domain_stats,
    )

    cat = _cat(spark, sf_dir)
    return url_domain_stats(synth_urls(cat.documents))


ORACLES["web_domain_stats"] = f"""
    WITH {_SYNTH_URLS_SQL},
    {_URL_PARTS_SQL}
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(SUM(CASE WHEN scheme = 'http' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_http,
           CAST(MAX(CASE WHEN domain IN ('site3.com', 'site7.co.uk')
                         THEN 1 ELSE 0 END) AS BIGINT) AS blocked
    FROM dom GROUP BY 1
"""


def q_web_url_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-level URL filter (operators/text.url_gate): keep https,
    portless, depth ≤ 2, domain off the blocklist — a PURE MAP (zero
    exchanges, streamable), the first gate a crawl pipeline runs so
    blocked pages never reach tokenization. Same parse as
    web_domain_stats; the oracle replays both the synth and the
    rules."""
    from iconic_data_science_spark.operators.text import synth_urls, url_gate

    cat = _cat(spark, sf_dir)
    return url_gate(synth_urls(cat.documents))


ORACLES["web_url_gate"] = f"""
    WITH {_SYNTH_URLS_SQL},
    {_URL_PARTS_SQL}
    SELECT doc_id, url, domain
    FROM dom
    WHERE scheme = 'https' AND NOT has_port AND depth <= 2
      AND domain NOT IN ('site3.com', 'site7.co.uk')
"""


def q_web_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities over the crawl link graph (operators/
    graph.hits_int; Kleinberg 1999): the link-quality companion to
    web_pagerank — hubs are pages whose out-links hit good
    authorities, authorities are pages good hubs point at (curation
    pipelines use the authority side as a quality prior and the hub
    side to find link farms). Same deterministic edge set as
    web_pagerank (synth pages → regex link extraction → id
    arithmetic); 5 rounds of the integer-lattice mutual recursion,
    sum-normalized with floor divisions so both engines replay it
    bit-for-bit. The oracle unrolls the rounds as MATERIALIZED CTEs
    (the text_bpe_vocab discipline — no recursive double-reference
    contortions)."""
    from iconic_data_science_spark.operators.graph import hits_int
    from iconic_data_science_spark.operators.text import html_links, synth_html_linked

    cat = _cat(spark, sf_dir)
    links = html_links(synth_html_linked(cat.documents))
    edges = (
        links.filter(F.col("href").rlike("^/doc/[0-9]+$"))
        .select(
            F.col("doc_id").alias("src"),
            F.regexp_extract(F.col("href"), "^/doc/([0-9]+)$", 1)
            .cast("long")
            .alias("dst"),
        )
        .distinct()
    )
    return hits_int(edges, iterations=5)


from iconic_data_science_spark.operators.graph import hits_int_oracle_ctes as _hits_oracle  # noqa: E402

ORACLES["web_hits"] = _hits_oracle(
    """SELECT DISTINCT doc_id AS src, doc_id // r.k AS dst
        FROM documents, (VALUES (2), (3), (5)) r(k)
        WHERE doc_id // r.k <> doc_id""",
    iterations=5,
)


def q_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill (operators/timeseries.gap_fill): the
    TimescaleDB time_bucket_gapfill + locf + interpolate triple —
    dense per-type hour spine, last-observation-carried-forward, and
    integer-exact linear interpolation in the weighted-average form
    (non-negative numerator terms, so trunc-div == floor-div across
    engines). One events-grain exchange; every fill step runs on the
    bounded type×hour table. The fixture has real gaps at every sf
    (34–53 missing hours per type at sf0.01)."""
    from iconic_data_science_spark.operators.timeseries import gap_fill

    cat = _cat(spark, sf_dir)
    return gap_fill(cat.events)


ORACLES["ts_gap_fill"] = """
    WITH hourly AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
               CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
                    AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY 1
    ),
    spine AS (
        SELECT event_type, unnest(generate_series(mn, mx)) AS h FROM bounds
    ),
    j AS (
        SELECT s.event_type, s.h, hourly.v
        FROM spine s LEFT JOIN hourly USING (event_type, h)
    ),
    w AS (
        SELECT event_type, h AS bucket_h, v,
               last_value(v IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
               first_value(v IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        FROM j
    )
    SELECT event_type, CAST(bucket_h AS BIGINT) AS bucket_h,
           CAST(v AS BIGINT) AS observed_cents,
           CAST(pv AS BIGINT) AS locf_cents,
           CAST(CASE WHEN v IS NOT NULL THEN v
                     WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN (pv * (nh - bucket_h) + nv * (bucket_h - ph))
                          // (nh - ph)
                END AS BIGINT) AS interp_cents
    FROM w
"""


def q_web_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (operators/text.url_dedup; Penedo et al. 2024
    §3.2 — FineWeb's FIRST dedup stage, before any content hashing):
    canonicalize (lower host, strip port/fragment/trailing slash, drop
    utm_* params, sort the rest) and collapse re-crawl noise onto one
    canonical key, keeping min(doc_id). The noisy synth
    (text.synth_urls_noisy) manufactures exactly the noise classes the
    canonicalizer must collapse; the oracle replays synth, rules, and
    the rollup."""
    from iconic_data_science_spark.operators.text import synth_urls_noisy, url_dedup

    cat = _cat(spark, sf_dir)
    return url_dedup(synth_urls_noisy(cat.documents))


_URL_DEDUP_CTES = """hb AS (
        SELECT doc_id, source,
               (CASE WHEN doc_id % 4 = 0 THEN 'www.'
                     WHEN doc_id % 4 = 1 THEN 'blog.' ELSE '' END)
               || 'site' || CAST(doc_id % 23 AS VARCHAR)
               || (CASE WHEN doc_id % 5 = 2 THEN '.co.uk' ELSE '.com' END)
               AS h
        FROM documents
    ),
    u AS (
        SELECT doc_id,
               'https://'
               || (CASE WHEN doc_id % 6 = 0 THEN upper(h) ELSE h END)
               || '/' || source || '/page-' || CAST(doc_id % 7 AS VARCHAR)
               || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
               || (CASE WHEN doc_id % 3 = 0
                        THEN '?utm_source=feed&id=' || CAST(doc_id % 11 AS VARCHAR)
                        WHEN doc_id % 3 = 1
                        THEN '?id=' || CAST(doc_id % 11 AS VARCHAR)
                        ELSE '' END)
               || (CASE WHEN doc_id % 13 = 0 THEN '#top' ELSE '' END) AS url
        FROM hb
    ),
    cano AS (
        SELECT doc_id,
               lower(string_split(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
                                  ':')[1])
               || regexp_replace(
                      regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
                      '/$', '')
               || (CASE WHEN kept <> '' THEN '?' || kept ELSE '' END)
               AS canonical_url
        FROM (
            SELECT doc_id, url,
                   array_to_string(list_sort(
                       [p for p in
                        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&')
                        if p <> '' and NOT starts_with(p, 'utm_')]), '&') AS kept
            FROM u
        )
    )"""

ORACLES["web_url_dedup"] = f"""
    WITH {_URL_DEDUP_CTES}
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
    FROM cano GROUP BY 1
"""


def q_text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece encoding (operators/text.wordpiece_encode; Wu et al.
    2016 — BERT's tokenizer): greedy longest-match against a
    vocabulary of the 12 hottest corpus words plus the full
    word-initial/continuation character alphabet (bounded driver
    metadata, the bigram_lm_topk discipline). n_words=12 < the
    corpus's 31 distinct words, so most words exercise the
    ##-continuation decomposition, not the whole-word fast path.
    The whole encode is a PURE MAP: outer fold advances pos through
    each word, inner fold tries candidate lengths longest-first
    against the literal vocab map — zero exchanges, streamable.
    Trained-on-self means the alphabet is closed, so [UNK] cannot
    fire here (the branch is pinned by the hand test's explicit
    vocab). The oracle replays vocab derivation and the identical
    double fold. Completes the tokenizer family next to BPE
    train/encode/fertility."""
    from iconic_data_science_spark.operators.text import (
        wordpiece_encode,
        wordpiece_vocab,
    )

    cat = _cat(spark, sf_dir)
    vocab = wordpiece_vocab(cat.documents, n_words=12)
    return wordpiece_encode(cat.documents, vocab)


from iconic_data_science_spark.operators.text import wordpiece_oracle_sql as _wp_oracle  # noqa: E402

ORACLES["text_wordpiece_encode"] = _wp_oracle(n_words=12)


def q_curation_pipeline_v10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-8-continuation composition — the FULL crawl-to-corpus
    front end: URL canonical dedup (the crawl layer — only each
    canonical URL's keeper doc enters; Penedo et al. 2024 run exactly
    this before any content work) → C4 line-level cleaning of the
    keepers' pages → pruned-LM perplexity gate learned ON the cleaned
    keepers (256 hottest bigrams, keep the ≤8240-milli head). Each
    stage consumes the previous stage's survivors, so one hash covers
    the URL synth, the canonicalization rules, the min-id keeper rule,
    the paging, every C4 rule, the LM tie-break, and the fold with
    defaults. The cleaned frame localCheckpoints (feeds the LM job and
    the gate plan — the r7 cross-branch rule).

    Compute-dense (r10): the C4 rules + LM surprisal fold are heavy
    per-row work over a byte-small frame, and the checkpoint freezes
    whatever partitioning AQE coalesced to — opt into the dense floor
    BEFORE the checkpoint materializes (session.mark_compute_dense;
    sf0.1 execution 3.2 → 0.3 s)."""
    from iconic_data_science_spark.operators.text import (
        bigram_lm_topk,
        bigram_surprisal_gate,
        c4_line_filter,
        synth_urls_noisy,
        url_dedup,
    )
    from iconic_data_science_spark.session import mark_compute_dense

    cat = _cat(spark, sf_dir)
    mark_compute_dense(spark)
    keepers = url_dedup(synth_urls_noisy(cat.documents)).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    base = cat.documents.join(keepers, "doc_id")
    cleaned = (
        c4_line_filter(
            _c4_pages(base),
            min_words_per_line=3,
            min_kept_lines=3,
            bad_words=["badword"],
        )
        .filter(F.col("keep") == 1)
        .select("doc_id", F.col("clean_text").alias("text"))
        .localCheckpoint()
    )
    lm = bigram_lm_topk(cleaned, k=256)
    return bigram_surprisal_gate(cleaned, lm, default_s=10, cutoff_milli=8240)


_C4_STATS_KEPT_SQL = _C4_STATS_SQL.replace(
    "AS t FROM documents", "AS t FROM documents JOIN keepers USING (doc_id)"
)

ORACLES["curation_pipeline_v10"] = f"""
    WITH {_URL_DEDUP_CTES},
    keepers AS MATERIALIZED (
        SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
        FROM cano GROUP BY canonical_url
    ),
    {_C4_STATS_KEPT_SQL},
    cleaned AS MATERIALIZED (
        SELECT s.doc_id, s.kept_text AS text
        FROM stats s
        JOIN flags f USING (doc_id)
        WHERE f.f_lorem + f.f_brace + f.f_bad_words = 0 AND s.n_kept >= 3
    ),
    gtk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM cleaned
    ),
    gbg AS MATERIALIZED (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM (
            SELECT doc_id,
                   unnest([{{'w1': t[i], 'w2': t[i+1]}}
                           for i in generate_series(1, len(t) - 1)]) AS p
            FROM gtk WHERE len(t) >= 2
        )
    ),
    gbgc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cbg FROM gbg GROUP BY 1, 2
    ),
    glm AS MATERIALIZED (
        SELECT w1, w2,
               (length(bin(CAST(SUM(cbg) OVER (PARTITION BY w1) AS BIGINT)))
                - length(bin(cbg))) AS s
        FROM gbgc
        ORDER BY cbg DESC, w1, w2 LIMIT 256
    ),
    gagg AS (
        SELECT gbg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(1000 * SUM(coalesce(glm.s, 10)) // COUNT(*) AS BIGINT)
                   AS surprisal_milli
        FROM gbg LEFT JOIN glm USING (w1, w2)
        GROUP BY 1
    ),
    gall AS (
        SELECT doc_id, n_bigrams, surprisal_milli FROM gagg
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM gtk WHERE len(t) < 2
    )
    SELECT * FROM gall WHERE surprisal_milli <= 8240
"""


def q_text_wordpiece_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WordPiece BATCH twin (operators/text.wordpiece_encode_batch)
    — row-identical to text_wordpiece_encode but the greedy fold runs
    once per DISTINCT word and joins back (Zipf's law: fold work
    scales with |vocabulary|, not corpus tokens — measured 3.5× at
    sf0.1, and the gap grows with repetition). The map form stays the
    ingest gate (zero exchanges, streamable); this is the backfill
    path. Shares the map form's oracle verbatim — same rows, same
    hash."""
    from iconic_data_science_spark.operators.text import (
        wordpiece_encode_batch,
        wordpiece_vocab,
    )

    cat = _cat(spark, sf_dir)
    vocab = wordpiece_vocab(cat.documents, n_words=12)
    return wordpiece_encode_batch(cat.documents, vocab)


ORACLES["text_wordpiece_batch"] = ORACLES["text_wordpiece_encode"]


def q_text_wordpiece_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility/compression rollup per language for
    WordPiece — the third row of the cross-tokenizer eval table
    (text_bpe_fertility, text_unigram_fertility, this): per-lang
    tokens-per-word, chars-per-token, and [UNK] share as BIGINT
    milli-units over the oracled greedy-longest-match encoder. With
    this query all three trained tokenizers are literally comparable
    under one metric surface (identical lang/doc/word/char marginals —
    all three split the same lowercased whitespace words). Shape: the
    BATCH greedy encode (row-identical twin — fold once per DISTINCT
    word, the Zipf lever; a backfill rollup, not an ingest gate) + the
    in-row char fold + one lang-grain aggregate; the oracle composes
    the full wordpiece_encode replay (vocab derivation + double fold)
    with the char rollup."""
    from iconic_data_science_spark.operators.bpe import words
    from iconic_data_science_spark.operators.text import (
        wordpiece_encode_batch,
        wordpiece_vocab,
    )

    cat = _cat(spark, sf_dir)
    vocab = wordpiece_vocab(cat.documents, n_words=12)
    enc = wordpiece_encode_batch(cat.documents, vocab)
    chars = cat.documents.select(
        "doc_id",
        "lang",
        F.aggregate(
            F.transform(words("text"), lambda w: F.length(w)),
            F.lit(0),
            lambda a, x: a + x,
        )
        .cast("long")
        .alias("n_chars"),
    )
    return (
        enc.join(chars, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_unk").cast("long").alias("n_unk"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_chars",
            "n_pieces",
            "n_unk",
            F.expr("1000 * n_pieces div n_words").alias("fertility_x1000"),
            F.expr("1000 * n_chars div n_pieces").alias(
                "chars_per_token_x1000"
            ),
            F.expr("1000 * n_unk div n_pieces").alias("unk_per_mille"),
        )
    )


ORACLES["text_wordpiece_fertility"] = f"""
    WITH enc AS ({ORACLES["text_wordpiece_encode"]}),
    ch AS (
        SELECT doc_id, lang,
               CAST(list_reduce(
                   list_prepend(0,
                       [length(w)
                        for w in string_split(lower(coalesce(text, '')), ' ')
                        if w <> '']),
                   (a, b) -> a + b) AS BIGINT) AS n_chars
        FROM documents
    ),
    j AS (
        SELECT ch.lang, enc.n_words, ch.n_chars, enc.n_pieces, enc.n_unk
        FROM enc JOIN ch USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(n_unk) AS BIGINT) AS n_unk,
           CAST(1000 * SUM(n_pieces) // SUM(n_words) AS BIGINT)
               AS fertility_x1000,
           CAST(1000 * SUM(n_chars) // SUM(n_pieces) AS BIGINT)
               AS chars_per_token_x1000,
           CAST(1000 * SUM(n_unk) // SUM(n_pieces) AS BIGINT)
               AS unk_per_mille
    FROM j GROUP BY lang
"""


def q_text_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template rendering (operators/text.chat_render over
    synth_chat_turns): deterministic user/assistant transcripts from
    the document tokens, rendered under the ChatML template with the
    system prompt prepended, plus the ASSISTANT-ONLY loss-mask token
    count — the data-prep step every instruction-tuning pipeline runs
    before packing. Pure in-row map (zero exchanges, streamable); the
    oracle replays the turn synthesis (slice arithmetic), the render
    fold (chr(10) newlines — DuckDB literals don't interpret \\n), the
    whitespace token counts, and the md5 fingerprint."""
    from iconic_data_science_spark.operators.text import (
        chat_render,
        synth_chat_turns,
    )

    cat = _cat(spark, sf_dir)
    return chat_render(synth_chat_turns(cat.documents))


ORACLES["text_chat_render"] = """
    WITH tk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               CAST(CASE WHEN len(t) > 0
                         THEN CAST(ceil(len(t) / 10.0) AS BIGINT)
                         ELSE 0 END AS BIGINT) AS n_turns,
               '<|im_start|>system' || chr(10)
               || 'you are a helpful assistant<|im_end|>' || chr(10)
               || CASE WHEN len(t) = 0 THEN '' ELSE
                  list_reduce(list_prepend('',
                    ['<|im_start|>'
                     || (CASE WHEN k % 2 = 1 THEN 'user' ELSE 'assistant' END)
                     || chr(10)
                     || array_to_string(t[(k-1)*10+1 : k*10], ' ')
                     || '<|im_end|>' || chr(10)
                     for k in generate_series(1,
                         CAST(ceil(len(t) / 10.0) AS BIGINT))]),
                    (a, b) -> a || b) END AS rendered,
               CASE WHEN len(t) = 0 THEN CAST(0 AS BIGINT) ELSE
               CAST(list_reduce(list_prepend(0,
                   [CASE WHEN k % 2 = 0
                         THEN len(t[(k-1)*10+1 : k*10]) + 1 ELSE 0 END
                    for k in generate_series(1,
                        CAST(ceil(len(t) / 10.0) AS BIGINT))]),
                   (a, b) -> a + b) AS BIGINT) END AS n_loss_tokens
        FROM tk
    )
    SELECT doc_id, n_turns,
           CAST(len([w for w in string_split(rendered, ' ')
                     if w <> '']) AS BIGINT) AS n_tokens,
           n_loss_tokens,
           md5(rendered) AS rendered_fp
    FROM r
"""


def q_text_fim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle transform (operators/alignment.fim_transform
    — Bavarian et al. 2022): a deterministic 60% of docs (md5 gate)
    split at two md5-fold pivots into prefix/middle/suffix and
    re-serialize under BOTH orderings (PSM and joined SPM) with
    sentinel tokens; the rest pass through as plain token streams.
    Pure in-row map, zero exchanges, streamable (stream == batch
    pinned). The oracle replays the gate, both pivots, the three
    slices, and both renders; rendered text ships as md5 fingerprints
    (the span_corruption discipline)."""
    from iconic_data_science_spark.operators.alignment import fim_transform

    cat = _cat(spark, sf_dir)
    out = fim_transform(cat.documents, rate_pct=60)
    return out.select(
        "doc_id",
        "n_tokens",
        "fim_applied",
        "n_prefix",
        "n_middle",
        "n_suffix",
        F.md5(F.col("rendered_psm").cast("binary")).alias("psm_fp"),
        F.md5(F.col("rendered_spm").cast("binary")).alias("spm_fp"),
    )


_FIM_H12 = """list_reduce(
                   [CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)
                    for c in string_split_regex(substr(md5(
                        CAST(doc_id AS VARCHAR) || '{salt}'), 1, 12), '')],
                   (a, b) -> a * 16 + b)"""

ORACLES["text_fim"] = f"""
    WITH base AS (
        SELECT doc_id,
               [w for w in string_split(coalesce(text, ''), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    calc AS (
        SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
               ({_FIM_H12.format(salt=':fim')} % 100) < 60 AS gate,
               {_FIM_H12.format(salt=':fim:a')} % (len(t) + 1) AS a,
               {_FIM_H12.format(salt=':fim:b')} % (len(t) + 1) AS b
        FROM base
    ),
    seg AS (
        SELECT doc_id, t, n, (gate AND n >= 2) AS applied,
               LEAST(a, b) AS lo, GREATEST(a, b) AS hi
        FROM calc
    ),
    r AS (
        SELECT doc_id, n, applied,
               CASE WHEN applied THEN lo ELSE 0 END AS n_prefix,
               CASE WHEN applied THEN hi - lo ELSE 0 END AS n_middle,
               CASE WHEN applied THEN n - hi ELSE 0 END AS n_suffix,
               CASE WHEN applied THEN array_to_string(
                   ['<fim_prefix>'] || t[1:lo] || ['<fim_suffix>']
                   || t[hi+1:n] || ['<fim_middle>'] || t[lo+1:hi], ' ')
               ELSE COALESCE(array_to_string(t, ' '), '') END AS psm,
               CASE WHEN applied THEN array_to_string(
                   ['<fim_prefix>', '<fim_suffix>'] || t[hi+1:n]
                   || ['<fim_middle>'] || t[1:lo] || t[lo+1:hi], ' ')
               ELSE COALESCE(array_to_string(t, ' '), '') END AS spm
        FROM seg
    )
    SELECT doc_id, n AS n_tokens,
           CAST(applied AS BIGINT) AS fim_applied,
           CAST(n_prefix AS BIGINT) AS n_prefix,
           CAST(n_middle AS BIGINT) AS n_middle,
           CAST(n_suffix AS BIGINT) AS n_suffix,
           md5(psm) AS psm_fp, md5(spm) AS spm_fp
    FROM r
"""


def q_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair assembly (operators/alignment.dpo_pairs over
    synth_preference_responses — Rafailov et al. 2023, the data step):
    each doc yields a prompt (first 8 tokens) and 3 deterministic
    candidate responses (consecutive 8-token windows) scored by
    distinct-token count; assembly collapses them to one (chosen,
    rejected) row per prompt via min/max over an order-encoding
    integer (score ties: chosen takes the lowest response_id, rejected
    the highest). ONE prompt-grain exchange — no window, no self-join,
    no join-back. The oracle replays the synth windows, the scores,
    the encoding, and both selections relationally."""
    from iconic_data_science_spark.operators.alignment import (
        dpo_pairs,
        synth_preference_responses,
    )

    cat = _cat(spark, sf_dir)
    return dpo_pairs(synth_preference_responses(cat.documents))


ORACLES["dpo_pairs"] = """
    WITH base AS (
        SELECT doc_id AS prompt_id,
               [w for w in string_split(coalesce(text, ''), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    resp AS (
        -- COALESCE: DuckDB array_to_string([]) is NULL, Spark
        -- array_join([]) is '' — empty prompts/windows must match
        SELECT prompt_id,
               COALESCE(array_to_string(t[1:8], ' '), '') AS prompt,
               CAST(g.k AS BIGINT) AS response_id,
               COALESCE(array_to_string(t[8 + g.k*8 + 1 : 8 + g.k*8 + 8],
                                        ' '), '') AS response,
               CAST(len(list_distinct(t[8 + g.k*8 + 1 : 8 + g.k*8 + 8]))
                    AS BIGINT) AS score
        FROM base, LATERAL (SELECT UNNEST(range(0, 3)) AS k) g
    ),
    enc AS MATERIALIZED (
        SELECT *, score * 16 + (15 - response_id) AS e FROM resp
    ),
    sel AS (
        SELECT prompt_id, MAX(e) AS ce, MIN(e) AS re, COUNT(*) AS n
        FROM enc GROUP BY 1
    )
    SELECT s.prompt_id, c.prompt,
           c.response_id AS chosen_id, r.response_id AS rejected_id,
           c.score AS chosen_score, r.score AS rejected_score,
           c.score - r.score AS margin,
           c.response AS chosen, r.response AS rejected,
           CAST(len([w for w in string_split(c.prompt, ' ')
                     if w <> '']) AS BIGINT) AS n_prompt_tokens,
           CAST(len([w for w in string_split(c.response, ' ')
                     if w <> '']) AS BIGINT) AS n_chosen_tokens,
           CAST(len([w for w in string_split(r.response, ' ')
                     if w <> '']) AS BIGINT) AS n_rejected_tokens
    FROM sel s
    JOIN enc c ON c.prompt_id = s.prompt_id AND c.e = s.ce
    JOIN enc r ON r.prompt_id = s.prompt_id AND r.e = s.re
    WHERE s.n >= 2
"""


def q_text_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece) tokenizer TRAINING (operators/
    unigram.unigram_train — Kudo 2018, Viterbi-EM): seed = top-48
    substrings + the corpus alphabet, costs = the integer -log2
    surrogate (ilog2(total) - ilog2(freq), the bigram-surprisal
    discipline), two fixed EM rounds (E = distributed Viterbi-best
    segmentation usage, M = cost re-estimate), prune to the 32
    best-used pieces with the alphabet always retained. Returns the
    trained (piece, cost, usage) table. The oracle unrolls BOTH EM
    rounds as 24-round MATERIALIZED-CTE Viterbi chains (the
    text_bpe_vocab fixed-round discipline) — training replays
    end-to-end in SQL, tie-breaks included."""
    from iconic_data_science_spark.operators.unigram import unigram_train

    cat = _cat(spark, sf_dir)
    v = unigram_train(cat.documents, vocab_size=32, seed_size=48, em_rounds=2)
    return spark.createDataFrame(
        [(p, int(c), int(u)) for p, c, u in v],
        "piece string, cost long, usage long",
    )


def q_text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi ENCODING under the vocabulary trained by
    q_text_unigram_vocab (operators/unigram.unigram_encode): per
    token, the minimum-cost segmentation with the (cost, piece count,
    joined key) tie-break; words over 24 chars or with uncoverable
    characters are [UNK] (the wordpiece contract). The RETURNED plan
    is a pure in-row map — costs are a literal map, zero exchanges,
    streamable (stream == batch pinned); training runs eagerly as
    bounded driver metadata. The oracle replays training AND encode
    (three Viterbi chains + the token-order rollup)."""
    from iconic_data_science_spark.operators.unigram import (
        unigram_encode,
        unigram_train,
    )

    cat = _cat(spark, sf_dir)
    v = unigram_train(cat.documents, vocab_size=32, seed_size=48, em_rounds=2)
    return unigram_encode(cat.documents, [(p, c) for p, c, _ in v])


from iconic_data_science_spark.operators.unigram import (  # noqa: E402
    unigram_oracle_sql as _unigram_oracle_sql,
)

ORACLES["text_unigram_vocab"] = _unigram_oracle_sql(
    vocab_size=32, seed_size=48, em_rounds=2, encode=False
)
ORACLES["text_unigram_encode"] = _unigram_oracle_sql(
    vocab_size=32, seed_size=48, em_rounds=2, encode=True
)


def q_text_unigram_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of q_text_unigram_encode (operators/unigram.
    unigram_encode_batch): the Viterbi DP runs once per DISTINCT word
    and joins back in token order — Zipf's law makes DP work scale
    with |vocabulary|, not corpus tokens (the wordpiece_batch
    pattern; the 100 TB backfill shape). Row-identical to the map
    form (pinned), same oracle verbatim; the map form stays the
    zero-exchange streaming ingest gate."""
    from iconic_data_science_spark.operators.unigram import (
        unigram_encode_batch,
        unigram_train,
    )

    cat = _cat(spark, sf_dir)
    v = unigram_train(cat.documents, vocab_size=32, seed_size=48, em_rounds=2)
    return unigram_encode_batch(cat.documents, [(p, c) for p, c, _ in v])


ORACLES["text_unigram_batch"] = ORACLES["text_unigram_encode"]


def q_text_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility/compression rollup per language for the
    trained Unigram-LM tokenizer (VERDICT r9 item 6) — the same oracled
    eval table text_bpe_fertility publishes for BPE (tokens-per-word,
    chars-per-token, both BIGINT milli-units via integer div), plus the
    [UNK] share per-mille (the coverage axis BPE doesn't have — BPE
    never emits UNK, Unigram does on uncoverable/overlong words). With
    this row the three trained tokenizers (BPE / WordPiece via encode
    counts / Unigram) compare under ONE metric table. Shape: the
    BATCH Viterbi encode (row-identical twin of the map form — the DP
    runs once per DISTINCT word, the Zipf lever; this is a backfill
    rollup, not an ingest gate, so full-corpus lookahead is free) + one
    lang-grain aggregate; the oracle composes the full
    text_unigram_encode replay (train + three Viterbi chains) with the
    char rollup."""
    from iconic_data_science_spark.operators.bpe import words
    from iconic_data_science_spark.operators.unigram import (
        unigram_encode_batch,
        unigram_train,
    )

    cat = _cat(spark, sf_dir)
    v = unigram_train(cat.documents, vocab_size=32, seed_size=48, em_rounds=2)
    enc = unigram_encode_batch(cat.documents, [(p, c) for p, c, _ in v])
    chars = cat.documents.select(
        "doc_id",
        "lang",
        F.aggregate(
            F.transform(words("text"), lambda w: F.length(w)),
            F.lit(0),
            lambda a, x: a + x,
        )
        .cast("long")
        .alias("n_chars"),
    )
    return (
        enc.join(chars, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.sum("n_unk").cast("long").alias("n_unk"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_chars",
            "n_pieces",
            "n_unk",
            F.expr("1000 * n_pieces div n_words").alias("fertility_x1000"),
            F.expr("1000 * n_chars div n_pieces").alias(
                "chars_per_token_x1000"
            ),
            F.expr("1000 * n_unk div n_pieces").alias("unk_per_mille"),
        )
    )


ORACLES["text_unigram_fertility"] = f"""
    WITH enc AS ({ORACLES["text_unigram_encode"]}),
    ch AS (
        SELECT doc_id, lang,
               CAST(list_reduce(
                   list_prepend(0,
                       [length(w)
                        for w in string_split(lower(coalesce(text, '')), ' ')
                        if w <> '']),
                   (a, b) -> a + b) AS BIGINT) AS n_chars
        FROM documents
    ),
    j AS (
        SELECT ch.lang, enc.n_words, ch.n_chars, enc.n_pieces, enc.n_unk
        FROM enc JOIN ch USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(n_unk) AS BIGINT) AS n_unk,
           CAST(1000 * SUM(n_pieces) // SUM(n_words) AS BIGINT)
               AS fertility_x1000,
           CAST(1000 * SUM(n_chars) // SUM(n_pieces) AS BIGINT)
               AS chars_per_token_x1000,
           CAST(1000 * SUM(n_unk) // SUM(n_pieces) AS BIGINT)
               AS unk_per_mille
    FROM j GROUP BY lang
"""


def q_sft_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SFT data path end to end (operators/text.chat_render ->
    operators/packing.pack_token_counts): deterministic chat
    transcripts render under the ChatML template with assistant-only
    loss masks, then the RENDERED token counts drive the GPT-style
    concat-and-chunk placement (shard by content hash, per-shard
    prefix sum, 512-token cuts) with the loss-mask columns riding
    along — one row per transcript with its training-sequence
    placement and loss density (masked tokens per mille). One shard
    window (shards scale out independently at 100 TB); everything
    before it is the zero-exchange render map."""
    from iconic_data_science_spark.operators.packing import (
        pack_token_counts,
    )
    from iconic_data_science_spark.operators.text import (
        chat_render,
        synth_chat_turns,
    )

    cat = _cat(spark, sf_dir)
    rendered = chat_render(synth_chat_turns(cat.documents))
    packed = pack_token_counts(rendered, seq_len=512, shards=8)
    return packed.select(
        "doc_id",
        "shard",
        "n_turns",
        "n_tokens",
        "n_loss_tokens",
        "tok_start",
        "first_seq",
        "last_seq",
        F.expr("(n_loss_tokens * 1000) div greatest(n_tokens, 1)").alias(
            "loss_milli"
        ),
    )


ORACLES["sft_pack"] = f"""
    WITH tk AS MATERIALIZED (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               CAST(CASE WHEN len(t) > 0
                         THEN CAST(ceil(len(t) / 10.0) AS BIGINT)
                         ELSE 0 END AS BIGINT) AS n_turns,
               '<|im_start|>system' || chr(10)
               || 'you are a helpful assistant<|im_end|>' || chr(10)
               || CASE WHEN len(t) = 0 THEN '' ELSE
                  list_reduce(list_prepend('',
                    ['<|im_start|>'
                     || (CASE WHEN k % 2 = 1 THEN 'user' ELSE 'assistant' END)
                     || chr(10)
                     || array_to_string(t[(k-1)*10+1 : k*10], ' ')
                     || '<|im_end|>' || chr(10)
                     for k in generate_series(1,
                         CAST(ceil(len(t) / 10.0) AS BIGINT))]),
                    (a, b) -> a || b) END AS rendered,
               CASE WHEN len(t) = 0 THEN CAST(0 AS BIGINT) ELSE
               CAST(list_reduce(list_prepend(0,
                   [CASE WHEN k % 2 = 0
                         THEN len(t[(k-1)*10+1 : k*10]) + 1 ELSE 0 END
                    for k in generate_series(1,
                        CAST(ceil(len(t) / 10.0) AS BIGINT))]),
                   (a, b) -> a + b) AS BIGINT) END AS n_loss_tokens
        FROM tk
    ),
    b AS (
        SELECT doc_id, n_turns, n_loss_tokens,
               {_MD5_FOLD.format(arg="CAST(doc_id AS VARCHAR)")} % 8 AS shard,
               CAST(len([w for w in string_split(rendered, ' ')
                         if w <> '']) AS BIGINT) AS n_tokens
        FROM r
    ),
    c AS (
        SELECT doc_id, shard, n_turns, n_tokens, n_loss_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS tok_end
        FROM b
    )
    SELECT doc_id, shard, n_turns, n_tokens, n_loss_tokens,
           tok_end - n_tokens AS tok_start,
           (tok_end - n_tokens) // 512 AS first_seq,
           (tok_end - 1) // 512 AS last_seq,
           (n_loss_tokens * 1000) // GREATEST(n_tokens, 1) AS loss_milli
    FROM c
"""


def q_ann_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar quantization of the embedding corpus (operators/
    similarity.sq8_codes — FAISS ScalarQuantizer QT_8bit shape): train
    per-dim integer (lo, rng) bounds in ONE bounded reduce (2*dim
    min/max expressions, map-side partial — the kmeans_int literal-
    metadata discipline), then code each component in-row as
    floor((q-lo)*255/rng) with its exact reconstruction and the
    vector's integer squared distortion err2. The serving artifact is
    1 byte/dim — 4x smaller than float32 — and the coding pass is a
    zero-exchange map that composes with the scan at 100 TB. All
    divisions are non-negative (floor == truncate on any engine); the
    oracle re-derives the bounds with the same aggregate and replays
    code + recon + err2 integer-for-integer."""
    from iconic_data_science_spark.operators.similarity import sq8_codes

    cat = _cat(spark, sf_dir)
    coded = sq8_codes(cat.embeddings)
    return coded.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda x: x.cast("string")), "-"
        ).alias("codes_str"),
        "err2",
    )


_SQ8_CORE = """
    qv AS MATERIALIZED (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                for x in embedding] AS q
        FROM embeddings
    ),
    el AS (
        SELECT vec_id, CAST(r.range AS INT) AS i, q[r.range] AS v
        FROM qv, range(1, 65) r
    ),
    bd AS MATERIALIZED (
        SELECT array_agg(lo ORDER BY i) AS lo, array_agg(rng ORDER BY i) AS rng
        FROM (SELECT i, MIN(v) AS lo, MAX(v) - MIN(v) AS rng
              FROM el GROUP BY i)
    ),
    cd AS (
        SELECT vec_id, q,
               [CASE WHEN bd.rng[i] = 0 THEN 0
                     ELSE ((q[i] - bd.lo[i]) * 255) // bd.rng[i] END
                for i in generate_series(1, 64)] AS codes
        FROM qv, bd
    ),
    rc AS MATERIALIZED (
        SELECT vec_id, q, codes,
               [bd.lo[i] + (codes[i] * bd.rng[i]) // 255
                for i in generate_series(1, 64)] AS recon
        FROM cd, bd
    )"""

ORACLES["ann_sq8_codes"] = f"""
    WITH{_SQ8_CORE}
    SELECT vec_id,
           array_to_string(codes, '-') AS codes_str,
           CAST(list_reduce([(q[i] - recon[i]) * (q[i] - recon[i])
                             for i in generate_series(1, 64)],
                            (a, b) -> a + b) AS BIGINT) AS err2
    FROM rc
"""


def q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric top-5 over the SQ8-compressed corpus (operators/
    similarity.sq8_topk): hyperplane-bucket candidates (8 sign bits of
    integer plane dots, seeded table-13 coefficients, computed IN-ROW
    at index build), then the exact-integer asymmetric distance
    sum((q_i - recon_i)^2) — the corpus touched ONLY through its
    1-byte codes, the query at full lattice precision (the standard
    SQ serving asymmetry). The only corpus-sized exchange is the
    bucket equi-join (~2^8 cheaper than all-pairs); ADC runs on
    candidates only. The oracle re-derives bounds, codes, the plane
    table, and the bucket join, and replays the ranking."""
    from iconic_data_science_spark.operators.similarity import sq8_topk

    cat = _cat(spark, sf_dir)
    return sq8_topk(cat.embeddings, _ann_queries(cat), k=5)


ORACLES["ann_sq8_topk"] = f"""
    WITH{_SQ8_CORE},
    pl AS (SELECT * FROM {{SQ8_PLANES}}),
    pd AS (
        SELECT el.vec_id, pl.plane, CAST(SUM(el.v * pl.coeff) AS BIGINT) AS dot
        FROM el JOIN pl USING (i)
        GROUP BY 1, 2
    ),
    bk AS MATERIALIZED (
        SELECT vec_id,
               string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END,
                          '' ORDER BY plane) AS bucket
        FROM pd GROUP BY 1
    ),
    w AS (SELECT rc.vec_id, rc.recon, bk.bucket
          FROM rc JOIN bk USING (vec_id)),
    q AS (SELECT qv.vec_id, qv.q, bk.bucket
          FROM qv JOIN bk USING (vec_id) WHERE qv.vec_id % 50 = 0),
    pairs AS (
        SELECT q.vec_id AS query_id, w.vec_id AS neighbor_id,
               CAST(list_reduce(
                   [(q.q[i] - w.recon[i]) * (q.q[i] - w.recon[i])
                    for i in generate_series(1, 64)],
                   (a, b) -> a + b) AS BIGINT) AS approx_d
        FROM q JOIN w ON q.bucket = w.bucket AND q.vec_id <> w.vec_id
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY approx_d, neighbor_id) AS rnk
        FROM pairs
    )
    SELECT query_id, neighbor_id, approx_d, CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 5
""".replace("{SQ8_PLANES}", _plane_table_sql(8, 64, table=_SQ8_LSH_TABLE))


def q_ann_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization retrieval (operators/similarity.bq_topk) —
    the 1-bit/dim serving funnel (Cohere/Qdrant BQ shape): trained
    per-dim mean thresholds in division-free form (bit = q_i*n >=
    sum_i, one bounded reduce), 64 sign bits packed into 8 band words,
    (band, value) equi-join candidates (multi-index pigeonhole — any
    Hamming-<=7 neighbor shares an exact band), Hamming pre-rank by
    popcount of XORed words (corpus touched at 32x compression), then
    exact integer-lattice cosine rescoring of the 4k-oversampled
    survivors. Never all-pairs; the band explode is the MinHash-LSH
    banding grain. The oracle replays thresholds, bits, band words,
    the pigeonhole join, popcounts, and both rankings."""
    from iconic_data_science_spark.operators.similarity import bq_topk

    cat = _cat(spark, sf_dir)
    return bq_topk(cat.embeddings, _ann_queries(cat), k=5)


_BQ_BAND_TERMS = ", ".join(
    "(" + " + ".join(f"bits[{b * 8 + j + 1}] * {1 << j}" for j in range(8)) + ")"
    for b in range(8)
)

ORACLES["ann_bq_topk"] = f"""
    WITH qv AS MATERIALIZED (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                for x in embedding] AS q
        FROM embeddings
    ),
    el AS (
        SELECT vec_id, CAST(r.range AS INT) AS i, q[r.range] AS v
        FROM qv, range(1, 65) r
    ),
    th AS MATERIALIZED (
        SELECT array_agg(s ORDER BY i) AS s
        FROM (SELECT i, SUM(v) AS s FROM el GROUP BY i)
    ),
    cnt AS (SELECT COUNT(*) AS n FROM qv),
    bt AS (
        SELECT vec_id,
               [CASE WHEN q[i] * cnt.n >= th.s[i] THEN 1 ELSE 0 END
                for i in generate_series(1, 64)] AS bits
        FROM qv, th, cnt
    ),
    wb AS MATERIALIZED (
        SELECT vec_id, CAST([{_BQ_BAND_TERMS}] AS BIGINT[]) AS bands
        FROM bt
    ),
    e AS MATERIALIZED (
        SELECT vec_id, embedding,
               list_reduce(
                   [CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for x in embedding], (a, b) -> a + b) AS sq
        FROM embeddings
    ),
    qb AS (SELECT vec_id, r.range AS b, bands[r.range] AS bv
           FROM wb, range(1, 9) r WHERE vec_id % 50 = 0),
    cb AS (SELECT vec_id, r.range AS b, bands[r.range] AS bv
           FROM wb, range(1, 9) r),
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
        FROM qb JOIN cb ON qb.b = cb.b AND qb.bv = cb.bv
                       AND qb.vec_id <> cb.vec_id
    ),
    hm AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST(list_reduce(
                   [CAST(bit_count(xor(qw.bands[i], cw.bands[i])) AS BIGINT)
                    for i in generate_series(1, 8)],
                   (a, b) -> a + b) AS BIGINT) AS hamming
        FROM cand JOIN wb qw ON qw.vec_id = cand.query_id
                  JOIN wb cw ON cw.vec_id = cand.neighbor_id
    ),
    kept AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, neighbor_id) AS pr
        FROM hm
    ),
    sc AS (
        SELECT k.query_id, k.neighbor_id, k.hamming,
               list_reduce(
                   [CAST(round(CAST(qe.embedding[i] AS DOUBLE)
                               * CAST(ce.embedding[i] AS DOUBLE)
                               * 1000000000000.0) AS BIGINT)
                    for i in generate_series(1, len(qe.embedding))],
                   (x, y) -> x + y)
               / sqrt(CAST(qe.sq AS DOUBLE) * CAST(ce.sq AS DOUBLE)) AS cosine
        FROM kept k JOIN e qe ON qe.vec_id = k.query_id
                    JOIN e ce ON ce.vec_id = k.neighbor_id
        WHERE k.pr <= 20
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM sc
    )
    SELECT query_id, neighbor_id, hamming, cosine, CAST(rnk AS BIGINT) AS rank
    FROM r WHERE rnk <= 5
"""


def q_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k estimation (operators/evaluation.pass_at_k —
    Chen et al. 2021, the HumanEval estimator) over a deterministic
    per-task sample-outcome synth (md5 difficulty in [0,100] x md5
    per-sample draw — every regime from always-fail to always-pass):
    pass@k = 1 - perm(n-c,k)/perm(n,k) computed EXACTLY as integer
    falling-factorial folds, emitted per-mille. ONE task-grain
    aggregate (two longs of state), then in-row k-explode + bounded
    product folds. The oracle replays the md5 draws, the group
    moments, and the factorial arithmetic integer-for-integer."""
    from iconic_data_science_spark.operators.evaluation import (
        pass_at_k,
        synth_eval_samples,
    )

    cat = _cat(spark, sf_dir)
    return pass_at_k(synth_eval_samples(cat.documents, 10), ks=(1, 5, 10))


ORACLES["eval_pass_at_k"] = f"""
    WITH d AS (
        SELECT doc_id AS task_id,
               {_MD5_FOLD.format(arg="CAST(doc_id AS VARCHAR) || ':p'")}
               % 101 AS p
        FROM documents
    ),
    s AS (
        SELECT task_id,
               CASE WHEN {_MD5_FOLD.format(
                   arg="CAST(task_id AS VARCHAR) || ':' "
                       "|| CAST(r.range AS VARCHAR)")}
                    % 100 < p THEN 1 ELSE 0 END AS correct
        FROM d, range(0, 10) r
    ),
    g AS (
        SELECT task_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
               CAST(SUM(correct) AS BIGINT) AS n_correct
        FROM s GROUP BY 1
    ),
    e AS (
        SELECT g.*, CAST(kk.k AS BIGINT) AS k
        FROM g, (VALUES (1), (5), (10)) kk(k)
        WHERE kk.k <= g.n_samples
    )
    SELECT task_id, k, n_samples, n_correct,
           1000 - (1000 * list_reduce(
                       list_prepend(CAST(1 AS BIGINT),
                           [GREATEST(n_samples - n_correct - i,
                                     CAST(0 AS BIGINT))
                            for i in generate_series(0, k - 1)]),
                       (a, b) -> a * b))
                  // list_reduce(
                       list_prepend(CAST(1 AS BIGINT),
                           [n_samples - i
                            for i in generate_series(0, k - 1)]),
                       (a, b) -> a * b) AS pass_milli
    FROM e
"""


def q_eval_em_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD-style EM / token-F1 scoring (operators/evaluation.em_f1)
    over deterministic (prediction, reference) pairs (md5-mode
    perturbations of the first-8-token span: drop-last / shift-one /
    exact / half-span jump): exact match, MULTISET token overlap, and
    precision/recall/F1 per-mille with the SQuAD empty conventions —
    all exact integers off in-row HOFs. Pure map, zero exchanges,
    admits an append stream. The oracle replays the mode draw, the
    slices, the multiset intersection, and the floor ratios."""
    from iconic_data_science_spark.operators.evaluation import (
        em_f1,
        synth_predictions,
    )

    cat = _cat(spark, sf_dir)
    return em_f1(synth_predictions(cat.documents, span=8))


ORACLES["eval_em_f1"] = f"""
    WITH tk AS (
        SELECT doc_id,
               [w for w in string_split(lower(coalesce(text, '')), ' ')
                if w <> ''] AS t,
               {_MD5_FOLD.format(arg="CAST(doc_id AS VARCHAR) || ':m'")}
               % 4 AS mode
        FROM documents
    ),
    pr AS (
        SELECT doc_id, CAST(mode AS BIGINT) AS mode,
               CASE mode WHEN 0 THEN t[1:7] WHEN 1 THEN t[2:9]
                         WHEN 2 THEN t[1:8] ELSE t[5:12] END AS pred,
               t[1:8] AS ref
        FROM tk
    ),
    b AS (
        SELECT doc_id, mode,
               CAST(CASE WHEN COALESCE(array_to_string(pred, ' '), '')
                            = COALESCE(array_to_string(ref, ' '), '')
                         THEN 1 ELSE 0 END AS BIGINT) AS em,
               CAST(list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       [CAST(LEAST(len(list_filter(pred, x -> x = tok)),
                                   len(list_filter(ref, x -> x = tok)))
                             AS BIGINT)
                        for tok in list_distinct(pred)]),
                   (a, b) -> a + b) AS BIGINT) AS overlap,
               CAST(len(pred) AS BIGINT) AS n_pred,
               CAST(len(ref) AS BIGINT) AS n_ref
        FROM pr
    )
    SELECT doc_id, mode, em, overlap, n_pred, n_ref,
           CASE WHEN n_pred > 0 THEN (1000 * overlap) // n_pred
                WHEN n_ref = 0 THEN 1000 ELSE 0 END AS precision_milli,
           CASE WHEN n_ref > 0 THEN (1000 * overlap) // n_ref
                WHEN n_pred = 0 THEN 1000 ELSE 0 END AS recall_milli,
           CASE WHEN n_pred = 0 AND n_ref = 0 THEN 1000
                WHEN n_pred + n_ref > 0
                     THEN (2000 * overlap) // (n_pred + n_ref)
                ELSE 0 END AS f1_milli
    FROM b
"""


def q_rl_group_advantage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRPO group-advantage assembly (operators/evaluation.
    group_advantage — Shao et al. 2024, the data step) over the
    deterministic preference-response synth shared with dpo_pairs
    (4 responses per prompt, distinct-token scores with real ties):
    per response, the EXACT integer advantage and variance numerators
    (adv_num = score*n - Σ, summing to 0 per group; var_num = n·Σs² -
    (Σs)², n²·var >= 0) plus the in-group rank with deterministic
    tie-breaks. ONE prompt-grain exchange; the trainer divides at its
    own precision. The oracle replays the synth and the window
    moments."""
    from iconic_data_science_spark.operators.alignment import (
        synth_preference_responses,
    )
    from iconic_data_science_spark.operators.evaluation import (
        group_advantage,
    )

    cat = _cat(spark, sf_dir)
    return group_advantage(
        synth_preference_responses(cat.documents, n_responses=4)
    )


ORACLES["rl_group_advantage"] = """
    WITH base AS (
        SELECT doc_id AS prompt_id,
               [w for w in string_split(coalesce(text, ''), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    resp AS (
        SELECT prompt_id,
               CAST(g.k AS BIGINT) AS response_id,
               CAST(len(list_distinct(t[8 + g.k*8 + 1 : 8 + g.k*8 + 8]))
                    AS BIGINT) AS score
        FROM base, LATERAL (SELECT UNNEST(range(0, 4)) AS k) g
    )
    SELECT prompt_id, response_id, score,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_group,
           CAST(score * COUNT(*) OVER w - SUM(score) OVER w
                AS BIGINT) AS adv_num,
           CAST(COUNT(*) OVER w * SUM(score * score) OVER w
                - SUM(score) OVER w * SUM(score) OVER w
                AS BIGINT) AS var_num,
           CAST(ROW_NUMBER() OVER (PARTITION BY prompt_id
                                   ORDER BY score DESC, response_id ASC)
                AS BIGINT) AS grp_rank
    FROM resp
    WINDOW w AS (PARTITION BY prompt_id)
"""


def q_eval_winrate_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise arena win-rate matrix (operators/evaluation.
    winrate_matrix — the Chatbot-Arena aggregation grain) over the
    deterministic preference-response synth shared with dpo_pairs /
    rl_group_advantage (response_id IS the variant id): for each
    variant pair (a < b), a-wins / ties / b-wins by score over all
    prompts, plus a's tie-aware win rate per-mille ((1000·w + 500·t)
    // n, exact). ONE prompt-grain equi self-join + ONE bounded
    variant-pair rollup — output is variants², never prompts. The
    oracle replays the synth, the halved pair join, and the rollup."""
    from iconic_data_science_spark.operators.alignment import (
        synth_preference_responses,
    )
    from iconic_data_science_spark.operators.evaluation import winrate_matrix

    cat = _cat(spark, sf_dir)
    return winrate_matrix(
        synth_preference_responses(cat.documents, n_responses=4)
    )


ORACLES["eval_winrate_matrix"] = """
    WITH base AS (
        SELECT doc_id AS prompt_id,
               [w for w in string_split(coalesce(text, ''), ' ')
                if w <> ''] AS t
        FROM documents
    ),
    resp AS (
        SELECT prompt_id,
               CAST(g.k AS BIGINT) AS response_id,
               CAST(len(list_distinct(t[8 + g.k*8 + 1 : 8 + g.k*8 + 8]))
                    AS BIGINT) AS score
        FROM base, LATERAL (SELECT UNNEST(range(0, 4)) AS k) g
    ),
    p AS (
        SELECT a.response_id AS variant_a, b.response_id AS variant_b,
               a.score AS sa, b.score AS sb
        FROM resp a JOIN resp b
          ON a.prompt_id = b.prompt_id AND a.response_id < b.response_id
    )
    SELECT variant_a, variant_b,
           CAST(COUNT(*) AS BIGINT) AS n_prompts,
           CAST(SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
           CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT) AS ties,
           CAST(SUM(CASE WHEN sa < sb THEN 1 ELSE 0 END) AS BIGINT) AS wins_b,
           (1000 * CAST(SUM(CASE WHEN sa > sb THEN 1 ELSE 0 END) AS BIGINT)
            + 500 * CAST(SUM(CASE WHEN sa = sb THEN 1 ELSE 0 END) AS BIGINT))
           // CAST(COUNT(*) AS BIGINT) AS wr_a_milli
    FROM p GROUP BY 1, 2
"""


def q_eval_judge_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-judge agreement (operators/evaluation.judge_agreement —
    Cohen 1960) over two deterministic md5 judge verdicts (3-way
    reject/neutral/accept; judge 2 copies judge 1 on a 70% md5 gate,
    so agreement sits tunably above chance): the confusion matrix
    enriched with the EXACT kappa integers — po per-mille, pe_num =
    Σ row·col, and kappa as NUMERATOR/DENOMINATOR (kappa can be
    negative; floor-vs-truncate on negatives is an engine choice the
    contract refuses — the GRPO/h-index numerator discipline). ONE
    doc-grain aggregate; everything after is ≤9-row metadata. The
    oracle replays the verdict draws, the matrix, the marginals, and
    the kappa arithmetic."""
    from iconic_data_science_spark.operators.evaluation import (
        judge_agreement,
        synth_judge_verdicts,
    )

    cat = _cat(spark, sf_dir)
    return judge_agreement(synth_judge_verdicts(cat.documents, agree_pct=70))


ORACLES["eval_judge_agreement"] = f"""
    WITH v AS (
        SELECT doc_id,
               {_MD5_FOLD.format(arg="CAST(doc_id AS VARCHAR) || ':j1'")}
               % 3 AS j1r,
               CASE WHEN {_MD5_FOLD.format(
                   arg="CAST(doc_id AS VARCHAR) || ':g'")} % 100 < 70
                    THEN {_MD5_FOLD.format(
                        arg="CAST(doc_id AS VARCHAR) || ':j1'")} % 3
                    ELSE {_MD5_FOLD.format(
                        arg="CAST(doc_id AS VARCHAR) || ':j2'")} % 3
               END AS j2r
        FROM documents
    ),
    m AS MATERIALIZED (
        SELECT CAST(j1r AS BIGINT) AS j1, CAST(j2r AS BIGINT) AS j2,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM v GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN j1 = j2 THEN n_pairs ELSE 0 END)
                    AS BIGINT) AS n_agree
        FROM m
    ),
    r1 AS (SELECT j1 AS k, CAST(SUM(n_pairs) AS BIGINT) AS rk
           FROM m GROUP BY 1),
    r2 AS (SELECT j2 AS k, CAST(SUM(n_pairs) AS BIGINT) AS ck
           FROM m GROUP BY 1),
    pe AS (SELECT CAST(COALESCE(SUM(rk * ck), 0) AS BIGINT) AS pe_num
           FROM r1 JOIN r2 USING (k))
    SELECT m.j1, m.j2, m.n_pairs, t.n_total, t.n_agree,
           (1000 * t.n_agree) // t.n_total AS po_milli,
           p.pe_num,
           t.n_total * t.n_agree - p.pe_num AS kappa_num,
           t.n_total * t.n_total - p.pe_num AS kappa_den
    FROM m, tot t, pe p
"""


def q_ann_sq8_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 index-update drift audit (operators/similarity.
    sq8_codes_frozen): the per-dim bounds train ONCE on the base
    corpus (vec_id % 7 != 0) and the held-out batch (vec_id % 7 == 0)
    is coded against those FROZEN bounds — the production shape where
    new arrivals may fall outside the trained range and must clamp to
    [0, 255]. Emits each new vector's codes, exact distortion
    INCLUDING clamping loss, and the drift telemetry every SQ store
    watches before re-training (n_clamped, max integer overshoot past
    either bound). Pure map with literal bounds — zero exchanges,
    streamable. The oracle trains the same base-side bounds and
    replays raw/clamped codes with explicit FLOOR division (raw codes
    can be NEGATIVE here; DuckDB's // truncates toward zero while the
    engine floors, so the oracle must floor explicitly — pinned by
    this query)."""
    from iconic_data_science_spark.operators.similarity import (
        sq8_codes_frozen,
        sq8_train,
    )

    cat = _cat(spark, sf_dir)
    base = cat.embeddings.filter(F.col("vec_id") % 7 != 0)
    batch = cat.embeddings.filter(F.col("vec_id") % 7 == 0)
    bounds = sq8_train(base)
    coded = sq8_codes_frozen(batch, bounds)
    return coded.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda x: x.cast("string")), "-"
        ).alias("codes_str"),
        "err2",
        "n_clamped",
        "max_overshoot",
    )


ORACLES["ann_sq8_drift"] = """
    WITH qv AS MATERIALIZED (
        SELECT vec_id,
               [CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                for x in embedding] AS q
        FROM embeddings
    ),
    el AS (
        SELECT vec_id, CAST(r.range AS INT) AS i, q[r.range] AS v
        FROM qv, range(1, 65) r
        WHERE vec_id % 7 <> 0
    ),
    bd AS MATERIALIZED (
        SELECT array_agg(lo ORDER BY i) AS lo, array_agg(rng ORDER BY i) AS rng
        FROM (SELECT i, MIN(v) AS lo, MAX(v) - MIN(v) AS rng
              FROM el GROUP BY i)
    ),
    nb AS (SELECT * FROM qv WHERE vec_id % 7 = 0),
    cd AS (
        SELECT vec_id, q,
               [CASE WHEN bd.rng[i] = 0 THEN 0
                     ELSE CAST(FLOOR(CAST((q[i] - bd.lo[i]) * 255 AS DOUBLE)
                                     / bd.rng[i]) AS BIGINT) END
                for i in generate_series(1, 64)] AS raw
        FROM nb, bd
    ),
    cl AS (
        SELECT vec_id, q, raw,
               [GREATEST(CAST(0 AS BIGINT),
                         LEAST(CAST(255 AS BIGINT), raw[i]))
                for i in generate_series(1, 64)] AS codes
        FROM cd
    ),
    rc AS (
        SELECT vec_id, q, raw, codes,
               [bd.lo[i] + (codes[i] * bd.rng[i]) // 255
                for i in generate_series(1, 64)] AS recon,
               [CASE WHEN bd.rng[i] = 0
                     THEN abs(q[i] - bd.lo[i])
                     ELSE GREATEST(-raw[i], raw[i] - 255, CAST(0 AS BIGINT))
                END
                for i in generate_series(1, 64)] AS ov
        FROM cl, bd
    )
    SELECT vec_id,
           array_to_string(codes, '-') AS codes_str,
           CAST(list_reduce([(q[i] - recon[i]) * (q[i] - recon[i])
                             for i in generate_series(1, 64)],
                            (a, b) -> a + b) AS BIGINT) AS err2,
           CAST(len([o for o in ov if o > 0]) AS BIGINT) AS n_clamped,
           CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT), ov),
               (a, b) -> GREATEST(a, b)) AS BIGINT) AS max_overshoot
    FROM rc
"""


def q_pii_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (operators/privacy.
    k_anonymity_audit — Sweeney 2002, Machanavajjhala 2007): customers
    grouped by the (nation, market-segment) quasi-identifier tuple
    with the account-balance thousand-bucket as the sensitive
    attribute; per group, the exact size (its "k"), exact distinct
    sensitive values (its "l"), both gates at k=5 / l=2, and the
    release blocker at_risk. ONE quasi-grain aggregate (count +
    distinct, map-side partial) — output bounded by the 125-cell
    identifier domain, never by records. The bucket divides an IEEE
    double by 1000 identically on both engines; the oracle replays
    grouping, distinct-count, and gates."""
    from iconic_data_science_spark.operators.privacy import k_anonymity_audit

    cat = _cat(spark, sf_dir)
    cust = cat.customer.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000)
        .cast("long")
        .alias("bal_bucket"),
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "bal_bucket", k=5, l=2
    )


ORACLES["pii_k_anonymity"] = """
    WITH a AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS s
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS group_size,
               CAST(COUNT(DISTINCT s)
                    + MAX(CASE WHEN s IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sensitive
        FROM a GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, group_size, n_sensitive,
           CAST(CASE WHEN group_size >= 5 THEN 1 ELSE 0 END AS BIGINT)
               AS k_anonymous,
           CAST(CASE WHEN n_sensitive >= 2 THEN 1 ELSE 0 END AS BIGINT)
               AS l_diverse,
           CAST(CASE WHEN group_size < 5 OR n_sensitive < 2
                     THEN 1 ELSE 0 END AS BIGINT) AS at_risk
    FROM g
"""


def q_pii_anonymity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row release decision (operators/privacy.
    anonymity_summary) over the pii_k_anonymity audit: the dataset's
    effective k (minimum group size — the number privacy reviews
    quote), failing-group and failing-record counts, and the at-risk
    record share per-mille (exact floor). Aggregates the bounded
    group table — the records are touched exactly once, by the
    underlying audit."""
    from iconic_data_science_spark.operators.privacy import (
        anonymity_summary,
        k_anonymity_audit,
    )

    cat = _cat(spark, sf_dir)
    cust = cat.customer.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000)
        .cast("long")
        .alias("bal_bucket"),
    )
    audit = k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "bal_bucket", k=5, l=2
    )
    return anonymity_summary(audit, ["c_nationkey", "c_mktsegment"])


ORACLES["pii_anonymity_summary"] = """
    WITH a AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS s
        FROM customer
    ),
    g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS group_size,
               CAST(COUNT(DISTINCT s)
                    + MAX(CASE WHEN s IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sensitive
        FROM a GROUP BY 1, 2
    ),
    f AS (
        SELECT group_size,
               CASE WHEN group_size < 5 OR n_sensitive < 2
                    THEN 1 ELSE 0 END AS at_risk
        FROM g
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COALESCE(SUM(group_size), 0) AS BIGINT) AS n_records,
           CAST(MIN(group_size) AS BIGINT) AS min_k,
           CAST(COALESCE(SUM(at_risk), 0) AS BIGINT) AS n_at_risk_groups,
           CAST(COALESCE(SUM(at_risk * group_size), 0) AS BIGINT)
               AS n_at_risk_records,
           CASE WHEN COALESCE(SUM(group_size), 0) > 0
                THEN (1000 * CAST(SUM(at_risk * group_size) AS BIGINT))
                     // CAST(SUM(group_size) AS BIGINT)
                ELSE 0 END AS risk_milli
    FROM f
"""


def q_pii_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (operators/privacy.t_closeness_audit — Li, Li
    & Venkatasubramanian, ICDE 2007; VERDICT r9 item 5) completing the
    release-audit family over the same quasi tuple as pii_k_anonymity:
    per (nation, market-segment) group, the exact variational distance
    between the group's balance-bucket distribution and the whole
    table's, as the integer fraction tv_num/tv_den plus the per-mille
    floor and the gate at t=0.200 — the skewness attack k-anonymity and
    l-diversity both miss. One record-grain aggregate, then window
    marginals over the domain-bounded cell table; every number is an
    exact integer (the gate compares 1000*tv_num <= 200*tv_den — no
    float in the decision). The oracle replays cells, the three window
    marginals, and the fraction arithmetic integer-for-integer."""
    from iconic_data_science_spark.operators.privacy import t_closeness_audit

    cat = _cat(spark, sf_dir)
    cust = cat.customer.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000)
        .cast("long")
        .alias("bal_bucket"),
    )
    return t_closeness_audit(
        cust, ["c_nationkey", "c_mktsegment"], "bal_bucket", t_milli=200
    )


ORACLES["pii_t_closeness"] = """
    WITH a AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000) AS BIGINT) AS s
        FROM customer
    ),
    c AS (
        SELECT c_nationkey, c_mktsegment, s,
               CAST(COUNT(*) AS BIGINT) AS cnt_gv
        FROM a GROUP BY 1, 2, 3
    ),
    wn AS (
        SELECT c_nationkey, c_mktsegment, s, cnt_gv,
               CAST(SUM(cnt_gv) OVER (PARTITION BY s) AS BIGINT) AS cnt_v,
               CAST(SUM(cnt_gv) OVER (PARTITION BY c_nationkey, c_mktsegment)
                    AS BIGINT) AS n_g,
               CAST(SUM(cnt_gv) OVER () AS BIGINT) AS nn
        FROM c
    ),
    g AS (
        SELECT c_nationkey, c_mktsegment,
               MAX(n_g) AS group_size,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               CAST(SUM(ABS(cnt_gv * nn - cnt_v * n_g)) AS BIGINT)
                   AS present_dev,
               CAST(SUM(cnt_v) AS BIGINT) AS present_cv,
               MAX(nn) AS nn
        FROM wn GROUP BY 1, 2
    ),
    t AS (
        SELECT c_nationkey, c_mktsegment, group_size, n_values,
               present_dev + (nn - present_cv) * group_size AS tv_num,
               2 * group_size * nn AS tv_den
        FROM g
    )
    SELECT c_nationkey, c_mktsegment, group_size, n_values, tv_num, tv_den,
           (1000 * tv_num) // tv_den AS tv_milli,
           CAST(CASE WHEN 1000 * tv_num <= 200 * tv_den THEN 1 ELSE 0 END
                AS BIGINT) AS t_close
    FROM t
"""


def q_pii_release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE-ROW tri-gate release decision (operators/privacy.
    release_report): k-anonymity, l-diversity, and t-closeness combined
    over the same customer quasi tuple as the per-group audits —
    effective min-k, records in k/l-failing groups, t-violating groups
    and their record mass, the worst per-mille distance, and the final
    release_ok flag. Rides the t-closeness audit ALONE (its group_size
    and n_values ARE the k and l counts), so all three gates cost one
    record-grain aggregate + a bounded-table rollup — never three
    passes. The oracle composes the full t-closeness replay with the
    same gate arithmetic; every comparison is on exact integers."""
    from iconic_data_science_spark.operators.privacy import release_report

    cat = _cat(spark, sf_dir)
    cust = cat.customer.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000)
        .cast("long")
        .alias("bal_bucket"),
    )
    return release_report(
        cust, ["c_nationkey", "c_mktsegment"], "bal_bucket",
        k=5, l=2, t_milli=200,
    )


ORACLES["pii_release_report"] = f"""
    WITH audit AS ({ORACLES["pii_t_closeness"]})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COALESCE(SUM(group_size), 0) AS BIGINT) AS n_records,
           CAST(MIN(group_size) AS BIGINT) AS min_k,
           CAST(COALESCE(SUM(CASE WHEN group_size < 5 OR n_values < 2
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_kl_at_risk_groups,
           CAST(COALESCE(SUM(CASE WHEN group_size < 5 OR n_values < 2
                                  THEN group_size ELSE 0 END), 0) AS BIGINT)
               AS n_kl_at_risk_records,
           CAST(COALESCE(SUM(CASE WHEN t_close = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_t_violating_groups,
           CAST(COALESCE(SUM(CASE WHEN t_close = 0 THEN group_size ELSE 0
                                  END), 0) AS BIGINT)
               AS n_t_violating_records,
           CAST(MAX(tv_milli) AS BIGINT) AS max_tv_milli,
           CAST(CASE WHEN COALESCE(SUM(CASE WHEN group_size < 5 OR
                                             n_values < 2
                                        THEN group_size ELSE 0 END), 0) = 0
                      AND COALESCE(SUM(CASE WHEN t_close = 0 THEN 1 ELSE 0
                                        END), 0) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS release_ok
    FROM audit
"""


# ---------------------------------------------------------------------------
# driver contract

# Every module-level ``q_<name>`` function is the query ``<name>``, in
# definition order.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name[2:]: fn
    for name, fn in list(globals().items())
    if name.startswith("q_") and inspect.isfunction(fn)
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (G3 personal net) on /root/testdata/sf0.001."""
    return q_g3_personal_net(spark, SF_SMOKE_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
