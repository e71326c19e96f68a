"""Ego/alter bibliometric indicators — the PySparkles suite (G7).

Reference (/root/reference/src/notebooks/python/PySparkles.ipynb, cells
38-55): per ego over its coauthor (alter) set — years collaborated
(cell 45), countries of alters / domestic vs non-domestic split
(cells 43,46-47), sum of alter citations/papers (cells 48-49),
max of alter papers/citations (cells 54-55), distinct coauthor count
(cell 43). Golden outputs for the notebook fixture are recorded in
FIXTURES.md §3 and asserted in tests/test_indicators.py.

Semantics pinned by those goldens:
  - alters are DISTINCT per ego (an alter met in 3 papers counts once
    in sum/max rollups);
  - years_collaborated counts distinct years in the (ego, year, alter)
    triple table — any coauthor, any paper;
  - author citations = total citations received by the author's papers
    (join through the paa bridge; multi-authored papers count fully).

Scale posture: everything is equi-join + groupBy on author-ish keys.
``author_stats`` is a small dim (one row per author) → broadcast into
the rollup join. countDistinct carries exact semantics for the oracle;
the 100 TB variant swaps in approx_count_distinct (HLL) — exposed as
the separate ``*_approx`` surface since sketches don't hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .coauthor import paper_authors


def coauthor_year_triples(
    paa: DataFrame, paper_years: DataFrame, distinct: bool = True
) -> DataFrame:
    """The Coauthor(ego, year, alter) table (PersonalNet.scala:55):
    distinct (ego, year, alter_id).

    ``distinct=False`` skips the dedup shuffle and returns the raw
    multiset — correct (and one full-width shuffle cheaper) when the
    consumer re-aggregates with duplicate-insensitive aggs, as
    ``ego_indicators`` / ``ego_alter_rollups`` do.
    """
    # join the year onto one side BEFORE the self-join (same paper key
    # on both sides, so one-side restriction/enrichment is equivalent to
    # joining after pairing — at 1/k² the row count)
    pa = paper_authors(paa)
    a = pa.join(paper_years, "paper").alias("a")
    b = pa.alias("b")
    t = a.join(
        b, (F.col("a.paper") == F.col("b.paper")) & (F.col("a.author") != F.col("b.author"))
    ).select(
        F.col("a.author").alias("ego"), F.col("a.year").alias("year"), F.col("b.author").alias("alter_id")
    )
    return t.distinct() if distinct else t


def author_stats(paa: DataFrame, citation_edges: DataFrame) -> DataFrame:
    """(author, n_papers, n_citations) — papers authored and citations
    received by them (the authors-table rollup, models.scala:12-13)."""
    ap = paa.select("paper", "author").distinct()
    per_paper = citation_edges.groupBy("cited").agg(F.count("*").alias("n_cit"))
    return (
        ap.join(per_paper, ap["paper"] == per_paper["cited"], "left")
        .groupBy("author")
        .agg(
            F.count("*").alias("n_papers"),
            F.sum(F.coalesce(F.col("n_cit"), F.lit(0))).alias("n_citations"),
        )
    )


def ego_indicators(
    triples: DataFrame,
    author_country: DataFrame,
    single_exchange: bool = True,
) -> DataFrame:
    """A2 countDistinct family + domestic split per ego.

    (ego, n_coauthors, years_collaborated, n_alter_countries,
    n_domestic, n_foreign) — PySparkles cells 43-47.
    """
    ego_c = author_country.select(F.col("author").alias("ego"), F.col("country").alias("ego_country"))
    alter_c = author_country.select(
        F.col("author").alias("alter_id"), F.col("country").alias("alter_country")
    )
    domestic = F.col("alter_country") == F.col("ego_country")
    # Five countDistincts in one agg would Expand the triple table 5x
    # before the shuffle. Instead: dedup to alter level first (each
    # alter carries exactly one country, so every remaining indicator is
    # a plain agg or single-distinct there), broadcast-join the country
    # dims at the deduped grain (each (ego, alter) carries one country
    # pair, so this is equivalent — and the fan-out shuffle then moves
    # only (ego, alter, year-partials), no string columns).
    # years_collaborated rides the SAME aggregation chain: collect_set
    # of years at alter level, flatten-distinct at ego level (the A6/X1
    # built-in) — one pass over the pair fan-out instead of a second
    # full scan + shuffle for a separate countDistinct(year) agg.
    #
    # Measurements (sf0.1 bucketed, median of 5, row-identical all four
    # ways — SCALE.md):
    # * n_alter_countries as size(array_distinct(collect_list)) instead
    #   of countDistinct: the ego-grain agg stops triggering the
    #   two-phase distinct rewrite (an Expand ×2 across the ego
    #   exchange) — 3.35 s → 2.75 s, 9 → 8 exchanges, in BOTH regimes.
    # * single_exchange=True: repartition("ego") BEFORE the alter-grain
    #   agg. HashPartitioning(ego) satisfies both groupBys' clustered
    #   distributions, so the pair agg AND the ego rollup run
    #   exchange-free behind the one repartition — 2.75 s → 2.17 s
    #   (1.55× overall against the form with neither change). The trade is
    #   skew exposure: the
    #   two-phase form spreads a mega-ego's pairs by hash(ego, alter)
    #   before the (much smaller) pair-grain ego exchange, while this
    #   form lands the ego's WHOLE raw fan-out in one partition (an
    #   aggregation exchange — AQE cannot split it). Bounded-k corpora
    #   (author collaboration: k ≤ ~10³ alters × decades of years) stay
    #   far from the cliff; for celebrity-graph inputs pass
    #   single_exchange=False (the g3 targeted-salt regime lesson:
    #   choose by hot-key mass, not by default).
    if single_exchange:
        triples = triples.repartition("ego")
    alter_level = (
        triples.groupBy("ego", "alter_id")
        .agg(F.collect_set("year").alias("yrs"))
        .join(F.broadcast(ego_c), "ego", "left")
        .join(F.broadcast(alter_c), "alter_id", "left")
    )
    return alter_level.groupBy("ego").agg(
        F.count("*").alias("n_coauthors"),
        F.size(F.array_distinct(F.flatten(F.collect_list("yrs"))))
        .cast("long")
        .alias("years_collaborated"),
        F.size(F.array_distinct(F.collect_list("alter_country")))
        .cast("long")
        .alias("n_alter_countries"),
        F.count(F.when(domestic, 1)).alias("n_domestic"),
        F.count(F.when(~domestic, 1)).alias("n_foreign"),
    ).select(
        "ego",
        "n_coauthors",
        "years_collaborated",
        "n_alter_countries",
        "n_domestic",
        "n_foreign",
    )


def ego_alter_rollups(triples: DataFrame, stats: DataFrame) -> DataFrame:
    """A3/A4 rollups over the DISTINCT alter set per ego
    (PySparkles cells 48-49, 54-55).

    (ego, sum_alter_papers, max_alter_papers, sum_alter_citations,
    max_alter_citations).
    """
    alters = triples.select("ego", "alter_id").distinct()
    st = stats.select(
        F.col("author").alias("alter_id"),
        F.col("n_papers").alias("alter_papers"),
        F.col("n_citations").alias("alter_citations"),
    )
    return (
        alters.join(st, "alter_id")
        .groupBy("ego")
        .agg(
            F.sum("alter_papers").alias("sum_alter_papers"),
            F.max("alter_papers").alias("max_alter_papers"),
            F.sum("alter_citations").alias("sum_alter_citations"),
            F.max("alter_citations").alias("max_alter_citations"),
        )
    )
