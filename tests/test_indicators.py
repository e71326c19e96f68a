"""G7 indicator goldens — the reference's own recorded outputs
(PySparkles.ipynb cells 35-55, transcribed in FIXTURES.md §3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from iconic_data_science_spark import fixtures
from iconic_data_science_spark.operators.indicators import (
    author_stats,
    coauthor_year_triples,
    ego_alter_rollups,
    ego_indicators,
)


def _setup(spark):
    paa = fixtures.t_paa_df(spark).select("paper", "author")
    py = fixtures.t_papers_df(spark)
    # cite year = year of the citing paper
    pr = (
        fixtures.t_pr_df(spark)
        .join(py.select(F.col("paper").alias("citing"), F.col("year").alias("cite_year")), "citing")
    )
    triples = coauthor_year_triples(paa, py)
    stats = author_stats(paa, pr)
    return paa, py, pr, triples, stats


def test_years_collaborated_golden(spark):
    _, _, _, triples, _ = _setup(spark)
    ac = fixtures.t_paa_df(spark).join(fixtures.t_affs_df(spark), "affiliation").select(
        "author", F.col("country_code").alias("country")
    ).distinct()
    got = {r.ego: r.years_collaborated for r in ego_indicators(triples, ac).collect()}
    assert got == {5: 2, 1: 1, 3: 2, 2: 2}  # PySparkles.ipynb:2210-2213


def test_alter_rollups_golden(spark):
    _, _, _, triples, stats = _setup(spark)
    rows = {r.ego: r for r in ego_alter_rollups(triples, stats).collect()}
    # alter_citations per ego (PySparkles.ipynb:2293-2296)
    assert {e: r.sum_alter_citations for e, r in rows.items()} == {5: 4, 1: 3, 3: 4, 2: 4}
    # max_alter_papers (:2439-2442)
    assert {e: r.max_alter_papers for e, r in rows.items()} == {5: 3, 1: 3, 3: 2, 2: 3}
    # max_alter_citations (:2466-2469)
    assert {e: r.max_alter_citations for e, r in rows.items()} == {5: 3, 1: 3, 3: 2, 2: 3}


def test_author_stats_fixture(spark):
    _, _, _, _, stats = _setup(spark)
    got = {r.author: (r.n_papers, r.n_citations) for r in stats.collect()}
    # papers: 2→{1,3}, 3→{1,2,3}, 1→{2}, 5→{1,3}, 7→{4}
    # citations by paper: p1→1 (from 4), p2→2 (from 1,3), p3→0, p4→1 (from 3)
    assert got[2] == (2, 1)
    assert got[3] == (3, 3)
    assert got[1] == (1, 2)
    assert got[5] == (2, 1)
    assert got[7] == (1, 1)
