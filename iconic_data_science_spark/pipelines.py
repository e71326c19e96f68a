"""Named analytics pipelines — the reference's notebooks as functions.

A user of the reference runs notebooks; a user of this engine calls
these. Each pipeline takes a dict of MAG-shaped DataFrames (load them
from TSV with ``sources.tsv.read_tsv`` + ``schemas.DDL``, from parquet,
or pass fixtures) and returns/writes the same artifacts the notebooks
produced:

  personal_net_pipeline    ≈ PersonalNet / PersonalNet_2 notebooks
  profile_pipeline         ≈ ProfileConversion notebook
  indicators_pipeline      ≈ PySparkles notebook (cells 38-55)
  static_net_pipeline      ≈ StaticNet (BFS net + GEXF export)
  dwarf_pipeline           ≈ MagDwarf (FK-closed dataset sampling)

Tables expected (FIXTURES.md §1 schemas):
  paa(paper, author, ...), papers(id, year, ...), pr(citing, cited),
  fc(parent, child), affiliations(id, countryCode, ...), authors(id, ...)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators import profiles
from .operators.coauthor import coauthor_edges
from .operators.graph import bfs
from .operators.indicators import author_stats, coauthor_year_triples, ego_alter_rollups, ego_indicators
from .operators.joins import fk_closure_sample
from .operators.personal_net import personal_net
from .sources import gexf


def _paper_years(papers: DataFrame) -> DataFrame:
    """(paper, year) with the reference's null-year sentinel (P7):
    na.fill(3000) so unknown years sort last (PersonalNet.scala:81-84)."""
    return papers.select(
        F.col("id").alias("paper"),
        F.coalesce(F.col("year").cast("long"), F.lit(3000)).alias("year"),
    )


def personal_net_pipeline(
    tables: dict[str, DataFrame],
    egos: DataFrame | None = None,
    min_papers_together: int = 1,
    max_authors_per_paper: int | None = None,
) -> DataFrame:
    """G3: (ego, alter1, alter2, year) triangles."""
    edges = coauthor_edges(
        tables["paa"],
        _paper_years(tables["papers"]),
        min_papers_together=min_papers_together,
        max_authors_per_paper=max_authors_per_paper,
    )
    return personal_net(edges.select("ego", "alter_id", "first_year"), egos=egos)


def profile_pipeline(tables: dict[str, DataFrame]) -> DataFrame:
    """ProfileConversion: (author, year, papers_cum, citations_cum, h_index).
    Citation year = year of the citing paper."""
    py = _paper_years(tables["papers"])
    pr = tables["pr"].join(
        py.select(F.col("paper").alias("citing"), F.col("year").alias("cite_year")), "citing"
    )
    years = py.select("year").distinct()
    return profiles.author_profiles(tables["paa"], py, pr, years)


def indicators_pipeline(tables: dict[str, DataFrame]) -> DataFrame:
    """PySparkles indicator suite joined into one frame per ego."""
    py = _paper_years(tables["papers"])
    pr = tables["pr"].join(
        py.select(F.col("paper").alias("citing"), F.col("year").alias("cite_year")), "citing"
    )
    triples = coauthor_year_triples(tables["paa"], py)
    stats = author_stats(tables["paa"], pr)
    country = (
        tables["paa"]
        .join(tables["affiliations"], tables["paa"]["affiliation"] == tables["affiliations"]["id"])
        .select(F.col("author"), F.col("countryCode").alias("country"))
        .distinct()
        if "affiliations" in tables and "affiliation" in tables["paa"].columns
        else tables["paa"].select("author", F.lit(None).cast("string").alias("country")).distinct()
    )
    return ego_indicators(triples, country).join(ego_alter_rollups(triples, stats), "ego", "left")


def static_net_pipeline(
    tables: dict[str, DataFrame],
    source_authors: DataFrame,
    depth: int = 2,
    min_papers_together: int = 1,
    gexf_out: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """StaticNet: k-hop BFS net from source authors + optional GEXF export.
    Returns (vertices(author, depth), edges(ego, alter_id, papers_together))."""
    edges = coauthor_edges(
        tables["paa"], _paper_years(tables["papers"]), min_papers_together=min_papers_together
    )
    verts = bfs(
        edges.select(F.col("ego").alias("src"), F.col("alter_id").alias("dst")),
        source_authors,
        max_depth=depth,
    )
    net_edges = (
        edges.join(verts.select(F.col("author").alias("ego")), "ego", "left_semi")
        .join(verts.select(F.col("author").alias("alter_id")), "alter_id", "left_semi")
        .filter(F.col("ego") < F.col("alter_id"))
        .select("ego", "alter_id", "papers_together")
    )
    if gexf_out is not None:
        doc = gexf.to_gexf(
            gexf.node_fragments(verts.select(F.col("author").alias("id"))),
            gexf.edge_fragments(net_edges, "ego", "alter_id", "papers_together"),
        )
        gexf.write_gexf_single_file(doc, gexf_out)
    return verts, net_edges


def dwarf_pipeline(
    tables: dict[str, DataFrame], paper_filter: F.Column
) -> dict[str, DataFrame]:
    """MagDwarf: FK-consistent dwarfing — sample papers, close the FK
    neighborhood for every dependent table."""
    seed = tables["papers"].filter(paper_filter).select(F.col("id").alias("paper"))
    out = {"papers": tables["papers"].join(seed.select(F.col("paper").alias("id")), "id", "left_semi")}
    if "paa" in tables:
        out["paa"] = fk_closure_sample(seed, "paper", tables["paa"], "paper")
    if "pf" in tables:
        out["pf"] = fk_closure_sample(seed, "paper", tables["pf"], "paper")
    if "pr" in tables:
        pr = tables["pr"]
        keys = seed.select(F.col("paper").alias("citing"))
        out["pr"] = pr.join(keys, "citing", "left_semi")
    return out
