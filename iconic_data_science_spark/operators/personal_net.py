"""Personal network with triadic closure (G3) — the flagship query.

Reference spec (/root/reference/src/notebooks/scala/PersonalNet.scala:118-124,
markdown): for each ego, every pair of the ego's alters (a1 < a2) that has
ALSO collaborated directly, with the pair's year =
``max(minYear(ego,a1), minYear(ego,a2), minYear(a1,a2))`` — the year the
triangle closed.

The reference implements it twice: a flatMap cross-product form
(PersonalNet.scala:143-201, RowEncoder UDTF-style) and a pure relational
form (PersonalNet_2.scala:125-136) — two self-joins plus ``greatest``.
We use the relational form; Catalyst turns it into shuffle/broadcast hash
joins and the O(k²) pair expansion happens executor-side, streamed, never
as a per-ego in-memory array.

Shape: J4 self theta-join (equi on ego + ``alter1 < alter2`` — the
triangular predicate kills duplicates and self-pairs) then J5 two-key
closure join, then F2 ``greatest`` (PersonalNet_2.scala:130,135).

Scale posture (this is the O(k²)-per-ego query — SURVEY.md §7 risk
register):
  - pre-aggregate edges to (ego, alter, min_year) BEFORE pairing
    (the reference's own cardinality-reducing join order,
    PersonalNet_2.scala:125-131) — the pair join runs on the reduced
    edge table, not the raw bridge;
  - ``egos`` / ``min_papers_together`` / ``max_authors_per_paper``
    truncation knobs mirror StaticNet.scala:313-314;
  - the closure probe joins on (alter1, alter2), a different key than the
    pair build (ego) — one extra shuffle, unavoidable in any engine; AQE
    splits skewed egos.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def personal_net_flatmap_form(edges: DataFrame, egos: DataFrame | None = None) -> DataFrame:
    """The reference's OTHER formulation (PersonalNet.scala:143-201):
    collect each ego's alters, cross the pairs per ego, then check
    closure. The flatMap+RowEncoder UDTF (X4) becomes an explode over a
    built-in pair-expression — no Python row loop, but the per-ego alter
    array materializes in memory, so the relational ``personal_net`` is
    the scale default. Kept for parity (and as the A5 discipline demo:
    collect_list(struct) + array_sort, never zip of two collect_lists —
    the reference's order-dependence bug, PersonalNet.scala:143-145).

    Returns the same (ego, alter1, alter2, year) as ``personal_net``.
    """
    e = edges.select("ego", "alter_id", "first_year")
    focal = e if egos is None else e.join(egos.select("ego").distinct(), "ego", "left_semi")
    per_ego = focal.groupBy("ego").agg(
        F.array_sort(F.collect_list(F.struct("alter_id", "first_year"))).alias("alters")
    )
    # UDTF-equivalent: explode the triangular index pairs (i < j)
    n = F.size("alters")
    idx_pairs = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.transform(F.sequence(F.lit(1), n), lambda j: F.struct(i.alias("i"), j.alias("j"))),
            )
        ),
        lambda p: p["i"] < p["j"],
    )
    pairs = (
        per_ego.select("ego", "alters", F.explode(idx_pairs).alias("p"))
        .select(
            "ego",
            F.element_at("alters", F.col("p.i"))["alter_id"].alias("alter1"),
            F.element_at("alters", F.col("p.i"))["first_year"].alias("y1"),
            F.element_at("alters", F.col("p.j"))["alter_id"].alias("alter2"),
            F.element_at("alters", F.col("p.j"))["first_year"].alias("y2"),
        )
    )
    ap = e.select(
        F.col("ego").alias("alter1"),
        F.col("alter_id").alias("alter2"),
        F.col("first_year").alias("y3"),
    )
    return (
        pairs.join(ap, ["alter1", "alter2"])
        .select("ego", "alter1", "alter2", F.greatest("y1", "y2", "y3").alias("year"))
    )


def personal_net(edges: DataFrame, egos: DataFrame | None = None) -> DataFrame:
    """Triadic-closure personal networks from a coauthor edge table.

    ``edges``: (ego, alter_id, first_year) — output of
    ``coauthor.coauthor_edges`` (already strength-thresholded if desired).
    ``egos``: optional 1-column (ego) frame restricting the focal authors
    (the reference computes nets per selected author, not for everyone).

    Returns (ego, alter1, alter2, year) — J4 + J5 + greatest.
    """
    e = edges.select("ego", "alter_id", "first_year")
    focal = e
    if egos is not None:
        focal = e.join(egos.select("ego").distinct(), "ego", "left_semi")

    c1 = focal.alias("c1")
    c2 = focal.alias("c2")
    # J4: alter pairs per ego, triangular (alter1 < alter2) — PersonalNet_2.scala:128-131
    pairs = c1.join(
        c2,
        (F.col("c1.ego") == F.col("c2.ego")) & (F.col("c1.alter_id") < F.col("c2.alter_id")),
    ).select(
        F.col("c1.ego").alias("ego"),
        F.col("c1.alter_id").alias("alter1"),
        F.col("c2.alter_id").alias("alter2"),
        F.col("c1.first_year").alias("y1"),
        F.col("c2.first_year").alias("y2"),
    )
    # J5: closure — did alter1 and alter2 collaborate? — PersonalNet_2.scala:133-136
    ap = e.select(
        F.col("ego").alias("alter1"),
        F.col("alter_id").alias("alter2"),
        F.col("first_year").alias("y3"),
    )
    closed = pairs.join(ap, ["alter1", "alter2"])
    # F2: year the triangle closed — greatest of the three first-collab years
    return closed.select(
        "ego",
        "alter1",
        "alter2",
        F.greatest("y1", "y2", "y3").alias("year"),
    )


def _pairs_plain(focal: DataFrame) -> DataFrame:
    c1, c2 = focal.alias("c1"), focal.alias("c2")
    return c1.join(
        c2,
        (F.col("c1.ego") == F.col("c2.ego"))
        & (F.col("c1.alter_id") < F.col("c2.alter_id")),
    ).select(
        F.col("c1.ego").alias("ego"),
        F.col("c1.alter_id").alias("alter1"),
        F.col("c2.alter_id").alias("alter2"),
        F.col("c1.first_year").alias("y1"),
        F.col("c2.first_year").alias("y2"),
    )


def _pairs_salted(focal: DataFrame, buckets: int) -> DataFrame:
    b = F.pmod(F.hash("alter_id"), F.lit(int(buckets)))
    rng = F.explode(F.sequence(F.lit(0), F.lit(int(buckets) - 1)))
    c1 = focal.withColumn("_b1", b).withColumn("_b2", rng).alias("c1")
    c2 = focal.withColumn("_b2", b).withColumn("_b1", rng).alias("c2")
    return c1.join(
        c2,
        (F.col("c1.ego") == F.col("c2.ego"))
        & (F.col("c1._b1") == F.col("c2._b1"))
        & (F.col("c1._b2") == F.col("c2._b2"))
        & (F.col("c1.alter_id") < F.col("c2.alter_id")),
    ).select(
        F.col("c1.ego").alias("ego"),
        F.col("c1.alter_id").alias("alter1"),
        F.col("c2.alter_id").alias("alter2"),
        F.col("c1.first_year").alias("y1"),
        F.col("c2.first_year").alias("y2"),
    )


def personal_net_salted(
    edges: DataFrame,
    egos: DataFrame | None = None,
    buckets: int = 8,
    hot_threshold: int = 2048,
) -> DataFrame:
    """:func:`personal_net` with a TARGETED-SALT pair build — the
    mega-ego defense (SURVEY §7 risk register).

    The plain J4 self-join hashes every row of an ego to ONE reducer,
    so a 100k-alter ego concentrates its 10¹⁰-pair O(k²) explosion in
    a single task no matter how many executors exist; AQE can split the
    post-shuffle partition but every pair of the hot key still ships
    through one exchange key. The defense: detect egos with ≥
    ``hot_threshold`` alters (one map-side-partial count over the focal
    table — the hot SET is small by definition and broadcasts), build
    their pairs through a salted join — both sides carry the alter's
    deterministic bucket b = pmod(hash(alter_id), B) and each side
    explodes over the OTHER side's bucket range, joining on
    (ego, b1, b2) so the hot ego's pair space splits into B²
    independent reducer keys (the a1_salted two-phase idea applied to
    a self-join's quadratic key) — and union them with the plain-join
    pairs of everything else.

    Salting ONLY the hot slice matters as much as salting at all: the
    B× row replication applied to the whole edge table was MEASURED
    slower than the skew it fixes (sf0.1 + 10k-alter ego: salt-all
    13.1 s vs plain 5.8 s vs targeted 2.6 s — SCALE.md), because the
    cold 99.99% pays B× sort/shuffle for pairs that were never
    concentrated. Every (alter1 < alter2) pair lands in exactly one
    block on exactly one side of the hot/cold split, so the output is
    row-identical to ``personal_net`` for ANY (buckets, hot_threshold)
    (oracle-equality pinned by sharing its hash oracle; salt values
    never reach the output). The closure probe is keyed on the
    (alter1, alter2) PAIR — already quadratic-key-spread — and stays
    unsalted.
    """
    e = edges.select("ego", "alter_id", "first_year")
    focal = e
    if egos is not None:
        focal = e.join(egos.select("ego").distinct(), "ego", "left_semi")
    # focal feeds three consumers (hot count, hot semi, cold anti) —
    # materialize once (the multi-consumer-frame rule, SURVEY §4)
    focal = focal.localCheckpoint(eager=True)
    hot = (
        focal.groupBy("ego")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= int(hot_threshold))
        .select("ego")
    )
    focal_hot = focal.join(F.broadcast(hot), "ego", "left_semi")
    focal_cold = focal.join(F.broadcast(hot), "ego", "left_anti")
    pairs = _pairs_plain(focal_cold).unionByName(_pairs_salted(focal_hot, buckets))
    ap = e.select(
        F.col("ego").alias("alter1"),
        F.col("alter_id").alias("alter2"),
        F.col("first_year").alias("y3"),
    )
    return pairs.join(ap, ["alter1", "alter2"]).select(
        "ego", "alter1", "alter2", F.greatest("y1", "y2", "y3").alias("year")
    )
