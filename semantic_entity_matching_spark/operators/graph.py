"""Link-graph analysis: PageRank over the domain outlink graph.

The corpus link graph (``functions/htmlops.py outlink_domains``) ranks
domains the way every crawl pipeline does — seed quality lists, crawl
prioritization, spam-mass heuristics all start from PageRank over the
domain graph (Page et al. 1999, public method).  Complements the other
iterative graph operator (``operators/cluster.py`` connected components)
with the same execution discipline: join-based supersteps, lineage cut
per iteration, bounded driver state.

**Fixed-point semantics (deliberate):** ranks are scaled BIGINTs
(``scale`` = 1e12 by default) and every step is integer arithmetic —
``r div out_degree`` per edge, exact integer sums, damping as the
rational ``damping_num/damping_den``.  Floating-point PageRank is
summation-order dependent (a grouped double sum associates differently
under every partitioning), which breaks both run-to-run determinism and
any cross-engine value comparison; the integer form is bit-identical
under ANY partitioning and replays exactly in ANSI SQL (the q74 oracle
unrolls the same recurrence).  The truncation error vs real-valued
PageRank is bounded by ``iterations * n_nodes / scale`` of total mass —
irrelevant at 1e12 scaling.

Scale shape per superstep: one hash join of the edge table with the rank
vector on ``src`` (both narrow), one partial-aggregated sum keyed by
``dst``, one left join back to the node set — all AQE-splittable; hot
dst domains (every crawl links to a handful of mega-sites) are ordinary
aggregate skew.  Driver state per superstep is ONE scalar (the dangling
mass), the same bounded budget as the CC convergence counter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.plans.checkpoint import materialize


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-point PageRank → ``(node, rank_scaled, rank)``.

    ``edges`` is a directed edge list; duplicates and null endpoints are
    dropped (parallel edges would double-count a link's vote).  Dangling
    nodes (no out-edges) redistribute their mass uniformly, the standard
    correction.  ``rank_scaled`` is the exact BIGINT fixed-point value
    (sums to ~``scale`` of total mass); ``rank`` is the human-readable
    double.
    """
    if iterations < 0:
        raise ValueError(f"iterations must be >= 0, got {iterations}")
    if not 0 < damping_num < damping_den:
        raise ValueError("need 0 < damping_num < damping_den")

    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct(),
        "pagerank_edges",
    )
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        "pagerank_nodes",
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("bigint").alias("rank_scaled"),
            F.lit(0.0).alias("rank"),
        )
    outdeg = materialize(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "pagerank_outdeg"
    )

    teleport = ((scale * (damping_den - damping_num)) // damping_den) // n
    r = nodes.withColumn("r", F.lit(int(scale // n)).cast("bigint"))
    for _ in range(iterations):
        inflow = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), F.expr("r div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass: ONE scalar per superstep (bounded driver state)
        dang = (
            r.join(
                outdeg.withColumnRenamed("src", "node"), "node", "left_anti"
            )
            .agg(F.coalesce(F.sum("r"), F.lit(0)).alias("d"))
            .collect()[0]["d"]
        )
        share = int(dang) // n
        # cut superstep lineage, exactly like CC
        r = materialize(
            nodes.join(inflow, "node", "left").select(
                "node",
                (
                    F.lit(int(teleport))
                    + F.expr(
                        f"{int(damping_num)} * (coalesce(inflow, CAST(0 AS BIGINT))"
                        f" + CAST({share} AS BIGINT)) div {int(damping_den)}"
                    )
                ).cast("bigint").alias("r"),
            ),
            "pagerank_ranks",
        )
    return r.select(
        "node",
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r") / F.lit(float(scale)), 9).alias("rank"),
    )
