"""Evaluation: pairwise P/R/F1 vs gold pairs + the reference's rank metrics.

Pairwise metrics are THE acceptance gate (BASELINE.json: F1 >= 0.99 on
labeled gold pairs).  Rank metrics reproduce the reference's evaluate
semantics (success rate + top-k accuracy, reference lib/evaluate.py:20-34,
apps/cli/commands/evaluate.py:256-264).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PairwiseMetrics:
    true_positives: int
    false_positives: int
    false_negatives: int

    @property
    def precision(self) -> float:
        d = self.true_positives + self.false_positives
        return self.true_positives / d if d else 1.0

    @property
    def recall(self) -> float:
        d = self.true_positives + self.false_negatives
        return self.true_positives / d if d else 1.0

    @property
    def f1(self) -> float:
        p, r = self.precision, self.recall
        return 2 * p * r / (p + r) if (p + r) else 0.0


def predicted_pairs_from_clusters(clusters: DataFrame) -> DataFrame:
    """clusters(id, component) -> all intra-cluster pairs (url_a < url_b).

    Equi self-join on component — i.e. pairs are enumerated per cluster,
    never globally.  Giant clusters are the scale risk here; callers should
    bound cluster size upstream (block cap keeps them bounded).
    """
    a = clusters.select(F.col("component"), F.col("id").alias("url_a"))
    b = clusters.select(F.col("component"), F.col("id").alias("url_b"))
    return (
        a.join(b, "component")
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )


def pairwise_metrics(
    predicted: DataFrame,
    gold: DataFrame,
) -> PairwiseMetrics:
    """predicted(url_a,url_b) vs gold(url_a,url_b,label in {0,1}).

    Scored over the LABELED universe only (the reference's evaluation is
    likewise restricted to labeled queries): FP counts predicted pairs that
    are labeled 0; unlabeled predicted pairs are ignored.
    """
    pred = predicted.select("url_a", "url_b").distinct().withColumn("_pred", F.lit(1))
    g = gold.select("url_a", "url_b", "label").distinct()
    joined = g.join(pred, ["url_a", "url_b"], "left").select(
        "label", F.coalesce(F.col("_pred"), F.lit(0)).alias("_pred")
    )
    row = joined.agg(
        F.sum(((F.col("label") == 1) & (F.col("_pred") == 1)).cast("long")).alias("tp"),
        F.sum(((F.col("label") == 0) & (F.col("_pred") == 1)).cast("long")).alias("fp"),
        F.sum(((F.col("label") == 1) & (F.col("_pred") == 0)).cast("long")).alias("fn"),
    ).collect()[0]
    return PairwiseMetrics(int(row["tp"] or 0), int(row["fp"] or 0), int(row["fn"] or 0))


def blocking_quality(
    candidates: DataFrame,
    gold: DataFrame,
    n_records: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Standard blocking-evaluation metrics (one-row DataFrame):

    * ``reduction_ratio``    — 1 − |candidates| / (n·(n−1)/2): how much of
      the quadratic comparison space the blocking scheme eliminates.
    * ``pairs_completeness`` — |candidates ∩ gold| / |gold|: recall of the
      blocking step (the miss rate is 1 − this).
    * ``pairs_quality``      — |candidates ∩ gold| / |candidates|:
      precision of the candidate set.

    ``gold`` is the labeled true-match pair set — an eval-set-scale input
    (the reference likewise evaluates against provided gold labels,
    lib/evaluate.py:20-34); ``candidates`` is blocking output at corpus
    scale.  Both sides are canonicalized (least/greatest) and deduped, so
    orientation never skews counts.  Scale shape: the candidate set is
    aggregated (count) and semi-joined against the gold set — one hash
    join keyed by the pair, three scalar aggregates, no collect of pair
    rows.
    """
    if n_records < 0:
        raise ValueError(f"n_records must be >= 0, got {n_records}")

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(id_a), F.col(id_b)).alias("id_a"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("id_b"),
        ).distinct()

    cand = canon(candidates)
    g = canon(gold)
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n_gold = g.agg(F.count("*").cast("long").alias("n_gold"))
    n_cov = g.join(cand, ["id_a", "id_b"], "left_semi").agg(
        F.count("*").cast("long").alias("gold_covered")
    )
    total_pairs = n_records * (n_records - 1) // 2
    return (
        n_cand.crossJoin(n_gold)
        .crossJoin(n_cov)
        .select(
            F.lit(int(n_records)).cast("long").alias("n_records"),
            "n_candidates",
            "n_gold",
            "gold_covered",
            F.round(
                F.when(F.lit(total_pairs) > 0,
                       1.0 - F.col("n_candidates") / F.lit(float(total_pairs))
                       ).otherwise(F.lit(1.0)),
                6,
            ).alias("reduction_ratio"),
            F.round(
                F.when(F.col("n_gold") > 0,
                       F.col("gold_covered") / F.col("n_gold")
                       ).otherwise(F.lit(1.0)),
                6,
            ).alias("pairs_completeness"),
            F.round(
                F.when(F.col("n_candidates") > 0,
                       F.col("gold_covered") / F.col("n_candidates")
                       ).otherwise(F.lit(1.0)),
                6,
            ).alias("pairs_quality"),
        )
    )


def bcubed_metrics(
    predicted: DataFrame,
    gold: DataFrame,
    id_col: str = "doc_id",
    pred_col: str = "component",
    gold_col: str = "component",
) -> DataFrame:
    """B-cubed clustering precision/recall/F1 (one-row DataFrame) — THE
    standard entity-resolution clustering metric (Bagga & Baldwin 1998):
    per record, precision = |C(r) ∩ L(r)| / |C(r)| and recall =
    |C(r) ∩ L(r)| / |L(r)| where C is the predicted cluster and L the
    gold cluster; the summary is the mean over records.

    Inputs are assignments ``predicted(id, component)`` and ``gold(id,
    component)``; records present in only one side are ignored (inner
    join on the id).  Scale shape: the per-record means collapse into
    cell sums — mean(P) = Σ_cells |cell|² / |pred cluster| / N — so the
    whole metric is three hash aggregates (cell counts, per-cluster
    sizes, one scalar roll-up) over narrow int columns plus two
    cluster-table joins; nothing is ever enumerated per pair.
    """
    p = predicted.select(
        F.col(id_col).alias("_id"), F.col(pred_col).alias("_cp")
    )
    g = gold.select(F.col(id_col).alias("_id"), F.col(gold_col).alias("_cg"))
    both = p.join(g, "_id")
    cells = both.groupBy("_cp", "_cg").agg(F.count("*").alias("_i"))
    sizes_p = both.groupBy("_cp").agg(F.count("*").alias("_np"))
    sizes_g = both.groupBy("_cg").agg(F.count("*").alias("_ng"))
    per_cell = (
        cells.join(sizes_p, "_cp")
        .join(sizes_g, "_cg")
        .select(
            (F.col("_i") * F.col("_i") / F.col("_np")).alias("_pc"),
            (F.col("_i") * F.col("_i") / F.col("_ng")).alias("_rc"),
            F.col("_i"),
        )
    )
    summ = per_cell.agg(
        F.sum("_i").cast("long").alias("n_docs"),
        (F.sum("_pc") / F.sum("_i")).alias("_p"),
        (F.sum("_rc") / F.sum("_i")).alias("_r"),
    )
    return summ.select(
        "n_docs",
        F.round("_p", 6).alias("bcubed_precision"),
        F.round("_r", 6).alias("bcubed_recall"),
        F.round(
            F.when(
                F.col("_p") + F.col("_r") > 0,
                2.0 * F.col("_p") * F.col("_r") / (F.col("_p") + F.col("_r")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("bcubed_f1"),
    )


def top_k_metric(ranked_gold: DataFrame, k: int, rank_col: str = "rank") -> float:
    """Reference ``get_top_k_metric`` (lib/evaluate.py:20-34):
    count(rank <= k) / total x 100, over queries with a known gold rank
    (rank NULL = gold not retrieved, counts in the denominator)."""
    row = ranked_gold.agg(
        (
            F.sum((F.col(rank_col) <= k).cast("long"))
            / F.count("*")
            * 100.0
        ).alias("pct")
    ).collect()[0]
    return float(row["pct"] or 0.0)


def cluster_cohesion(
    clusters: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    cluster_col: str = "component",
    round_to: int | None = 6,
) -> DataFrame:
    """Per-cluster transitive-merge audit →
    ``(cluster, size, n_edges, possible_pairs, density)``.

    ``density = n_edges / (size choose 2)`` — the fraction of a cluster's
    member pairs that carry a DIRECT match edge.  Connected components
    merge by transitivity; a low-density cluster was glued by chains of
    pairwise matches that never compared its far ends — THE operational
    risk signal of transitive ER (flag for review / a stricter second
    pass).  Singletons report null density.

    Scale shape: one size aggregate + two id-keyed joins tagging each
    edge endpoint with its cluster + one cluster-keyed count.  Edges of
    a cluster land in one partition only for the final tiny aggregate;
    nothing is windowed or sorted.
    """
    sizes = clusters.groupBy(F.col(cluster_col).alias("cluster")).agg(
        F.count(F.lit(1)).alias("size")
    )
    ca = clusters.select(
        F.col(id_col).alias("id_a"), F.col(cluster_col).alias("_ca")
    )
    cb = clusters.select(
        F.col(id_col).alias("id_b"), F.col(cluster_col).alias("_cb")
    )
    intra = (
        edges.select("id_a", "id_b")
        .join(ca, "id_a")
        .join(cb, "id_b")
        .where(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("cluster"))
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    out = (
        sizes.join(intra, "cluster", "left")
        .withColumn("n_edges", F.coalesce(F.col("n_edges"), F.lit(0)))
        .withColumn(
            "possible_pairs",
            (F.col("size") * (F.col("size") - 1) / F.lit(2)).cast("bigint"),
        )
        .withColumn(
            "density",
            F.when(
                F.col("possible_pairs") > 0,
                F.col("n_edges").cast("double")
                / F.col("possible_pairs").cast("double"),
            ),
        )
    )
    if round_to is not None:
        out = out.withColumn("density", F.round("density", round_to))
    return out


def partition_comparison(
    pred: DataFrame,
    gold: DataFrame,
    id_col: str = "id",
    pred_col: str = "component",
    gold_col: str = "entity",
    round_to: int | None = 6,
) -> DataFrame:
    """Adjusted Rand Index + Normalized Mutual Information between two
    clusterings of the same records — the information-theoretic
    complements to :func:`pairwise_metrics` (raw pair counts) and
    :func:`bcubed_metrics` (per-record averages); ARI corrects pairwise
    agreement for chance, NMI (arithmetic normalization, sklearn's
    default) compares partitions of very different granularities.

    Everything reduces over the CONTINGENCY TABLE: one inner join on the
    record id + one (pred, gold) hash aggregate gives ``n_ij``;
    marginals are two more aggregates over that (bounded) table.  The
    closed forms then need only Σ n_ij², Σ a_i², Σ b_j², Σ n_ij·ln(n_ij)
    etc. — map-side-combinable sums, two scalar rows, zero windows.
    Records present in only one clustering are excluded by the join
    (document the universe upstream).  Returns ONE row ``(n, ari,
    nmi)``.  Degenerate conventions (documented, deterministic): when
    the chance-correction denominator is zero ARI is 1.0 (both
    partitions trivially agree); when both entropies are zero NMI is
    1.0 iff the partitions coincide, else 0.0.
    """
    p = pred.select(F.col(id_col).alias("id"), F.col(pred_col).alias("_p"))
    g = gold.select(F.col(id_col).alias("id"), F.col(gold_col).alias("_g"))
    cont = (
        p.join(g, "id")
        .groupBy("_p", "_g")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    a = cont.groupBy("_p").agg(F.sum("nij").alias("ai"))
    b = cont.groupBy("_g").agg(F.sum("nij").alias("bj"))

    row = cont.agg(
        F.sum("nij").alias("n"),
        F.sum(F.col("nij") * (F.col("nij") - 1) / 2).alias("sum_nij_c2"),
        F.sum(
            F.col("nij").cast("double")
            * F.log(F.col("nij").cast("double"))
        ).alias("sum_nij_ln"),
    ).collect()[0]
    n = int(row["n"])
    sum_nij_c2 = float(row["sum_nij_c2"])
    sum_nij_ln = float(row["sum_nij_ln"])
    rowa = a.agg(
        F.sum(F.col("ai") * (F.col("ai") - 1) / 2).alias("c2"),
        F.sum(F.col("ai").cast("double") * F.log(F.col("ai").cast("double"))).alias("ln"),
    ).collect()[0]
    rowb = b.agg(
        F.sum(F.col("bj") * (F.col("bj") - 1) / 2).alias("c2"),
        F.sum(F.col("bj").cast("double") * F.log(F.col("bj").cast("double"))).alias("ln"),
    ).collect()[0]

    import math

    spark = pred.sparkSession
    if n < 2:
        out = [(n, 1.0 if n >= 0 else None, 1.0)]
        return spark.createDataFrame(out, "n bigint, ari double, nmi double")
    a_c2, b_c2 = float(rowa["c2"]), float(rowb["c2"])
    total_c2 = n * (n - 1) / 2
    expected = a_c2 * b_c2 / total_c2
    max_index = (a_c2 + b_c2) / 2
    ari = (
        1.0
        if max_index == expected
        else (sum_nij_c2 - expected) / (max_index - expected)
    )
    # entropies/MI from the ln sums: H(U) = ln n - (1/n) Σ a ln a
    h_u = math.log(n) - float(rowa["ln"]) / n
    h_v = math.log(n) - float(rowb["ln"]) / n
    mi = math.log(n) - (float(rowa["ln"]) + float(rowb["ln"]) - sum_nij_ln) / n
    denom = (h_u + h_v) / 2
    if denom == 0.0:
        nmi = 1.0 if h_u == h_v == 0.0 and a_c2 == b_c2 == sum_nij_c2 else 0.0
    else:
        nmi = mi / denom
    if round_to is not None:
        ari, nmi = round(ari, round_to), round(nmi, round_to)
    return spark.createDataFrame(
        [(n, float(ari), float(nmi))], "n bigint, ari double, nmi double"
    )
