"""Post-clustering resolution: golden records + Fellegi-Sunter scoring.

Two classic entity-resolution stages the flagship pipeline stops short of:

* **Golden-record survivorship** — once records are clustered, the corpus
  needs ONE consolidated row per entity.  ``golden_record`` votes the
  modal value per categorical field (deterministic ties) and applies
  simple min/max rules to ordered fields.  This is the "merge" half of
  match-merge ER (the reference stops at cluster ids; its consumers do
  the merge downstream — SURVEY §1.3's doc-identity-by-natural-key).

* **Fellegi-Sunter match scoring** (Fellegi & Sunter 1969; the public
  Splink formulation) — probabilistic pair scoring from per-field
  agreement: each field carries an m-probability (P(agree | match)) and a
  u-probability (P(agree | non-match)); a pair's match weight is the sum
  of per-field log2 Bayes factors, and the posterior match probability
  folds in a prior.  ``estimate_fs_params`` fits m/u/prior by EM — the
  standard unsupervised route when no gold labels exist.

Scale shapes:
* ``golden_record``: ONE melt (per-field flatMap — rows × |fields|, all
  narrow (cluster, field, value) triples) + one hash aggregate keyed
  (cluster, field, value) with map-side combine + a tiny per-(cluster,
  field) min-struct aggregate + pivot over the KNOWN field list.  No
  window functions, no global sort; hot mega-clusters cost one partition
  and split under AQE.
* ``fellegi_sunter_score``: pure Column expressions — the log-weights are
  Python-constant literals folded at plan time; zero shuffle, zero
  Python, whole-stage codegen.
* ``estimate_fs_params``: agreement patterns are aggregated ONCE in Spark
  (<= 2^F distinct patterns — a few hundred rows at any corpus scale);
  the EM loop then runs driver-side over that tiny pattern table in
  numpy.  No per-iteration Spark job, no repeated corpus scans.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.plans.checkpoint import materialize

# ---------------------------------------------------------------------------
# Golden-record survivorship
# ---------------------------------------------------------------------------

def golden_record(
    records: DataFrame,
    clusters: DataFrame,
    id_col: str,
    mode_fields: list[str] | None = None,
    agg_fields: dict[str, str] | None = None,
    cluster_col: str = "cluster",
) -> DataFrame:
    """One consolidated row per cluster → ``(cluster, size, <fields...>)``.

    * ``mode_fields``: categorical survivorship — the most frequent
      non-null value in the cluster wins; ties break to the SMALLEST
      value (string order), so the result is deterministic under any
      partitioning and replayable in ANSI SQL.  A field that is null on
      every member stays null.  Values travel through the melt as
      strings and are cast back to their original type on the way out.
    * ``agg_fields``: ``{field: "min"|"max"|"sum"|"avg"}`` — ordered /
      numeric survivorship (e.g. latest timestamp, max account balance).
    * ``size``: cluster member count (always emitted).

    ``records`` joins ``clusters`` (``id_col`` → ``cluster_col``) with a
    plain hash join; pass a broadcast hint upstream only if the cluster
    map is genuinely small — at corpus scale it is not.
    """
    mode_fields = list(mode_fields or [])
    agg_fields = dict(agg_fields or {})
    both = set(mode_fields) & set(agg_fields)
    if both:
        raise ValueError(f"fields in both mode and agg: {sorted(both)}")
    # Allowlist the aggregate names: getattr(F, fn) would silently accept
    # any pyspark function — 'first' yields a partitioning-dependent,
    # nondeterministic "survivor"; fail loudly instead.
    _ALLOWED_AGGS = {"min", "max", "sum", "avg"}
    bad = {f: fn for f, fn in agg_fields.items() if fn not in _ALLOWED_AGGS}
    if bad:
        raise ValueError(
            f"agg_fields must map to one of {sorted(_ALLOWED_AGGS)}; got {bad}"
        )

    joined = records.join(
        clusters.select(F.col(id_col), F.col(cluster_col)), id_col, "inner"
    )

    base = joined.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("size"),
        *[
            getattr(F, fn)(F.col(f)).alias(f)
            for f, fn in agg_fields.items()
        ],
    )
    if not mode_fields:
        return base

    # Melt the mode fields to narrow (cluster, field, value-as-string)
    # triples: ONE aggregate counts every (cluster, field, value) cell,
    # a min over struct(-count, value) picks "most frequent, ties to the
    # smallest value" without any window function.
    dtypes = dict(records.dtypes)
    melted = joined.select(
        F.col(cluster_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("field"),
                        F.col(f).cast("string").alias("value"),
                    )
                    for f in mode_fields
                ]
            )
        ).alias("kv"),
    ).select(cluster_col, "kv.field", "kv.value")

    counted = (
        melted.where(F.col("value").isNotNull())
        .groupBy(cluster_col, "field", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = (
        counted.groupBy(cluster_col, "field")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("value").alias("value"),
                )
            ).alias("best")
        )
        .select(cluster_col, "field", F.col("best.value").alias("value"))
    )
    wide = best.groupBy(cluster_col).pivot("field", mode_fields).agg(
        F.first("value")
    )
    out = base.join(wide, cluster_col, "left")
    return out.select(
        cluster_col,
        "size",
        *[F.col(f).cast(dtypes[f]).alias(f) for f in mode_fields],
        *agg_fields.keys(),
    )


def entity_centroids(
    members: DataFrame,
    embeddings: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    vec_col: str = "embedding",
    normalize: bool = False,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-entity centroid embedding — the vector-field half of golden-
    record survivorship -> ``(cluster, n_members, centroid)``.

    ``golden_record`` consolidates scalar fields; an entity's EMBEDDING
    consolidates as the (optionally L2-normalized) element-wise mean of
    its members' vectors — the standard entity representation for
    entity-level ANN search and SemDeDup-style cross-entity near-dup.
    Null-vector members are excluded; clusters with no scorable member
    are absent.

    Determinism: per-position means are ``sum/count`` rounded to
    ``round_to`` BEFORE normalization, the norm is computed from those
    rounded means positionally, and the final values round again — so
    the output replays in ANSI SQL (q81 twin) and is partition-stable to
    the rounding precision (double sums associate differently per
    partitioning; rounding is the established q40 convention).

    Scale shape: one posexplode to (cluster, pos, value) — dim × members
    narrow rows — into ONE hash aggregate keyed (cluster, pos) with
    map-side combine, then a dim-bounded ``collect_list`` reassembly per
    cluster (the list is |dim| elements regardless of cluster size — a
    mega-entity costs the same as a pair).  No window, no Python, no
    driver state.
    """
    # members and embeddings are BOTH corpus-cardinality — an id-keyed
    # shuffle-hash join, never a broadcast (small-SF stats would tempt
    # Catalyst into building a corpus-sized HashedRelation at 100 TB)
    joined = members.select(
        F.col(id_col), F.col(cluster_col).alias("_cl")
    ).join(
        embeddings.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.col(vec_col).alias("_v"))
        .hint("shuffle_hash"),
        id_col,
    )
    pos = joined.select(
        "_cl", F.posexplode("_v").alias("_pos", "_val")
    )
    mean_col = F.sum(F.col("_val").cast("double")) / F.count(F.lit(1))
    if round_to is not None:
        mean_col = F.round(mean_col, round_to)
    means = pos.groupBy("_cl", "_pos").agg(
        mean_col.alias("_m"),
        F.count(F.lit(1)).cast("bigint").alias("_c"),
    )
    cent = means.groupBy("_cl").agg(
        F.max("_c").alias("n_members"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
            lambda s: s["_m"],
        ).alias("centroid"),
    )
    if normalize:
        norm = F.sqrt(
            F.aggregate(
                F.col("centroid"),
                F.lit(0.0),
                lambda acc, v: acc + v * v,
            )
        )
        scaled = F.when(norm > 0, F.transform(F.col("centroid"), lambda v: v / norm)).otherwise(
            F.col("centroid")
        )
        if round_to is not None:
            scaled = F.transform(scaled, lambda v: F.round(v, round_to))
        cent = cent.withColumn("centroid", scaled)
    return cent.select(
        F.col("_cl").alias(cluster_col), "n_members", "centroid"
    )


def entity_merge_candidates(
    members: DataFrame,
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "doc_id",
    cluster_col: str = "component",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.9,
    round_to: int | None = 6,
    score_round: int | None = 6,
) -> DataFrame:
    """Missed-merge detection: candidate CLUSTER pairs whose entity
    centroids are cosine-close → ``(cluster_a, cluster_b, cosine, n_a,
    n_b)``.

    Entity resolution over-segments in practice (blocking misses, a
    conservative threshold, records arriving across incremental runs
    under different evidence) — the standard maintenance pass searches
    for pairs of EXISTING clusters that look like one entity and feeds
    them to review / re-scoring.  Comparing cluster centroids instead of
    member records shrinks the problem from records² to entities² and is
    exactly the entity-level analog of SemDeDup's document near-dup.

    Pipeline (every stage an existing audited operator):
    :func:`entity_centroids` (normalized, rounded — engine-portable) →
    ``assign_nearest_centroid`` over ``centroids`` (cells = the blocking
    key; ONE zero-shuffle Arrow/BLAS map) → within-cell cosine pairs
    (never all-pairs).  Cross-cell pairs are not generated — the same
    documented recall trade as SemDeDup; at production scale pass
    ``train_ivf_centroids`` output and size ``nlist`` so cells stay
    bounded (``semantic_cell_audit`` applies unchanged to the assignment
    table).

    Scale shape: the entity table is |corpus| / avg-cluster-size rows —
    one to two orders below the record table — and every join here is
    keyed on cell or cluster id (no broadcast of anything
    corpus-cardinality, no window, no global sort).
    """
    from semantic_entity_matching_spark.operators.dedup import (
        assign_nearest_centroid,
        embedding_near_duplicates,
    )

    cents = entity_centroids(
        members,
        embeddings,
        id_col=id_col,
        cluster_col=cluster_col,
        vec_col=vec_col,
        normalize=True,
        round_to=round_to,
    )
    assigned = assign_nearest_centroid(
        cents,
        centroids,
        id_col=cluster_col,
        vec_col="centroid",
        score_round=score_round,
    )
    pairs = embedding_near_duplicates(
        assigned,
        id_col=cluster_col,
        vec_col="centroid",
        bucket_col="cell",
        cosine_threshold=cosine_threshold,
        score_round=score_round,
    )
    # the entity table scales with corpus / avg-cluster-size — smaller
    # than the corpus but NOT broadcast-small; keyed shuffle-hash joins
    # (the pipeline.py convention for any corpus-shaped side)
    sizes = cents.select(F.col(cluster_col), F.col("n_members"))
    return (
        pairs.select(
            F.col("id_a").alias("cluster_a"),
            F.col("id_b").alias("cluster_b"),
            "cosine",
        )
        .join(
            sizes.select(
                F.col(cluster_col).alias("cluster_a"),
                F.col("n_members").alias("n_a"),
            ).hint("shuffle_hash"),
            "cluster_a",
        )
        .join(
            sizes.select(
                F.col(cluster_col).alias("cluster_b"),
                F.col("n_members").alias("n_b"),
            ).hint("shuffle_hash"),
            "cluster_b",
        )
        .select("cluster_a", "cluster_b", "cosine", "n_a", "n_b")
    )


def split_clusters(
    clusters: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    weight_col: str = "score",
    strong_threshold: float = 0.5,
) -> DataFrame:
    """Over-merge detection: re-run connected components INSIDE each
    cluster keeping only edges with ``weight >= strong_threshold`` →
    ``(id, component, subcomponent)``.

    A cluster glued together by one weak bridge edge (a shared
    boilerplate block key, a borderline score) fractures into multiple
    subcomponents under the stricter threshold — those are the clusters
    to re-review or split.  A member with no surviving strong edge
    becomes its own singleton subcomponent (its own id — the CC
    convention, deterministic).  Subcomponent ids are the minimum member
    id reachable via strong intra-cluster edges, so output is
    partition-stable and replays in SQL (recursive-CTE reachability, the
    q23/q37 oracle pattern).

    Scale shape: the threshold filter is map-side; the same-cluster
    guard is two id-keyed hash joins (never broadcast — both sides are
    corpus-cardinality); CC is the checkpointed large-star/small-star
    operator whose cost is bounded by the STRONG edge set (a subset of
    the already-blocked pair list); the final attach is one left join on
    id.  No window, no global sort, no driver state beyond CC's
    fixed-point signature."""
    from semantic_entity_matching_spark.operators.cluster import (
        connected_components,
    )

    base = clusters.select(
        F.col(id_col).alias("id"), F.col(cluster_col).alias("component")
    )
    strong = edges.where(F.col(weight_col) >= strong_threshold).select(
        F.col("id_a"), F.col("id_b")
    )
    # keep only intra-cluster edges: endpoints must carry the SAME
    # component (an edge across clusters is a merge concern — q82's job —
    # not a split concern)
    strong = (
        strong.join(
            base.select(
                F.col("id").alias("id_a"), F.col("component").alias("_ca")
            ).hint("shuffle_hash"),
            "id_a",
        )
        .join(
            base.select(
                F.col("id").alias("id_b"), F.col("component").alias("_cb")
            ).hint("shuffle_hash"),
            "id_b",
        )
        .where(F.col("_ca") == F.col("_cb"))
        .select("id_a", "id_b")
    )
    sub = connected_components(strong).select(
        F.col("id"), F.col("component").alias("_sub")
    )
    return (
        base.join(sub.hint("shuffle_hash"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("component").alias(cluster_col),
            F.coalesce(F.col("_sub"), F.col("id")).alias("subcomponent"),
        )
    )


def cluster_split_report(
    split: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "component",
) -> DataFrame:
    """Roll :func:`split_clusters` output up to per-cluster fracture
    stats → ``(component, n_members, n_subcomponents, largest_sub,
    fractured)``, the review queue for over-merged entities.  One hash
    aggregate keyed (component, subcomponent) then one keyed by
    component — no window, no collect."""
    per_sub = split.groupBy(cluster_col, "subcomponent").agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        per_sub.groupBy(cluster_col)
        .agg(
            F.sum("_n").cast("bigint").alias("n_members"),
            F.count(F.lit(1)).cast("bigint").alias("n_subcomponents"),
            F.max("_n").cast("bigint").alias("largest_sub"),
        )
        .withColumn(
            "fractured", (F.col("n_subcomponents") > 1).cast("boolean")
        )
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic scoring
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class FSField:
    """One comparison field: ``col`` is a 0/1 (or null) agreement column
    on the pair table; ``m``/``u`` are P(agree | match) and
    P(agree | non-match)."""

    col: str
    m: float
    u: float

    def __post_init__(self) -> None:
        for name, v in (("m", self.m), ("u", self.u)):
            if not 0.0 < v < 1.0:
                raise ValueError(f"{name} must be in (0,1), got {v}")


def _with_posterior(
    df: DataFrame, prior: float, weight_col: str, prob_col: str
) -> DataFrame:
    """Fold the prior into posterior odds: ``odds = prior/(1-prior) *
    2^weight``, ``prob = odds/(1+odds)`` — shared by both scorers."""
    prior_odds = prior / (1.0 - prior)
    odds = F.lit(prior_odds) * F.pow(F.lit(2.0), F.col(weight_col))
    return df.withColumn(prob_col, odds / (odds + F.lit(1.0)))


def fellegi_sunter_score(
    pairs: DataFrame,
    fields: list[FSField],
    prior: float = 0.5,
    weight_col: str = "match_weight",
    prob_col: str = "match_prob",
) -> DataFrame:
    """Append the FS match weight and posterior match probability.

    ``match_weight`` = sum over fields of ``log2(m/u)`` on agreement and
    ``log2((1-m)/(1-u))`` on disagreement; a NULL agreement column
    contributes 0 (the field is uninformative for that pair — standard
    missing-data treatment).  ``match_prob`` folds the prior in odds
    space: ``odds = prior/(1-prior) * 2^weight``, ``prob = odds/(1+odds)``.

    The per-field log weights are Python floats baked in as literals —
    the whole thing is constant-folded codegen, no shuffle, no Python.
    """
    if not fields:
        raise ValueError("fields must be non-empty")
    if not 0.0 < prior < 1.0:
        raise ValueError(f"prior must be in (0,1), got {prior}")
    expr = F.lit(0.0)
    for fld in fields:
        # NULL must be tested explicitly: a NULL `when` condition falls
        # through to `otherwise`, which would charge the disagree weight.
        # ONE weight expression shared with fs_edges_deferred's cheap-
        # feature prefilter, so the upper bound and the final score are
        # built from bit-identical per-field terms.
        expr = expr + _binary_weight_expr(fld)
    return _with_posterior(
        pairs.withColumn(weight_col, expr), prior, weight_col, prob_col
    )


def estimate_fs_params(
    pairs: DataFrame,
    agree_cols: list[str],
    prior_init: float = 0.1,
    m_init: float = 0.9,
    u_init: float = 0.1,
    iters: int = 50,
    tol: float = 1e-9,
) -> tuple[list[FSField], float]:
    """EM fit of (m, u) per field + the match prior → (fields, prior).

    Delegates to :func:`estimate_fs_graded` with two levels per field
    (the binary fit IS the L=2 special case — one EM implementation):
    ONE Spark aggregation collapses the pair table to agreement-pattern
    counts, the EM iterations run driver-side in numpy, and missing
    (null) agreements are excluded from that field's m/u updates.

    Standard unsupervised Fellegi-Sunter fitting (Winkler 1988; the
    public Splink `estimate_parameters_using_expectation_maximisation`
    semantics).  Labels are never consulted.
    """
    if not agree_cols:
        raise ValueError("agree_cols must be non-empty")
    # the binary fit IS the 2-level graded fit: levels (0, 1), init mass
    # (1-m_init, m_init) per field — ONE EM implementation to maintain,
    # and the graded label-switch repair (expected-level ordering)
    # reduces exactly to the binary mean(m-u) rule at L=2
    comps, lam = estimate_fs_graded(
        pairs,
        {c: 2 for c in agree_cols},
        prior_init=prior_init,
        iters=iters,
        tol=tol,
        init_m=[(1.0 - float(m_init), float(m_init))] * len(agree_cols),
        init_u=[(1.0 - float(u_init), float(u_init))] * len(agree_cols),
    )
    fields = [FSField(col=c.col, m=c.m[1], u=c.u[1]) for c in comps]
    return fields, lam


def fs_edges_from_features(
    features: DataFrame,
    agree_thresholds: tuple = (0.80, 0.90, 0.80),
    posterior_threshold: float = 0.5,
    feature_cols: tuple = ("cosine", "jaro_winkler", "levenshtein"),
    id_cols: tuple = ("id_a", "id_b"),
    prior_init: float = 0.3,
    m_init: float = 0.9,
    u_init: float = 0.1,
    em_sample_mod: int = 1,
) -> DataFrame:
    """Unsupervised match edges from a scored candidate-pair table →
    ``(id_a, id_b, score)`` where ``score`` is the FS posterior.

    Each similarity feature becomes a 0/1 agreement at its threshold
    (null feature → null agreement → zero weight), m/u/prior are EM-fit
    on THIS candidate population (Splink's estimate-on-blocked-pairs
    practice — blocking already discarded the hopeless non-matches, and
    the EM prior absorbs the resulting match-enrichment), and pairs at or
    above ``posterior_threshold`` become edges.

    ``em_sample_mod > 1`` fits the EM on a deterministic 1/mod
    hash-sample of the candidate pairs (``pmod(xxhash64(id_a, id_b),
    mod) == 0``) instead of the full population: pattern-count EM is a
    method-of-moments-style fit over <= 3^F cells, so cell FREQUENCIES —
    not the pair count — carry all the information, and a
    100k-pair sample pins m/u/prior to within Monte-Carlo noise of the
    full fit (pinned by pytest).  The SCORING pass always sees every
    pair.  Sampling is partitioning-independent and replayable; if the
    sample lands empty (tiny inputs) the fit silently falls back to the
    full population.

    The EM collect is one aggregate over <= 3^F agreement patterns; the
    scoring pass is pure codegen.  An empty candidate table yields an
    empty edge table (no EM run)."""
    if len(agree_thresholds) != len(feature_cols):
        raise ValueError("one threshold per feature col")
    if em_sample_mod < 1:
        raise ValueError(f"em_sample_mod must be >= 1, got {em_sample_mod}")
    g_cols = [f"g_{c}" for c in feature_cols]
    feats = features
    for c, g, t in zip(feature_cols, g_cols, agree_thresholds):
        feats = feats.withColumn(
            g,
            F.when(F.col(c).isNull(), F.lit(None)).otherwise(
                (F.col(c) >= F.lit(float(t))).cast("int")
            ),
        )
    empty_edges = feats.where(F.lit(False)).select(
        *id_cols, F.lit(0.0).alias("score")
    )
    # cut the lineage ONCE before the EM collect: the feature table sits
    # on top of the pipeline's most expensive stage (unpruned Python JW
    # over every candidate pair) and is consumed again by the scoring
    # pass and by everything downstream of the returned edges — without
    # this it would recompute per consumer.
    feats = materialize(feats, "fs_features")

    def _fit(src: DataFrame):
        return estimate_fs_params(
            src,
            g_cols,
            prior_init=prior_init,
            m_init=m_init,
            u_init=u_init,
        )

    fit_src = feats
    if em_sample_mod > 1:
        fit_src = feats.where(
            F.pmod(
                F.xxhash64(*[F.col(c) for c in id_cols]),
                F.lit(int(em_sample_mod)),
            )
            == 0
        )
    try:
        fields, prior = _fit(fit_src)
    except ValueError as exc:
        # a sample that landed empty falls back to the full population;
        # any other failure (or an empty population) keeps the original
        # empty-edges contract
        if em_sample_mod > 1 and "empty" in str(exc):
            try:
                fields, prior = _fit(feats)
            except ValueError:
                return empty_edges
        else:
            return empty_edges
    scored = fellegi_sunter_score(feats, fields, prior=prior)
    return scored.where(
        F.col("match_prob") >= F.lit(float(posterior_threshold))
    ).select(*id_cols, F.col("match_prob").alias("score"))


def _binary_weight_expr(fld: FSField) -> Column:
    """The per-field FS weight as a codegen when-chain (shared with
    :func:`fellegi_sunter_score`): null → 0, agree → log2(m/u),
    disagree → log2((1-m)/(1-u))."""
    return (
        F.when(F.col(fld.col).isNull(), F.lit(0.0))
        .when(F.col(fld.col).cast("int") == 1, F.lit(math.log2(fld.m / fld.u)))
        .otherwise(F.lit(math.log2((1.0 - fld.m) / (1.0 - fld.u))))
    )


def fs_edges_deferred(
    feats: DataFrame,
    add_deferred,
    deferred_col: str = "jaro_winkler",
    agree_thresholds: tuple = (0.80, 0.90, 0.80),
    posterior_threshold: float = 0.5,
    feature_cols: tuple = ("cosine", "jaro_winkler", "levenshtein"),
    id_cols: tuple = ("id_a", "id_b"),
    prior_init: float = 0.3,
    m_init: float = 0.9,
    u_init: float = 0.1,
    em_sample_mod: int = 1,
    counters: dict | None = None,
    n_pairs: int | None = None,
) -> DataFrame:
    """:func:`fs_edges_from_features` with the EXPENSIVE feature deferred:
    ``feats`` carries every feature except ``deferred_col``, and
    ``add_deferred`` (df → df) computes that column on demand — in the
    flagship this is the per-pair Python Jaro-Winkler, the engine's one
    per-pair-Python stage.

    Identical edges to the eager path at the same ``em_sample_mod``
    (pytest-pinned), computed with the deferred feature evaluated on only

    1. the EM SAMPLE (1/mod of the pairs — the fit genuinely needs all
       three agreement bits), and
    2. pairs whose CHEAP-feature weight plus the deferred field's maximum
       possible weight still reaches the posterior threshold — an exact
       upper bound in weight space (posterior is monotone in the weight),
       so dropped pairs provably cannot be edges under ANY value of the
       deferred feature.  On blocked webtext candidates the cheap
       features are cosine and JVM-codegen Levenshtein, and the bulk of
       candidates (g_cos = g_lev = 0 non-matches) never reaches Python.

    ``counters`` (optional dict) receives ``fs_pairs_total``,
    ``fs_jw_pairs`` (pairs that ran the deferred feature because the
    upper bound kept them) and ``fs_jw_sample_pairs`` (pairs that ran it
    inside the EM sample) — the no-silent-pruning audit.  Total per-pair
    Python work is sample + survivors: ~``fs_em_sample_target`` +
    decision-relevant pairs, INDEPENDENT of candidate count once the
    auto mod engages."""
    if len(agree_thresholds) != len(feature_cols):
        raise ValueError("one threshold per feature col")
    if em_sample_mod < 1:
        raise ValueError(f"em_sample_mod must be >= 1, got {em_sample_mod}")
    if deferred_col not in feature_cols:
        raise ValueError(f"{deferred_col!r} not in feature_cols")
    thresh = dict(zip(feature_cols, agree_thresholds))

    def add_g(src: DataFrame, cols) -> DataFrame:
        for c in cols:
            src = src.withColumn(
                f"g_{c}",
                F.when(F.col(c).isNull(), F.lit(None)).otherwise(
                    (F.col(c) >= F.lit(float(thresh[c]))).cast("int")
                ),
            )
        return src

    cheap_cols = [c for c in feature_cols if c != deferred_col]
    feats = materialize(add_g(feats, cheap_cols), "fs_cheap_features")
    empty_edges = feats.where(F.lit(False)).select(
        *id_cols, F.lit(0.0).alias("score")
    )

    def with_all_g(src: DataFrame) -> DataFrame:
        return add_g(add_deferred(src), [deferred_col])

    fit_src = feats
    if em_sample_mod > 1:
        fit_src = feats.where(
            F.pmod(
                F.xxhash64(*[F.col(c) for c in id_cols]),
                F.lit(int(em_sample_mod)),
            )
            == 0
        )
    g_cols = [f"g_{c}" for c in feature_cols]
    try:
        fields, prior = estimate_fs_params(
            with_all_g(fit_src), g_cols,
            prior_init=prior_init, m_init=m_init, u_init=u_init,
        )
    except ValueError as exc:
        if em_sample_mod > 1 and "empty" in str(exc):
            try:
                fields, prior = estimate_fs_params(
                    with_all_g(feats), g_cols,
                    prior_init=prior_init, m_init=m_init, u_init=u_init,
                )
            except ValueError:
                return empty_edges
        else:
            return empty_edges

    by_col = {f.col: f for f in fields}
    dfld = by_col[f"g_{deferred_col}"]
    # max weight the deferred field can contribute: agree, disagree or
    # missing (0) — whichever is largest (u > m is possible mid-EM-space)
    w_def_max = max(
        math.log2(dfld.m / dfld.u),
        math.log2((1.0 - dfld.m) / (1.0 - dfld.u)),
        0.0,
    )
    # posterior >= T  <=>  weight >= log2(T/(1-T) / prior_odds); compare
    # in weight space (posterior is monotone), small margin for float
    # association differences between the two weight expressions
    prior_odds = prior / (1.0 - prior)
    w_min = math.log2(
        posterior_threshold / (1.0 - posterior_threshold) / prior_odds
    )
    w_cheap = F.lit(0.0)
    for c in cheap_cols:
        w_cheap = w_cheap + _binary_weight_expr(by_col[f"g_{c}"])
    survivors = materialize(
        feats.where(w_cheap + F.lit(w_def_max) >= F.lit(w_min - 1e-9)),
        "fs_jw_survivors",
    )
    if counters is not None:
        # pass n_pairs when the caller already counted the candidates
        # (the pipeline's reranked-stage counter) — saves one scan job
        counters["fs_pairs_total"] = (
            n_pairs if n_pairs is not None else feats.count()
        )
        counters["fs_jw_pairs"] = survivors.count()
        counters["fs_jw_sample_pairs"] = (
            fit_src.count() if em_sample_mod > 1
            else counters["fs_pairs_total"]
        )
    scored = fellegi_sunter_score(with_all_g(survivors), fields, prior=prior)
    return scored.where(
        F.col("match_prob") >= F.lit(float(posterior_threshold))
    ).select(*id_cols, F.col("match_prob").alias("score"))


# ---------------------------------------------------------------------------
# Graded (multi-level) Fellegi-Sunter comparisons
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class FSComparison:
    """One graded comparison: ``col`` holds an integer LEVEL in
    ``0..len(m)-1`` (null = missing), by convention ordered weakest →
    strongest agreement (0 = total disagreement, top level = exact
    match — the public Splink comparison-level convention).  ``m[l]`` /
    ``u[l]`` are P(level=l | match) / P(level=l | non-match)."""

    col: str
    m: tuple
    u: tuple

    def __post_init__(self) -> None:
        if len(self.m) != len(self.u) or len(self.m) < 2:
            raise ValueError("m and u need the same length >= 2")
        for name, vec in (("m", self.m), ("u", self.u)):
            if any(not 0.0 < v < 1.0 for v in vec):
                raise ValueError(f"every {name}[l] must be in (0,1)")
            if abs(sum(vec) - 1.0) > 1e-6:
                raise ValueError(f"{name} must sum to 1, got {sum(vec)}")

    @property
    def n_levels(self) -> int:
        return len(self.m)


def fellegi_sunter_score_graded(
    pairs: DataFrame,
    comparisons: list[FSComparison],
    prior: float = 0.5,
    weight_col: str = "match_weight",
    prob_col: str = "match_prob",
) -> DataFrame:
    """Graded FS scoring: each field contributes ``log2(m[l]/u[l])`` for
    its observed level ``l`` (null level → 0).  Same posterior fold as
    the binary scorer; the per-level log weights are constant literals —
    a chain of ``when`` branches per field, pure codegen, zero shuffle."""
    if not comparisons:
        raise ValueError("comparisons must be non-empty")
    if not 0.0 < prior < 1.0:
        raise ValueError(f"prior must be in (0,1), got {prior}")
    expr = F.lit(0.0)
    for cmp_ in comparisons:
        c = F.col(cmp_.col).cast("int")
        branch = F.when(c.isNull(), F.lit(0.0))
        for lvl in range(cmp_.n_levels):
            branch = branch.when(
                c == lvl, F.lit(math.log2(cmp_.m[lvl] / cmp_.u[lvl]))
            )
        # an out-of-range level is a caller bug — surface it as null
        # (poisons the weight) rather than silently scoring 0
        expr = expr + branch.otherwise(F.lit(None).cast("double"))
    return _with_posterior(
        pairs.withColumn(weight_col, expr), prior, weight_col, prob_col
    )


def estimate_fs_graded(
    pairs: DataFrame,
    level_cols: dict,
    prior_init: float = 0.1,
    iters: int = 100,
    tol: float = 1e-9,
    init_m: list | None = None,
    init_u: list | None = None,
) -> tuple[list[FSComparison], float]:
    """EM fit of graded comparisons → (comparisons, prior).

    ``level_cols`` maps column name → number of levels.  Same scale shape
    as the binary fit: ONE Spark aggregation collapses the pair table to
    level-pattern counts (at most ``prod(L_f + 1)`` rows — tiny for the
    3-5 comparisons × 3-4 levels ER uses), then EM runs driver-side in
    numpy.  Missing (null) levels are excluded from that field's updates.

    Initialization spreads m toward HIGH levels and u toward LOW levels
    (the component convention); after convergence the label-switch
    repair enforces it: the match component must have the larger
    expected level averaged over fields, else (m,u,lam) is relabeled to
    the mirror solution (identical likelihood).
    """
    if not level_cols:
        raise ValueError("level_cols must be non-empty")
    cols = list(level_cols)
    # null sentinel OUTSIDE any plausible level encoding: coalescing to -1
    # would make a caller's accidental -1 level (a common "disagree"
    # encoding) indistinguishable from missing and silently bias the fit
    null_sent = -(2**31)
    patterns = (
        pairs.groupBy(
            *[
                F.coalesce(F.col(c).cast("int"), F.lit(null_sent)).alias(c)
                for c in cols
            ]
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    if not patterns:
        raise ValueError("pairs is empty")
    gamma = np.array([[r[c] for c in cols] for r in patterns], dtype=np.int64)
    cnt = np.array([r["cnt"] for r in patterns], dtype=np.float64)
    n_fields = len(cols)
    levels = [int(level_cols[c]) for c in cols]
    observed = gamma != null_sent
    for j, c in enumerate(cols):
        vals = gamma[observed[:, j], j]
        if len(vals) and (vals.min() < 0 or vals.max() >= levels[j]):
            raise ValueError(
                f"column {c!r} has level outside [0, {levels[j]}): "
                f"min {vals.min()}, max {vals.max()}"
            )
    eps = 1e-9
    # init: linearly increasing mass over levels for m, decreasing for u
    # (override with init_m/init_u — one distribution per field)
    if init_m is None:
        m = [
            np.arange(1, L + 1, dtype=np.float64) / (L * (L + 1) / 2)
            for L in levels
        ]
    else:
        m = [np.asarray(d, dtype=np.float64) for d in init_m]
    if init_u is None:
        u = [mm[::-1].copy() for mm in m]
    else:
        u = [np.asarray(d, dtype=np.float64) for d in init_u]
    for name, dists in (("init_m", m), ("init_u", u)):
        for j, d in enumerate(dists):
            if len(d) != levels[j] or abs(d.sum() - 1.0) > 1e-6:
                raise ValueError(
                    f"{name}[{j}] must be a {levels[j]}-level distribution"
                )
    lam = float(prior_init)
    # after the sentinel swap, gamma[obs] indexes stay valid level ids
    gamma = np.where(observed, gamma, 0)  # sentinel -> safe index, masked

    def loglik_per_pattern(dists):
        out = np.zeros(len(gamma))
        for j in range(n_fields):
            obs = observed[:, j]
            out[obs] += np.log(dists[j][gamma[obs, j]])
        return out

    for _ in range(iters):
        log_m = loglik_per_pattern(m)
        log_u = loglik_per_pattern(u)
        num = lam * np.exp(log_m)
        den = num + (1.0 - lam) * np.exp(log_u)
        resp = num / np.maximum(den, eps)
        w_match = resp * cnt
        w_non = (1.0 - resp) * cnt
        delta = 0.0
        m_new, u_new = [], []
        for j, L in enumerate(levels):
            obs = observed[:, j]
            mj = np.array(
                [
                    (w_match[obs] * (gamma[obs, j] == l)).sum()
                    for l in range(L)
                ]
            )
            uj = np.array(
                [(w_non[obs] * (gamma[obs, j] == l)).sum() for l in range(L)]
            )
            mj = np.clip(mj / max(mj.sum(), eps), eps, 1.0)
            uj = np.clip(uj / max(uj.sum(), eps), eps, 1.0)
            mj, uj = mj / mj.sum(), uj / uj.sum()
            delta = max(
                delta,
                np.abs(mj - m[j]).max(),
                np.abs(uj - u[j]).max(),
            )
            m_new.append(mj)
            u_new.append(uj)
        lam_new = float(
            min(max(w_match.sum() / cnt.sum(), eps), 1.0 - eps)
        )
        delta = max(delta, abs(lam_new - lam))
        m, u, lam = m_new, u_new, lam_new
        if delta < tol:
            break
    # label-switch repair (mirror solution has identical likelihood):
    # match component = the one expecting HIGHER levels on average
    exp_m = float(
        np.mean([(mj * np.arange(len(mj))).sum() for mj in m])
    )
    exp_u = float(
        np.mean([(uj * np.arange(len(uj))).sum() for uj in u])
    )
    if exp_m < exp_u:
        m, u, lam = u, m, 1.0 - lam
    comparisons = [
        FSComparison(col=c, m=tuple(map(float, m[j])), u=tuple(map(float, u[j])))
        for j, c in enumerate(cols)
    ]
    return comparisons, lam


def one_to_one_match(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score",
    max_rounds: int = 10,
) -> DataFrame:
    """One-to-one linkage assignment between two deduplicated sources by
    iterated mutual-best matching: each surviving pair is kept iff it is
    simultaneously its left record's best candidate and its right
    record's best candidate; matched records leave the pool and the rule
    re-applies to the remainder.

    Under the deterministic total order ``(-score, other_id)`` this
    fixpoint equals the classical GLOBAL greedy matching (sort all pairs
    by score, accept unless an endpoint is taken): the best remaining
    pair is always mutual-best, so every round accepts a prefix of the
    greedy order and at least one pair — but it needs no global sort and
    no sequential scan.  Pytest pins equality against a Python greedy
    reference on randomized inputs.

    Scale shape per round: two hash aggregates (min-struct per left id,
    min-struct per right id — never a Window, so hot candidates
    AQE-split) + one join of the two best tables + two anti-joins to
    retire matched endpoints, with a lineage cut per round like the CC
    supersteps.  Rounds needed = length of the longest "chain" of
    second-choice promotions (small on real score distributions);
    ``max_rounds`` bounds the worst case and the function raises if the
    pool is still non-empty after them, so a silent partial matching can
    never masquerade as the fixpoint.

    Null/NaN scores and null ids are dropped up front (no order against
    them).  Returns the matched pairs ``(id_a, id_b, score)``.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    remaining = materialize(
        pairs.select(
            F.col(id_a).alias("id_a"),
            F.col(id_b).alias("id_b"),
            F.col(score_col).cast("double").alias("score"),
        ).where(
            F.col("id_a").isNotNull()
            & F.col("id_b").isNotNull()
            & F.col("score").isNotNull()
            & ~F.isnan("score")
        ),
        "one_to_one_pool",
    )
    spark = pairs.sparkSession
    matched = spark.createDataFrame([], "id_a string, id_b string, score double")
    matched = matched.select(
        F.col("id_a").cast(remaining.schema["id_a"].dataType).alias("id_a"),
        F.col("id_b").cast(remaining.schema["id_b"].dataType).alias("id_b"),
        "score",
    )
    for _ in range(max_rounds):
        if remaining.isEmpty():
            return matched
        best_a = remaining.groupBy("id_a").agg(
            F.min(F.struct(-F.col("score"), F.col("id_b"))).alias("_k")
        )
        best_b = remaining.groupBy("id_b").agg(
            F.min(F.struct(-F.col("score"), F.col("id_a"))).alias("_k")
        )
        # join-based mutual check: a pair survives iff it reproduces both
        # endpoints' min-struct keys
        mutual = (
            remaining.alias("r")
            .join(best_a.alias("ba"), "id_a")
            .where(
                F.struct(-F.col("r.score"), F.col("r.id_b"))
                == F.col("ba._k")
            )
            .join(best_b.alias("bb"), "id_b")
            .where(
                F.struct(-F.col("r.score"), F.col("r.id_a"))
                == F.col("bb._k")
            )
            .select("id_a", "id_b", F.col("r.score").alias("score"))
        )
        matched = materialize(matched.unionByName(mutual), "one_to_one_matched")
        taken = matched
        remaining = materialize(
            remaining.join(taken.select("id_a"), "id_a", "left_anti")
            .join(taken.select("id_b"), "id_b", "left_anti")
            .select("id_a", "id_b", "score"),
            "one_to_one_pool",
        )
    if not remaining.isEmpty():
        raise RuntimeError(
            f"one_to_one_match did not exhaust the pair pool in {max_rounds} rounds"
        )
    return matched


def stable_entity_ids(
    prev: DataFrame,
    cur: DataFrame,
    id_col: str = "id",
    entity_col: str = "entity_id",
    cluster_col: str = "component",
    mint_prefix: str = "new:",
    max_rounds: int = 10,
) -> DataFrame:
    """Persistent entity identity across clustering runs: component labels
    (min-id by convention) are UNSTABLE — adding one page can relabel a
    10^6-member cluster — but downstream consumers key golden records,
    split assignments and caches on the ENTITY.  This maps today's
    components onto yesterday's entity ids by member overlap:

    1. overlap counts = one inner join on the record id + one hash
       aggregate per (component, entity_id) — cost scales with records
       shared between runs, never with the cluster-pair cross product;
    2. components and old entities are matched ONE-TO-ONE on overlap
       count via :func:`one_to_one_match` (greedy-equivalent,
       deterministic ties by entity/component label) — plurality overlap
       decides splits and merges: the bigger fragment keeps the id, the
       smaller mints fresh;
    3. unmatched components mint ``mint_prefix + component`` —
       deterministic and stable for re-runs of the same day.  Callers
       that re-mint across many generations and need global uniqueness
       should fold a run stamp into ``mint_prefix``; inherited ids are
       never rewritten.

    ``prev`` is ``(id, entity_id)``; ``cur`` is ``(id, component)``.
    Returns ``(id, entity_id)`` covering every current record.
    """
    p = prev.select(
        F.col(id_col).alias("id"), F.col(entity_col).alias("_prev_e")
    )
    c = cur.select(
        F.col(id_col).alias("id"), F.col(cluster_col).alias("_comp")
    )
    counts = (
        c.join(p, "id")
        .groupBy("_comp", "_prev_e")
        .agg(F.count(F.lit(1)).cast("double").alias("_overlap"))
    )
    assign = one_to_one_match(
        counts,
        id_a="_comp",
        id_b="_prev_e",
        score_col="_overlap",
        max_rounds=max_rounds,
    ).select(F.col("id_a").alias("_comp"), F.col("id_b").alias("_e"))
    return c.join(assign, "_comp", "left").select(
        "id",
        F.coalesce(
            F.col("_e"),
            F.concat(F.lit(mint_prefix), F.col("_comp").cast("string")),
        ).alias(entity_col),
    )
