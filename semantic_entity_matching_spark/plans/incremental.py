"""The day-2 production loop: fold a batch of new pages into an existing
clustered corpus WITHOUT re-running the flagship pipeline over the
corpus history.

A 10^12-page corpus is not re-clustered nightly; each crawl delta is.
``run_incremental`` composes the incremental operators end-to-end:

1. **new-vs-reference edges** — the new batch blocks and scores against
   the previous corpus through
   :func:`~semantic_entity_matching_spark.streaming.incremental_match.match_edges`
   (EVERY qualifying edge, not best-per-page: a new page bridging two old
   components is merge evidence best-only would drop);
2. **new-vs-new edges** — the flagship pipeline runs on the delta alone
   (:func:`~semantic_entity_matching_spark.plans.pipeline.run_pipeline`);
3. **cluster maintenance** —
   :func:`~semantic_entity_matching_spark.operators.cluster.update_components`
   folds both edge sets into the previous ``(id, component)`` assignment,
   provably equal to re-running CC over the full edge history;
4. **identity persistence** — optionally,
   :func:`~semantic_entity_matching_spark.operators.resolve.stable_entity_ids`
   carries the previous run's entity ids onto the updated clustering.

Exactness: block keys, features and score cutoffs are all PER-DOC or
PER-PAIR, so the candidate/edge set over day1 ∪ day2 decomposes exactly
into (old-old: already inside the previous components) ∪ (new-vs-ref) ∪
(new-vs-new) — the incremental clustering is byte-identical to a
from-scratch ``run_pipeline`` over the union (pytest-pinned), PROVIDED
block caps don't bind differently across the two runs (a capped hot
block drops pairs population-dependently; at production scale caps are
an explicit recall trade either way — audit via ``blocks_dropped``).

Wall-clock scales with the DELTA (delta², really, bounded by blocking)
plus one semi/anti-join pass over the previous assignment — never with
the corpus edge history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from semantic_entity_matching_spark.operators.cluster import update_components
from semantic_entity_matching_spark.plans.checkpoint import materialize
from semantic_entity_matching_spark.plans.pipeline import (
    MatchConfig,
    run_pipeline,
)
from semantic_entity_matching_spark.streaming.incremental_match import (
    ReferenceIndex,
    match_edges,
)


@dataclass
class IncrementalResult:
    clusters: DataFrame          # (id, component) over old ∪ new ids
    entities: DataFrame | None   # (id, entity_id) when prev_entities given
    counters: dict


def run_incremental(
    prev_pages: DataFrame,
    prev_clusters: DataFrame,
    new_pages: DataFrame,
    config: MatchConfig | None = None,
    provider=None,
    prev_entities: DataFrame | None = None,
    index: ReferenceIndex | None = None,
) -> IncrementalResult:
    """Fold ``new_pages`` into the clustering ``prev_clusters`` (an
    ``(id, component)`` assignment over ``prev_pages``); see module
    docstring.  ``prev_entities`` — the previous ``(id, entity_id)``
    map — additionally produces a stable-entity-id assignment for the
    updated clustering.

    ``index``: a prebuilt :class:`ReferenceIndex` over ``prev_pages``.
    In production this is YESTERDAY'S persisted artifact (features +
    block keys written by the previous run) — pass it and the delta fold
    never recomputes a single reference embedding; without it the index
    is built (and unpersisted) here, which re-embeds the reference
    corpus and erases most of the delta-cost advantage."""
    cfg = config or MatchConfig()
    id_col = cfg.id_col

    own_index = index is None
    if own_index:
        index = ReferenceIndex(prev_pages, cfg, provider)
    try:
        # lineage cut: the cross-edge set feeds both the CC delta and a
        # counter job — don't score the batch twice
        cross = materialize(
            match_edges(new_pages, index).select("id_a", "id_b"),
            "incremental_cross_edges",
        )
        intra_res = run_pipeline(new_pages, cfg, provider=provider)
        intra = intra_res.edges.select("id_a", "id_b")
        delta = cross.unionByName(intra)
        new_ids = new_pages.select(F.col(id_col).alias("id"))
        assignments = update_components(
            prev_clusters, delta, new_ids=new_ids
        )
    finally:
        if own_index:
            index.unpersist()

    counters = dict(intra_res.counters)
    counters["incremental_cross_edges"] = cross.count()
    counters["incremental_intra_edges"] = intra.count()

    entities = None
    if prev_entities is not None:
        from semantic_entity_matching_spark.operators.resolve import (
            stable_entity_ids,
        )

        entities = stable_entity_ids(
            prev_entities, assignments, id_col="id",
            cluster_col="component",
        )
    return IncrementalResult(
        clusters=assignments, entities=entities, counters=counters
    )
