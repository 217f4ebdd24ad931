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

Exactness: features and score cutoffs are per-doc or per-pair, and so
are the ``mh*:`` (MinHash band) and ``snp:`` (sorted-neighborhood
prefix) block keys.  The two ``sn:`` window keys are NOT:
``sorted_neighborhood_keys`` numbers each doc with ``row_number`` over
its input population, so the reference's windows are numbered over the
previous corpus and the delta's over the delta, not over the union.
The block-size cap depends on the population too:

* new-vs-reference pairs are capped on the UNION block size (reference +
  delta rows), which is the cap a from-scratch run over the union applies;
* new-vs-new pairs come from ``run_pipeline`` on the delta alone, so they
  are capped on the delta's block size;
* old-old pairs stay inside the previous components, capped on the
  previous run's block size.

So the candidate/edge set over day1 ∪ day2 decomposes into (old-old) ∪
(new-vs-ref) ∪ (new-vs-new) exactly only where no ``sn:`` window pair
and no capped key differ between the runs.  On the pinned corpora (the
pytest day-2 tests and the q93 oracle) the incremental clustering is
byte-identical to a from-scratch ``run_pipeline`` over the union; a
capped hot block is an explicit recall trade either way (audit via
``blocks_dropped``).

Wall-clock scales with the DELTA (delta², really, bounded by blocking)
plus one semi/anti-join pass over the previous assignment — never with
the corpus edge history.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from semantic_entity_matching_spark.operators.cluster import update_components
from semantic_entity_matching_spark.plans.checkpoint import materialize_observed
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
    is built here, which re-embeds the reference corpus and erases most
    of the delta-cost advantage.

    Blended scoring only: the cross edges come from the blended
    :class:`ReferenceIndex`, and FS parameters are fit per population,
    so any other ``config.scoring`` raises before any job."""
    cfg = config or MatchConfig()
    id_col = cfg.id_col
    if cfg.scoring != "blended":
        # the cross edges are scored by the (blended-only) ReferenceIndex:
        # an FS delta run would mix two edge rules in one clustering
        raise ValueError(
            f"run_incremental supports scoring='blended' only, got {cfg.scoring!r}"
        )

    if index is None:
        index = ReferenceIndex(prev_pages, cfg, provider)
    cross, seen = materialize_observed(
        match_edges(new_pages, index).select("id_a", "id_b"),
        "incremental_cross_edges",
        None,
        {"incremental_cross_edges": F.count(F.lit(1))},
    )
    intra_res = run_pipeline(new_pages, cfg, provider=provider)
    assignments = update_components(
        prev_clusters,
        cross.unionByName(intra_res.edges.select("id_a", "id_b")),
        new_ids=new_pages.select(F.col(id_col).alias("id")),
    )
    counters = {
        **intra_res.counters,
        **seen,
        "incremental_intra_edges": intra_res.counters["edges_emitted"],
    }

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
