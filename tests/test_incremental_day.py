"""Day-2 incremental loop == from-scratch batch run (the exactness
contract that makes delta processing usable)."""
from pyspark.sql import functions as F

from semantic_entity_matching_spark.plans.incremental import run_incremental
from semantic_entity_matching_spark.plans.pipeline import (
    MatchConfig,
    run_pipeline,
)
from semantic_entity_matching_spark.sources.synth import (
    SynthConfig,
    synth_webpages,
)


def _split(pages, id_col="url"):
    day1 = pages.where(F.conv(F.substring(F.md5(id_col), 1, 2), 16, 10) < 160)
    day2 = pages.subtract(day1)
    return day1, day2


def test_incremental_equals_full_recompute(spark):
    pages, _ = synth_webpages(
        spark, SynthConfig(n_entities=30, seed=21, null_text_rows=3)
    )
    pages = pages.cache()
    pages.count()
    cfg = MatchConfig()
    day1, day2 = _split(pages)

    full = {
        (r["id"], r["component"])
        for r in run_pipeline(pages, cfg).clusters.collect()
    }
    base = run_pipeline(day1, cfg)
    inc = run_incremental(day1, base.clusters, day2, cfg)
    got = {(r["id"], r["component"]) for r in inc.clusters.collect()}
    assert got == full
    assert inc.counters["incremental_cross_edges"] >= 0
    pages.unpersist()


def test_incremental_with_entity_persistence(spark):
    pages, _ = synth_webpages(spark, SynthConfig(n_entities=20, seed=33))
    pages = pages.cache()
    pages.count()
    cfg = MatchConfig()
    day1, day2 = _split(pages)

    base = run_pipeline(day1, cfg)
    prev_entities = base.clusters.select(
        "id", F.concat(F.lit("ENT-"), F.col("component")).alias("entity_id")
    )
    inc = run_incremental(
        day1, base.clusters, day2, cfg, prev_entities=prev_entities
    )
    ents = {r["id"]: r["entity_id"] for r in inc.entities.collect()}
    clus = {r["id"]: r["component"] for r in inc.clusters.collect()}
    # every record of the union carries an entity id
    assert set(ents) == set(clus)
    # entity ids are constant within a component
    by_comp = {}
    for rid, comp in clus.items():
        by_comp.setdefault(comp, set()).add(ents[rid])
    assert all(len(v) == 1 for v in by_comp.values())
    # a day-1 record whose cluster did not change keeps its old entity id
    unchanged = [
        rid for rid, comp in clus.items() if f"ENT-{comp}" in set(ents.values())
    ]
    assert any(ents[rid].startswith("ENT-") for rid in unchanged)
    pages.unpersist()


def test_incremental_empty_delta(spark):
    pages, _ = synth_webpages(spark, SynthConfig(n_entities=10, seed=5))
    pages = pages.cache()
    pages.count()
    cfg = MatchConfig()
    base = run_pipeline(pages, cfg)
    inc = run_incremental(pages, base.clusters, pages.limit(0), cfg)
    got = {(r["id"], r["component"]) for r in inc.clusters.collect()}
    want = {(r["id"], r["component"]) for r in base.clusters.collect()}
    assert got == want
    assert inc.counters["incremental_cross_edges"] == 0
    assert inc.counters["incremental_intra_edges"] == 0
    pages.unpersist()


def test_incremental_rejects_fellegi_sunter_before_any_job(spark):
    """FS parameters are fit per candidate population, so new-vs-reference
    edges cannot be FS-exact: the reference index refuses any scoring but
    'blended' instead of silently scoring cross edges with the blended
    rule, and it refuses before running a job; so does the day-2 loop,
    even with a prebuilt blended index."""
    import pytest

    from semantic_entity_matching_spark.streaming.incremental_match import (
        ReferenceIndex,
    )

    pages, _ = synth_webpages(spark, SynthConfig(n_entities=4, seed=3))
    cfg = MatchConfig(scoring="fellegi_sunter")
    blended_index = ReferenceIndex(pages, MatchConfig())
    sc = spark.sparkContext
    group = "reference-index-fs"
    sc.setJobGroup(group, "reference index")
    try:
        with pytest.raises(ValueError, match="blended"):
            ReferenceIndex(pages, cfg)
        with pytest.raises(ValueError, match="blended"):
            run_incremental(pages, pages.select("url"), pages, cfg)
        # a prebuilt blended index does not let an FS delta run through
        with pytest.raises(ValueError, match="blended"):
            run_incremental(
                pages, pages.select("url"), pages, cfg, index=blended_index
            )
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc._jsc.clearJobGroup()
        blended_index.unpersist()
