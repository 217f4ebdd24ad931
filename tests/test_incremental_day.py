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


def _final_plans(spark, action) -> list:
    """The final physical plan, one list of tree lines each, of every SQL
    execution ``action`` runs, read from the session's SQL status store."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    last = max((e.executionId() for e in executions()), default=-1)
    previous = spark.conf.get("spark.sql.ui.explainMode")
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    try:
        action()
    finally:
        spark.conf.set("spark.sql.ui.explainMode", previous)
    plans = []
    for e in executions():
        if e.executionId() <= last:
            continue
        plan = e.physicalPlanDescription()
        if "== Final Plan ==" in plan:  # adaptive: drop the initial plan
            plan = plan.split("== Final Plan ==", 1)[1]
            plan = plan.split("== Initial Plan ==", 1)[0]
        plans.append(plan.splitlines())
    return plans


def test_incremental_runs_each_udf_once(spark):
    """A micro-batch evaluates each Python UDF in one plan node: the batch
    embedding, the cosine and Jaro-Winkler each once, the unread
    canonical-text render never, and JW only above the Levenshtein bound
    (the bound prunes before any JW call)."""
    from semantic_entity_matching_spark.streaming.incremental_match import (
        ReferenceIndex,
        match_batch,
        match_edges,
    )

    pages, _ = synth_webpages(spark, SynthConfig(n_entities=6, seed=1))
    day1, day2 = _split(pages)
    index = ReferenceIndex(day1, MatchConfig())
    for run in (
        lambda: match_edges(day2, index).collect(),
        lambda: match_batch(day2, index).collect(),
    ):
        plans = _final_plans(spark, run)
        nodes = [
            (plan, i)
            for plan in plans
            for i, line in enumerate(plan)
            if "ArrowEvalPython [" in line
        ]

        def evaluating(udf):
            return [(p, i) for p, i in nodes if f"{udf}(" in p[i]]

        for udf in ("_embed", "_cosine_batch", "jaro_winkler_udf"):
            assert len(evaluating(udf)) == 1, (udf, [p[i] for p, i in nodes])
        assert evaluating("_extract") == []
        plan, i = evaluating("jaro_winkler_udf")[0]
        depth = plan[i].index("ArrowEvalPython")
        below = []
        for line in plan[i + 1:]:
            if len(line) - len(line.lstrip(" :+-|")) <= depth:
                break
            below.append(line)
        assert any("levenshtein(" in line and ">=" in line for line in below), plan


def test_incremental_cross_pairs_capped_on_union_block_size(spark):
    """A key whose union size (reference + batch rows) is over
    max_block_size yields no new-vs-reference pair, as a from-scratch run
    over the union drops it, even where each side alone is within the
    cap; every cross edge that shares a key within the cap is kept."""
    from semantic_entity_matching_spark.operators.pairs import PairGenConfig
    from semantic_entity_matching_spark.streaming.incremental_match import (
        ReferenceIndex,
        match_edges,
    )

    cap = 20
    pages, _ = synth_webpages(
        spark, SynthConfig(n_entities=12, seed=8, hot_boilerplate_rows=26)
    )
    pages = pages.cache()
    pages.count()
    day1, day2 = _split(pages)
    capped = MatchConfig(pairgen=PairGenConfig(max_block_size=cap))
    index = ReferenceIndex(day1, capped)

    def keys(blocks):
        out = {}
        for r in blocks.collect():
            out.setdefault(r["url"], set()).add(r["block_key"])
        return out

    def sizes(by_id):
        n = {}
        for ks in by_id.values():
            for k in ks:
                n[k] = n.get(k, 0) + 1
        return n

    ref_keys = keys(index.blocks)
    new_keys = keys(ReferenceIndex(day2, capped).blocks)
    ref_n, new_n = sizes(ref_keys), sizes(new_keys)
    union_n = {k: ref_n[k] + new_n[k] for k in ref_n.keys() & new_n.keys()}
    # the corpus exercises the union rule: keys over the cap on the union
    # whose batch side, and reference side, is each within it
    assert any(
        n > cap and new_n[k] <= cap and ref_n[k] <= cap
        for k, n in union_n.items()
    )

    def edges(idx):
        return {
            (r["id_a"], r["id_b"], r["score"])
            for r in match_edges(day2, idx).collect()
        }

    wide = MatchConfig(pairgen=PairGenConfig(max_block_size=10_000))
    uncapped = edges(ReferenceIndex(day1, wide))
    lost = {
        e for e in uncapped
        if all(union_n[k] > cap for k in new_keys[e[0]] & ref_keys[e[1]])
    }
    assert lost
    assert edges(index) == uncapped - lost
    pages.unpersist()
