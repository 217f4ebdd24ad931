"""The one lineage-cut helper, ``plans.checkpoint.materialize``: every cut
in the package goes through it, it runs its job at call time under its
own name, and the snapshot and in-memory policies give the same rows."""

from __future__ import annotations

import ast
import pathlib
import random

import pytest

import semantic_entity_matching_spark
from semantic_entity_matching_spark.operators.blocking import sn_short_key_audit
from semantic_entity_matching_spark.operators.cluster import (
    CC_CHECKPOINT_TABLE,
    connected_components,
    update_components,
)
from semantic_entity_matching_spark.operators.pairs import (
    PairGenConfig,
    dropped_blocks_audit,
)
from semantic_entity_matching_spark.plans.checkpoint import (
    CheckpointManager,
    materialize,
)
from semantic_entity_matching_spark.plans.pipeline import MatchConfig, run_pipeline
from semantic_entity_matching_spark.sources.synth import SynthConfig, synth_webpages

PACKAGE = pathlib.Path(semantic_entity_matching_spark.__file__).parent


def _job_descriptions(sc, group: str) -> list:
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        d = store.job(job_id).description()
        out.append(d.get() if d.isDefined() else None)
    return out


@pytest.mark.parametrize("policy", ["memory", "snapshot"])
def test_materialize_runs_named_job_at_call_time(spark, tmp_path, policy):
    sc = spark.sparkContext
    group = f"materialize-{policy}"
    sc.setJobGroup(group, "outer")
    try:
        # narrow on purpose: a shuffle would run its map stage under AQE
        # even for a lazy cut
        df = spark.range(200).selectExpr("id", "id % 7 AS k")
        assert _job_descriptions(sc, group) == []
        cp = CheckpointManager(str(tmp_path), spark) if policy == "snapshot" else None
        out = materialize(df, "the_cut", cp)
        # the cut's jobs ran inside the call, before anything read `out`,
        # under the cut's name; the caller's description and group are back
        descriptions = _job_descriptions(sc, group)
        assert descriptions and set(descriptions) == {"the_cut"}
        assert sc.getLocalProperty("spark.job.description") == "outer"
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
        assert cp is None or cp.exists("the_cut")
    finally:
        sc._jsc.clearJobGroup()


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a string, id_b string")


def _random_pairs(seed: int, n_nodes: int, n_edges: int) -> list:
    rng = random.Random(seed)
    return [
        (f"n{rng.randrange(n_nodes):03d}", f"n{rng.randrange(n_nodes):03d}")
        for _ in range(n_edges)
    ]


def _run_pipeline(spark, cp):
    pages, _ = synth_webpages(spark, SynthConfig(n_entities=12, seed=5))
    res = run_pipeline(pages, MatchConfig(), checkpoint=cp)
    return sorted(map(tuple, res.clusters.collect())), res.counters


def _connected_components(spark, cp):
    cc = connected_components(
        _edges(spark, _random_pairs(1, 60, 45)), checkpoint=cp, n_edges=None
    )
    return sorted(map(tuple, cc.collect()))


def _update_components(spark, cp):
    base = connected_components(_edges(spark, _random_pairs(2, 60, 30)))
    upd = update_components(
        base, _edges(spark, _random_pairs(3, 80, 15)), checkpoint=cp
    )
    return sorted(map(tuple, upd.collect()))


@pytest.mark.parametrize(
    "operator, table",
    [
        (_run_pipeline, "clusters"),
        (_connected_components, CC_CHECKPOINT_TABLE),
        (_update_components, CC_CHECKPOINT_TABLE),
    ],
    ids=["run_pipeline", "connected_components", "update_components"],
)
def test_operators_identical_under_both_cut_policies(spark, tmp_path, operator, table):
    in_memory = operator(spark, None)
    cp = CheckpointManager(str(tmp_path), spark)
    snapshots = operator(spark, cp)
    assert cp.exists(table)  # the snapshot policy really ran
    assert snapshots == in_memory


def _materialize_lines() -> range:
    path = PACKAGE / "plans" / "checkpoint.py"
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.FunctionDef) and node.name == "materialize":
            return range(node.lineno, node.end_lineno + 1)
    raise AssertionError("plans/checkpoint.py defines no materialize")


def test_local_checkpoint_only_inside_materialize():
    """Every lineage cut goes through the helper: the only
    ``localCheckpoint(`` in the package is its own, and no cut is lazy."""
    helper = _materialize_lines()
    outside, lazy = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if "localCheckpoint(" in line and not (
                rel == "plans/checkpoint.py" and lineno in helper
            ):
                outside.append((rel, lineno))
            if "eager=False" in line:
                lazy.append((rel, lineno))
    assert outside == [] and lazy == [], (outside, lazy)


def test_no_cache_or_persist_in_package():
    """Tables the engine keeps are cuts, not storage-level caches: no
    ``.cache()`` or ``.persist(`` in the package, except the lexical
    search registry (operators/search.py) that a lexical index handle
    is to replace."""
    found = [
        (path.relative_to(PACKAGE).as_posix(), lineno)
        for path in sorted(PACKAGE.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if ".cache()" in line or ".persist(" in line
    ]
    assert [rel for rel, _ in found] == ["operators/search.py"], found


def test_blended_score_has_one_call_site():
    """The blended rule is written once: the only ``blended_score(`` call
    in the package is the rerank stage's (pipeline.rerank_pairs)."""
    calls = [
        (path.relative_to(PACKAGE).as_posix(), lineno)
        for path in sorted(PACKAGE.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if "blended_score(" in line and not line.lstrip().startswith("def ")
    ]
    assert [rel for rel, _ in calls] == ["plans/pipeline.py"], calls


def test_cosine_udf_has_two_call_sites():
    """The per-pair cosine UDF is called in two places: the pair scorer
    (pipeline.score_pairs) and the kNN tail that LSH and IVF share
    (ann._knn_tail).  Brute-force kNN scores inside its own corpus scan."""
    import inspect

    from semantic_entity_matching_spark.operators import ann
    from semantic_entity_matching_spark.plans import pipeline

    calls = [
        (path.relative_to(PACKAGE).as_posix(), lineno)
        for path in sorted(PACKAGE.rglob("*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if "cosine_udf(" in line and not line.lstrip().startswith("def ")
    ]
    assert [rel for rel, _ in calls] == ["operators/ann.py", "plans/pipeline.py"], calls
    for fn in (ann._knn_tail, pipeline.score_pairs):
        assert "cosine_udf(" in inspect.getsource(fn), fn.__name__


STAGE_COUNTERS = {
    "records": "records_prepared",
    "blocks": "block_keys_emitted",
    "pairs": "pairs_generated",
    "scored": "pairs_scored",
    "reranked": "pairs_reranked",
    "edges": "edges_emitted",
    "clusters": "records_clustered",
}


@pytest.fixture(scope="module")
def hot_pages(spark):
    """Entities plus 15 identical boilerplate pages: their shared keys make
    blocks above a small ``max_block_size``."""
    pages, _ = synth_webpages(
        spark, SynthConfig(n_entities=12, seed=5, hot_boilerplate_rows=15)
    )
    return pages.cache()


@pytest.mark.parametrize(
    "config",
    [
        # the head (keys > 4) holds salted keys the cap keeps (5..10 rows)
        MatchConfig(pairgen=PairGenConfig(max_block_size=10, hot_block_threshold=4)),
        MatchConfig(scoring="fellegi_sunter"),
        # a sampled EM fit (mod > 1): JW on the sample + bound survivors
        MatchConfig(scoring="fellegi_sunter", fs_em_sample_target=200),
    ],
    ids=["blocks_dropped", "fellegi_sunter", "fellegi_sunter_sampled"],
)
def test_pipeline_counters_equal_direct_stage_counts(spark, tmp_path, hot_pages, config):
    """Every counter is its stage's row count, whether the cut's own job
    observed it (in memory) or the snapshot manifest recorded it."""
    in_memory = run_pipeline(hot_pages, config)
    cp = CheckpointManager(str(tmp_path), spark)
    snapshots = run_pipeline(hot_pages, config, checkpoint=cp)
    direct = {c: cp.read(s).count() for s, c in STAGE_COUNTERS.items()}
    direct["blocks_dropped"] = dropped_blocks_audit(
        cp.read("blocks"), config.id_col, config.pairgen
    ).count()
    for res in (in_memory, snapshots):
        assert {k: res.counters[k] for k in direct} == direct
        assert res.counters["edges_emitted"] == res.edges.count()
        assert res.counters["records_clustered"] == res.clusters.count()
    if config.scoring == "fellegi_sunter":
        direct.update(_fs_direct_counts(
            cp.read("reranked"), config, in_memory.counters["fs_em_sample_mod"]
        ))
        for res in (in_memory, snapshots):
            assert {k: res.counters[k] for k in direct} == direct
    assert in_memory.counters == snapshots.counters
    if config.pairgen.max_block_size == 10:
        assert direct["blocks_dropped"] > 0
    if config.fs_em_sample_target == 200:
        assert 1 < in_memory.counters["fs_em_sample_mod"]
        assert direct["fs_jw_pairs"] < direct["fs_pairs_total"]


def _fs_direct_counts(reranked, config, mod: int) -> dict:
    """The ``fs_*`` counters recounted from the reranked snapshot: every
    pair, the EM hash-sample, and the pairs whose cheap-feature weight
    plus the largest Jaro-Winkler weight reaches the posterior threshold
    under the sample's fit (every pair at mod 1, where nothing is
    deferred)."""
    import math

    from pyspark.sql import functions as F

    from semantic_entity_matching_spark.functions.similarity import (
        jaro_winkler_udf,
    )
    from semantic_entity_matching_spark.operators.resolve import (
        estimate_fs_params,
        fellegi_sunter_score,
    )

    feats = reranked.withColumn(
        "jaro_winkler", jaro_winkler_udf(F.col("text_a"), F.col("text_b"))
    )
    cols = ("cosine", "jaro_winkler", "levenshtein")
    for c, t in zip(cols, config.fs_agree_thresholds):
        feats = feats.withColumn(f"g_{c}", (F.col(c) >= t).cast("int"))
    sample = feats.where(F.pmod(F.xxhash64("id_a", "id_b"), F.lit(mod)) == 0)
    total = feats.count()
    if mod == 1:
        return dict.fromkeys(
            ("fs_pairs_total", "fs_jw_sample_pairs", "fs_jw_pairs"), total
        )
    (f_cos, f_jw, f_lev), prior = estimate_fs_params(
        sample, [f"g_{c}" for c in cols], prior_init=0.3, m_init=0.9, u_init=0.1
    )
    jw_max = max(
        math.log2(f_jw.m / f_jw.u), math.log2((1 - f_jw.m) / (1 - f_jw.u)), 0.0
    )
    t = config.fs_posterior
    w_min = math.log2(t / (1 - t) / (prior / (1 - prior)))
    cheap = fellegi_sunter_score(feats, [f_cos, f_lev], prior=prior)
    return {
        "fs_pairs_total": total,
        "fs_jw_sample_pairs": sample.count(),
        "fs_jw_pairs": cheap.where(
            F.col("match_weight") + jw_max >= w_min - 1e-9
        ).count(),
    }


def test_pipeline_runs_no_job_only_to_count(spark, hot_pages):
    """Every job of a run is a stage cut or the block-size head cut, named
    after it; the one other job is the driver CC fold's edge collect.  No
    job exists only to produce a counter."""
    sc = spark.sparkContext
    group = "pipeline-jobs"
    hot_pages.count()  # the input cache is not the pipeline's job
    sc.setJobGroup(group, "outer")
    try:
        run_pipeline(hot_pages, MatchConfig())
        descriptions = _job_descriptions(sc, group)
    finally:
        sc._jsc.clearJobGroup()
    cuts = set(STAGE_COUNTERS) | {"block_sizes"}
    assert [d for d in descriptions if d not in cuts] == ["outer"], descriptions


def test_sn_short_key_counter_observed_on_records_cut(spark, tmp_path, hot_pages):
    """``audit_sn_keys`` counts short SN keys on the records cut's job; the
    count equals the audit's rows in memory, in snapshots and on resume."""
    marked_up = spark.createDataFrame(
        [
            (f"https://example.org/markup/{i}", None, None,
             "!@#$%^&*() " * 120 + f"latin tail {i}", "en")
            for i in range(3)
        ],
        hot_pages.schema,
    )
    pages = hot_pages.unionByName(marked_up)
    expected = sn_short_key_audit(pages).count()
    assert expected == 3
    config = MatchConfig(audit_sn_keys=True)
    assert run_pipeline(pages, config).counters["sn_short_keyed"] == expected
    cp = CheckpointManager(str(tmp_path), spark)
    assert run_pipeline(pages, config, checkpoint=cp).counters["sn_short_keyed"] == expected
    resumed = run_pipeline(pages, config, checkpoint=cp, resume=True)
    assert resumed.counters["sn_short_keyed"] == expected
