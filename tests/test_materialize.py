"""The one lineage-cut helper, ``plans.checkpoint.materialize``: every cut
in the package goes through it, it runs its job at call time under its
own name, and the snapshot and in-memory policies give the same rows."""

from __future__ import annotations

import ast
import pathlib
import random

import pytest

import semantic_entity_matching_spark
from semantic_entity_matching_spark.operators.cluster import (
    CC_CHECKPOINT_TABLE,
    connected_components,
    update_components,
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
