"""End-to-end gold-pair acceptance: pairwise F1 >= 0.99 (BASELINE.json).

The synthetic corpus mirrors FIXTURES.md §1-2: seeded entities with 1-5
near-duplicate variants, hot boilerplate rows (skew), null/empty text rows
(skip path).  Gold pairs: positives = same-entity pairs, hard negatives =
cross-entity base pairs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.evaluate import (
    pairwise_metrics,
    predicted_pairs_from_clusters,
)
from semantic_entity_matching_spark.plans.checkpoint import CheckpointManager
from semantic_entity_matching_spark.plans.pipeline import (
    MatchConfig,
    run_pipeline,
)
from semantic_entity_matching_spark.sources.synth import SynthConfig, synth_webpages


@pytest.fixture(scope="module")
def corpus(spark):
    pages, gold = synth_webpages(
        spark,
        SynthConfig(n_entities=60, seed=42, hot_boilerplate_rows=40, null_text_rows=6),
    )
    return pages.cache(), gold.cache()


def test_gold_pair_f1(spark, corpus):
    pages, gold = corpus
    result = run_pipeline(pages, MatchConfig())
    pred = predicted_pairs_from_clusters(result.clusters)
    m = pairwise_metrics(pred, gold)
    assert m.f1 >= 0.99, (
        f"F1={m.f1:.4f} (p={m.precision:.4f} r={m.recall:.4f} "
        f"tp={m.true_positives} fp={m.false_positives} fn={m.false_negatives})"
    )


@pytest.mark.parametrize("seed", [13, 99])
def test_gold_pair_f1_seed_sweep(spark, seed):
    """F1 >= 0.99 must hold beyond the fixture seed — a single-seed pass
    has hidden recall bugs before (leading-token-swap variants missed by
    char-shingle LSH).  Seeds 7/42 are pinned elsewhere; this sweeps the
    remaining verify-recipe seeds on a smaller corpus."""
    pages, gold = synth_webpages(
        spark,
        SynthConfig(n_entities=30, seed=seed, hot_boilerplate_rows=15,
                    null_text_rows=3),
    )
    pages = pages.cache()
    result = run_pipeline(pages, MatchConfig())
    m = pairwise_metrics(predicted_pairs_from_clusters(result.clusters), gold)
    pages.unpersist()
    assert m.f1 >= 0.99, (
        f"seed={seed} F1={m.f1:.4f} (p={m.precision:.4f} r={m.recall:.4f})"
    )


@pytest.mark.parametrize("scheme", ["int8", "binary"])
def test_quantized_prescoring_preserves_clusters(spark, corpus, scheme):
    """MatchConfig(quantization=...) shrinks the pair-join payload but must
    not change the OUTPUT: the approximate cutoff (cutoff - margin) only
    drops pairs the exact cosine bound would also prune, and survivors are
    re-scored with exact float cosine — so edges and clusters are identical
    to the float path."""
    pages, _ = corpus
    base = run_pipeline(pages, MatchConfig())
    quant = run_pipeline(pages, MatchConfig(quantization=scheme))
    edges_f = {(r.id_a, r.id_b) for r in base.edges.collect()}
    edges_q = {(r.id_a, r.id_b) for r in quant.edges.collect()}
    assert edges_q == edges_f
    clus_f = sorted((r[0], r[1]) for r in base.clusters.collect())
    clus_q = sorted((r[0], r[1]) for r in quant.clusters.collect())
    assert clus_q == clus_f
    # and the prescore actually pruned something (payload win is real)
    assert quant.counters["pairs_scored"] <= base.counters["pairs_scored"]


def test_pipeline_counters(spark, corpus):
    pages, _ = corpus
    result = run_pipeline(pages, MatchConfig())
    c = result.counters
    assert c["pairs_generated"] > 0
    assert c["pairs_scored"] == c["pairs_generated"]
    assert 0 < c["edges_emitted"] <= c["pairs_scored"]
    # every input record lands in exactly one cluster row
    assert c["records_clustered"] == pages.count()


def test_null_and_boilerplate_rows_are_contained(spark, corpus):
    pages, _ = corpus
    result = run_pipeline(pages, MatchConfig())
    # null/empty-text urls must be singletons (no keys -> no pairs)
    empties = result.clusters.where(F.col("id").startswith("https://example.org/empty/"))
    assert empties.where(F.col("id") != F.col("component")).count() == 0
    # boilerplate rows all share identical text -> they may cluster together,
    # but must never contaminate entity clusters
    mixed = (
        result.clusters.where(F.col("id").startswith("https://example.org/boilerplate/"))
        .join(
            result.clusters.where(F.col("id").startswith("https://example.org/e")),
            "component",
        )
        .count()
    )
    assert mixed == 0


def test_checkpoint_resume(spark, corpus, tmp_path):
    pages, gold = corpus
    cp1 = CheckpointManager(str(tmp_path / "run"), spark)
    r1 = run_pipeline(pages, MatchConfig(), checkpoint=cp1)
    baseline = {(r["id"], r["component"]) for r in r1.clusters.collect()}

    # simulate a kill after the 'scored' stage: drop later stage snapshots
    import shutil

    for stage in ("edges", "clusters", "cc_edges"):
        shutil.rmtree(tmp_path / "run" / stage, ignore_errors=True)

    cp2 = CheckpointManager(str(tmp_path / "run"), spark)
    r2 = run_pipeline(pages, MatchConfig(), checkpoint=cp2, resume=True)
    resumed = {(r["id"], r["component"]) for r in r2.clusters.collect()}
    assert resumed == baseline
    # resumed run reused the committed pair counts (lineage preserved)
    assert r2.counters["pairs_generated"] == r1.counters["pairs_generated"]
    # manifests carry the counters (Iceberg snapshot-property analog): a
    # stage's counter is its snapshot's row count
    assert cp2.manifest("pairs")["rows"] == r1.counters["pairs_generated"] > 0


def test_checkpoint_resume_fs_mode(spark, corpus, tmp_path):
    """Kill-and-resume must also hold in FS mode with the deferred-JW
    path forced on: the edges stage (EM fit + deferred JW) re-runs from
    the committed reranked snapshot, and resuming from a COMPLETE run
    replays every stage from disk without re-fitting (counters intact,
    no fs_* counters re-emitted — documented resume behavior)."""
    import shutil

    pages, _ = corpus
    cfg = MatchConfig(
        scoring="fellegi_sunter", fs_defer_jw=True, fs_em_sample_target=200
    )
    cp1 = CheckpointManager(str(tmp_path / "fsrun"), spark)
    r1 = run_pipeline(pages, cfg, checkpoint=cp1)
    baseline = {(r["id"], r["component"]) for r in r1.clusters.collect()}
    assert r1.counters["fs_em_sample_mod"] > 1  # deferral engaged

    # kill after 'reranked': edges + clusters re-run, EM re-fits on the
    # identical hash-sample -> identical edges -> identical clusters
    for stage in ("edges", "clusters", "cc_edges"):
        shutil.rmtree(tmp_path / "fsrun" / stage, ignore_errors=True)
    cp2 = CheckpointManager(str(tmp_path / "fsrun"), spark)
    r2 = run_pipeline(pages, cfg, checkpoint=cp2, resume=True)
    assert {(r["id"], r["component"]) for r in r2.clusters.collect()} == baseline
    assert r2.counters["fs_jw_pairs"] == r1.counters["fs_jw_pairs"]

    # full resume: every stage replays from disk
    cp3 = CheckpointManager(str(tmp_path / "fsrun"), spark)
    r3 = run_pipeline(pages, cfg, checkpoint=cp3, resume=True)
    assert {(r["id"], r["component"]) for r in r3.clusters.collect()} == baseline
    assert r3.counters["edges_emitted"] == r1.counters["edges_emitted"]


def test_resume_after_killed_fresh_run_ignores_older_snapshots(spark, tmp_path):
    """A fresh (resume=False) run into a checkpoint dir that holds an
    earlier run's snapshots, killed before its clusters commit, must not
    leave that earlier run's later stages to be resumed: resume=True
    returns exactly what an uninterrupted run on the new input returns."""
    from semantic_entity_matching_spark.plans.reporting import NullReporter

    class KillAt(NullReporter):
        def on_message(self, *messages: str) -> None:
            if messages == ("stage clusters",):
                raise KeyboardInterrupt("killed before the clusters stage")

    base = str(tmp_path / "run")
    old_pages, _ = synth_webpages(spark, SynthConfig(n_entities=10, seed=1))
    run_pipeline(old_pages, MatchConfig(), checkpoint=CheckpointManager(base, spark))

    pages, _ = synth_webpages(spark, SynthConfig(n_entities=12, seed=2))
    pages = pages.cache()
    with pytest.raises(KeyboardInterrupt):
        run_pipeline(
            pages, MatchConfig(), checkpoint=CheckpointManager(base, spark),
            reporter=KillAt(),
        )
    resumed = run_pipeline(
        pages, MatchConfig(), checkpoint=CheckpointManager(base, spark),
        resume=True,
    )
    fresh = run_pipeline(pages, MatchConfig())
    got = sorted(tuple(r) for r in resumed.clusters.collect())
    assert got == sorted(tuple(r) for r in fresh.clusters.collect())
    assert {r[0] for r in got} == {r["url"] for r in pages.select("url").collect()}
    pages.unpersist()


def test_reporter_receives_stage_narrative(spark):
    """IReporter surface (reference lib/interfaces.py:11-31): stage messages,
    start/on/stop progress — wired through run_pipeline."""
    from semantic_entity_matching_spark.plans.pipeline import (
        MatchConfig,
        N_PIPELINE_STAGES,
        run_pipeline,
    )
    from semantic_entity_matching_spark.plans.reporting import LoggingReporter
    from semantic_entity_matching_spark.sources.synth import (
        SynthConfig,
        synth_webpages,
    )

    pages, _ = synth_webpages(spark, SynthConfig(n_entities=8, seed=7))
    rep = LoggingReporter(stream=open("/dev/null", "w"))
    run_pipeline(pages, MatchConfig(), reporter=rep)
    assert rep.total == N_PIPELINE_STAGES
    stage_msgs = [m for m in rep.messages if m.startswith("stage ")]
    for name in ("records", "blocks", "pairs", "scored", "reranked", "edges",
                 "clusters"):
        assert any(m == f"stage {name}" for m in stage_msgs), name
    assert any(m.startswith("done in") for m in rep.messages)
    counter_msgs = [m for m in rep.messages if "records_prepared=" in m]
    assert counter_msgs


def test_checkpoint_manifest_partition_lineage(spark, tmp_path):
    """Every committed snapshot carries per-data-file record counts (the
    Iceberg manifest-entry granularity) that sum to the row total."""
    from semantic_entity_matching_spark.plans.checkpoint import CheckpointManager

    cp = CheckpointManager(str(tmp_path / "cp"), spark)
    df = spark.range(1000).repartition(4)
    m = cp.write("t", df)
    assert m["rows"] == 1000
    assert len(m["partition_rows"]) == 4
    assert sum(m["partition_rows"].values()) == 1000
    # manifest round-trips from disk identically
    assert cp.manifest("t")["partition_rows"] == m["partition_rows"]


def test_fs_scoring_unsupervised_f1(spark, corpus):
    """scoring='fellegi_sunter': UNSUPERVISED edges — EM fits m/u/prior on
    the blocked candidate population, no hand-set match_threshold — must
    still hit the F1 gate on the gold pairs, and the quantized-prescore
    combination is rejected (it would skew the u estimate)."""
    pages, gold = corpus
    result = run_pipeline(pages, MatchConfig(scoring="fellegi_sunter"))
    m = pairwise_metrics(predicted_pairs_from_clusters(result.clusters), gold)
    assert m.f1 >= 0.99, (
        f"FS F1={m.f1:.4f} (p={m.precision:.4f} r={m.recall:.4f} "
        f"tp={m.true_positives} fp={m.false_positives} fn={m.false_negatives})"
    )
    # posterior scores are probabilities
    row = result.edges.agg(
        F.min("score").alias("lo"), F.max("score").alias("hi")
    ).collect()[0]
    assert 0.5 <= row["lo"] and row["hi"] <= 1.0

    with pytest.raises(ValueError, match="quantization"):
        run_pipeline(pages, MatchConfig(scoring="fellegi_sunter",
                                        quantization="int8"))
    with pytest.raises(ValueError, match="scoring"):
        run_pipeline(pages, MatchConfig(scoring="nonsense"))


def test_fs_scoring_empty_input(spark, corpus):
    pages, _ = corpus
    result = run_pipeline(pages.limit(0), MatchConfig(scoring="fellegi_sunter"))
    assert result.clusters.count() == 0
    assert result.counters["edges_emitted"] == 0


def test_fs_defer_jw_identical_clusters_and_prunes(spark, corpus):
    """Deferred-JW FS must produce the same clusters as the eager path,
    the counters must prove Python JW ran on a strict subset of the
    candidates, and the auto default defers exactly when the EM sample
    mod engages."""
    pages, gold = corpus
    res_d = run_pipeline(
        pages, MatchConfig(scoring="fellegi_sunter", fs_defer_jw=True)
    )
    res_e = run_pipeline(
        pages, MatchConfig(scoring="fellegi_sunter", fs_defer_jw=False)
    )
    d = {(r["id"], r["component"]) for r in res_d.clusters.collect()}
    e = {(r["id"], r["component"]) for r in res_e.clusters.collect()}
    assert d == e
    assert res_d.counters["fs_jw_pairs"] < res_d.counters["fs_pairs_total"], (
        res_d.counters
    )
    m = pairwise_metrics(predicted_pairs_from_clusters(res_d.clusters), gold)
    assert m.f1 >= 0.99
    # auto (None): small corpus -> mod 1 -> eager (no defer counters);
    # tiny sample target -> mod > 1 -> deferred
    res_auto = run_pipeline(pages, MatchConfig(scoring="fellegi_sunter"))
    assert res_auto.counters["fs_em_sample_mod"] == 1
    assert "fs_jw_pairs" not in res_auto.counters
    res_auto2 = run_pipeline(
        pages,
        MatchConfig(scoring="fellegi_sunter", fs_em_sample_target=200),
    )
    assert res_auto2.counters["fs_em_sample_mod"] > 1
    assert "fs_jw_pairs" in res_auto2.counters


def test_fs_scoring_f1_with_em_sampling(spark, corpus):
    """Forcing the EM fit onto a small hash-sample (fs_em_sample_target
    far below the candidate count → auto mod > 1) must not move the F1
    gate: the fit needs pattern frequencies, not the full pair table."""
    pages, gold = corpus
    result = run_pipeline(
        pages,
        MatchConfig(scoring="fellegi_sunter", fs_em_sample_target=200),
    )
    assert result.counters["fs_em_sample_mod"] > 1, result.counters
    m = pairwise_metrics(predicted_pairs_from_clusters(result.clusters), gold)
    assert m.f1 >= 0.99, (
        f"sampled-EM FS F1={m.f1:.4f} (p={m.precision:.4f} r={m.recall:.4f})"
    )
    with pytest.raises(ValueError, match="fs_em_sample_mod"):
        run_pipeline(pages, MatchConfig(scoring="fellegi_sunter",
                                        fs_em_sample_mod=0))


@pytest.mark.parametrize("seed", [13, 99])
def test_fs_scoring_f1_seed_sweep(spark, seed):
    """The unsupervised FS mode must hold the F1 gate beyond the fixture
    seed (EM fits per-corpus, so seed robustness is a REAL property here,
    not just blocking recall)."""
    pages, gold = synth_webpages(
        spark,
        SynthConfig(n_entities=30, seed=seed, hot_boilerplate_rows=15,
                    null_text_rows=3),
    )
    pages = pages.cache()
    result = run_pipeline(pages, MatchConfig(scoring="fellegi_sunter"))
    m = pairwise_metrics(predicted_pairs_from_clusters(result.clusters), gold)
    pages.unpersist()
    assert m.f1 >= 0.99, (
        f"seed={seed} FS F1={m.f1:.4f} (p={m.precision:.4f} r={m.recall:.4f})"
    )
