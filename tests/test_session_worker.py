"""The engine's Python worker daemon: change-checked zipimport invalidation
(``worker_daemon``) and the session rules that select it (``get_session``);
the codegen class cache that ``get_session`` sizes to the engine's working
set of generated classes."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from semantic_entity_matching_spark import session, worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _import_from(importer, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_wrapper_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )

    worker_daemon.invalidate_if_changed(importer)  # first call: read and stamp
    assert reads == [archive]
    files = importer._files
    worker_daemon.invalidate_if_changed(importer)
    worker_daemon.invalidate_if_changed(importer)
    assert reads == [archive], "an unchanged archive was re-read"
    assert importer._files is files

    # a second importer of the same archive shares the stamped read
    other = zipimport.zipimporter(archive)
    worker_daemon.invalidate_if_changed(other)
    assert reads == [archive] and other._files is files

    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    worker_daemon.invalidate_if_changed(importer)
    assert reads == [archive, archive]
    assert importer._files is not files
    assert _import_from(importer, "mod_b").Y == 2
    # the other importer takes the new read instead of reading again
    worker_daemon.invalidate_if_changed(other)
    assert reads == [archive, archive]
    assert _import_from(other, "mod_b").Y == 2

    os.remove(archive)  # stat fails: the original invalidation runs
    worker_daemon.invalidate_if_changed(importer)
    assert importer.find_spec("mod_a") is None


def test_worker_task_invalidate_caches_is_cheap(spark):
    """Every Python task runs importlib.invalidate_caches() before its first
    row; inside a worker it must not re-read the unchanged archives on
    sys.path (the stock daemon takes 0.13-0.25 s on CPython 3.11)."""

    @F.pandas_udf("double")
    def invalidate_s(ids: pd.Series) -> pd.Series:
        import importlib
        import time

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        return pd.Series([time.perf_counter() - t0] * len(ids))

    rows = (
        spark.range(0, 4, numPartitions=4)
        .select(invalidate_s(F.col("id").cast("double")).alias("s"))
        .collect()
    )
    assert len(rows) == 4
    assert max(r.s for r in rows) < 0.020, [r.s for r in rows]


def test_daemon_selected_for_local_masters_only(tmp_path, monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    caller_path = str(tmp_path / "caller-libs")

    local = session.get_session(
        master="local[2]", extra_conf={"spark.executorEnv.PYTHONPATH": caller_path}
    )
    assert local["spark.python.daemon.module"] == session.WORKER_DAEMON_MODULE
    assert local["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [REPO, caller_path]
    )

    standalone = session.get_session(master="spark://127.0.0.1:7077")
    assert "spark.python.daemon.module" not in standalone
    assert "spark.executorEnv.PYTHONPATH" not in standalone

    # a caller's daemon module wins, as every other extra_conf key does
    own = session.get_session(
        master="local[2]", extra_conf={"spark.python.daemon.module": "pyspark.daemon"}
    )
    assert own["spark.python.daemon.module"] == "pyspark.daemon"


def test_codegen_cache_sized_by_get_session(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    key = "spark.sql.codegen.cache.maxEntries"

    for master in ("local[2]", "spark://127.0.0.1:7077"):
        conf = session.get_session(master=master)
        assert conf[key] == str(session.CODEGEN_CACHE_MAX_ENTRIES)
    assert session.CODEGEN_CACHE_MAX_ENTRIES >= 1_000

    # a caller's value wins, as every other extra_conf key does
    assert session.get_session(master="local[2]", extra_conf={key: "100"})[key] == "100"


def test_warm_rerun_compiles_no_generated_classes(spark):
    """A long-lived session compiles each generated class once.  Spark's
    codegen cache is an LRU; at its default of 100 entries this set's ~220
    classes evict each other and every pass recompiles all of them.

    AQE is off for the passes: its join rewrites depend on which query
    stage finishes first, so a repeat of the same job can plan a join with
    the other build side and compile a class it never needed before.  With
    static plans every pass runs the same classes, and a compile is a
    recompile."""
    from semantic_entity_matching_spark.operators.dedup import minhash_near_duplicates
    from semantic_entity_matching_spark.operators.search import lexical_topk
    from semantic_entity_matching_spark.operators.simjoin import (
        prefix_filter_jaccard_join,
    )
    from semantic_entity_matching_spark.plans.pipeline import MatchConfig, run_pipeline
    from semantic_entity_matching_spark.sources.synth import SynthConfig, synth_webpages

    pages, _ = synth_webpages(spark, SynthConfig(n_entities=12, seed=3))
    docs = pages.select(F.col("url").alias("doc_id"), "text")
    corpus = pages.select(
        F.monotonically_increasing_id().alias("candidate_id"), "text"
    ).localCheckpoint(eager=True)
    queries = spark.createDataFrame(
        [("q1", "acme widget"), ("q2", "blue river trading")],
        "query_id string, query_text string",
    )

    def compiles_in_one_pass() -> int:
        before, _ = session.codegen_stats(spark)
        run_pipeline(pages, MatchConfig()).clusters.collect()
        minhash_near_duplicates(docs, jaccard_threshold=0.9).collect()
        prefix_filter_jaccard_join(docs, "doc_id", "text", 0.9).collect()
        lexical_topk(queries, corpus, k=3).collect()
        return session.codegen_stats(spark)[0] - before

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        passes = [compiles_in_one_pass()]
        while passes[-1] and len(passes) < 3:
            passes.append(compiles_in_one_pass())
        passes.append(compiles_in_one_pass())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert passes[-2:] == [0, 0], f"compiles per pass: {passes}"


def test_pandas_udf_runs_when_workers_cannot_import_engine_from_cwd(tmp_path):
    """A driver that finds the engine only through sys.path, run from a cwd
    outside the repository with no PYTHONPATH, must still run a plain
    pandas_udf: its workers import the daemon from the merged executor
    PYTHONPATH."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from semantic_entity_matching_spark import get_session

        spark = get_session(master="local[2]", shuffle_partitions=2)

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        rows = spark.range(0, 6, numPartitions=2).select(plus_one("id").alias("v"))
        print("VALUES", sorted(r.v for r in rows.collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_LOCAL_DIR"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "VALUES [1, 2, 3, 4, 5, 6]" in proc.stdout, proc.stdout[-2000:]
