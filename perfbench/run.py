"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 5 --trace 0

Run from the repository root.  Everything runs in this one process on
``local[<cores>]``, as a closed loop with one client.  The run

1. sets up: starts Spark, generates the inputs (writing them as multi-file
   parquet under ``.perfbench_work/``), loads them and warms up, so that
   every timed operation runs warm; ``setup_s`` is the time all this took;
2. with ``--trace 0`` repeats the operation for ``--seconds`` seconds,
   settling Spark before each one and checking each output against the
   generator's truth, and prints the end-to-end metrics;
3. with ``--trace 1`` runs the operation once untraced on each distinct
   input, then layer by layer under spans for ``--seconds`` seconds with
   Spark's event log on, and prints the per-layer metrics joined from spans
   and the event log.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
Metric definitions are in METRICS.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

import measure
from workloads import LAYERS, WORKLOADS, CheckFailed

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "semantic_entity_matching_spark"
OP_TIMEOUT_S = 120.0
# the most of a traced operation's wall time that may fall outside its
# layer spans; beyond it the spans do not account for the operation
GAP_SHARE_MAX = 0.1
DRIVER_MEMORY = "2g"

LAYER_FIELDS = (
    ("wall_s", "s"), ("rows", "count"), ("jobs", "count"), ("task_cpu_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("py_run_s", "s"),
    ("py_io_mb", "MB"),
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: str, cpus: int, trace: bool):
    from semantic_entity_matching_spark import get_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in the system temp dir; JVM temp files in ours
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        # uncompressed, single-file log, so the standard library can read it
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(master=f"local[{cpus}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stop Spark, end the JVM and wait until every process this run started
    has exited.  Safe to call again, or after a failed start."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM's gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while measure.descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in measure.descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def settle(spark) -> None:
    """Release what the previous operation left cached, on both sides."""
    from semantic_entity_matching_spark.operators.search import (
        unpersist_lexical_indexes,
    )

    unpersist_lexical_indexes(blocking=True)
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def timed(spark, fn, *args):
    """Run ``fn`` and return (result, wall seconds).  Spark jobs still
    running after OP_TIMEOUT_S are cancelled, which fails the operation."""
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    t0 = time.perf_counter()
    try:
        out = fn(*args)
    finally:
        timer.cancel()
    return out, time.perf_counter() - t0


def set_up(workload, spark, seed: int, work: str) -> None:
    """Generate and write the inputs, load them and warm up."""
    t0 = time.perf_counter()
    workload.make_inputs(seed, work)
    t1 = time.perf_counter()
    workload.load(spark)
    t2 = time.perf_counter()
    timed(spark, workload.warm_up, spark, seed, work)
    t3 = time.perf_counter()
    log(f"setup: inputs {t1 - t0:.2f}s load {t2 - t1:.2f}s warm-up {t3 - t2:.2f}s")


def run_ops(workload, spark, seconds: float, op) -> dict:
    """Closed loop with one client: operations back to back for ``seconds``
    (at least one), each settled first and checked after."""
    walls, failed, attempted, quality = [], 0, 0, 0.0
    deadline = time.perf_counter() + seconds
    i = 1
    while attempted == 0 or time.perf_counter() < deadline:
        settle(spark)
        attempted += 1
        try:
            out, wall = timed(spark, op, spark, i)
            quality = workload.check(out)
            walls.append(wall)
        except Exception:  # an operation failed: count it and keep going
            failed += 1
            log(f"operation {i} failed:\n{traceback.format_exc()}")
        i += 1
    return {"walls": walls, "failed": failed, "attempted": attempted, "quality": quality}


def end_to_end(workload, spark, setup_s: float, seconds: float) -> dict:
    sampler = measure.RssSampler()
    sampler.start()
    try:
        r = run_ops(workload, spark, seconds, workload.op)
    finally:
        sampler.stop()
    walls = r["walls"]
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls) if walls else 0.0, "s"),
        "quality": (r["quality"], "ratio"),
        "peak_rss_mb": (sampler.peak / measure.MB, "MB"),
    }
    log(f"op walls {walls}")
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }


def span_gaps(walls: dict[int, float], spans: list[dict]) -> tuple[dict, list]:
    """Each traced operation's wall time that no layer span covers, and the
    operations whose gap is more than GAP_SHARE_MAX of their wall time.
    A large gap is work that escaped every span, such as a lazy DataFrame
    first materialised by a final collect: the layer self times then do not
    account for the operation."""
    gaps = {
        i: wall - sum(s["wall_s"] for s in spans if s["op"] == i)
        for i, wall in walls.items()
    }
    return gaps, [i for i, gap in gaps.items() if gap > GAP_SHARE_MAX * walls[i]]


def per_layer(workload, spark, seconds: float, work: str) -> dict:
    """One untraced operation on each distinct input, then traced ones for
    ``seconds``.  A traced output must equal the untraced output of the
    same input, and the spans must account for nearly all of its wall
    time."""
    reference, untraced = {}, []
    for i in range(1, workload.n_inputs + 1):
        settle(spark)
        out, wall = timed(spark, workload.op, spark, i)
        workload.check(out)
        reference[i % workload.n_inputs] = out
        untraced.append(wall)
    tracer = measure.Tracer(spark.sparkContext)
    traced_walls: dict[int, float] = {}

    def traced(spark_, i):
        out, wall = timed(spark_, workload.traced_op, spark_, tracer, i)
        traced_walls[i] = wall
        if out != reference[i % workload.n_inputs]:
            raise CheckFailed("the traced output differs from the untraced one")
        return out

    r = run_ops(workload, spark, seconds, traced)
    app_id = spark.sparkContext.applicationId
    stop_session()
    groups = measure.read_event_log(os.path.join(work, "eventlog", app_id))

    ops = sorted(traced_walls)
    by_op = {i: [s for s in tracer.spans if s["op"] == i] for i in ops}
    gaps, unaccounted = span_gaps(traced_walls, tracer.spans)
    metrics: dict[str, tuple] = {}
    for layer in LAYERS:
        per_op = []
        for i in ops:
            spans = [s for s in by_op[i] if s["layer"] == layer]
            if not spans:
                continue
            ev = groups.get(f"{layer}@{i}", {})
            rec = {f: ev.get(f, 0.0) for f, _ in LAYER_FIELDS}
            rec["wall_s"] = sum(s["wall_s"] for s in spans)
            rec["rows"] = sum(s["rows"] for s in spans)
            per_op.append(rec)
        for f, unit in LAYER_FIELDS:
            value = statistics.median(p[f] for p in per_op) if per_op else 0.0
            metrics[f"{layer}.{f}"] = (value, unit)

    def ratio(num: str, den: str) -> float:
        d = metrics[f"{den}.rows"][0]
        return metrics[f"{num}.rows"][0] / d if d else 0.0

    span_groups = {s["group"] for s in tracer.spans}
    traced_groups = [g for name, g in groups.items() if name in span_groups]
    metrics.update({
        "pairs.useful_ratio": (ratio("edges", "pairs"), "ratio"),
        "reranked.survivor_ratio": (ratio("reranked", "scored"), "ratio"),
        "spark.gc_s": (sum(g.get("gc_s", 0.0) for g in traced_groups), "s"),
        "spark.tasks_failed": (
            sum(g.get("tasks_failed", 0.0) for g in traced_groups), "count"),
        "trace.overhead_s": (
            (statistics.median(traced_walls.values()) - statistics.median(untraced))
            if ops else 0.0, "s"),
        "trace.gap_s": (statistics.median(gaps.values()) if ops else 0.0, "s"),
    })
    gap_cpu = groups.get(measure.GAP_GROUP, {}).get("task_cpu_s", 0.0)
    log(f"traced walls {traced_walls} untraced {untraced} gaps {gaps}"
        f" gap task cpu {gap_cpu:.2f}s")
    if unaccounted:
        log(f"operations {unaccounted}: more than {GAP_SHARE_MAX:.0%} of the"
            " wall time falls outside the layer spans")
    return {
        "correct": r["failed"] == 0 and not unaccounted,
        "attempted": r["attempted"] + workload.n_inputs,
        "failed": r["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout")
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the engine from the checkout, wherever they start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path.insert(0, ROOT)

    workload = WORKLOADS[args.workload]()
    trace = bool(args.trace)
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cpus, trace)
        session_s = time.perf_counter() - t0
        set_up(workload, spark, args.seed, work)
        setup_s = time.perf_counter() - t0
        log(f"setup: session {session_s:.2f}s")
        if trace:
            result = per_layer(workload, spark, args.seconds, work)
        else:
            result = end_to_end(workload, spark, setup_s, args.seconds)
    finally:
        stop_session()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass
    result["metrics"] = {
        k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
