"""Measurement helpers that need nothing beyond the standard library:
process-tree RSS from ``/proc``, layer spans tied to Spark job groups, and
a reader for Spark's uncompressed JSON event log."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024
_PAGE = os.sysconf("SC_PAGE_SIZE")
# jobs that run outside any span (result collection, cache release) are
# tagged with this group so the reader can tell them from span jobs
GAP_GROUP = "gap"


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid`` (the JVM and its Python
    workers, for the benchmark process)."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces and parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    out, stack = [], list(children[root_pid])
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children[pid])
    return out


def tree_rss_bytes(root_pid: int) -> int:
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:  # the process ended between listing and reading
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process's descendants every
    ``interval`` seconds on a background thread; ``peak`` is the largest
    sample seen between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class Tracer:
    """Records one span per call into a layer.  Each span runs its Spark
    jobs under the job group ``layer@op`` so the event log can attribute
    task metrics to it; spans of one operation (a job run or a request)
    share the ``op`` id.  Spans are kept in memory until the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        sc.setJobGroup(GAP_GROUP, "outside any span")

    @contextmanager
    def span(self, layer: str, op: int):
        group = f"{layer}@{op}"
        rec = {"layer": layer, "op": op, "group": group, "rows": 0}
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.spans.append(rec)
            self.sc.setJobGroup(GAP_GROUP, "outside any span")


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Aggregate a finished application's event log by job group.

    Per group: ``jobs``, ``tasks``, ``tasks_failed``, ``task_cpu_s``,
    ``gc_s``, ``shuffle_write_mb``, ``spill_mb`` (bytes spilled to disk),
    ``py_run_s`` ("time to run Python workers") and ``py_io_mb`` (data sent
    to plus returned from Python workers, both SQL accumulables)."""
    stage_group: dict[int, str] = {}
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                group = (event.get("Properties") or {}).get("spark.jobGroup.id")
                agg[group]["jobs"] += 1
                # events are in order, so a stage maps to the job running it
                for stage in event["Stage IDs"]:
                    stage_group[stage] = group
            elif kind == "SparkListenerTaskEnd":
                a = agg[stage_group.get(event["Stage ID"])]
                a["tasks"] += 1
                if event["Task End Reason"]["Reason"] != "Success":
                    a["tasks_failed"] += 1
                m = event.get("Task Metrics") or {}
                a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    / MB
                )
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                for acc in event["Task Info"].get("Accumulables", []):
                    name = acc.get("Name")
                    if name == "time to run Python workers":
                        a["py_run_s"] += int(acc["Update"]) / 1e3
                    elif name in (
                        "data sent to Python workers",
                        "data returned from Python workers",
                    ):
                        a["py_io_mb"] += int(acc["Update"]) / MB
    return {g: dict(v) for g, v in agg.items()}
