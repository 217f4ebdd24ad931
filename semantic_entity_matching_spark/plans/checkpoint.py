"""Snapshot-table checkpointing with lineage counters, and the one
lineage-cut helper (:func:`materialize`) every operator goes through.

The north_rule requires every stage (and every CC superstep) to be
resumable, with per-partition lineage and counters (pairs generated, pairs
scored, edges emitted) recorded as table metadata: each of those counters
is the row count of a stage's snapshot, which its manifest records per
data file and in total.  On a cluster with the Iceberg runtime jar this
maps to Iceberg tables + snapshot summary properties; without that jar the
default backend is a Parquet **snapshot directory**: each write lands in a
new ``step=<n>/data`` directory committed by atomically renaming a
manifest — the same commit discipline (write-new-files, swap-pointer)
Iceberg uses.

Layout::

    <base>/<table>/step=000003/data/*.parquet
    <base>/<table>/step=000003/manifest.json   # rows (total + per file), schema
    <base>/<table>/_latest.json                # atomic pointer to the
                                               # last committed step

A reader only ever follows ``_latest.json`` (or an explicit step), so a
killed job mid-write leaves no torn state — the orphan step directory has
no manifest and is ignored/overwritten on resume.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession


def _atomic_write_json(path: str, payload: dict[str, Any]) -> None:
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX


@dataclass
class CheckpointManager:
    """Versioned snapshot tables under ``base_dir``."""

    base_dir: str
    spark: SparkSession
    counters: dict[str, int] = field(default_factory=dict)

    # -- counters (lineage) -------------------------------------------------
    def add_counter(self, name: str, value: int) -> None:
        self.counters[name] = self.counters.get(name, 0) + int(value)

    # -- table paths --------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def _step_dir(self, table: str, step: int) -> str:
        return os.path.join(self._table_dir(table), f"step={step:06d}")

    def latest_step(self, table: str) -> int | None:
        ptr = os.path.join(self._table_dir(table), "_latest.json")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return int(json.load(f)["step"])

    # -- write / read -------------------------------------------------------
    def write(
        self,
        table: str,
        df: DataFrame,
        step: int | None = None,
    ) -> dict[str, Any]:
        """Materialize ``df`` as the next snapshot of ``table``.

        Returns the manifest.  Its ``rows`` is the snapshot's row count,
        taken from the already-written parquet footers, so callers never
        need a separate ``df.count()`` action (which would recompute the
        whole stage).
        """
        prev = self.latest_step(table)
        if step is None:
            step = 0 if prev is None else prev + 1
        step_dir = self._step_dir(table, step)
        data_dir = os.path.join(step_dir, "data")
        if os.path.exists(step_dir):
            shutil.rmtree(step_dir)  # torn leftover from a killed run
        df.write.mode("overwrite").parquet(data_dir)
        # per-partition lineage (north_rule): record-count per data file,
        # the same granularity Iceberg keeps in its manifest entries
        # (record_count per DataFile).  One zero-column scan of the fresh
        # snapshot — parquet row counting, no data columns materialized.
        from pyspark.sql import functions as F

        per_file = (
            self.spark.read.parquet(data_dir)
            .groupBy(F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        partition_rows = {
            os.path.basename(r["file"]): int(r["count"]) for r in per_file
        }
        manifest = {
            "table": table,
            "step": step,
            "rows": sum(partition_rows.values()),
            "partition_rows": partition_rows,
            "schema": df.schema.jsonValue(),
            "committed_at": time.time(),
        }
        _atomic_write_json(os.path.join(step_dir, "manifest.json"), manifest)
        _atomic_write_json(
            os.path.join(self._table_dir(table), "_latest.json"), {"step": step}
        )
        return manifest

    def read(self, table: str, step: int | None = None) -> DataFrame:
        if step is None:
            step = self.latest_step(table)
        if step is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        step_dir = self._step_dir(table, step)
        if not os.path.exists(os.path.join(step_dir, "manifest.json")):
            raise FileNotFoundError(f"snapshot {table}/step={step} was never committed")
        return self.spark.read.parquet(os.path.join(step_dir, "data"))

    def manifest(self, table: str, step: int | None = None) -> dict[str, Any]:
        if step is None:
            step = self.latest_step(table)
        with open(os.path.join(self._step_dir(table, step), "manifest.json")) as f:
            return json.load(f)

    def exists(self, table: str) -> bool:
        return self.latest_step(table) is not None

    def drop(self, table: str) -> None:
        """Forget every snapshot of ``table``.  The pointer goes first, so
        a kill mid-delete leaves a table that no longer exists rather than
        one that points at half-deleted files."""
        ptr = os.path.join(self._table_dir(table), "_latest.json")
        if os.path.exists(ptr):
            os.remove(ptr)
        shutil.rmtree(self._table_dir(table), ignore_errors=True)

    def write_run_summary(self) -> None:
        _atomic_write_json(
            os.path.join(self.base_dir, "_run_summary.json"),
            {"counters": self.counters, "written_at": time.time()},
        )


def materialize(
    df: DataFrame,
    name: str,
    checkpoint: CheckpointManager | None = None,
    step: int | None = None,
) -> DataFrame:
    """Cut ``df``'s lineage: the one place the engine does so.

    With ``checkpoint``, ``df`` is written as snapshot ``name`` (at
    ``step`` when given) and the read-back is returned: durable, resumable
    and bounded in executor memory, at one parquet round-trip.  Without
    one, the result is an eager local checkpoint of ``df``.

    The in-memory cut's contract, for every caller:

    * **eager** — the job that computes ``df`` runs now, at the call, not
      when the returned table is consumed, and runs once however many
      consumers read the result;
    * **not replicated** — the rows live in executor block storage
      (memory, then disk) for the life of the plan that references them;
    * **not fault-tolerant** — losing an executor loses its blocks, and
      downstream jobs fail instead of recomputing them.  Fine for local
      runs and benchmarks; on a cluster pass a ``CheckpointManager``.

    Either way the cut's jobs carry ``name`` as their Spark job
    description (the previous description is restored afterwards), so
    every cut is a named job in the UI and event log.  The job group is
    left alone.
    """
    sc = df.sparkSession.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try:
        if checkpoint is None:
            return df.localCheckpoint(eager=True)
        manifest = checkpoint.write(name, df, step=step)
        return checkpoint.read(name, manifest["step"])
    finally:
        sc.setLocalProperty("spark.job.description", previous)


def materialize_observed(
    df: DataFrame,
    name: str,
    checkpoint: CheckpointManager | None,
    metrics: dict[str, Column],
) -> tuple[DataFrame, dict]:
    """:func:`materialize` ``df`` and return the cut with the ``metrics``
    (name -> aggregate Column) its own job computed: an ``Observation``
    rides the cut, so no second action re-reads it."""
    if not metrics:
        return materialize(df, name, checkpoint), {}
    seen = Observation()
    df = df.observe(seen, *[c.alias(k) for k, c in metrics.items()])
    return materialize(df, name, checkpoint), seen.get
