"""SparkSession factory tuned for the record-linkage workload.

The reference repo has no engine of its own; its throughput knobs are async
worker counts and AIMD throttling (reference lib/async_batch_processor.py,
lib/dynamic_semaphore.py).  Here the equivalents are shuffle partitioning,
AQE, and Arrow batch sizing — all set once at session build.

The session also sets a Python task's fixed cost.  PySpark's worker calls
``importlib.invalidate_caches()`` before every task, and on CPython 3.11
that re-reads the directory of every zip on the worker's ``sys.path``
(``pyspark.zip`` and its package dirs, py4j, the spark-core jar): 0.13-0.25 s
per task on 4 vCPUs, on a warm reused worker.  For ``local`` masters
``get_session`` runs the workers under ``worker_daemon``, which re-reads
only an archive that changed (0.1-0.3 ms per task), and prepends the
package's parent dir to ``spark.executorEnv.PYTHONPATH`` (merged with the
caller's value) so the workers can import it.  Other masters keep
``pyspark.daemon``: their executors need not see the driver's filesystem.

Generated code is compiled once per session.  Spark keeps the classes that
Janino compiled from whole-stage-codegen and expression sources in a
JVM-global LRU keyed by source text, capped by the static
``spark.sql.codegen.cache.maxEntries`` (default 100).  One full-size
``corpus`` operation of the benchmark needs 181 distinct sources, so at the
default each warm run evicted the classes the next one needed and compiled
177-179 of them again (1.6-2.2 s of Janino time, plus the JIT warm-up of
the new classes; on 4 vCPUs a steady-state op took 12.4-13.1 s against
8.8-9.8 s with the classes kept).  ``get_session`` sizes the cache to the
engine's working set (``CODEGEN_CACHE_MAX_ENTRIES``); ``codegen_stats()``
reads the compile counters that show it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size is the analog of the reference's request batching
# (50-row bulk writes, lib/ingest.py:22; 50-query _msearch, lib/evaluate.py:82):
# it bounds peak memory of every pandas UDF — each in-flight batch holds the
# input text buffer (~7.5 KB/page on web text) PLUS the (rows × dim) float32
# embedding output and its Arrow serialization.  At the old 10k-row default
# that was ~75 MB text + 40 MB vectors per batch PER WORKER; with 8 workers
# the 120k-page scaling leg degraded superlinearly under khugepaged/THP
# pressure (round-3 BASELINE.md).  2k rows/batch caps the per-worker flight
# at ~15 MB text + 8 MB vectors (dim 1024) while keeping the per-batch UDF
# dispatch overhead negligible (>=millisecond-scale batches).  Override with
# SPARK_GRAFT_ARROW_BATCH.
ARROW_MAX_RECORDS_PER_BATCH = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", 2_048))

# Working set of generated classes, counted with codegen_stats() on 4 vCPUs:
# one full-size perfbench `corpus` op compiles 181 distinct sources (mean
# 2.1 KB of class bytecode), one `search` request 68, and a
# tools/check_contract.py session over q17 q19 q21 q23 q29 q84 q104 q105
# 313.  2,000 entries hold the largest with headroom, ~4 MB of bytecode in
# the driver JVM.  A tier-1 pytest session runs hundreds of distinct plans:
# it compiled 17,871 sources at the default 100 and 6,252 at 2,000.
CODEGEN_CACHE_MAX_ENTRIES = 2_000

WORKER_DAEMON_MODULE = "semantic_entity_matching_spark.worker_daemon"
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def ensure_min_parallelism(df, min_fraction: float = 0.5):
    """Repartition ``df`` to the session default parallelism — but ONLY
    when its current partition count is below ``min_fraction`` of it.

    A small corpus in one parquet file scans as ONE split, and every
    Python stage chained on that scan (embed UDFs, the MinHash/SimHash
    signature passes) then runs in a single task regardless of core
    count — measured: the flagship pipeline's records+blocks stages were
    single-threaded at the bench scale.  One narrow shuffle of the raw
    rows buys full parallelism for the whole downstream UDF chain.  At
    production scale the file count already provides the partitions, the
    guard is false, and NO shuffle is added (guide §2.4: don't repartition
    'for parallelism' when the layout already has it).  Deterministic:
    round-robin repartition keeps Spark's sort-before-repartition, and
    every consumer downstream is per-row or set/aggregate-based."""
    if df.isStreaming:  # .rdd is undefined for streaming frames
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_fraction)):
        return df.repartition(target)
    return df


def driver_table(spark: SparkSession, rows: list, schema):
    """A small driver-built table (``rows`` of tuples, ``schema`` a
    StructType or DDL string) that Spark plans can read without Python.

    The rows go to the JVM as one Arrow table and come back as a local
    relation, scanned by the JVM.  ``spark.createDataFrame(rows)`` instead
    pickles them into a Python RDD, and every plan that reads the table
    runs a Python worker stage to decode it.  Building the Arrow table
    here, typed from ``schema``, also keeps an empty ``rows`` on the Arrow
    path (pandas input falls back to pickling when it is empty) and does
    not depend on ``spark.sql.execution.arrow.pyspark.enabled``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    columns = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(Janino compiles, compile milliseconds) since this JVM started.

    The count is the sample count of
    ``org.apache.spark.metrics.source.CodegenMetrics``' ``compilationTime``
    histogram: one per generated source that missed Spark's codegen class
    cache.  The milliseconds come from ``CodeGenerator.compileTime``, which
    the same cache loader adds to; the histogram's own values are a
    decaying sample of 1028, not a total.  Both counters are JVM-global
    and never reset, so callers take differences.
    """
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return compiles.getCount(), codegen.compileTime() / 1e6


def get_session(
    master: str | None = None,
    app_name: str = "semantic-entity-matching-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    AQE is on so skewed blocking-key joins are split at runtime even before
    our explicit salting kicks in, and so tiny post-filter shuffles coalesce.
    ``master`` defaults to ``local[N]``; ``extra_conf`` entries override
    every setting here.  When a session already exists (spark-submit, a
    notebook, an earlier call) ``getOrCreate`` returns it and applies only
    the runtime SQL settings; static ones (the codegen cache size, the
    driver memory, the worker daemon) hold only for a session that this
    call creates.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: 1 partition per core covers the small SFs; on a real
        # cluster spark-submit should set this to ~2-3x total cores.
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a sort-merge join to a shuffled-hash join when
        # every build-side map partition is under this bound (guide §3.1):
        # the salted block self-join and the token-array verify joins then
        # skip two large sorts per join.  Scale-adaptive by construction —
        # the decision uses RUNTIME partition sizes, so an exabyte-scale
        # shuffle whose partitions exceed the bound keeps sort-merge (which
        # spills), while bench/cluster partitions under it get the no-sort
        # hash build.  Bounded build memory: at most this many bytes per
        # task get hashed.  Default 0 (off) in Spark; 192m sits well under
        # the per-task execution memory at 12g/32 cores.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "192m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # match edges / block tables are reread across supersteps; snappy is
        # the right trade at 100 TB (cheap CPU, splittable with parquet).
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 12g, not bigger: the round-1 "8g chokes at local[32]" finding
        # still holds, but an oversized heap is actively harmful on a
        # long-lived Firecracker guest — in the fragmented-VM state the
        # 32g default measured 2-3x SLOWER than 12g across the headline
        # bench (q23 41-67s vs 21-29s, bench total 144s vs 52s, machine
        # sys>>user during the 32g runs: every extra GB is more page
        # compaction for khugepaged to chew).  All workloads incl. the
        # 964.9k-pair q21 contract and 120k-page legs fit in 12g.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # Static and JVM-global: the codegen class cache holds the engine's
        # whole working set of generated classes (CODEGEN_CACHE_MAX_ENTRIES),
        # so a repeated plan reuses its classes instead of recompiling them.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    # Local mode: shuffle spill files on the default /tmp disk serialize the
    # whole job behind one spindle once >8 threads write at once (measured
    # 2-3x stage slowdowns at local[32]).  A cluster has per-executor local
    # SSDs; the tmpfs stand-in restores that assumption locally — but ONLY
    # when /dev/shm actually has headroom: spill competing with RAM-backed
    # tmpfs would turn a disk spill into ENOSPC on small hosts, so fall back
    # to the default disk tmpdir below 8 GiB free.  Override with
    # SPARK_GRAFT_LOCAL_DIR (see README).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and master.startswith("local") and os.path.isdir("/dev/shm"):
        try:
            stat = os.statvfs("/dev/shm")
            if stat.f_bavail * stat.f_frsize >= 8 * 1024**3:
                local_dir = "/dev/shm/spark-graft-local"
        except OSError:
            pass
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # Every Python task starts with importlib.invalidate_caches(), which
        # on CPython 3.11 re-reads the directory of each of the worker's ~16
        # zipimporters: 0.13-0.25 s per task on 4 vCPUs.  The engine's
        # daemon re-reads only an archive that changed (worker_daemon.py).
        # Local masters only: there the workers see the driver's filesystem,
        # and the package's parent dir, merged ahead of the caller's
        # executor PYTHONPATH, lets them import the daemon even when the
        # driver found the engine through sys.path alone.  A caller's
        # spark.python.daemon.module still wins.
        conf.setdefault("spark.python.daemon.module", WORKER_DAEMON_MODULE)
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            filter(None, (PACKAGE_PARENT, conf.get("spark.executorEnv.PYTHONPATH")))
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
