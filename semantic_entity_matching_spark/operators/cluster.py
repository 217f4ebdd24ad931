"""Connected components via alternating large-star/small-star (F11).

The reference has no clustering operator — transitive closure is implicit in
its match-and-review use-case; the north_rule makes it explicit.  Algorithm:
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14) —
converges in O(log^2 n) supersteps vs O(diameter) for naive label
propagation.

Scale-safe formulation: both stars are expressed with groupBy(min) + join —
NO collect_list (a hot node's neighborhood never has to fit in one task's
memory) and no driver-side state.  Every superstep's edge set goes through
:func:`plans.checkpoint.materialize`, which truncates the lineage chain that
iterative DataFrame jobs otherwise accumulate: as a ``cc_edges`` snapshot
(resumable) when a ``CheckpointManager`` is given, else as an in-memory
local checkpoint.

Node ids are compared with the column's natural ordering (strings:
lexicographic) — any orderable id type works.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from semantic_entity_matching_spark.plans.checkpoint import (
    CheckpointManager,
    materialize,
)
from semantic_entity_matching_spark.session import driver_table


def _symmetrize(edges: DataFrame) -> DataFrame:
    """(u,v) -> both directions, self-loops removed.

    Deliberately NO ``distinct`` here: it cost a full exchange of 2|E|
    rows per superstep and bounded nothing — the star outputs are
    deduplicated anyway, and duplicate (u,v) rows change neither the
    ``min`` aggregate nor the join's fan-out bound.  Every superstep's
    output carries id_a > id_b strictly (large-star emits (v, m) with
    v > u >= m; small-star emits v <= u, m < v and filters m == v), so
    from superstep 1 on the union cannot even produce a duplicate
    direction; only a raw input containing both (a,b) and (b,a) yields
    transient duplicates, which the star-output ``distinct`` removes."""
    fwd = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    rev = edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    return fwd.unionByName(rev).where(F.col("u") != F.col("v"))


def _neighborhood_min(sym: DataFrame) -> DataFrame:
    """m(u) = min(N(u) ∪ {u}) — one hash aggregate, no neighborhood list."""
    return sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor v of u to m(u)."""
    sym = _symmetrize(edges)
    m = _neighborhood_min(sym)
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("id_a"), F.col("m").alias("id_b"))
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v <= u (plus u itself) to m(u)."""
    sym = _symmetrize(edges)
    m = _neighborhood_min(sym)
    small = (
        sym.where(F.col("v") <= F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("id_a"), F.col("m").alias("id_b"))
    )
    self_edges = m.select(F.col("u").alias("id_a"), F.col("m").alias("id_b"))
    return (
        small.unionByName(self_edges)
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    """(count, xor-ish hash) — cheap convergence check in one aggregate."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(id_a, id_b))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


# Edge sets at or below this size fold to an exact driver-side union-find
# instead of distributed supersteps (only when the caller supplies the edge
# count, so the decision never costs a job).  Rationale: each large/small-
# star superstep is ~6 exchanges + a lineage cut + a convergence aggregate
# — multiple scheduler round-trips that dwarf the actual work once the
# edge set is small (measured: ~2.5 s for a few hundred edges at sf0.1).
# The fold runs one job, the edge collect; its (id, component) table goes
# back through ``session.driver_table`` as an Arrow-built local relation,
# so the plans that read it stay in the JVM (no pickled Python RDD for the
# caller's cut to decode in Python workers).  200k edges is ~10 MB on the
# driver (guide §5 bounded-collect budget, the same class as the EM
# pattern tables) and at most 400k table rows; larger graphs take the
# superstep path unchanged.  The fold is EXACT: same membership
# (self-loop-only nodes excluded, as the symmetrize step drops them), same
# min-id label (Python str ordering == Spark's UTF8 binary ordering, since
# UTF-8 byte order preserves codepoint order) — pinned by pytest equality
# on random graphs.
CC_DRIVER_EDGE_BOUND = 200_000
# the snapshot table the supersteps commit to, and resume from
CC_CHECKPOINT_TABLE = "cc_edges"


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact (id, component) of a SMALL edge set via driver union-find."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges.select("id_a", "id_b").collect():
        a, b = r[0], r[1]
        if a is None or b is None:
            # the superstep path's `u != v` predicate is NULL on a NULL
            # endpoint, so such edges are silently dropped there — match it
            continue
        if a == b:
            continue  # self-loops carry no connectivity (symmetrize drops them)
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        cur_min = comp_min.get(root)
        if cur_min is None or node < cur_min:
            comp_min[root] = node
    rows = [(node, comp_min[find(node)]) for node in parent]
    id_type = edges.schema["id_a"].dataType
    schema = StructType(
        [StructField("id", id_type), StructField("component", id_type)]
    )
    return driver_table(edges.sparkSession, rows, schema)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    n_edges: int | None = None,
) -> DataFrame:
    """edges(id_a, id_b) -> assignments(id, component) where component is the
    minimum id in each connected component.

    With ``checkpoint`` set, every superstep's edge set is committed as a
    ``CC_CHECKPOINT_TABLE`` snapshot; ``resume=True`` restarts from the
    latest committed superstep (kill-and-resume safe, per north_rule).

    ``n_edges`` (when the caller already knows the edge count — run_pipeline
    does, from the edges stage counter) enables the exact driver union-find
    fold for small graphs; see CC_DRIVER_EDGE_BOUND.  Resume of a partially
    checkpointed superstep run always stays on the superstep path.
    """
    spark = edges.sparkSession
    start_step = 0
    if checkpoint is not None and resume and checkpoint.exists(CC_CHECKPOINT_TABLE):
        start_step = (checkpoint.latest_step(CC_CHECKPOINT_TABLE) or 0) + 1
        cur = checkpoint.read(CC_CHECKPOINT_TABLE)
    else:
        if n_edges is not None and n_edges <= CC_DRIVER_EDGE_BOUND:
            return _driver_union_find(edges)
        cur = edges.select("id_a", "id_b").distinct()

    prev_sig: tuple[int, int] | None = None
    for step in range(start_step, start_step + max_iterations):
        cur = materialize(
            _small_star(_large_star(cur)), CC_CHECKPOINT_TABLE, checkpoint, step
        )
        if checkpoint is not None:
            checkpoint.add_counter("cc_superstep", 1)
        sig = _signature(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected components did not converge in {max_iterations} supersteps"
        )

    # At fixpoint each edge is (node -> root). Nodes that appear only as
    # roots (or isolated after dedup) map to themselves.
    assign = cur.select(F.col("id_a").alias("id"), F.col("id_b").alias("component"))
    roots = (
        cur.select(F.col("id_b").alias("id"))
        .distinct()
        .join(assign.select("id"), "id", "left_anti")
        .withColumn("component", F.col("id"))
    )
    # groupBy(min): a node may briefly hold edges to >1 label pre-fixpoint;
    # min is the canonical component representative either way.
    return (
        assign.unionByName(roots)
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


def clusters_from_pairs(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    id_col: str = "url",
    **cc_kwargs,
) -> DataFrame:
    """Match edges -> (id, component); ids absent from any edge become
    singleton clusters when ``all_ids`` is provided."""
    assign = connected_components(pairs, **cc_kwargs)
    if all_ids is None:
        return assign
    ids = all_ids.select(F.col(id_col).alias("id")).distinct()
    singletons = ids.join(assign.select("id"), "id", "left_anti").withColumn(
        "component", F.col("id")
    )
    return assign.unionByName(singletons)


def update_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    new_ids: DataFrame | None = None,
    **cc_kwargs,
) -> DataFrame:
    """Incrementally fold a batch of new match edges (and optionally new
    nodes) into an existing ``(id, component)`` clustering — EXACTLY
    equivalent to re-running :func:`connected_components` over the full
    old∪new edge set, at delta cost.

    The daily-crawl shape of entity resolution: yesterday's 10^12-doc
    clustering is done; today adds 10^9 pages and their match edges.  A
    full CC re-run touches every edge ever emitted; this touches only the
    components incident to today's edges:

    1. **touched** = components containing any endpoint of ``new_edges``
       (two semi-joins — node-keyed then component-keyed);
    2. each touched component is replayed as its **star**: one
       ``(member, root)`` edge per member.  A component is an equivalence
       class, so the star is connectivity-equivalent to whatever edges
       originally built it — and is the SMALLEST such certificate (this is
       also why the result is exact: CC over star∪delta merges classes
       exactly as CC over originals∪delta would, and the min-id label of a
       merged class is the min over its member ids either way);
    3. :func:`connected_components` runs on star∪delta only — supersteps
       converge fast because old components enter as depth-1 stars;
    4. untouched assignments pass through by anti-join, byte-identical.

    ``new_ids`` (ids added since the base run) become singleton clusters
    when no new edge reaches them.  Cost scales with the delta
    neighborhood (|touched members| + |new edges|), never the corpus edge
    history; the pass-through anti-join is the only corpus-wide shuffle.

    Reference concern: the reference re-ingests via idempotent create-ops
    (lib/ingest.py:63,90-94) but has no clustering to maintain; the
    north_rule's resumable-pipeline requirement makes incremental
    maintenance first-class.
    """
    nodes = (
        new_edges.select(F.col("id_a").alias("id"))
        .unionByName(new_edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    touched = (
        assignments.join(nodes, "id", "semi").select("component").distinct()
    )
    touched_members = assignments.join(touched, "component", "semi")
    star = touched_members.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("id_a"), F.col("component").alias("id_b")
    )
    delta = star.unionByName(new_edges.select("id_a", "id_b"))
    recomputed = connected_components(delta, **cc_kwargs)
    untouched = assignments.join(touched, "component", "left_anti")
    out = untouched.unionByName(recomputed)
    if new_ids is not None:
        singletons = (
            new_ids.select(F.col(new_ids.columns[0]).alias("id"))
            .distinct()
            .join(out.select("id"), "id", "left_anti")
            .withColumn("component", F.col("id"))
        )
        out = out.unionByName(singletons)
    # pin (id, component) column ORDER: the anti-join above moves its key
    # first, and positional consumers (exceptAll, parquet appends to an
    # existing checkpoint table) must see the same layout as
    # connected_components / clusters_from_pairs
    return out.select("id", "component")
