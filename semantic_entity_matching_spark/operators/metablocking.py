"""Meta-blocking: block-graph edge weighting + per-node pruning.

Public method: Papadakis, Koutrika, Palpanas & Nejdl, "Meta-Blocking:
Taking Entity Resolution to the Next Level" (IEEE TKDE 2014).  Redundancy-
positive blocking (token blocking is the canonical instance: every shared
normalized token is a block) places matching pairs in MANY blocks and
random pairs in few, so the number of blocks a pair co-occurs in is itself
a match signal.  Meta-blocking restructures the block collection into the
*block graph* — nodes are records, an edge joins every co-occurring pair —
weights each edge, and prunes low-weight edges BEFORE any pairwise scoring
runs.  On web-scale corpora this is the step between cheap blocking and
expensive comparison: it routinely discards >95% of candidate pairs while
keeping nearly all matches (the paper's PC/PQ trade).

No reference analog: the reference repo delegates candidate generation to
an ANN service (kNN top-k retrieval, lib/opensearch/services/
search_query_builder.py:46-62) and never materializes a block collection;
this operator family is a beyond-reference addition for the blocking path
the north rule requires.

Weighting schemes (both deterministic — integer or fixed-point — so the
output replays exactly in ANSI SQL and under any partitioning):

* **CBS** (common blocks scheme): ``weight = |blocks containing both|``;
  a plain ``count(*)`` per pair.
* **ARCS** (aggregate reciprocal comparisons): ``weight = Σ_b
  floor(scale / (|b| * (|b|-1) / 2))`` over shared blocks b — big blocks
  contribute less.  Stored as exact BIGINT at ``scale`` = 1e6 (float
  reciprocal sums associate differently under different partitionings;
  the fixed-point sum is bit-stable).

Pruning schemes:

* **WEP** (weighted edge pruning): keep edges with weight >= the global
  mean edge weight.  The mean is SUM/COUNT — two exact integers and ONE
  double division, bit-identical in Spark and DuckDB (never ``avg()``,
  whose double accumulation is order-dependent).
* **WNP** (weighted node pruning): each record keeps its edges whose
  weight >= the mean weight of ITS incident edges; an edge survives if
  either endpoint keeps it.  Localizes the threshold — hub records with
  many junk edges prune aggressively, sparse records keep their few.

Scale shape (the whole point of meta-blocking is that it runs where
pairwise scoring cannot):

* pair enumeration reuses :func:`~..pairs.block_pair_stream` — the same
  capped (block purging, the paper's preprocessing step) and
  hot-key-salted self-join as the production pair generator; nothing here
  is all-pairs and no corpus-cardinality table is ever broadcast;
* edge weights = ONE hash aggregate keyed by (id_a, id_b) with map-side
  partial aggregation (integer sums);
* node thresholds = the edge list exploded to both endpoints (2|E| rows)
  into ONE hash aggregate keyed by the node id, then joined back by id —
  no window, no sort, AQE-splittable on skewed hubs;
* WEP's global mean is a 2-field scalar aggregate cross-joined back
  (one-row broadcast, the evaluate.py metric pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.plans.checkpoint import materialize
from .pairs import PairGenConfig, block_pair_stream, block_sizes

ARCS_SCALE = 10**6


def token_blocks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_token_len: int = 2,
) -> DataFrame:
    """Token blocking (the paper's §III-A input): one block per distinct
    normalized token → ``(id, block_key)``.

    Normalization: lowercase, split on non-alphanumeric runs, drop tokens
    shorter than ``min_token_len`` (single characters block half the
    corpus together and carry no signal).  ``array_distinct`` before the
    explode keeps each (record, token) pair once — a token repeated in
    one document is one block membership, not many.  Pure JVM codegen.
    """
    toks = F.array_distinct(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+")
    )
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias(id_col),
            F.explode(toks).alias("block_key"),
        )
        .where(F.length("block_key") >= min_token_len)
    )


def block_graph_edges(
    blocks: DataFrame,
    id_col: str = "doc_id",
    scheme: str = "cbs",
    config: PairGenConfig | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Weighted block-graph edges ``(id_a, id_b, weight)`` (id_a < id_b).

    ``scheme``: ``cbs`` (count of shared blocks) or ``arcs`` (fixed-point
    reciprocal-comparisons sum; see module docstring).  ``weight`` is
    BIGINT under both.  Pass a persisted :func:`~..pairs.block_sizes`
    table to share the size aggregate with the cap/salt annotation.
    """
    if scheme not in ("cbs", "arcs"):
        raise ValueError(f"scheme must be 'cbs' or 'arcs', got {scheme!r}")
    cfg = config or PairGenConfig()
    if sizes is None:
        sizes = block_sizes(blocks, id_col)
    stream = block_pair_stream(
        blocks, id_col=id_col, config=cfg, sizes=sizes
    )
    if scheme == "cbs":
        return stream.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("weight")
        )
    # ARCS needs |b| for EVERY surviving block key, not just the hot head
    # the salt annotation joined — a second hash join against the full
    # size table (id-keyed tables join corpus-side, never broadcast).
    per_block = (
        F.lit(ARCS_SCALE)
        / (F.col("block_size") * (F.col("block_size") - F.lit(1)) / F.lit(2))
    ).cast("bigint")
    return (
        stream.join(sizes, "block_key")
        .select("id_a", "id_b", per_block.alias("_w"))
        .groupBy("id_a", "id_b")
        .agg(F.sum("_w").cast("bigint").alias("weight"))
    )


def weighted_edge_prune(edges: DataFrame) -> DataFrame:
    """WEP: keep edges with ``weight >= global mean weight``.

    The mean is computed as exact-integer SUM and COUNT with one double
    division at the end (deterministic under any partitioning; ``avg``
    is not), then attached via a one-row cross join (scalar broadcast).
    """
    mean = edges.agg(
        F.sum("weight").cast("double").alias("_sum"),
        F.count(F.lit(1)).cast("double").alias("_cnt"),
    )
    return (
        edges.crossJoin(F.broadcast(mean))
        .where(F.col("weight") >= F.col("_sum") / F.col("_cnt"))
        .select("id_a", "id_b", "weight")
    )


def weighted_node_prune(edges: DataFrame) -> DataFrame:
    """WNP: an edge survives iff ``weight >= mean incident-edge weight``
    of at least one endpoint (each node retains its above-average
    neighbourhood; the union of retained edges is the output).

    One union-explode to (node, weight), one hash aggregate per node
    (exact integer sum + count), two id-keyed joins back.  No window.
    """
    incident = edges.select(
        F.col("id_a").alias("node"), "weight"
    ).unionByName(edges.select(F.col("id_b").alias("node"), "weight"))
    thresholds = incident.groupBy("node").agg(
        (F.sum("weight").cast("double") / F.count(F.lit(1))).alias("_thr")
    )
    a_thr = thresholds.select(
        F.col("node").alias("id_a"), F.col("_thr").alias("_thr_a")
    )
    b_thr = thresholds.select(
        F.col("node").alias("id_b"), F.col("_thr").alias("_thr_b")
    )
    return (
        edges.join(a_thr, "id_a")
        .join(b_thr, "id_b")
        .where(
            (F.col("weight") >= F.col("_thr_a"))
            | (F.col("weight") >= F.col("_thr_b"))
        )
        .select("id_a", "id_b", "weight")
    )


def meta_block(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scheme: str = "cbs",
    prune: str = "wnp",
    config: PairGenConfig | None = None,
    min_token_len: int = 2,
) -> DataFrame:
    """Token blocking → weighted block graph → pruning, end to end.

    Returns the surviving candidate edges ``(id_a, id_b, weight)`` —
    the input a pairwise scorer (cosine / Jaro-Winkler / Fellegi-Sunter)
    would consume in place of the raw block-pair stream.
    """
    if prune not in ("wep", "wnp"):
        raise ValueError(f"prune must be 'wep' or 'wnp', got {prune!r}")
    blocks = token_blocks(
        df, id_col=id_col, text_col=text_col, min_token_len=min_token_len
    )
    edges = block_graph_edges(blocks, id_col=id_col, scheme=scheme, config=config)
    # the pruners consume the edge table 2-3 times (incident-weight union
    # sides + the final join); without a lineage cut each consumer re-runs
    # the whole salted pair stream and its aggregate
    edges = materialize(edges, "block_graph_edges")
    return weighted_edge_prune(edges) if prune == "wep" else weighted_node_prune(edges)
