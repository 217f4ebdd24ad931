"""Meta-blocking (operators/metablocking.py) and the token comparators
(functions/similarity.py token_sort_ratio_expr / monge_elkan_set_scores)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.similarity import (
    jaro_winkler_py,
    monge_elkan_set_scores,
    token_sort_ratio_expr,
)
from semantic_entity_matching_spark.operators.metablocking import (
    block_graph_edges,
    meta_block,
    token_blocks,
    weighted_edge_prune,
    weighted_node_prune,
)
from semantic_entity_matching_spark.operators.pairs import PairGenConfig


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_token_blocks_normalize_distinct(spark):
    df = _docs(
        spark,
        [
            (1, "Acme CORP, acme!  x"),  # 'acme' twice -> one membership
            (2, None),
            (3, "acme widgets"),
        ],
    )
    rows = {
        (r.doc_id, r.block_key)
        for r in token_blocks(df).collect()
    }
    # 'x' dropped (min_token_len=2); null text dropped; acme deduped per doc
    assert rows == {(1, "acme"), (1, "corp"), (3, "acme"), (3, "widgets")}


def test_cbs_weights_count_shared_blocks(spark):
    df = _docs(
        spark,
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta delta"),
            (3, "alpha zzz yyy"),
        ],
    )
    edges = {
        (r.id_a, r.id_b): r.weight
        for r in block_graph_edges(token_blocks(df)).collect()
    }
    assert edges == {(1, 2): 2, (1, 3): 1, (2, 3): 1}


def test_block_size_cap_purges_stopword_blocks(spark):
    # 'the' appears in all 5 docs -> block of 5 > cap 4 -> contributes no
    # pairs; 'rare' appears in 2 -> the only edge.
    rows = [(i, f"the rare{'x' if i > 2 else ''} w{i}") for i in range(1, 6)]
    df = _docs(spark, rows)
    cfg = PairGenConfig(max_block_size=4, hot_block_threshold=2)
    edges = {
        (r.id_a, r.id_b): r.weight
        for r in block_graph_edges(token_blocks(df), config=cfg).collect()
    }
    assert edges == {(1, 2): 1, (3, 4): 1, (3, 5): 1, (4, 5): 1}


def test_arcs_weights_fixed_point(spark):
    df = _docs(
        spark,
        [
            (1, "alpha beta"),
            (2, "alpha beta"),
            (3, "alpha"),
        ],
    )
    edges = {
        (r.id_a, r.id_b): r.weight
        for r in block_graph_edges(token_blocks(df), scheme="arcs").collect()
    }
    # alpha block |b|=3 -> 3 comparisons -> 1e6/3 = 333333 per pair;
    # beta block |b|=2 -> 1 comparison -> 1e6 per pair.
    assert edges == {(1, 2): 333333 + 10**6, (1, 3): 333333, (2, 3): 333333}


def test_wnp_keeps_above_average_edges(spark):
    df = _docs(
        spark,
        [
            (1, "a1 a2 a3 a4"),
            (2, "a1 a2 a3 a4"),  # (1,2) weight 4
            (3, "a1 zz"),        # (1,3),(2,3) weight 1
        ],
    )
    edges = block_graph_edges(token_blocks(df))
    kept = {(r.id_a, r.id_b) for r in weighted_node_prune(edges).collect()}
    # node1 mean = (4+1)/2=2.5 -> keeps (1,2); node3 mean = 1 -> keeps
    # both its edges.  (1,3)/(2,3) survive via node 3's threshold.
    assert kept == {(1, 2), (1, 3), (2, 3)}


def test_wep_global_mean(spark):
    df = _docs(
        spark,
        [
            (1, "a1 a2 a3 a4"),
            (2, "a1 a2 a3 a4"),
            (3, "a1 zz"),
        ],
    )
    edges = block_graph_edges(token_blocks(df))
    kept = {(r.id_a, r.id_b) for r in weighted_edge_prune(edges).collect()}
    # weights 4,1,1 -> mean 2.0 -> only (1,2) survives
    assert kept == {(1, 2)}


def test_meta_block_end_to_end_partition_invariant(spark):
    rows = [
        (i, f"record shared{i % 7} tok{i} tok{i + 1} tok{i + 2}")
        for i in range(1, 41)
    ]
    df = _docs(spark, rows)
    base = sorted(
        (r.id_a, r.id_b, r.weight) for r in meta_block(df).collect()
    )
    assert len(base) > 0
    for nparts in (1, 7):
        again = sorted(
            (r.id_a, r.id_b, r.weight)
            for r in meta_block(df.repartition(nparts)).collect()
        )
        assert again == base


def test_meta_block_validates_prune():
    with pytest.raises(ValueError, match="prune"):
        meta_block(None, prune="bogus")


def test_block_graph_validates_scheme():
    with pytest.raises(ValueError, match="scheme"):
        block_graph_edges(None, scheme="bogus")


# ---------------------------------------------------------------------------
# token comparators
# ---------------------------------------------------------------------------


def test_token_sort_ratio_order_insensitive(spark):
    df = spark.createDataFrame(
        [("Acme Corp Ltd", "ltd ACME corp"), ("abc", "xyz"), ("", "")],
        "a string, b string",
    )
    vals = [
        r.v
        for r in df.select(
            token_sort_ratio_expr("a", "b").alias("v")
        ).collect()
    ]
    assert vals[0] == 1.0  # pure reordering
    assert vals[1] < 0.5
    assert vals[2] == 1.0  # both empty -> 1.0 by convention


def test_monge_elkan_set_scores_hand_computed(spark):
    pairs = spark.createDataFrame(
        [(1, 2, "jon smith", "john smyth inc")],
        "id_a bigint, id_b bigint, text_a string, text_b string",
    )
    out = monge_elkan_set_scores(pairs).collect()
    assert len(out) == 1

    def micro(x, y):
        return round(jaro_winkler_py(x, y) * 1e6)

    ta, tb = ["jon", "smith"], ["john", "smyth", "inc"]
    mea = sum(max(micro(x, y) for y in tb) for x in ta) / (1e6 * len(ta))
    meb = sum(max(micro(x, y) for x in ta) for y in tb) / (1e6 * len(tb))
    assert out[0].monge_elkan == round((mea + meb) / 2, 6)


def test_monge_elkan_duplicates_collapse(spark):
    # set semantics: repeating a token must not change the score
    pairs = spark.createDataFrame(
        [(1, 2, "acme acme corp", "acme corp"), (3, 4, "acme corp", "acme corp")],
        "id_a bigint, id_b bigint, text_a string, text_b string",
    )
    out = {r.id_a: r.monge_elkan for r in monge_elkan_set_scores(pairs).collect()}
    assert out[1] == out[3] == 1.0
