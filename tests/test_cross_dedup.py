"""Cross-corpus near-dup dedup (operators/dedup.py cross_corpus_*)."""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.dedup import (
    cross_corpus_dedup,
    cross_corpus_near_duplicates,
    jaccard_py,
)
from semantic_entity_matching_spark.operators.pairs import PairGenConfig

_CFG = PairGenConfig(max_block_size=1_000_000, hot_block_threshold=4)

_BASE = (
    "the quick brown fox jumps over the lazy dog near the riverbank "
    "every single morning before anyone else wakes up in the village"
)


def _corpus(spark, rows, idc="doc_id"):
    return spark.createDataFrame(rows, f"{idc} bigint, text string")


def test_matches_exact_and_near_not_far(spark):
    near = _BASE.replace("village", "hamlet")  # 1 token of ~22 differs
    far = "completely unrelated text about spark shuffle partitions"
    corpus = _corpus(spark, [(1, _BASE), (2, near), (3, far), (4, None)])
    ref = _corpus(spark, [(10, "  " + _BASE.upper() + " ")], idc="ref_id")
    m = {
        (r.doc_id, r.ref_id): r.jaccard
        for r in cross_corpus_near_duplicates(
            corpus, ref, jaccard_threshold=0.8, pairgen=_CFG
        ).collect()
    }
    assert (1, 10) in m and m[(1, 10)] == 1.0
    assert (2, 10) in m  # near-dup above 0.8
    assert m[(2, 10)] == jaccard_py(near, _BASE)
    assert all(k[0] not in (3, 4) for k in m)


def test_dedup_survivors_keep_schema_and_nulls(spark):
    corpus = _corpus(spark, [(1, _BASE), (2, "other words entirely"), (3, None)])
    ref = _corpus(spark, [(10, _BASE)], idc="ref_id")
    out = cross_corpus_dedup(corpus, ref, jaccard_threshold=0.9, pairgen=_CFG)
    assert out.columns == corpus.columns
    assert {r.doc_id for r in out.collect()} == {2, 3}  # null survives


def test_threshold_excludes_below(spark):
    # a high-jaccard pair (banding recall at ~0.9 is the operating
    # regime): the SAME candidate clears a threshold just below its true
    # jaccard and is excluded by one just above it
    near = _BASE.replace("village", "hamlet")
    j = jaccard_py(near, _BASE)
    assert j >= 0.85
    corpus = _corpus(spark, [(1, near)])
    ref = _corpus(spark, [(10, _BASE)], idc="ref_id")
    high = cross_corpus_near_duplicates(
        corpus, ref, jaccard_threshold=min(0.999, j + 0.01), pairgen=_CFG
    ).count()
    low = cross_corpus_near_duplicates(
        corpus, ref, jaccard_threshold=j - 0.05, pairgen=_CFG
    ).count()
    assert high == 0 and low == 1


def test_block_cap_drops_boilerplate_keys_both_sides(spark):
    # every row on both sides is the same page: with the cap at 3 the
    # band keys exceed it on the 5-row side and the key is purged
    corpus = _corpus(spark, [(i, _BASE) for i in range(1, 6)])
    ref = _corpus(spark, [(10, _BASE)], idc="ref_id")
    capped = cross_corpus_near_duplicates(
        corpus,
        ref,
        jaccard_threshold=0.9,
        pairgen=PairGenConfig(max_block_size=3, hot_block_threshold=2),
    )
    assert capped.count() == 0
    uncapped = cross_corpus_near_duplicates(
        corpus, ref, jaccard_threshold=0.9, pairgen=_CFG
    )
    assert uncapped.count() == 5


def test_partition_and_salt_invariance(spark):
    # 30 corpus rows in 3 one-token variants of one page: their shared
    # band keys hold 30 > 20 corpus rows, so the default config salts them
    # (ceil(30/20) = 2 salts) by input size alone.  The matches must be
    # the brute-force cross-Jaccard set under any partitioning and also
    # with every key salted up to the parallelism cap.
    rows = [
        (i, _BASE.replace("village", f"village{i % 3}")) for i in range(1, 31)
    ]
    refs = [(100 + i, _BASE) for i in range(3)]
    truth = sorted(
        (d, r, round(jaccard_py(dt, rt), 9))
        for d, dt in rows
        for r, rt in refs
        if jaccard_py(dt, rt) >= 0.8
    )
    assert len(truth) == len(rows) * len(refs)
    corpus = _corpus(spark, rows)
    ref = _corpus(spark, refs, idc="ref_id")
    for c, r, cfg in (
        (corpus, ref, PairGenConfig()),
        (corpus.repartition(5), ref.repartition(2), PairGenConfig()),
        (
            corpus.repartition(3),
            ref,
            PairGenConfig(max_block_size=1_000_000, hot_block_threshold=1),
        ),
    ):
        got = sorted(
            (m.doc_id, m.ref_id, round(m.jaccard, 9))
            for m in cross_corpus_near_duplicates(
                c, r, jaccard_threshold=0.8, pairgen=cfg
            ).collect()
        )
        assert got == truth


def test_distinct_id_column_names(spark):
    corpus = spark.createDataFrame([(1, _BASE)], "url bigint, body string")
    ref = spark.createDataFrame([(9, _BASE)], "page bigint, content string")
    m = cross_corpus_near_duplicates(
        corpus,
        ref,
        corpus_id="url",
        ref_id="page",
        text_col="body",
        ref_text_col="content",
        jaccard_threshold=0.9,
        pairgen=_CFG,
    ).collect()
    assert [(r.url, r.page, r.jaccard) for r in m] == [(1, 9, 1.0)]


# ---------------------------------------------------------------------------
# hard-negative mining (operators/ann.py mine_hard_negatives)
# ---------------------------------------------------------------------------

def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )


def test_hard_negatives_exclude_positives_and_self(spark):
    from semantic_entity_matching_spark.operators.ann import mine_hard_negatives

    # anchor 1; 2 is its positive (identical vector — would rank first);
    # 3 is the hardest legitimate negative; 4 is farther.
    rows = [
        (1, [1.0, 0.0, 0.0], 7),
        (2, [1.0, 0.0, 0.0], 7),
        (3, [0.9, 0.1, 0.0], 8),
        (4, [0.0, 1.0, 0.0], 8),
    ]
    emb = _vecs(spark, rows)
    positives = spark.createDataFrame([(1, 2)], "query_id bigint, candidate_id bigint")
    out = mine_hard_negatives(
        emb, positives, k=2, query_filter=emb.vec_id == 1, score_round=6
    ).collect()
    assert [(r.candidate_id, r.rank) for r in out] == [(3, 1), (4, 2)]


def test_hard_negatives_symmetric_reversal(spark):
    from semantic_entity_matching_spark.operators.ann import mine_hard_negatives

    rows = [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.5, 0.5], 1)]
    emb = _vecs(spark, rows)
    # positive stored REVERSED relative to the anchor
    positives = spark.createDataFrame([(2, 1)], "query_id bigint, candidate_id bigint")
    sym = mine_hard_negatives(
        emb, positives, k=3, query_filter=emb.vec_id == 1, symmetric=True
    ).collect()
    assert [r.candidate_id for r in sym] == [3]
    asym = mine_hard_negatives(
        emb, positives, k=3, query_filter=emb.vec_id == 1, symmetric=False
    ).collect()
    assert [r.candidate_id for r in asym] == [2, 3]


def test_exclude_pairs_validates_columns(spark):
    import pytest as _pytest

    from semantic_entity_matching_spark.operators.ann import brute_force_topk

    emb = _vecs(spark, [(1, [1.0], 0)])
    bad = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    with _pytest.raises(ValueError, match="query_id"):
        brute_force_topk(
            emb, emb, k=1, query_id="vec_id", corpus_id="vec_id",
            exclude_pairs=bad,
        ).collect()
