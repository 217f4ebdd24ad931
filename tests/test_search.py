from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.embed import TokenHashEmbeddingProvider
from semantic_entity_matching_spark.operators.evaluate import top_k_metric
from semantic_entity_matching_spark.operators.search import (
    drop_embedding_columns,
    evaluate_gold_ranks,
    lexical_topk,
    search_and_rerank,
)

CATALOG = [
    # LOINC-style catalog (FIXTURES.md §3)
    ("L1", "fasting blood glucose measurement", "CHEM"),
    ("L2", "hemoglobin a1c in blood", "CHEM"),
    ("L3", "bacteria culture urine specimen", "MICRO"),
    ("L4", "white blood cell count automated", "HEM"),
    ("L5", "fasting plasma glucose level", "CHEM"),
]

QUERIES = [
    ("q1", "FBS fasting blood glucose", "L1"),
    ("q2", "urine culture bacteria", "L3"),
    ("q3", "wbc count automated", "L4"),
]


@pytest.fixture(scope="module")
def catalog(spark):
    prov = TokenHashEmbeddingProvider(dim=128)
    df = spark.createDataFrame(CATALOG, "candidate_id string, text string, class string")
    return df.withColumn("embedding", prov.udf()(F.col("text"))).cache()


@pytest.fixture(scope="module")
def queries(spark):
    prov = TokenHashEmbeddingProvider(dim=128)
    df = spark.createDataFrame(QUERIES, "query_id string, query_text string, gold_id string")
    return df.withColumn("embedding", prov.udf()(F.col("query_text"))).cache()


def test_drop_embedding_columns(catalog):
    out = drop_embedding_columns(catalog.withColumnRenamed("embedding", "text_embedding"))
    assert "text_embedding" not in out.columns and "text" in out.columns


def test_search_and_rerank_finds_gold(spark, catalog, queries):
    hits = search_and_rerank(queries, catalog, size=3, top_k=3)
    ranked = evaluate_gold_ranks(hits, queries)
    got = {r["query_id"]: r["rank"] for r in ranked.collect()}
    assert got["q1"] == 1
    assert got["q2"] == 1
    assert got["q3"] == 1


def test_search_filter_pushes_class(spark, catalog, queries):
    # reference term-filter semantics (--filter-field CLASS --filter-value MICRO)
    hits = search_and_rerank(
        queries, catalog, size=5, top_k=5, corpus_filter=F.col("class") == "MICRO"
    )
    cands = {r["candidate_id"] for r in hits.collect()}
    assert cands == {"L3"}


def test_lexical_topk(spark, catalog, queries):
    hits = lexical_topk(
        queries, catalog, k=5, query_text="query_text", corpus_text="text"
    )
    ranked = evaluate_gold_ranks(hits, queries)
    got = {r["query_id"]: r["rank"] for r in ranked.collect()}
    assert got["q1"] == 1 and got["q2"] == 1 and got["q3"] == 1


def test_production_retriever_recall_vs_exact(spark):
    """The q29 CONTRACT path retrieves with exact brute force (that is what
    the DuckDB oracle can check); production retrieval at 10^12 docs is
    lsh_topk / ivf_topk.  This pins their end-to-end recall through
    search_and_rerank against the exact path on the sf0.01 documents corpus
    (reference over-fetch role: k = 2×size, search_query_builder.py:58).

    Embeddings are token-hash (similarity-preserving — the flagship's
    default provider): a retriever's recall is only meaningful when near
    neighbors are actually near.  Both retrievers score a bounded FRACTION
    of the corpus per query (LSH: bucket collisions across 24×6-bit
    tables; IVF: 12 of 16 cells) — the cost/recall trade the knobs
    control; measured here: lsh 1.00, ivf 1.00, vs 0.96 / 0.89 at the
    next-cheaper settings."""
    import functools

    from semantic_entity_matching_spark.functions.embed import (
        TokenHashEmbeddingProvider,
    )
    from semantic_entity_matching_spark.functions.extract import (
        valid_query_filter,
    )
    from semantic_entity_matching_spark.operators.ann import ivf_topk, lsh_topk

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .where(valid_query_filter("text"))
    )
    embed = TokenHashEmbeddingProvider(dim=256).udf()
    corpus = docs.select(
        F.col("doc_id").alias("candidate_id"),
        "text",
        embed(F.col("text")).alias("embedding"),
    ).cache()
    qs = docs.where(F.col("doc_id") < 15).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"),
        embed(F.col("text")).alias("embedding"),
    ).cache()

    def final_hits(retriever):
        out = search_and_rerank(
            qs, corpus, size=10, top_k=5, overfetch=2,
            retriever=retriever, score_round=6,
        )
        return {(r["query_id"], r["candidate_id"]) for r in out.collect()}

    exact = final_hits(__import__(
        "semantic_entity_matching_spark.operators.ann", fromlist=["brute_force_topk"]
    ).brute_force_topk)
    assert exact

    lsh = final_hits(
        functools.partial(lsh_topk, n_tables=24, n_bits=6, seed=42)
    )
    ivf = final_hits(
        functools.partial(ivf_topk, nlist=16, nprobe=12, seed=42)
    )
    lsh_recall = len(lsh & exact) / len(exact)
    ivf_recall = len(ivf & exact) / len(exact)
    assert lsh_recall >= 0.95, f"lsh recall {lsh_recall:.3f}"
    assert ivf_recall >= 0.95, f"ivf recall {ivf_recall:.3f}"


def test_gold_rank_null_when_not_retrieved(spark, catalog, queries):
    # force retrieval misses by filtering the corpus to one class
    hits = search_and_rerank(
        queries, catalog, size=5, top_k=5, corpus_filter=F.col("class") == "MICRO"
    )
    ranked = evaluate_gold_ranks(hits, queries)
    got = {r["query_id"]: r["rank"] for r in ranked.collect()}
    assert got["q2"] == 1 and got["q1"] is None and got["q3"] is None
    # top-k metric semantics: nulls count in denominator (reference
    # lib/evaluate.py:20-34)
    assert top_k_metric(ranked, k=5) == pytest.approx(100.0 / 3)


def test_ranked_topk_partitioning_independent(spark):
    """The salted two-phase top-k (rank within (query, input partition),
    then merge) must return the exact global top-k under ANY input
    partitioning — phase 1 never drops a winner because every global
    top-k row ranks <= k within its own partition under the same total
    order."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from semantic_entity_matching_spark.operators.ann import ranked_topk

    random.seed(5)
    rows = [
        (q, c, round(random.random(), 3))  # coarse scores force ties
        for q in range(4)
        for c in range(500)
    ]
    df = spark.createDataFrame(rows, "query_id int, candidate_id int, score double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("candidate_id")
    )
    want = sorted(
        (r["query_id"], r["candidate_id"], r["score"], r["rank"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 7).collect()
    )
    for parts in (1, 3, 64):
        got = sorted(
            (r["query_id"], r["candidate_id"], r["score"], r["rank"])
            for r in ranked_topk(df.repartition(parts), 7).collect()
        )
        assert got == want, f"partitions={parts}"


def _sf_documents(spark):
    """sf0.01 documents with token-hash embeddings; every 7th text is
    nulled AFTER embedding, so the rerank sees null texts on both sides."""
    embed = TokenHashEmbeddingProvider(dim=64).udf()
    from conftest import SF_MEDIUM

    docs = spark.read.parquet(f"{SF_MEDIUM}/documents.parquet")
    corpus = docs.select(
        F.col("doc_id").alias("candidate_id"),
        "lang",
        embed(F.col("text")).alias("embedding"),
        F.when(F.col("doc_id") % 7 != 0, F.col("text")).alias("text"),
    ).repartition(3).cache()
    queries = corpus.where(F.col("candidate_id") < 30).select(
        F.col("candidate_id").alias("query_id"),
        F.col("text").alias("query_text"),
        "embedding",
    )
    return corpus, queries


@pytest.mark.parametrize("score_round", [None, 6])
def test_fused_search_and_rerank_equals_generic_path(spark, score_round):
    """The default retriever reranks inside the kNN scan; the generic
    path (any other retriever callable) retrieves, joins both texts back
    and reranks in a separate stage.  Same rows, bit for bit."""
    import functools

    from semantic_entity_matching_spark.operators.ann import brute_force_topk

    corpus, queries = _sf_documents(spark)

    def run(**kw):
        out = search_and_rerank(
            queries, corpus, size=5, top_k=4, score_round=score_round,
            corpus_filter=F.col("lang") == "en", **kw,
        )
        return sorted(tuple(r) for r in out.collect())

    fused = run()
    assert fused == run(retriever=functools.partial(brute_force_topk))
    assert {r[1] for r in fused} <= {
        r["candidate_id"] for r in corpus.where(F.col("lang") == "en").collect()
    }
    assert any(r[3] == 0.0 for r in fused)  # a null text on one side


def test_fused_search_and_rerank_chunks_a_large_query_side(spark, monkeypatch):
    """A query side above ``ann.GROUPED_QUERY_BOUND`` still reranks inside
    the kNN scan, one scan per chunk of queries: the same rows, bit for
    bit, as the one-chunk run and as the generic path, and no per-pair
    Python UDF for cosine or Jaro-Winkler in the plan."""
    import functools

    from semantic_entity_matching_spark.operators import ann

    corpus, queries = _sf_documents(spark)

    def search(**kw):
        return search_and_rerank(queries, corpus, size=5, top_k=4, **kw)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    one_chunk = rows(search())
    monkeypatch.setattr(ann, "GROUPED_QUERY_BOUND", 7)  # 30 queries: 5 chunks
    chunked = search()
    assert rows(chunked) == one_chunk
    assert rows(search(retriever=functools.partial(ann.brute_force_topk))) == one_chunk
    assert len({r[0] for r in one_chunk}) == 30
    plan = chunked._jdf.queryExecution().sparkPlan().toString().splitlines()
    assert sum("MapInPandas" in line for line in plan) == 5, plan
    per_pair = [
        line for line in plan
        if "ArrowEvalPython" in line and ("jaro_winkler" in line or "_cosine_batch" in line)
    ]
    assert per_pair == [], per_pair


LEX_CORPUS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "cats and dogs"),
    (4, ""),
    (5, None),
    (6, "the the the cat"),
    (7, "a bird in the hand"),
    (8, "mat mat mat dog"),
    (9, "Cat; DOG!! bird."),
    (10, "the quick brown fox"),
]

LEX_QUERIES = [
    ("q1", "the cat"),
    ("q2", "dog dog mat"),  # repeated query term counts once
    ("q3", "zebra unicorn"),  # no corpus term
    ("q4", None),
    ("q5", ""),
    ("q6", "bird the fox"),
    ("q7", "hand"),
]


def _bm25_reference(queries, corpus, k, max_df_ratio, k1=1.2, b=0.75):
    """Okapi BM25 in plain Python: N and avgdl over the documents with at
    least one token, Java ``\\W+`` tokens, the same idf and tf saturation."""
    import math
    import re
    from collections import Counter

    def tokens(text):
        return [t for t in re.split(r"[^a-zA-Z0-9_]+", (text or "").lower()) if t]

    docs = {c: tokens(t) for c, t in corpus if tokens(t)}
    n = len(docs)
    avgdl = sum(len(ts) for ts in docs.values()) / n
    df = Counter(t for ts in docs.values() for t in set(ts))
    scores = {}
    for qid, text in queries:
        for cid, ts in docs.items():
            tf = Counter(ts)
            hit = [
                t for t in set(tokens(text))
                if t in tf and (max_df_ratio is None or df[t] <= max_df_ratio * n)
            ]
            if hit:
                scores[(qid, cid)] = sum(
                    math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    * tf[t] * (k1 + 1)
                    / (tf[t] + k1 * (1 - b + b * len(ts) / avgdl))
                    for t in hit
                )
    top = {}
    for (qid, cid), s in sorted(scores.items(), key=lambda x: (x[0][0], -x[1], x[0][1])):
        top.setdefault(qid, [])
        if len(top[qid]) < k:
            top[qid].append((cid, s))
    return top


@pytest.mark.parametrize("max_df_ratio", [None, 0.5])
def test_lexical_topk_matches_python_bm25(spark, monkeypatch, max_df_ratio):
    from semantic_entity_matching_spark.operators import ann

    corpus = spark.createDataFrame(LEX_CORPUS, "candidate_id int, text string")
    queries = spark.createDataFrame(LEX_QUERIES, "query_id string, query_text string")

    def run():
        out = lexical_topk(queries, corpus, k=3, max_df_ratio=max_df_ratio)
        return sorted(tuple(r) for r in out.collect())

    rows = run()
    want = _bm25_reference(LEX_QUERIES, LEX_CORPUS, 3, max_df_ratio)
    got = {}
    for qid, cid, score, rank in rows:
        got.setdefault(qid, []).append((rank, cid, score))
    assert set(got) == set(want) and "q3" not in got and "q4" not in got
    for qid, ref in want.items():
        mine = sorted(got[qid])
        assert [c for _, c, _ in mine] == [c for c, _ in ref], qid
        for (_, _, s), (_, r) in zip(mine, ref):
            assert s == pytest.approx(r, rel=1e-12, abs=0.0)
    # chunks of two queries: rank is per query, so the rows are identical
    monkeypatch.setattr(ann, "GROUPED_QUERY_BOUND", 2)
    assert run() == rows
