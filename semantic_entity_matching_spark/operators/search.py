"""The reference's read path (search → rerank → evaluate) as DataFrame ops.

Reference flow (lib/search_and_rerank.py:22-113): embed query → kNN top-k
(2x over-fetch) with optional term filters → drop ``*_embedding`` fields →
render sources → Cohere rerank → top-k truncation.  Evaluate flow
(lib/evaluate.py:37-221): lexical ``match`` retrieval (size=50) → scan hits
for the gold id → rank → top-k accuracy.

Here: candidate retrieval is an operator argument (brute-force, LSH or IVF
ANN, or lexical token retrieval), filters are plain ``.filter`` pushed to
the scan, rerank is the transparent Jaro-Winkler blend, and ranks come from
a deterministic window.  Each retriever makes one corpus pass per request:
the brute-force kNN scan reranks its own survivors, and BM25 reads only the
documents' tokens that fall in the query vocabulary.
"""

from __future__ import annotations

import functools
import json
import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.extract import (
    EMBEDDING_COLUMN_SUFFIX,
)
from semantic_entity_matching_spark.functions.similarity import jaro_winkler_udf
from semantic_entity_matching_spark.operators import ann

DEFAULT_SEARCH_TOP_K = 50  # reference lib/search_and_rerank.py:35
DEFAULT_EVAL_SIZE = 50  # reference lib/evaluate.py:119

# persisted inverted indexes (see lexical_topk) — a deterministic unpersist
# handle so long-lived sessions don't accumulate executor storage until LRU.
# The registry is self-capping: persisting index N+MAX unpersists index N,
# so a caller that never heard of unpersist_lexical_indexes still holds at
# most MAX pinned indexes (cleanup does not depend on knowing the helper).
# Guarded by a lock: concurrent lexical_topk(persist_index=True) calls from
# several driver threads (guide §2.6 overlapping-jobs pattern) would
# otherwise race the append/pop.
_PERSISTED_INDEXES: list[DataFrame] = []
_PERSISTED_INDEXES_LOCK = threading.Lock()
_MAX_PERSISTED_INDEXES = 4


def _register_persisted_index(df: DataFrame) -> None:
    evicted: list[DataFrame] = []
    with _PERSISTED_INDEXES_LOCK:
        _PERSISTED_INDEXES.append(df)
        while len(_PERSISTED_INDEXES) > _MAX_PERSISTED_INDEXES:
            evicted.append(_PERSISTED_INDEXES.pop(0))
    for old in evicted:  # unpersist outside the lock (it is a JVM call)
        try:
            old.unpersist(False)
        except Exception:
            pass


def unpersist_lexical_indexes(blocking: bool = False) -> int:
    """Unpersist every inverted index cached by :func:`lexical_topk` so far.

    Call after the retrieval results are materialized (the cached index is
    consumed lazily by the returned DataFrame).  Returns the number of
    indexes released.  Thread-safe."""
    with _PERSISTED_INDEXES_LOCK:
        drained = list(_PERSISTED_INDEXES)
        _PERSISTED_INDEXES.clear()
    n = 0
    for df in reversed(drained):
        try:
            df.unpersist(blocking)
        except Exception:  # session already stopped — nothing to release
            pass
        n += 1
    return n


def drop_embedding_columns(
    df: DataFrame, suffix: str = EMBEDDING_COLUMN_SUFFIX
) -> DataFrame:
    """Negative projection ``*_embedding`` (reference
    search_query_builder.py:97-98) — Catalyst prunes the columns at scan."""
    return df.drop(*[c for c in df.columns if c.endswith(suffix)])


def _json_literal(value, ddl: str) -> Column:
    """A Python-side collection as ONE plan literal: ``from_json`` of a
    literal string folds to a constant at optimization.  Cheaper than one
    ``F.lit`` per element (a py4j round trip each) or a ``createDataFrame``
    (an extra Python RDD stage per request)."""
    return F.from_json(F.lit(json.dumps(value, default=str)), ddl)


def _term_table(entries: dict, hash_of: dict, ddl: str = "string"):
    """``entries`` (term -> value) as two hash-table literals with one
    bucket layout: bucket ``pmod(hash(term), size)`` of the key table holds
    the bucket's terms, the same bucket of the value table their values, in
    the same order; ``size`` is a power of two of at least twice the
    entries.  ``hash_of`` maps each term to Spark's ``hash`` of it.
    Returns ``contains(term)`` and ``lookup(term)`` (for a contained term).
    Both cost O(1) per row in compiled expressions, where a lookup in a
    literal map or array scans it whole."""
    size = 1 << (2 * len(entries) - 1).bit_length()
    keys: list = [[] for _ in range(size)]
    values: list = [[] for _ in range(size)]
    for term, value in entries.items():
        keys[hash_of[term] % size].append(term)
        values[hash_of[term] % size].append(value)
    key_table = _json_literal(keys, "array<array<string>>")
    value_table = _json_literal(values, f"array<array<{ddl}>>")

    def bucket(table: Column, term: Column) -> Column:
        return F.element_at(table, F.pmod(F.hash(term), F.lit(size)) + 1)

    def contains(term: Column) -> Column:
        return F.array_contains(bucket(key_table, term), term)

    def lookup(term: Column) -> Column:
        pos = F.array_position(bucket(key_table, term), term).cast("int")
        return F.element_at(bucket(value_table, term), pos)

    return contains, lookup


def _tokens(text: Column) -> Column:
    """Lower-cased ``\\W+`` tokens without empties; null text -> []."""
    return F.coalesce(
        F.filter(F.split(F.lower(text), r"\W+"), lambda t: t != ""),
        F.array().cast("array<string>"),
    )


def lexical_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = DEFAULT_EVAL_SIZE,
    query_id: str = "query_id",
    query_text: str = "query_text",
    corpus_id: str = "candidate_id",
    corpus_text: str = "text",
    score_round: int | None = None,
    max_df_ratio: float | None = None,
    persist_index: bool = False,
) -> DataFrame:
    """BM25 lexical retrieval (reference ``match`` query, J2): Okapi BM25
    (k1=1.2, b=0.75 — OpenSearch/Lucene defaults, which is what the
    reference's ``match`` endpoint computes) over the query vocabulary
    only, top-k per query.  ``corpus_id`` must be a key of ``corpus``:
    each row is one document.

    Without tf saturation + length norm, long documents from a small
    vocabulary dominate every query — observed on the synthetic documents
    table, hence full BM25 rather than a bare idf-overlap score.

    Shape, like a search engine reading only the posting lists of the
    query terms:

    1. the ``(query_id, term)`` pairs are collected in one job;
    2. the corpus is tokenized once to ``(candidate_id, dl, tokens)``;
    3. one aggregate over the documents' tokens that fall in the query
       vocabulary returns N, the total dl and each query term's df (N =
       documents with at least one term: empty documents can never match,
       so excluding them only rescales idf/avgdl consistently);
    4. each term's df and query ids enter the scoring plan as a hash-table
       literal keyed by Spark's ``hash`` of the term; each document's hit
       array gives tf, one BM25 weight per (document, term) fans out to
       the term's queries, and the per-(query, candidate) sums feed the
       per-query top-k.

    The corpus never joins the vocabulary and never shuffles whole: what
    shuffles is the partial per-(query, candidate) sums, so a large query
    batch whose terms hit most documents (no ``max_df_ratio`` cut) pays
    for that fan-out there.  A query side above ``ann.GROUPED_QUERY_BOUND``
    queries is scored in chunks of that many queries (rank is per query,
    so chunking is exact) to bound the literals' size.

    ``persist_index=True`` (opt-in: a library default that pins executor
    storage surprised callers, so the default is False) caches the
    query-independent ``(candidate_id, dl, tokens)`` table, so the
    statistics aggregate and the scoring plan — and further retrievals over
    the same corpus frame this session — tokenize the corpus once.  Every
    cached index is registered: the registry keeps at most the newest few
    (older ones are unpersisted automatically), and
    :func:`unpersist_lexical_indexes` releases all of them deterministically
    once the top-k is materialized.

    ``max_df_ratio`` drops terms whose document frequency exceeds
    ``ratio * N``: stopword-grade terms appear in nearly every document,
    so scoring them fans out O(N) rows per query for near-zero idf
    contribution — at web scale that skew, not the scoring math, is the
    bottleneck.  None keeps every term (exact Okapi).
    """
    k1, b = 1.2, 0.75
    index = corpus.select(
        F.col(corpus_id).alias("candidate_id"), _tokens(F.col(corpus_text)).alias("tokens")
    ).select("candidate_id", F.size("tokens").alias("dl"), "tokens")
    if persist_index:
        index = index.persist()
        _register_persisted_index(index)
    docs = index.where(F.col("dl") > 0)

    # (query, term) pairs with Spark's own hash of the term, which keys
    # the term tables below
    terms_of: dict = {}
    hash_of: dict = {}
    for r in queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(_tokens(F.col(query_text))).alias("term"),
    ).select("query_id", "term", F.hash("term").alias("h")).collect():
        terms_of.setdefault(r["query_id"], {})[r["term"]] = None
        hash_of[r["term"]] = r["h"]
    qid_type = queries.schema[query_id].dataType.simpleString()

    def score_chunk(chunk: list) -> DataFrame | None:
        in_vocab, _ = _term_table({t: t for q in chunk for t in terms_of[q]}, hash_of)
        stats = (
            docs.select(
                "dl",
                # the null term stands for the document itself: N and total dl
                F.explode(
                    F.concat(
                        F.array(F.lit(None).cast("string")),
                        F.array_distinct(F.filter("tokens", in_vocab)),
                    )
                ).alias("term"),
            )
            .groupBy("term")
            .agg(F.count("*").alias("n"), F.sum("dl").alias("dl"))
            .collect()
        )
        df = {r["term"]: r["n"] for r in stats if r["term"] is not None}
        totals = [r for r in stats if r["term"] is None]
        n_docs = totals[0]["n"] if totals else 0
        if max_df_ratio is not None:
            df = {t: n for t, n in df.items() if n <= float(max_df_ratio) * float(n_docs)}
        if not df:
            return None
        avgdl = float(totals[0]["dl"] / n_docs)
        entries: dict = {}
        for q in chunk:
            for t in terms_of[q]:
                if t in df:
                    entries.setdefault(t, {"df": df[t], "qids": []})["qids"].append(q)
        scored_term, term_entry = _term_table(
            entries, hash_of, f"struct<df:bigint,qids:array<{qid_type}>>"
        )
        df_col = F.col("_entry.df")
        idf = F.log(
            F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5)
        )
        tf = F.col("tf")
        tf_norm = (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
        )
        matched = (
            # the document's tokens that score, repeats kept
            docs.select("candidate_id", "dl", F.filter("tokens", scored_term).alias("_hits"))
            .select(
                "candidate_id", "dl", "_hits",
                F.explode(F.array_distinct("_hits")).alias("term"),
            )
            .select(
                "candidate_id", "dl",
                (
                    F.size("_hits") - F.size(F.array_remove("_hits", F.col("term")))
                ).alias("tf"),
                term_entry(F.col("term")).alias("_entry"),
            )
            # one BM25 term weight per (document, term), before the fan-out
            # to the queries that hold the term
            .select("candidate_id", (idf * tf_norm).alias("_part"), "_entry.qids")
        )
        return (
            matched.select("candidate_id", "_part", F.explode("qids").alias("query_id"))
            .groupBy("query_id", "candidate_id")
            .agg(F.sum("_part").alias("score"))
        )

    qids = list(terms_of)
    bound = ann.GROUPED_QUERY_BOUND
    parts = [
        p
        for p in (score_chunk(qids[i : i + bound]) for i in range(0, len(qids), bound))
        if p is not None
    ]
    if not parts:
        cid_type = corpus.schema[corpus_id].dataType.simpleString()
        return corpus.sparkSession.createDataFrame(
            [], f"query_id {qid_type}, candidate_id {cid_type}, score double, rank int"
        )
    # a common query term matches an unbounded slice of the corpus —
    # salted two-phase top-k, never one window task per query
    return ann._rounded_topk(
        functools.reduce(DataFrame.unionByName, parts), k, score_round
    )


def search_and_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "query_id",
    corpus_id: str = "candidate_id",
    vec_col: str = "embedding",
    query_text: str = "query_text",
    corpus_text: str = "text",
    size: int = 10,
    top_k: int = DEFAULT_SEARCH_TOP_K,
    overfetch: int = 2,  # reference k = 2 x size (search_query_builder.py:58)
    corpus_filter: Column | None = None,
    retriever=ann.brute_force_topk,
    score_round: int | None = None,
) -> DataFrame:
    """Vector retrieval (k = size x overfetch) + string rerank + truncate.

    ``corpus_filter`` mirrors the reference's non-scoring bool.filter
    context (search_query_builder.py:85-95): applied to the corpus BEFORE
    retrieval so Catalyst pushes it to the scan (partition pruning intact).
    Returns (query_id, candidate_id, knn_score, rerank_score, rank) with
    rank from the rerank score, deterministic tiebreak.

    With the default retriever, retrieval and rerank are one corpus pass
    per chunk of ``ann.GROUPED_QUERY_BOUND`` queries: the query texts ride
    the query-matrix broadcast, the scan reads each candidate's own text,
    and Jaro-Winkler runs on each scan task's surviving kNN rows only (at
    most n_queries × (k + ties) per task) — no join back to the corpus, no
    separate rerank stage, and both rank windows share one exchange.  Then
    ``corpus_id`` must be a key of ``corpus``.  Any other retriever takes
    the generic path: retrieve, join both texts back, rerank.
    """
    if corpus_filter is not None:
        corpus = corpus.filter(corpus_filter)
    k = size * overfetch
    if retriever is ann.brute_force_topk:
        reranked = ann._grouped_brute_scores(
            queries, corpus, query_id, corpus_id, vec_col,
            k=max(k, 1), score_round=score_round, texts=(query_text, corpus_text),
        ).withColumnRenamed("score", "knn_score")
        if score_round is not None:
            reranked = reranked.withColumn(
                "knn_score", F.round(F.col("knn_score"), score_round)
            )
        knn_rank = Window.partitionBy("query_id").orderBy(
            F.desc("knn_score"), F.asc("candidate_id")
        )
        reranked = (
            reranked.withColumn("_knn_rank", F.row_number().over(knn_rank))
            .where(F.col("_knn_rank") <= k)
            .drop("_knn_rank")
        )
    else:
        retr_kwargs = {} if score_round is None else {"score_round": score_round}
        hits = retriever(
            queries,
            corpus,
            k=k,
            query_id=query_id,
            corpus_id=corpus_id,
            vec_col=vec_col,
            **retr_kwargs,
        ).withColumnRenamed("score", "knn_score")
        q = queries.select(
            F.col(query_id).alias("query_id"), F.col(query_text).alias("_qt")
        )
        c = corpus.select(
            F.col(corpus_id).alias("candidate_id"), F.col(corpus_text).alias("_ct")
        )
        reranked = (
            hits.join(F.broadcast(q), "query_id")
            .join(c, "candidate_id")
            .withColumn("rerank_score", jaro_winkler_udf(F.col("_qt"), F.col("_ct")))
            .drop("_qt", "_ct", "rank")
        )
    if score_round is not None:
        reranked = reranked.withColumn(
            "rerank_score", F.round(F.col("rerank_score"), score_round)
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rerank_score"), F.asc("candidate_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.least(F.lit(top_k), F.lit(k)))
        .select("query_id", "candidate_id", "knn_score", "rerank_score", "rank")
    )


def evaluate_gold_ranks(
    hits: DataFrame,
    gold: DataFrame,
    query_id: str = "query_id",
    gold_candidate: str = "gold_id",
) -> DataFrame:
    """Rank of the gold candidate per query (reference lib/evaluate.py:
    171-204: first hit whose match_field equals the gold value).

    -> (query_id, rank) with null rank when the gold doc was not retrieved
    (the reference's rank=None path).  ``gold`` is broadcast — it is the
    small labeled set by construction (J3).
    """
    g = gold.select(
        F.col(query_id).alias("query_id"),
        F.col(gold_candidate).alias("candidate_id"),
    )
    matched = (
        hits.join(F.broadcast(g), ["query_id", "candidate_id"])
        .groupBy("query_id")
        .agg(F.min("rank").alias("rank"))
    )
    return g.select("query_id").distinct().join(matched, "query_id", "left")
