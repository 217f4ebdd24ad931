"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship record-linkage pipeline (SURVEY.md §3.1
equivalent: extract → embed → block → pair → score → cluster) on the
sf0.001 ``documents`` table and returns the cluster assignment.

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent SQL for EVERY
query — including MinHash near-dup, SimHash, and connected components,
whose contracts are exact sets the oracle recomputes quadratically
(LSH banding is candidate generation, not the contract; banding recall 1
at the thresholds is verified on this corpus and pigeonhole-guaranteed
for SimHash).

Cross-engine determinism rules used throughout (SURVEY.md §7.3):
* every float column is round()-ed in BOTH engines;
* every top-k ranks on the ROUNDED score with an id tiebreak, so float
  near-ties collapse to exact ties broken deterministically;
* aggregate/computed columns carry identical aliases on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the engine package lives next to this file; make imports work no matter
# the caller's working directory
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_SMALL = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_STOPWORDS_SQL = (
    "'the','a','an','and','or','of','to','in','is','are','was','were',"
    "'be','been','it','this','that','with','for','on','as','at','by','from'"
)

# ---------------------------------------------------------------------------
# entry: flagship pipeline
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full record-linkage pipeline over sf0.001 documents.

    documents → canonical text + token-hash embedding → MinHash-LSH +
    sorted-neighborhood blocking → salted candidate join → cosine + JW +
    Levenshtein blend → threshold edges → large-star/small-star CC.
    """
    from semantic_entity_matching_spark.plans.pipeline import (
        MatchConfig,
        run_pipeline,
    )

    docs = _t(spark, SF_SMALL, "documents")
    config = MatchConfig(
        id_col="doc_id",
        text_col="text",
        extract_cols=("doc_id", "text", "lang"),
    )
    result = run_pipeline(docs, config)
    return result.clusters.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# relational operator coverage (joins / aggs / windows / set ops / filters)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A-family hash aggregate with map-side partials (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q51_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-family shuffle join + window top-k with pre-rounded rank key."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    joined = rev.join(cust, rev.o_custkey == cust.c_custkey)
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("c_custkey", "c_name", "revenue", "rk")
    )


def q52_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way broadcast join (dims) + grouped aggregate."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


def q04_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (S3 resume primitive / NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 150000.0)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q53_nation_top3_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 ranking window with deterministic tiebreak."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "c_nationkey",
            "c_custkey",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "rk",
        )
    )


def q54_never_f_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT (§2.7) — custkeys with orders but never status 'F'."""
    orders = _t(spark, sf_dir, "orders")
    all_ck = orders.select(F.col("o_custkey").alias("custkey")).distinct()
    f_ck = (
        orders.where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    return all_ck.subtract(f_ck)


def q55_priority_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 range filter pushed to scan + grouped agg."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_totalprice") >= 50000.0)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_date"),
        )
    )


def q56_brand_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim join (part) + agg — the broadcast-able join, broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_items"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_retail"),
        )
    )


def q09_user_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window batch analog of the streaming path (§2.9)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.withColumn(
            "hour", F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH")
        )
        .groupBy("user_id", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# record-linkage / text operators over documents & embeddings
# ---------------------------------------------------------------------------


def q10_canonical_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 canonical entity-text extraction (byte-identical contract)."""
    from semantic_entity_matching_spark.functions.extract import canonical_text_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", canonical_text_udf(["doc_id", "text", "lang"]).alias("entity_text")
    )


def q11_query_text_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 query-text construction + P4 validity predicate."""
    from semantic_entity_matching_spark.functions.extract import (
        query_text_udf,
        valid_query_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("qtext", query_text_udf(["text", "lang"]))
        .where(valid_query_filter("qtext"))
        .select("doc_id", "qtext")
    )


def q12_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-content hash.

    The raw corpus contains no exact duplicates (round-4 verdict: the
    contract row verified vacuously on 0 groups), so the query plants them
    deterministically: every doc_id % 5 == 0 page is re-emitted under
    doc_id + 100000 with case flipped and whitespace padded — text the
    lower/trim/``\\s+``-squash normalization must collapse back onto the
    original.  The oracle builds the identical union, so the contract now
    verifies non-empty group output AND the normalization itself.
    """
    from semantic_entity_matching_spark.operators.dedup import exact_duplicate_groups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.where(
        (F.col("doc_id") % 5 == 0) & F.col("text").isNotNull()
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit("   ")).alias("text"),
    )
    return exact_duplicate_groups(
        docs.unionByName(mutated), id_col="doc_id", text_col="text"
    )


def q13_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (portable md5 twin of xxhash64 path)."""
    from semantic_entity_matching_spark.functions.textops import fingerprint_hex

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_hex("text").alias("content_hash"))


def q14_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish pre-tokenizer counts."""
    from semantic_entity_matching_spark.functions.textops import (
        bpe_ish_token_count,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe"),
        F.coalesce(F.length("text"), F.lit(0)).alias("n_chars"),
    )


def q57_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (C4/Gopher-style length/punct/stopword heuristics)."""
    from semantic_entity_matching_spark.functions.textops import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(quality_score("text"), 6).alias("quality")
    )


def q16_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID n-gram/function-word heuristic."""
    from semantic_entity_matching_spark.functions.textops import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id("text").alias("lang_guess"))


def q17_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline, J1 family)."""
    from semantic_entity_matching_spark.operators.ann import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    return brute_force_topk(
        queries,
        emb,
        k=5,
        query_id="vec_id",
        corpus_id="vec_id",
        exclude_self=True,
        score_round=6,
    )


def q58_adjacent_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard verification on a deterministic pair set."""
    from semantic_entity_matching_spark.operators.dedup import ngram_jaccard_verify

    docs = _t(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    verified = ngram_jaccard_verify(pairs, docs, id_col="doc_id", text_col="text")
    return verified.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


def q19_lexical_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 lexical retrieval: inverted-index join + Okapi BM25 top-k."""
    from semantic_entity_matching_spark.operators.search import lexical_topk

    docs = _t(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    corpus = docs.select(F.col("doc_id").alias("candidate_id"), "text")
    out = lexical_topk(
        queries,
        corpus,
        k=10,
        corpus_id="candidate_id",
        corpus_text="text",
        score_round=6,
        # stopword-skew protection: terms in >90% of docs never reach the
        # inverted-index join (oracle applies the same df cut)
        max_df_ratio=0.9,
        # the same corpus index serves every query of the batch; the bench
        # opts in explicitly now that the library default is no-persist
        persist_index=True,
    )
    return out.select("query_id", "candidate_id", "score", "rank")


def q20_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, bucketed by label (scale path)."""
    from semantic_entity_matching_spark.operators.dedup import (
        embedding_near_duplicates,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_duplicates(
        emb, id_col="vec_id", vec_col="embedding",
        bucket_col="label", cosine_threshold=0.25, score_round=6,
    )
    return out.select("id_a", "id_b", "cosine")


def q21_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified with exact token-set Jaccard.

    LSH banding is candidate GENERATION only: every emitted pair carries its
    true unigram Jaccard and the threshold applies to that, so the result is
    exactly ``{(a,b) : jaccard >= 0.9}`` — which the DuckDB oracle computes
    quadratically — provided banding recall is 1 at the threshold.  Verified
    on this corpus: 0 of 9,020 true pairs missed (16 bands × 8 rows, two
    hash families; per-family miss probability at j=0.9 is (1-0.9^8)^16 ≈
    1.2e-4 per pair).  Recall 1 is an EMPIRICAL corpus property — after any
    fixture regeneration re-run ``tools/verify_banding_recall.py``
    (FIXTURES.md §8), which checks the candidate set against the quadratic
    truth deterministically.  The production block-size cap is lifted here: the
    synthetic corpus's duplicate families exceed 50 docs, and a capped run
    silently drops them — at web scale the cap returns and its drops are
    audited (``blocks_dropped`` counter / ``dropped_blocks_audit``).
    """
    from semantic_entity_matching_spark.operators.dedup import minhash_near_duplicates
    from semantic_entity_matching_spark.operators.pairs import PairGenConfig

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs,
        id_col="doc_id",
        text_col="text",
        jaccard_threshold=0.9,
        pairgen=PairGenConfig(max_block_size=1_000_000, hot_block_threshold=20),
    ).select("id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard"))


def q87_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-ball near-dup — exact, not probabilistic.

    ``max_hamming=3 < n_bands=4`` makes the band grouping pigeonhole-
    complete, so the result is exactly the set of all pairs with
    hamming(simhash_a, simhash_b) <= 3.  Token hashes are md5-derived
    (operators/dedup.py simhash_py), so the DuckDB oracle recomputes the
    64-bit signatures from scratch in SQL and checks the same quadratic
    hamming filter.
    """
    from semantic_entity_matching_spark.operators.dedup import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = simhash_near_duplicates(docs, max_hamming=3, n_bands=4)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


def q23_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship clustering: extract → embed → block → pair → score → edges →
    connected components.  Oracle-checkable end to end because every stage is
    engine-portable: the token-hash embedding (md5 buckets, float64
    accumulate, float32 store) reproduces bit-identically in DuckDB SQL, the
    Jaro-Winkler/Levenshtein rerank matches DuckDB's built-ins (q24), and the
    large-star/small-star fixpoint equals the oracle's recursive-CTE
    reachability with component = min(id).  Candidate recall at the edge
    threshold is 1 on this corpus (every blend≥0.8 pair is a near-exact
    duplicate, so its block keys collide; verified against the quadratic
    edge set: 25/25 covered even with the production block cap)."""
    from semantic_entity_matching_spark.plans.pipeline import (
        MatchConfig,
        run_pipeline,
    )

    docs = _t(spark, sf_dir, "documents")
    config = MatchConfig(
        id_col="doc_id",
        text_col="text",
        extract_cols=("doc_id", "text", "lang"),
        score_round=6,
    )
    result = run_pipeline(docs, config)
    return result.clusters.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q24_string_sims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 rerank metrics: Jaro-Winkler + normalized Levenshtein on pairs."""
    from semantic_entity_matching_spark.functions.similarity import (
        jaro_winkler_udf,
        levenshtein_similarity_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return pairs.select(
        "id_a",
        "id_b",
        F.round(jaro_winkler_udf(F.col("text_a"), F.col("text_b")), 6).alias("jw"),
        F.round(levenshtein_similarity_expr("text_a", "text_b"), 6).alias(
            "lev_sim"
        ),
    )


def q59_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 JSON parse: extract typed field from the events props payload."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("prop_k"),
    )


def q26_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A4 audit aggregates: per-label vector counts / null counts / dim."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("embedding").isNull().cast("bigint")).alias("n_null"),
        F.max(F.size("embedding")).cast("bigint").alias("dim"),
    )


def q60_gold_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 gold-label rank join: self-retrieval rank per query via BM25."""
    from semantic_entity_matching_spark.operators.search import (
        evaluate_gold_ranks,
        lexical_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    queries_df = docs.where(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    corpus = docs.select(F.col("doc_id").alias("candidate_id"), "text")
    # one corpus index serves all 50 queries — opt in to the persisted
    # index (library default is no-persist) so the tokenize/explode scan
    # of the corpus runs once, not once per downstream job
    hits = lexical_topk(queries_df, corpus, k=50, score_round=6, persist_index=True)
    gold = queries_df.select("query_id", F.col("query_id").alias("gold_id"))
    return evaluate_gold_ranks(hits, gold)


def q28_topk_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 top-k accuracy metric over the gold ranks (reference
    lib/evaluate.py:20-34 percentages)."""
    ranks = q60_gold_rank_eval(spark, sf_dir)
    return ranks.agg(
        F.round(
            F.sum((F.col("rank") <= 1).cast("long")) / F.count("*") * 100.0, 4
        ).alias("top1_pct"),
        F.round(
            F.sum((F.col("rank") <= 5).cast("long")) / F.count("*") * 100.0, 4
        ).alias("top5_pct"),
        F.round(
            F.sum((F.col("rank") <= 10).cast("long")) / F.count("*") * 100.0, 4
        ).alias("top10_pct"),
        F.count("*").alias("n_queries"),
    )


def q29_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship read path (J1+W2+F5+P7): embed → kNN
    retrieve (k = size×overfetch) with a pre-retrieval corpus filter →
    Jaro-Winkler rerank → top-k truncate.

    Deterministic md5-hash embedding (the reference's own test scheme,
    test_services_search_service_integration.py:188-202); tiling 16 md5
    bytes to dim 1024 leaves cosine equal to the 16-dim cosine, which is
    what the DuckDB oracle computes.
    """
    from semantic_entity_matching_spark.functions.embed import HashEmbeddingProvider
    from semantic_entity_matching_spark.functions.extract import valid_query_filter
    from semantic_entity_matching_spark.operators.search import search_and_rerank

    docs = _t(spark, sf_dir, "documents")
    # the reference skips blank/NaN texts before search (is_skippable_query,
    # lib/evaluate.py:97-107) — and blank-vs-blank pairs are where string
    # rerank conventions diverge across engines (JW('','') is 1.0 here, 0.0
    # in DuckDB), so P4 applies to BOTH sides
    docs = docs.where(valid_query_filter("text"))
    # a single-file corpus scans as ONE split, and everything downstream of
    # it here is map-side (embed UDF -> broadcast cosine) — without an
    # explicit exchange the whole retrieval would run single-task.  One
    # narrow shuffle of the raw text rows buys full parallelism for the
    # UDF chain; at real scale the file count provides this for free.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    embed = HashEmbeddingProvider(dim=1024).udf()
    corpus = docs.select(
        F.col("doc_id").alias("candidate_id"),
        "text",
        "lang",
        embed(F.col("text")).alias("embedding"),
    )
    queries_df = docs.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"),
        F.col("text").alias("query_text"),
        embed(F.col("text")).alias("embedding"),
    )
    out = search_and_rerank(
        queries_df,
        corpus,
        size=10,
        top_k=5,
        overfetch=2,
        corpus_filter=F.col("lang") == "en",
        score_round=6,
    )
    return out.select(
        "query_id",
        "candidate_id",
        F.round(F.col("knn_score"), 6).alias("knn_score"),
        "rerank_score",
        "rank",
    )


def q61_vectorize_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's default vectorize mode (lib/vectorize_columns.py:40,
    83-88,136-158): N named columns → N sibling ``*_embedding`` columns
    (per-column strategy).  The md5 provider tiles 16 digest bytes to dim 64,
    so the DuckDB oracle checks the sibling dims and the cross-column cosine
    on the 16-dim equivalents (tiling leaves cosine unchanged)."""
    from semantic_entity_matching_spark.functions.embed import (
        HashEmbeddingProvider,
        vectorize_columns,
    )
    from semantic_entity_matching_spark.functions.similarity import cosine_expr

    docs = _t(spark, sf_dir, "documents")
    out = vectorize_columns(
        docs,
        ["text", "lang"],
        strategy="per-column",
        provider=HashEmbeddingProvider(dim=64),
    )
    # null column -> null embedding (provider convention): propagate null
    # through dims and the cross cosine (cosine_expr alone yields 0.0 for
    # null vectors, which would diverge from the oracle's NULL)
    null_emb = (
        F.col("text_embedding").isNull() | F.col("lang_embedding").isNull()
    )
    return out.select(
        "doc_id",
        F.size("text_embedding").cast("bigint").alias("dim_text"),
        F.size("lang_embedding").cast("bigint").alias("dim_lang"),
        F.when(
            ~null_emb,
            F.round(cosine_expr("text_embedding", "lang_embedding"), 6),
        ).alias("cross_cos"),
    )


def q62_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 token estimation with the reference's byte-ratio fallback
    (file_token_estimator.py:110-164 + formats.py:15-29): text formats use
    the tokenizer path, image/other formats estimate int(bytes * ratio).
    Extensions are derived deterministically from ``lang`` so every method
    branch is exercised."""
    from semantic_entity_matching_spark.functions.textops import (
        estimate_tokens,
        token_byte_ratio,
    )

    docs = _t(spark, sf_dir, "documents")
    ext = (
        F.when(F.col("lang") == "en", "txt")
        .when(F.col("lang") == "de", "md")
        .when(F.col("lang") == "zh", "png")
        .when(F.col("lang") == "fr", "jpg")
        .otherwise("bin")
    )
    sized = docs.withColumn("ext", ext).withColumn(
        "n_bytes", F.octet_length("text").cast("bigint")
    )
    return sized.select(
        "doc_id",
        "ext",
        "n_bytes",
        F.round(token_byte_ratio("ext"), 4).alias("ratio"),
        estimate_tokens("text", "n_bytes", "ext").alias("est_tokens"),
    )


def q32_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN scale path: k-means coarse quantizer, each
    query probes its nprobe nearest cells.  The contract config probes ALL
    cells (nprobe == nlist), which makes the result exactly the brute-force
    cosine top-k — the oracle recomputes that quadratically; smaller nprobe
    is the production recall/cost knob (pytest covers recall at nprobe 2/8).
    """
    from semantic_entity_matching_spark.operators.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("candidate_id"), "embedding")
    return ivf_topk(
        queries_df,
        corpus,
        k=5,
        nlist=8,
        nprobe=8,
        exclude_self=True,
        score_round=6,
    )


def q64_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join over the events stream: every 10th event
    looks up the latest PRIOR event of the same user (build.ts <= probe.ts,
    ties: build-at-same-ts eligible, largest event_id wins).  Implemented as
    one keyed window with last-ignorenulls carry (operators/asof.py) — no
    range-join blowup; the oracle is DuckDB's LATERAL top-1 lookup."""
    from semantic_entity_matching_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    probes = events.where(F.col("event_id") % 10 == 0)
    builds = events.where(F.col("event_id") % 10 != 0)
    out = asof_join(
        probes, builds, on="user_id", ts_col="ts",
        probe_id="event_id", build_id="event_id", value_cols=("value",),
    )
    return out.select(
        "event_id",
        "matched_event_id",
        F.round(F.col("matched_value"), 4).alias("matched_value"),
    )


def q34_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range self-join: all same-user event pairs within 60 s.
    The naive form is a per-key cross join with an inequality (cartesian in
    Spark); binning by the gap width turns it into an equi-join on
    (user, bucket) with an exact post-filter — every qualifying pair shares
    a bucket since |ta-tb| <= gap bounds the bucket delta to 1.  Oracle:
    quadratic per-user join in DuckDB on exact epoch microseconds."""
    from semantic_entity_matching_spark.operators.asof import range_self_join

    events = _t(spark, sf_dir, "events")
    return range_self_join(
        events, on="user_id", ts_col="ts", id_col="event_id",
        max_gap_seconds=60,
    )


def q35_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-family contract (S1 CSV scan + latin-1 fallback, S3 ordered
    skip/limit resume, S4 vector parse-on-scan with null-on-mismatch).

    The Spark side reads the LATIN-1-encoded fixture — forcing the
    utf-8 -> latin-1 fallback (reference lib/data_reader.py:62-79) to
    actually fire — while the DuckDB oracle reads the byte-different UTF-8
    twin of the same logical content (DuckDB 1.0 cannot decode latin-1):
    if the fallback mis-decodes anything, the accented text columns
    hash-mismatch.  Embedding strings parse to array<float>
    (reference ingest vector parse, apps/cli/commands/ingest.py:149-165);
    fixture values are exact binary fractions so the sum is
    engine-exact.  skip/limit follow the reference's offset resume
    (lib/data_reader.py:38-49) over the explicit row_id order."""
    from semantic_entity_matching_spark.sources.readers import (
        parse_vector_transformation,
        read_csv,
    )

    df = read_csv(
        spark,
        "/root/repo/fixtures/q35_catalog_latin1.csv",
        skip_rows=5,
        limit_rows=20,
        order_col="row_id",
        transformations=[parse_vector_transformation(("embedding",))],
    )
    vec_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )
    return df.select(
        F.col("row_id").cast("bigint").alias("row_id"),
        "name",
        "city",
        F.when(F.col("embedding").isNotNull(), F.size("embedding"))
        .cast("bigint")
        .alias("vec_dim"),
        F.round(vec_sum, 6).alias("vec_sum"),
    )


def q36_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (4-hour inactivity
    gap) via Spark's native ``session_window`` — one hash shuffle on the
    key, mergeable windows, watermark-compatible under readStream.

    Boundary semantics (pinned by pytest): an event exactly at
    ``prev_ts + gap`` MERGES into the session, so the oracle's
    new-session condition is ``diff > gap`` on exact epoch microseconds.
    NULL ts/user rows are excluded (no position on the time axis)."""
    from semantic_entity_matching_spark.operators.sessions import sessionize

    events = _t(spark, sf_dir, "events")
    out = sessionize(events, on="user_id", ts_col="ts", gap_seconds=14400)
    # epoch-microsecond output (driver-contract convention for timestamps:
    # exact integers, engine-independent — same as q34's gap_us)
    return out.select(
        "user_id",
        F.col("session_id").cast("bigint").alias("session_id"),
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


def q65_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 25 documents per language, chosen
    by md5(doc_id) order (engine-portable, partitioning-independent; ties
    by id).  One hash shuffle on the stratum, per-stratum window, no
    global sort — the reproducible-downsampling primitive of a
    training-data pipeline."""
    from semantic_entity_matching_spark.operators.sample import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, strata_col="lang", n_per_stratum=25, id_col="doc_id"
    ).select("doc_id", "lang")


def q38_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample via the md5 hash-fraction filter —
    a pure scan-side filter (no shuffle, no sort, stable under corpus
    growth: ids never move buckets).  The oracle reproduces the exact set
    with a lexical compare on the first 8 md5 hex chars (8-char lowercase
    hex compares like its numeric value; 0.1×2^32 − 1 = 0x19999999)."""
    from semantic_entity_matching_spark.operators.sample import (
        deterministic_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, id_col="doc_id", fraction=0.1).select(
        "doc_id", "lang"
    )


def q66_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (distinct-token ratio +
    top-bigram fraction) — the exact-mode-frequency operator a web-corpus
    cleaning pipeline thresholds on.  Tokenize once, bigrams via zip_with
    of two array slices, one (id, bigram) hash aggregate."""
    from semantic_entity_matching_spark.functions.textops import (
        token_repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return token_repetition_stats(docs, id_col="doc_id", text_col="text")


def q68_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (p50/p95/p99) of the event value — the
    distribution-profiling aggregate a data-quality dashboard runs per
    slice.  Spark's ``percentile`` and DuckDB's ``quantile_cont`` share
    the same linear-interpolation rule, so the result is engine-exact
    (verified to the digit); at 10^12 rows swap in ``percentile_approx``
    (t-digest sketch, mergeable) — same call shape, bounded memory."""
    events = _t(spark, sf_dir, "events")
    p = F.percentile("value", [0.5, 0.95, 0.99])
    return events.groupBy("event_type").agg(
        F.count("value").alias("n_values"),
        F.round(p[0], 6).alias("p50"),
        F.round(p[1], 6).alias("p95"),
        F.round(p[2], 6).alias("p99"),
    )


def q41_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (40-token chunks, 10 overlap —
    sized so the sf0.01 fixture's 10-99-token docs produce 1-3 chunks and
    the multi-chunk + short-tail paths are all exercised) — the
    unit-of-training preparation step.  Pure flatMap shape: tokenize once,
    posexplode the per-doc chunk array, zero shuffles."""
    from semantic_entity_matching_spark.functions.textops import (
        chunk_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=40, overlap_tokens=10,
    )


def q69_rollup_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate with grouping_id — multi-granularity totals in ONE
    pass (per (flag, status), per flag, grand total); Catalyst expands the
    grouping sets map-side, so it costs one shuffle like a plain groupBy.
    grouping_id bit order matches ANSI GROUPING(flag, status)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
    )


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a deterministic synthetic ``url`` column (the driver
    tables carry no URL; both engines derive the identical one from doc_id
    alone — works on every fixture incl. the null one, which drops the
    ``source`` column — so the host operators have a url-shaped input to
    parse: www-prefix, mixed TLDs incl. a two-part suffix, an explicit
    port on every 7th doc — exactly the variety ``parse_url`` must strip)."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.concat(F.lit("site"), (F.col("doc_id") % 10).cast("string")),
        F.lit("."),
        F.when(F.col("doc_id") % 3 == 0, F.lit("com"))
        .when(F.col("doc_id") % 3 == 1, F.lit("org"))
        .otherwise(F.lit("co.uk")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(":8443")).otherwise(F.lit("")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    return docs.withColumn("url", url)


def q70_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/host operators: parse_url host extraction (port stripped,
    www kept as a distinct host), registered-domain heuristic (two-part
    suffix aware: src*.co.uk stays three labels), per-domain corpus
    aggregate — the first grouping key of a Common-Crawl pipeline."""
    from semantic_entity_matching_spark.functions.urlops import host_stats

    pages = _docs_with_urls(spark, sf_dir)
    return host_stats(pages, url_col="url", text_col="text", by="domain")


def q71_host_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain page cap: at most 7 pages per registered domain chosen by
    the deterministic md5(id) order (the crawl pipeline's anti-megahost
    quota), with the q65/q38 stability guarantees."""
    from semantic_entity_matching_spark.functions.urlops import (
        host_stratified_sample,
        registered_domain,
        url_host,
    )

    pages = _docs_with_urls(spark, sf_dir)
    sampled = host_stratified_sample(
        pages, url_col="url", n_per_domain=7, id_col="doc_id"
    )
    return sampled.select(
        "doc_id", registered_domain(url_host("url")).alias("domain")
    )


def q45_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing a token 3-gram with the
    eval split (doc_id % 50 == 0) are flagged.  Broadcast eval n-gram set,
    map-only corpus explode, one per-doc aggregate.  n=3 on this corpus
    yields a rich contract (~half the docs overlap somewhere); the
    operator default n=8 is the production GPT-3-style span."""
    from semantic_entity_matching_spark.operators.decontaminate import (
        decontaminate,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    rep = decontaminate(corpus, eval_df, n=3)
    return rep.select(
        "doc_id",
        "n_ngrams",
        "n_overlap",
        F.round("overlap_ratio", 6).alias("overlap_ratio"),
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def q85_repetition_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher repetition rule family: top 2/3/4-gram fractions +
    duplicate-line fraction (lines synthesized deterministically by
    breaking on common words — the driver corpus is single-line).  One
    tagged explode carries all three n-gram families through ONE shuffle."""
    from semantic_entity_matching_spark.functions.textops import (
        extended_repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.regexp_replace(F.col("text"), " (value|table|query) ", "\n"),
    )
    return extended_repetition_stats(docs, id_col="doc_id", text_col="text2")


def q47_incremental_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental (stream-side) matcher under the SAME oracle
    discipline as the flagship: one ``match_batch`` of the incoming split
    (doc_id % 10 == 0) against the reference index built from the rest —
    best reference match per incoming doc at the q23 scoring contract
    (token-hash embedding, cosine→lev→JW cascade, threshold 0.8, round-6
    scores, tiebreak smallest reference id), null when nothing reaches the
    threshold.  The DuckDB oracle recomputes it quadratically; blocking
    recall at the threshold is 1 on this corpus (q23's verified property —
    the cross-split pairs are a subset of q23's edge set)."""
    from semantic_entity_matching_spark.plans.pipeline import MatchConfig
    from semantic_entity_matching_spark.streaming.incremental_match import (
        ReferenceIndex,
        match_batch,
    )

    docs = _t(spark, sf_dir, "documents")
    cfg = MatchConfig(
        id_col="doc_id",
        text_col="text",
        extract_cols=("doc_id", "text", "lang"),
        score_round=6,
    )
    index = ReferenceIndex(docs.where(F.col("doc_id") % 10 != 0), cfg)
    incoming = docs.where(F.col("doc_id") % 10 == 0)
    return match_batch(incoming, index).select("doc_id", "matched_id", "score")


def q48_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality DECISION: per-rule 0/1 flags + overall verdict
    over the same line-synthesized text as q85 — word-count bounds, mean
    word length, alphabetic-word fraction, distinct-stopword minimum, and
    the four repetition caps composed into the keep/drop bit."""
    from semantic_entity_matching_spark.functions.textops import (
        gopher_quality_flags,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.regexp_replace(F.col("text"), " (value|table|query) ", "\n"),
    )
    return gopher_quality_flags(docs, id_col="doc_id", text_col="text2")


def _docs_with_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministically planted PII (the driver corpus is
    letter-only word soup, so emails/phones/IPs are synthesized the same
    way q70 synthesizes URLs: doc_id-derived, reproducible in ANSI SQL).
    Every 3rd doc gains an email, every 4th a +1-555 phone, every 5th a
    dotted-quad IP — docs hit 0-3 of the kinds."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    did = F.col("doc_id")
    text2 = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" reach me at user"),
                did.cast("string"),
                F.lit("@example"),
                (did % 5).cast("string"),
                F.lit(".com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                (did % 9000 + 1000).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
                F.lit("."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return docs.withColumn("text2", text2)


def q49_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-kind match counts and the typed-
    placeholder redacted text, all JVM-side regexps on the scan path
    (zero shuffle, zero Python)."""
    from semantic_entity_matching_spark.functions.pii import with_pii_stats

    docs = _docs_with_pii(spark, sf_dir)
    out = with_pii_stats(docs, text_col="text2", redacted_col="text_redacted")
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        "text_redacted",
    )


def q50_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide C4-style line dedup over the q85 line-synthesized text:
    each distinct line survives only at its smallest (doc_id, pos)
    occurrence; documents are reassembled from their surviving lines.
    The small shared vocabulary makes line collisions across documents
    dense — a rich survivor contract."""
    from semantic_entity_matching_spark.operators.dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.regexp_replace(F.col("text"), " (value|table|query) ", "\n"),
    )
    return dedup_lines(docs, id_col="doc_id", text_col="text2")


def q02_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global corpus vocabulary census: top-25 token 3-grams with the
    deterministic (count desc, gram asc) tiebreak.  One partially-
    aggregated exchange + TakeOrdered — never a full sort of the gram
    table."""
    from semantic_entity_matching_spark.functions.textops import top_ngrams

    docs = _t(spark, sf_dir, "documents")
    return top_ngrams(docs, id_col="doc_id", text_col="text", n=3, k=25)


def q03_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing: every document assigned to a fixed
    2,000-token shard, greedily filled in deterministic md5(doc_id) order.
    The Spark plan is the bucket-aligned distributed prefix-sum
    (operators/pack.py — two narrow scans + one bucket shuffle, NO global
    Sort node); the DuckDB oracle recomputes the same assignment with the
    naive single-window global cumulative sum."""
    from semantic_entity_matching_spark.operators.pack import (
        pack_by_token_budget,
    )

    docs = _t(spark, sf_dir, "documents")
    return pack_by_token_budget(
        docs, budget=2_000, id_col="doc_id", text_col="text"
    )


def q05_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup keep-best canonicalization — the decision a dedup pipeline
    actually ships: MinHash near-dup pairs (the exact q21 jaccard>=0.9
    contract) -> connected components (singletons included) -> per cluster
    keep ONLY the longest document (whitespace tokens, ties to smallest
    doc_id).  Oracle = quadratic jaccard pairs + recursive-CTE
    reachability + a rank window."""
    from semantic_entity_matching_spark.operators.cluster import (
        clusters_from_pairs,
    )
    from semantic_entity_matching_spark.operators.dedup import (
        keep_best_representatives,
        minhash_near_duplicates,
    )
    from semantic_entity_matching_spark.operators.pairs import PairGenConfig
    from semantic_entity_matching_spark.functions.textops import token_count

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(
        docs,
        id_col="doc_id",
        text_col="text",
        jaccard_threshold=0.9,
        pairgen=PairGenConfig(max_block_size=1_000_000, hot_block_threshold=20),
    ).select("id_a", "id_b")
    assign = clusters_from_pairs(pairs, all_ids=docs, id_col="doc_id")
    scored = docs.select(
        F.col("doc_id"), token_count("text").cast("long").alias("n_tokens")
    )
    full = scored.join(
        assign.withColumnRenamed("id", "doc_id"), "doc_id", "inner"
    )
    return keep_best_representatives(full, score_col="n_tokens").select(
        "doc_id", "component", "n_tokens", "keep"
    )


def _prefix_block_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, block_key) where the key is the first 10 alphanumeric
    chars of the lowercased text — the deliberately-simple, SQL-twin-able
    blocking scheme q06/q07 EVALUATE (reduction ratio / completeness /
    B-cubed).  Null text or an empty normalized key drops the doc from
    the keyed set (it becomes a singleton in clustering terms)."""
    return docs.select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 10
        ).alias("block_key"),
    ).where(F.col("block_key").isNotNull() & (F.col("block_key") != ""))


def q06_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-evaluation metrics (reduction ratio / pairs completeness /
    pairs quality) of a 10-char-prefix blocking scheme against the exact
    jaccard>=0.9 gold pair set.  The candidate set runs through the REAL
    production pair generator (block cap + hot-key salting,
    operators/pairs.py); the gold set is an eval-scale exact quadratic
    join (gold labels are an input at production scale, reference
    lib/evaluate.py:20-34)."""
    from semantic_entity_matching_spark.operators.tokensets import _distinct_tokens
    from semantic_entity_matching_spark.operators.evaluate import (
        blocking_quality,
    )
    from semantic_entity_matching_spark.operators.pairs import (
        PairGenConfig,
        generate_candidate_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    n_records = docs.count()
    cand = generate_candidate_pairs(
        _prefix_block_keys(docs),
        id_col="doc_id",
        config=PairGenConfig(max_block_size=50, hot_block_threshold=20),
        keep_block_key=False,
    )
    toks = (
        docs.where(F.col("text").isNotNull())
        .select("doc_id", _distinct_tokens("text").alias("tok"))
        .where(F.size("tok") > 0)
    )
    # the gold build is a broadcast nested-loop join whose parallelism is
    # the LEFT side's partition count — a single-file scan would run it as
    # ONE task (the q29 lesson); spread the probe side first
    a = toks.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("doc_id").alias("id_a"), F.col("tok").alias("ta")
    )
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("tok").alias("tb"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    union = F.size("ta") + F.size("tb") - inter
    gold = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(inter.cast("double") / union >= 0.9)
        .select("id_a", "id_b")
    )
    return blocking_quality(cand, gold, n_records=n_records)


def q07_bcubed_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 of prefix-key clustering (each 10-char
    block key is one predicted cluster; unkeyed docs are singletons)
    against the MinHash jaccard>=0.9 connected-component gold clustering
    (the exact q21/q05 contract).  Oracle recomputes both clusterings in
    SQL (group-by key; recursive-CTE reachability) and the same
    cell-count B-cubed roll-up."""
    from semantic_entity_matching_spark.operators.cluster import (
        clusters_from_pairs,
    )
    from semantic_entity_matching_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from semantic_entity_matching_spark.operators.evaluate import bcubed_metrics
    from semantic_entity_matching_spark.operators.pairs import PairGenConfig

    docs = _t(spark, sf_dir, "documents")
    keys = _prefix_block_keys(docs)
    grp = keys.groupBy("block_key").agg(F.min("doc_id").alias("_comp"))
    pred = (
        docs.select("doc_id")
        .join(keys, "doc_id", "left")
        .join(grp, "block_key", "left")
        .select(
            "doc_id", F.coalesce("_comp", F.col("doc_id")).alias("component")
        )
    )
    pairs = minhash_near_duplicates(
        docs,
        id_col="doc_id",
        text_col="text",
        jaccard_threshold=0.9,
        pairgen=PairGenConfig(max_block_size=1_000_000, hot_block_threshold=20),
    ).select("id_a", "id_b")
    gold = clusters_from_pairs(
        pairs, all_ids=docs, id_col="doc_id"
    ).withColumnRenamed("id", "doc_id")
    return bcubed_metrics(pred, gold)


def q08_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-level canonical-URL dedup: the same page captured under messy
    URL variants (case-mangled scheme/host, userinfo, default ports,
    trailing slashes, shuffled query params, utm_*/gclid tracking junk,
    fragments) collapses to ONE canonical identity; the LATEST capture
    (ts desc, doc_id asc tiebreak) survives.  URLs + capture ts are
    synthesized deterministically from doc_id (identity key doc_id % 250,
    mess keyed off doc_id itself) so both engines derive identical input
    on every fixture.  All canonicalization steps are JVM regexp/array
    built-ins (functions/urlops.py:canonical_url); one hash shuffle on
    the canonical key."""
    from semantic_entity_matching_spark.functions.urlops import (
        canonical_url_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    k = d % 250
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(d % 5 == 0, F.lit("crawler:pw@")).otherwise(F.lit("")),
        F.when(
            k % 4 == 0,
            F.when(d % 4 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        ).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.lit("SITE")).otherwise(F.lit("site")),
        (k % 10).cast("string"),
        F.lit("."),
        F.when(k % 3 == 0, F.lit("com"))
        .when(k % 3 == 1, F.lit("org"))
        .otherwise(F.lit("co.uk")),
        F.when(k % 10 == 0, F.lit(":8080"))
        .when(d % 3 == 0, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/p/"),
        k.cast("string"),
        F.when(d % 6 == 0, F.lit("//"))
        .when(d % 6 == 3, F.lit("/"))
        .otherwise(F.lit("")),
        F.lit("?"),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit("a="), (k % 7).cast("string"),
                F.lit("&b="), (k % 3).cast("string"),
            ),
        ).otherwise(
            F.concat(
                F.lit("b="), (k % 3).cast("string"),
                F.lit("&a="), (k % 7).cast("string"),
            )
        ),
        F.when(
            d % 3 == 0, F.concat(F.lit("&utm_source=feed"), d.cast("string"))
        ).otherwise(F.lit("")),
        F.when(
            d % 7 == 0, F.concat(F.lit("&gclid=g"), d.cast("string"))
        ).otherwise(F.lit("")),
        F.when(
            d % 8 == 0, F.concat(F.lit("#sec"), d.cast("string"))
        ).otherwise(F.lit("")),
    )
    ts = F.when(k % 11 == 0, F.lit(0)).otherwise(d % 7).cast("bigint")
    pages = (
        docs.select(d.alias("doc_id"))
        .withColumn("url", url)
        .withColumn("ts", ts)
    )
    out = canonical_url_dedup(pages, url_col="url", ts_col="ts", id_col="doc_id")
    return out.select("doc_id", "canonical_url", "ts")


def q15_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode web-text normalization: deterministically injected crawl
    junk (combining accent sequence, zero-width chars, CRLF, a BEL
    control, NBSP runs, tab soup) is cleaned by functions/textops.py
    normalize_text — zero-width/control strips and whitespace collapse
    as JVM regexps, NFC composition as the one pandas-UDF step (Spark
    has no JVM normalize builtin; DuckDB twin is nfc_normalize).  NULL
    text stays NULL; chars_removed audits the cleanup per doc."""
    from semantic_entity_matching_spark.functions.textops import (
        normalize_text,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    junked = F.concat(
        F.lit("Caf"),
        F.lit("e\u0301"),            # e + combining acute -> NFC é
        F.lit("\u200b"),             # ZWSP
        F.when(d % 4 == 0, F.lit("\u200d")).otherwise(F.lit("")),  # ZWJ
        F.lit(" \u00a0 menu\r\n"),   # NBSP run + CRLF
        F.when(d % 2 == 0, F.lit("\x07")).otherwise(F.lit("")),    # BEL
        F.lit("\t \t"),
        F.col("text"),               # null text -> whole concat null
        F.lit("  "),
    )
    docs = docs.withColumn("text2", junked)
    clean = normalize_text(F.col("text2"))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length("text2") - F.length(clean)).cast("bigint").alias(
            "chars_removed"
        ),
    )


def _docs_with_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a deterministic synthetic `html` column (markup built
    from doc_id/text alone — reproducible in ANSI SQL, runs on every
    fixture): head with an entity-bearing title, a style block, a script
    whose body contains a bare `<` and fake tags, an HTML comment hiding
    tags, the doc text in a <p>, an entity-rich div on every 5th doc, two
    absolute outlinks (the second only on every 3rd doc, to a two-part-
    suffix domain) and a relative link — exactly the junk strip_html /
    extract_links must survive."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    link_a = F.concat(
        F.lit("https://site"), ((d * 7 + 3) % 10).cast("string"),
        F.lit(".com/p/"), (d + 1).cast("string"),
    )
    link_b = F.concat(
        F.lit("https://www.site"), ((d * 5 + 1) % 10).cast("string"),
        F.lit(".co.uk/q/"), d.cast("string"),
    )
    html = F.concat(
        F.lit("<html><head><title> Doc "), d.cast("string"),
        F.lit(" &amp; Friends </title><style>body .adv-x red</style>"
              "</head><body>"),
        F.lit('<script type="text/javascript">var x = 1 < 2; '
              "// <p>not text</p></script>"),
        F.lit("<!-- crawl note <div>skip me</div> -->"),
        F.lit('<p class="main">'), F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p>"),
        F.when(d % 5 == 0, F.lit("<div>extra &lt;markup&gt;&nbsp;here</div>"))
        .otherwise(F.lit("")),
        F.lit('<a href="'), link_a, F.lit('">first</a>'),
        F.when(
            d % 3 == 0,
            F.concat(F.lit('<a href="'), link_b, F.lit('">second</a>')),
        ).otherwise(F.lit("")),
        F.lit('<a href="/rel/'), d.cast("string"),
        F.lit('">relative</a></body></html>'),
    )
    return docs.withColumn("html", html)


def q18_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (the step upstream of every webtext
    operator): drop head, remove script/style bodies BEFORE the generic
    tag strip (they legally contain bare `<`), strip comments and tags,
    decode entities (&amp; last, so &amp;lt; yields literal &lt;),
    collapse whitespace; title pulled separately.  All JVM regexp/replace
    Column exprs, RE2-portable — the DuckDB twin runs the same patterns."""
    from semantic_entity_matching_spark.functions.htmlops import (
        html_title,
        strip_html,
    )

    pages = _docs_with_html(spark, sf_dir)
    return pages.select(
        "doc_id",
        html_title("html").alias("title"),
        strip_html("html").alias("text_clean"),
    )


def q25_outlink_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus link graph in-degree per registered target domain: href
    extraction (double-quoted, document order), absolute-http(s) filter
    (the relative link every page carries is dropped), host -> registered
    domain (two-part suffix aware), then a (domain, source) pre-aggregate
    so distinct-source counting never expands the raw anchor table."""
    from semantic_entity_matching_spark.functions.htmlops import (
        outlink_domains,
    )

    pages = _docs_with_html(spark, sf_dir)
    return outlink_domains(pages, html_col="html", id_col="doc_id")


def q27_document_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DF/IDF vocabulary: top-25 tokens by document frequency with
    sklearn smooth idf = ln((1+N)/(1+df)) + 1, deterministic (df desc,
    token asc) tiebreak.  Per-doc array_distinct collapses repeats before
    the explode; the top-k is a TakeOrdered, never a global sort."""
    from semantic_entity_matching_spark.functions.textops import (
        document_frequency,
    )

    docs = _t(spark, sf_dir, "documents")
    return document_frequency(docs, id_col="doc_id", text_col="text", k=25)


def q30_excel_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excel scan (S2, reference lib/data_reader.py:51-69) through the
    stdlib SpreadsheetML parser (openpyxl absent here) over the committed
    fixture, with the reference's skip/limit resume semantics (skip 3
    data rows after the header, cap at 20).  The fixture exercises shared
    strings, inlineStr cells, int/float numerics, booleans and non-ASCII;
    the oracle reads the byte-identical CSV twin (q35 pattern — DuckDB
    has no xlsx reader)."""
    from semantic_entity_matching_spark.sources.readers import read_excel

    df = read_excel(
        spark, "/root/repo/fixtures/q30_catalog.xlsx",
        skip_rows=3, limit_rows=20,
    )
    return df.select(
        F.col("row_id").cast("bigint").alias("row_id"),
        "name",
        "city",
        F.col("qty").cast("bigint").alias("qty"),
        F.round("price", 6).alias("price"),
        F.col("active").cast("int").alias("active"),
    )


def _docs_with_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> a synthetic media table (media_id, media_type,
    payload:binary, duration_ms) built from doc_id/text alone: payload is
    the UTF-8 text bytes (NULL text -> NULL payload), types cycle
    video/image/audio, durations derive from doc_id — every column the
    multimodal plumbing needs, reproducible in ANSI SQL."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    return docs.select(
        F.concat(F.lit("m"), d.cast("string")).alias("media_id"),
        F.when(d % 3 == 0, F.lit("video"))
        .when(d % 3 == 1, F.lit("image"))
        .otherwise(F.lit("audio"))
        .alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        ((d % 7 + 1) * 2500).cast("int").alias("duration_ms"),
    )


def q31_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction contract: the mapInPandas decode ->
    mean-pool plumbing (byte-budgeted Arrow chunks, only the small
    feature vector crosses back) run with the deterministic stand-in
    decoder (md5-tiled 8x8 RGB — a real decoder needs Pillow).  Bucket k
    mean-pools 3 consecutive tiled-digest bytes; returning round(val*3)
    recovers the exact integer byte sum, so the
    DuckDB twin reproduces it bit-exactly via the md5 nibble-fold.  NULL
    payloads yield zero features (the operator's null contract)."""
    from semantic_entity_matching_spark.operators.multimodal import (
        media_features,
    )

    media = _docs_with_media(spark, sf_dir)
    feats = media_features(media)
    return feats.select(
        "media_id", F.posexplode("feature").alias("bucket", "val")
    ).select(
        "media_id",
        F.col("bucket").cast("int").alias("bucket"),
        F.round(F.col("val") * 3, 0).cast("bigint").alias("byte_sum"),
    )


def q63_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling grid (one row per (media_id, frame_ts_ms) at
    1 s cadence), materialized JVM-side so the expensive decode fans out
    evenly across partitions — pure filter + sequence/posexplode, zero
    shuffles."""
    from semantic_entity_matching_spark.operators.multimodal import (
        frame_sample_plan,
    )

    media = _docs_with_media(spark, sf_dir)
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id",
        F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms"),
    )


def q33_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication mass per doc (Lee et al. 2022 family,
    window-hash form): rolling 8-token windows keyed by md5 (the
    engine-portable key; production default is xxhash64), a window is
    duplicated when it occurs in >= 2 distinct docs.  A fixed boilerplate
    sentence appended to every 4th doc plants cross-doc duplicate spans;
    the natural corpus vocabulary adds more — both deterministic."""
    from semantic_entity_matching_spark.operators.dedup import (
        duplicate_span_stats,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    " the quick brown fox jumps over the lazy dog"
                    " again and again"
                ),
            ),
        ).otherwise(F.col("text")),
    )
    return duplicate_span_stats(
        docs, id_col="doc_id", text_col="text2", k=8, min_docs=2,
        use_md5=True,
    )


def q37_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table: nearest-
    centroid assignment (8 deterministic md5-hash centroids — engine-
    portable, so the DuckDB twin recomputes the identical cells), within-
    cell cosine near-dup pairs at 0.35, connected components, diversity-
    keep survivor per component (least similar to its centroid, ties to
    the smallest id)."""
    from semantic_entity_matching_spark.operators.dedup import (
        hash_centroid_vectors,
        semantic_dedup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = hash_centroid_vectors(nlist=8, dim=64)
    return semantic_dedup(
        emb,
        cents,
        id_col="vec_id",
        vec_col="embedding",
        cosine_threshold=0.35,
        score_round=6,
    ).select("vec_id", "cell", "centroid_cos", "component", "keep")


def q39_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: fold customers into synthetic entity
    clusters (c_custkey % 300 — deterministic, replayable in SQL) and
    consolidate ONE row per cluster: modal c_mktsegment / c_nationkey
    (ties to the smallest STRING-cast value, the engine-portable order),
    max c_acctbal, member count."""
    from semantic_entity_matching_spark.operators.resolve import golden_record

    cust = _t(spark, sf_dir, "customer")
    clusters = cust.select(
        "c_custkey", (F.col("c_custkey") % 300).alias("cluster")
    )
    out = golden_record(
        cust,
        clusters,
        "c_custkey",
        mode_fields=["c_mktsegment", "c_nationkey"],
        agg_fields={"c_acctbal": "max"},
    )
    return out.select(
        "cluster",
        "size",
        "c_mktsegment",
        "c_nationkey",
        F.round(F.col("c_acctbal"), 2).alias("max_acctbal"),
    )


def q67_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic pair scoring: adjacent-custkey
    candidate pairs (the q58/q24 pairing convention), 0/1 agreement on
    nationkey / mktsegment plus a null-able balance-proximity agreement
    (NULL when either balance is negative — exercises the
    missing-contributes-zero rule), fixed published-style m/u params,
    prior 0.01.  Weights are log2 Bayes factors summed per pair."""
    from semantic_entity_matching_spark.operators.resolve import (
        FSField,
        fellegi_sunter_score,
    )

    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    b = cust.select(
        (F.col("c_custkey") - 1).alias("id_a"),
        F.col("c_custkey").alias("id_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("c_acctbal").alias("bal_b"),
    )
    pairs = (
        a.join(b, "id_a")
        .withColumn(
            "g_nat", (F.col("nat_a") == F.col("nat_b")).cast("int")
        )
        .withColumn(
            "g_seg", (F.col("seg_a") == F.col("seg_b")).cast("int")
        )
        .withColumn(
            "g_bal",
            F.when(
                (F.col("bal_a") < 0) | (F.col("bal_b") < 0), F.lit(None)
            ).otherwise(
                (F.abs(F.col("bal_a") - F.col("bal_b")) < 500).cast("int")
            ),
        )
    )
    scored = fellegi_sunter_score(
        pairs,
        [
            FSField("g_nat", m=0.95, u=0.04),
            FSField("g_seg", m=0.90, u=0.20),
            FSField("g_bal", m=0.80, u=0.30),
        ],
        prior=0.01,
    )
    return scored.select(
        "id_a",
        "id_b",
        "g_nat",
        "g_seg",
        "g_bal",
        F.round(F.col("match_weight"), 6).alias("match_weight"),
        F.round(F.col("match_prob"), 6).alias("match_prob"),
    )


def q40_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style self-perplexity: corpus unigram LM (additive 0.5
    smoothing, reserved unseen mass) scoring its own documents —
    bits/token + perplexity per doc; blank/null docs keep n_tokens=0
    rows with null scores."""
    from semantic_entity_matching_spark.functions.textops import (
        unigram_ppl_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    return unigram_ppl_scores(docs).select(
        "doc_id", "n_tokens", "bits_per_token", "ppl"
    )


def q42_cluster_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-merge audit over the flagship clustering (q23's exact
    pipeline): per cluster, how many member pairs carry a DIRECT match
    edge vs. were glued by transitivity.  Low density = chain-merge risk
    — the standard ER review signal.  The oracle replays the whole
    pipeline (q23's CTE chain) plus the density roll-up."""
    from semantic_entity_matching_spark.operators.evaluate import (
        cluster_cohesion,
    )
    from semantic_entity_matching_spark.plans.pipeline import (
        MatchConfig,
        run_pipeline,
    )

    docs = _t(spark, sf_dir, "documents")
    config = MatchConfig(
        id_col="doc_id",
        text_col="text",
        extract_cols=("doc_id", "text", "lang"),
        score_round=6,
    )
    result = run_pipeline(docs, config)
    return cluster_cohesion(result.clusters, result.edges).select(
        F.col("cluster").alias("cluster_id"),
        "size",
        "n_edges",
        "possible_pairs",
        "density",
    )


def q43_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL scan contract over a committed fixture with nested structs,
    arrays, nulls, a missing-fields line, unicode, and one MALFORMED line.
    Both engines anchor validity on ``id IS NOT NULL``: Spark drops the
    syntactically-broken line at parse time (DROPMALFORMED); DuckDB's
    ignore_errors turns it into an all-null row the filter removes."""
    from semantic_entity_matching_spark.sources.readers import read_jsonl

    ddl = (
        "id bigint, title string, "
        "props struct<lang: string, score: double>, tags array<string>"
    )
    df = read_jsonl(
        spark, "/root/repo/fixtures/q43_docs.jsonl", schema=ddl,
        drop_corrupt=True,
    )
    return df.where(F.col("id").isNotNull()).select(
        "id",
        "title",
        F.col("props.lang").alias("lang"),
        F.round(F.col("props.score"), 2).alias("score"),
        F.size("tags").cast("bigint").alias("n_tags"),
    )


def q44_fs_graded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded (multi-level) Fellegi-Sunter scoring — the Splink
    comparison-level form: adjacent-custkey pairs, a 3-level balance
    proximity (exact-ish / close / far, NULL when either balance is
    negative) plus 2-level nationkey/mktsegment agreements, fixed
    per-level m/u distributions, prior 0.01."""
    from semantic_entity_matching_spark.operators.resolve import (
        FSComparison,
        fellegi_sunter_score_graded,
    )

    cust = _t(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    b = cust.select(
        (F.col("c_custkey") - 1).alias("id_a"),
        F.col("c_custkey").alias("id_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("c_acctbal").alias("bal_b"),
    )
    diff = F.abs(F.col("bal_a") - F.col("bal_b"))
    pairs = (
        a.join(b, "id_a")
        .withColumn(
            "lvl_nat", (F.col("nat_a") == F.col("nat_b")).cast("int")
        )
        .withColumn(
            "lvl_seg", (F.col("seg_a") == F.col("seg_b")).cast("int")
        )
        .withColumn(
            "lvl_bal",
            F.when(
                (F.col("bal_a") < 0) | (F.col("bal_b") < 0), F.lit(None)
            )
            .when(diff < 500, F.lit(2))
            .when(diff < 2000, F.lit(1))
            .otherwise(F.lit(0)),
        )
    )
    scored = fellegi_sunter_score_graded(
        pairs,
        [
            FSComparison("lvl_nat", m=(0.05, 0.95), u=(0.96, 0.04)),
            FSComparison("lvl_seg", m=(0.10, 0.90), u=(0.80, 0.20)),
            FSComparison("lvl_bal", m=(0.05, 0.15, 0.80), u=(0.50, 0.30, 0.20)),
        ],
        prior=0.01,
    )
    return scored.select(
        "id_a",
        "id_b",
        "lvl_nat",
        "lvl_seg",
        "lvl_bal",
        F.round(F.col("match_weight"), 6).alias("match_weight"),
        F.round(F.col("match_prob"), 6).alias("match_prob"),
    )


def q72_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped hashed linear quality classifier (Joulin et al.
    2016; the CCNet/DCLM-style quality gate): sigmoid of the mean hashed
    uni+bigram weight, zero Python, zero shuffle — pure higher-order
    Column algebra at scan speed.  The hash-random weight table (md5
    nibble-fold -> int in [-1000, 1000] / 1000) is engine-portable, so
    the DuckDB twin recomputes the identical score; the integer fold
    keeps the mean bit-identical — exp() is the only libm call."""
    from semantic_entity_matching_spark.functions.textops import (
        hashed_linear_score,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        hashed_linear_score("text", score_round=6).alias("q_score"),
    )


def q73_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1/C4-style domain-blocklist gate: drop pages whose host equals a
    blocklisted pattern or is a subdomain of it (label-boundary suffix
    match — 'site3.com' blocks www.site3.com, never notsite3.com).  The
    blocklist is a TABLE joined by registered domain (real lists are
    millions of domains — never a forced broadcast); the oracle replays
    the same pattern-keyed join in SQL."""
    from semantic_entity_matching_spark.functions.urlops import (
        filter_blocked_urls,
        url_host,
    )

    pages = _docs_with_urls(spark, sf_dir)
    bl = spark.createDataFrame(
        [("site3.com",), ("www.site5.co.uk",), ("site9.org",)],
        "pattern string",
    )
    kept = filter_blocked_urls(pages, bl, url_col="url")
    return kept.select("doc_id", url_host("url").alias("host"))


def q74_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the corpus domain link graph (Page et
    al. 1999): edges = (source registered domain -> target registered
    domain) from the synthetic pages' absolute outlinks, 5 join-based
    supersteps with dangling-mass redistribution.  Integer fixed-point
    arithmetic (scale 1e12, damping 85/100) makes every superstep
    bit-identical under any partitioning AND replayable in ANSI SQL —
    the oracle unrolls the identical recurrence and compares the exact
    BIGINT ranks."""
    from semantic_entity_matching_spark.functions.htmlops import extract_links
    from semantic_entity_matching_spark.functions.urlops import (
        registered_domain,
        url_host,
    )
    from semantic_entity_matching_spark.operators.graph import pagerank

    pages = _docs_with_urls(spark, sf_dir).join(
        _docs_with_html(spark, sf_dir).select("doc_id", "html"), "doc_id"
    )
    links = pages.select(
        registered_domain(url_host("url")).alias("src"),
        F.explode(extract_links("html")).alias("link"),
    ).where(F.col("link").rlike(r"(?i)^https?://"))
    edges = links.select(
        "src", registered_domain(url_host("link")).alias("dst")
    )
    return pagerank(edges, iterations=5)


def q75_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing (the static source-share sampling step of a
    pretraining data recipe): 120 rows at lang shares en .5 / es .2 /
    de .2 / fr .1 (largest-remainder quotas 60/24/24/12; zh and NULL are
    unweighted and excluded), members chosen per stratum by the
    deterministic md5(id) order — the oracle replays the identical
    per-stratum ranked pick."""
    from semantic_entity_matching_spark.operators.sample import mix_corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return mix_corpus(
        docs,
        strata_col="lang",
        weights={"en": 0.5, "es": 0.2, "de": 0.2, "fr": 0.1},
        n_total=120,
        id_col="doc_id",
    )


def q76_meta_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking (Papadakis et al., TKDE 2014): token blocking over
    the documents corpus -> CBS-weighted block graph (weight = number of
    shared token blocks, exact integer) -> weighted node pruning (an edge
    survives iff weight >= the mean incident-edge weight of either
    endpoint).  Every threshold is an exact-integer SUM / COUNT with one
    double division — never avg(), whose accumulation order differs per
    partitioning — so the surviving edge set replays exactly in the SQL
    twin.  Blocks above the 50-doc cap (stopword tokens) are purged in
    both engines (the paper's block-purging step)."""
    from semantic_entity_matching_spark.operators.metablocking import meta_block
    from semantic_entity_matching_spark.operators.pairs import PairGenConfig

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return meta_block(
        docs,
        id_col="doc_id",
        text_col="text",
        scheme="cbs",
        prune="wnp",
        config=PairGenConfig(max_block_size=50, hot_block_threshold=20),
    )


def q77_token_comparators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-order-insensitive rerank comparators on adjacent doc pairs
    (160-char prefixes — the short canonical-text shape these comparators
    target): token-sort ratio (sorted-token Levenshtein, pure JVM
    codegen) + symmetric set-Monge-Elkan over Jaro-Winkler (per-cell
    scores snapped to 1e-6 fixed point so the means are exact-integer
    sums).  Oracle uses DuckDB's jaro_winkler_similarity, which matches
    jaro_winkler_py bit-for-bit incl. the 0.7 boost threshold
    (q24-verified)."""
    from semantic_entity_matching_spark.functions.similarity import (
        monge_elkan_set_scores,
        norm_tokens,
        token_sort_ratio_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    prefix = F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 160)
    a = docs.select(F.col("doc_id").alias("id_a"), prefix.alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), prefix.alias("text_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1).where(
        (F.size(norm_tokens("text_a")) > 0)
        & (F.size(norm_tokens("text_b")) > 0)
    )
    tsr = pairs.select(
        "id_a",
        "id_b",
        F.round(token_sort_ratio_expr("text_a", "text_b"), 6).alias(
            "token_sort_ratio"
        ),
    )
    me = monge_elkan_set_scores(pairs)
    return tsr.join(me, ["id_a", "id_b"])


def q78_cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup dedup (drop pages already present in an
    earlier dump — the C4/RefinedWeb cross-snapshot step): the reference
    corpus is a deterministic mutation of every doc_id % 7 == 0 page
    (upper-cased + whitespace-padded — normalization-equal, so its MinHash
    signature is identical and banding recall for the planted matches is
    structural).  The A×B band-key join is capped/salted per side
    (Zipf-head annotation); every candidate carries TRUE unigram Jaccard
    and the 0.9 threshold applies to that, so the survivor set equals the
    quadratic cross-Jaccard truth the oracle computes (within-corpus
    recall 1 at 0.9 is the verified q21 property; cross pairs share the
    same signatures).  Cap lifted at contract scale exactly as q21."""
    from semantic_entity_matching_spark.operators.dedup import (
        cross_corpus_dedup,
    )
    from semantic_entity_matching_spark.operators.pairs import PairGenConfig

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.where((F.col("doc_id") % 7 == 0) & F.col("text").isNotNull()).select(
        F.col("doc_id").alias("ref_id"),
        F.concat(F.lit("  "), F.upper(F.col("text")), F.lit("   ")).alias(
            "text"
        ),
    )
    return cross_corpus_dedup(
        docs,
        ref,
        jaccard_threshold=0.9,
        pairgen=PairGenConfig(
            max_block_size=1_000_000, hot_block_threshold=20
        ),
    ).select("doc_id")


def q79_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive embedding training (ANCE,
    Xiong et al. 2021): per anchor (vec_id < 20), the top-5 most-similar
    vectors that do NOT share its label (same-label pairs are the
    positives and are anti-joined out BEFORE scoring).  Exact brute-force
    retrieval, rounded-score + id tiebreak ranking — the oracle replays
    positives-exclusion, cosine and ranking in SQL."""
    from semantic_entity_matching_spark.operators.ann import (
        mine_hard_negatives,
    )

    emb = _t(spark, sf_dir, "embeddings")
    positives = (
        emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("_l"))
        .join(
            emb.select(F.col("vec_id").alias("candidate_id"), F.col("label").alias("_l")),
            "_l",
        )
        .select("query_id", "candidate_id")
    )
    return mine_hard_negatives(
        emb,
        positives,
        k=5,
        id_col="vec_id",
        query_filter=F.col("vec_id") < 20,
        score_round=6,
        symmetric=False,  # the label join is already symmetric
    )


def q80_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram Jelinek-Mercer interpolated self-perplexity (one LM order up
    from q40): p(w|prev) = 0.7*MLE bigram + 0.3*smoothed unigram; each
    doc's first token scores unigram-only.  The oracle replays the whole
    recurrence — per-doc bigram tf, corpus bigram/history counts, the
    interpolation, the first-token term — in SQL."""
    from semantic_entity_matching_spark.functions.textops import (
        bigram_ppl_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    return bigram_ppl_scores(docs, id_col="doc_id", text_col="text")


def q81_entity_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity centroid embeddings (the vector-field golden record):
    element-wise member mean, rounded then L2-normalized then rounded —
    the exact order the SQL twin replays.  Cluster assignment here is the
    embeddings' label column (gold classes); the operator is agnostic to
    where clusters came from.  Output exploded to (component, n_members,
    pos, value) rows for the value-hash compare."""
    from semantic_entity_matching_spark.operators.resolve import (
        entity_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    members = emb.select("vec_id", F.col("label").alias("component"))
    cent = entity_centroids(
        members,
        emb,
        id_col="vec_id",
        cluster_col="component",
        vec_col="embedding",
        normalize=True,
        round_to=6,
    )
    return cent.select(
        "component",
        "n_members",
        F.posexplode("centroid").alias("pos", "value"),
    )


def q82_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missed-merge detection over TWO overlapping clusterings — the
    cross-run reconciliation case (two incremental ER runs cluster the
    same records differently).  Run A puts record v in cluster
    ``2*(v div 5)``; run B in ``2*((v+2) div 5) + 1`` — adjacent
    clusters share 3 of 5 members, so their centroids are genuinely
    cosine-close (planted, the q12 convention: the raw corpus has no
    directionally-coherent clusters to merge).  Centroids (q81
    recurrence) → 8 md5-hash cells (q37 recurrence) → within-cell
    centroid-cosine pairs at 0.5 — every stage engine-portable."""
    from semantic_entity_matching_spark.operators.dedup import (
        hash_centroid_vectors,
    )
    from semantic_entity_matching_spark.operators.resolve import (
        entity_merge_candidates,
    )

    emb = _t(spark, sf_dir, "embeddings")
    run_a = emb.select(
        "vec_id", (F.expr("vec_id div 5") * 2).alias("component")
    )
    run_b = emb.select(
        "vec_id", (F.expr("(vec_id + 2) div 5") * 2 + 1).alias("component")
    )
    return entity_merge_candidates(
        run_a.unionByName(run_b),
        emb,
        hash_centroid_vectors(nlist=8, dim=64),
        id_col="vec_id",
        cluster_col="component",
        vec_col="embedding",
        cosine_threshold=0.5,
        round_to=6,
        score_round=6,
    )


def q83_split_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-merge detection: weak clusters from label-bucketed cosine
    edges at 0.25 (the q20 form), then strong-edge (>= 0.5) connected
    components INSIDE each cluster — members bridged only by weak edges
    fracture into subcomponents.  Edge-free rows become singleton
    subcomponents of themselves."""
    from semantic_entity_matching_spark.operators.cluster import (
        clusters_from_pairs,
    )
    from semantic_entity_matching_spark.operators.dedup import (
        embedding_near_duplicates,
    )
    from semantic_entity_matching_spark.operators.resolve import (
        split_clusters,
    )

    emb = _t(spark, sf_dir, "embeddings")
    edges = embedding_near_duplicates(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        bucket_col="label",
        cosine_threshold=0.25,
        score_round=6,
    )
    clusters = clusters_from_pairs(
        edges.select("id_a", "id_b"),
        all_ids=emb.select("vec_id"),
        id_col="vec_id",
    )
    return split_clusters(
        clusters,
        edges,
        id_col="id",
        cluster_col="component",
        weight_col="cosine",
        strong_threshold=0.5,
    ).select(
        F.col("id").alias("vec_id"), "component", "subcomponent"
    )


def q84_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric-Jaccard) near-dup: pairs whose SMALLER
    token set is >= 90% inside the larger one — the small-doc-inside-
    big-doc duplication symmetric-Jaccard LSH misses (a page quoted
    whole inside an aggregator has jaccard ~|A|/|B| but containment 1).
    Candidates come from exact prefix filtering (rarest-first token
    prefixes probed against the full inverted index — Bayardo WWW'07),
    NOT banding, so the result equals the quadratic containment truth
    the oracle computes: no recall caveat at any threshold."""
    from semantic_entity_matching_spark.operators.dedup import (
        containment_near_duplicates,
    )

    docs = _t(spark, sf_dir, "documents")
    out = containment_near_duplicates(
        docs, id_col="doc_id", text_col="text", containment_threshold=0.9
    )
    return out.select(
        "id_a",
        "id_b",
        F.round(F.col("containment"), 6).alias("containment"),
        F.round(F.col("jaccard"), 6).alias("jaccard"),
    )


def q46_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected-components maintenance (daily-crawl shape):
    a deterministic edge set over doc_id (7-wide stars + every-35 bridge
    edges) is split into "yesterday" (even id_a) and "today" (odd id_a);
    the base clustering is built from yesterday's edges only, then
    ``update_components`` folds in today's delta.  The oracle recomputes
    CC over the FULL edge set from scratch (recursive-CTE reachability,
    component = min(id)) — passing proves the incremental result is
    byte-identical to a full recompute, the exactness contract that makes
    delta maintenance usable at 10^12 docs where re-running CC over the
    entire edge history is not.  Reference concern: the reference
    re-ingests idempotently (lib/ingest.py:63,90-94) but rebuilds nothing
    incrementally; the north_rule's resumability requirement makes this
    first-class."""
    from semantic_entity_matching_spark.operators.cluster import (
        clusters_from_pairs,
        update_components,
    )

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    stars = docs.where(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") - F.col("doc_id") % 7).alias("id_b"),
    )
    bridges = docs.where(
        (F.col("doc_id") % 35 == 0) & (F.col("doc_id") >= 35)
    ).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") - F.lit(35)).alias("id_b"),
    )
    edges = stars.unionByName(bridges).join(
        ids.withColumnRenamed("doc_id", "id_b"), "id_b", "semi"
    )
    old_edges = edges.where(F.col("id_a") % 2 == 0)
    new_edges = edges.where(F.col("id_a") % 2 != 0)
    base = clusters_from_pairs(old_edges, all_ids=ids, id_col="doc_id")
    out = update_components(base, new_edges)
    return out.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q86_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-guarded train/val/test split: every near-dup CLUSTER is
    hashed to exactly one split (80/10/10), so eval documents can never
    leak into training through surviving cluster-mates — the split step a
    dedup pipeline must apply AFTER clustering, not per-row.  Boundaries
    are integer floor(cum*2^32) thresholds compared lexically on the md5
    prefix: zero float comparisons, so the oracle replays the assignment
    bit-identically.  Scale shape: one codegen CASE over an existing
    column — no shuffle, join, or UDF."""
    from semantic_entity_matching_spark.operators.sample import cluster_split

    docs = _t(spark, sf_dir, "documents")
    clustered = docs.select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 5).alias("cluster_id")
    )
    return cluster_split(
        clustered,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        cluster_col="cluster_id",
    ).select("doc_id", "cluster_id", "split")


def q22_one_to_one_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-one linkage assignment between two deduplicated sources
    (even doc_ids = source A, odd = source B; candidates = A-id + 1/3/5
    built by explode + semi-join, never a non-equi join) via iterated
    mutual-best matching — equal to the global greedy matching under the
    (-score, other_id) total order without any global sort.  Scores are
    deterministic integer arithmetic so the contract isolates the
    ASSIGNMENT algorithm (comparator parity is q24's job).  The oracle
    replays the iteration exactly: 8 unrolled rounds of window-ranked
    mutual-best + anti-join retirement, generated by the same loop
    structure the operator runs."""
    from semantic_entity_matching_spark.operators.resolve import (
        one_to_one_match,
    )

    docs = _t(spark, sf_dir, "documents")
    a_side = docs.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id_a")
    )
    cand = a_side.select(
        "id_a",
        F.explode(
            F.array(
                F.col("id_a") + 1, F.col("id_a") + 3, F.col("id_a") + 5
            )
        ).alias("id_b"),
    ).join(
        docs.select(F.col("doc_id").alias("id_b")), "id_b", "semi"
    )
    pairs = cand.select(
        "id_a",
        "id_b",
        F.round(
            ((F.col("id_a") * 7 + F.col("id_b") * 13) % 97) / 97.0, 6
        ).alias("score"),
    )
    return one_to_one_match(pairs, max_rounds=8).select(
        "id_a", "id_b", F.round("score", 6).alias("score")
    )


def q88_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot diff: yesterday = the documents table, today = a
    deterministically mutated copy (every 17th id dropped, every 13th
    text appended-to, every 29th re-added under a shifted id) — the
    operator classifies added/removed/changed off ONE full-outer join on
    md5 fingerprints and emits only the delta (unchanged rows never
    materialize), which is the property that matters when 99% of a
    10^12-page snapshot didn't change."""
    from semantic_entity_matching_spark.operators.diff import crawl_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text")
    mutated = docs.where(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.where(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("new page "), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    new = mutated.unionByName(added)
    return crawl_diff(old, new, id_col="doc_id").select(
        F.col("id").alias("doc_id"), "status", "old_fp", "new_fp"
    )


def q89_exact_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language text-length deciles (type-1 inverse CDF) — the
    deterministic quantiles a length-truncation/drop-shortest-decile data
    contract needs, vs percentile_approx's run-dependent answers.  The
    corpus collapses to one count per (lang, length) first (map-side
    combinable; the value DOMAIN is bounded even at 10^12 rows), and all
    order statistics run on that bounded table with pure integer
    thresholds (cum*q >= k*n — no float ceil boundary surprises)."""
    from semantic_entity_matching_spark.operators.stats import (
        exact_quantiles,
    )

    docs = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "lang", F.length("text").cast("bigint").alias("text_len")
    )
    out = exact_quantiles(lens, "text_len", q=10, group_col="lang")
    return out.select(
        "lang",
        F.col("k").cast("int").alias("k"),
        F.col("value").cast("bigint").alias("text_len"),
    )


def q90_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language HyperLogLog distinct-text estimate (p=8, 256
    registers) — the MERGEABLE cardinality sketch: per-day register
    tables union-max into all-time distincts without re-scanning crawl
    history.  Every step is engine-portable and deterministic: md5
    register index + 40-bit rho window, FIXED-POINT harmonic denominator
    (sum of 2^(41-rho) — exact int, so the estimate is independent of
    partitioning and float summation order), inlined alpha literal,
    linear-counting small-range branch.  The oracle replays the sketch
    bit-exactly via the md5 nibble-fold."""
    from semantic_entity_matching_spark.functions.sketch import hll_distinct

    docs = _t(spark, sf_dir, "documents")
    out = hll_distinct(docs, key_col="lang", value_col="text", p=8)
    return out.select(F.col("key").alias("lang"), "distinct_est")


def q91_stable_entity_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent entity identity across clustering runs: yesterday's
    resolved entities ('E'+7-grouping over the records present then) are
    carried onto today's drifted clustering (5-grouping over ALL
    records) by plurality member overlap, resolved into a one-to-one
    assignment with `one_to_one_match` — the bigger fragment of a split
    keeps the entity id, merges inherit the larger-overlap entity, and
    unmatched components mint 'new:'+component.  Component labels are
    unstable by construction (min-id relabels when membership shifts);
    entity ids are what downstream golden records and splits key on."""
    from semantic_entity_matching_spark.operators.resolve import (
        stable_entity_ids,
    )

    docs = _t(spark, sf_dir, "documents")
    prev = docs.where(F.col("doc_id") % 11 != 0).select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit("E"), (F.col("doc_id") - F.col("doc_id") % 7).cast("string")
        ).alias("entity_id"),
    )
    cur = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") - F.col("doc_id") % 5).alias("component"),
    )
    return stable_entity_ids(prev, cur).select(
        F.col("id").alias("doc_id"), "entity_id"
    )


def q92_cms_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token frequencies (d=4, w=1024) queried for the
    tokens of the first 10 docs — the mergeable heavy-hitter complement
    to the exact census (q02): the sketch is d*w cells at ANY corpus
    size, merges by cell-wise sum across days, and every estimate is
    >= the true count (one-sided error).  Exact integer cells make the
    whole thing partitioning-independent and SQL-replayable."""
    from semantic_entity_matching_spark.functions.sketch import (
        cms_query,
        cms_sketch,
    )
    from semantic_entity_matching_spark.functions.textops import (
        whitespace_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.where(F.col("text").isNotNull()).select(
        F.explode(whitespace_tokens("text")).alias("tok")
    )
    sk = cms_sketch(toks, "tok", d=4, w=1024)
    qs = (
        docs.where((F.col("doc_id") < 10) & F.col("text").isNotNull())
        .select(F.explode(whitespace_tokens("text")).alias("tok"))
        .distinct()
    )
    out = cms_query(sk, qs, "tok", d=4, w=1024)
    return out.select(
        F.col("value").alias("tok"), F.col("est").cast("bigint").alias("est")
    )


def q93_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day-2 production loop end-to-end: the corpus splits by md5
    into a 'yesterday' majority (clustered by the flagship batch
    pipeline) and a 'today' delta folded in by run_incremental
    (new-vs-reference edges via the blocked+scored index join, new-vs-new
    edges via the flagship on the delta alone, update_components for the
    clustering).  The oracle is the UNSPLIT q23 CTE chain — the
    from-scratch full recompute — so a green row proves the incremental
    composition is byte-identical to re-running the whole pipeline, at
    delta cost."""
    from semantic_entity_matching_spark.plans.incremental import (
        run_incremental,
    )
    from semantic_entity_matching_spark.plans.pipeline import (
        MatchConfig,
        run_pipeline,
    )

    docs = _t(spark, sf_dir, "documents")
    config = MatchConfig(
        id_col="doc_id",
        text_col="text",
        extract_cols=("doc_id", "text", "lang"),
        score_round=6,
    )
    day1 = docs.where(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        < 160
    )
    day2 = docs.subtract(day1)
    base = run_pipeline(day1, config)
    inc = run_incremental(day1, base.clusters, day2, config)
    return inc.clusters.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q94_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit + suppression over quasi-identifiers
    (lang × length-bucket): regex PII scrubbing removes DIRECT
    identifiers; re-identification risk lives in rare quasi-identifier
    COMBINATIONS, a grouping property.  Rows in anonymity sets smaller
    than k=3 get their quasi columns suppressed to typed NULLs (rows
    retained — the payload stays trainable).  NULL quasi-values group
    with themselves (null-safe join), matching the threat model.  Scale
    shape: one hash aggregate to the quasi-DOMAIN table + one null-safe
    hash join back; no corpus window."""
    from semantic_entity_matching_spark.functions.pii import (
        suppress_below_k,
    )

    docs = _t(spark, sf_dir, "documents")
    quasi = docs.select(
        "doc_id",
        "lang",
        F.floor(F.length("text") / 200).cast("bigint").alias("len_bucket"),
    )
    out = suppress_below_k(quasi, ["lang", "len_bucket"], k=3)
    return out.select(
        "doc_id",
        "lang",
        "len_bucket",
        F.col("anonymity_set_size").cast("bigint").alias(
            "anonymity_set_size"
        ),
    )


def q95_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-corpus (SCD2) history: two chained snapshot upserts —
    the full corpus at t=1000, then the q88 mutation (drops/edits/adds)
    at t=2000 — produce the (id, fp, valid_from, valid_to) interval
    table behind 'what did this url say at time T' (the warc_ts shape).
    Unchanged pages keep their open interval untouched (idempotent
    re-ingest); closed rows never re-enter the join.  The oracle derives
    the same intervals set-theoretically from the two snapshots."""
    from semantic_entity_matching_spark.operators.diff import scd2_upsert

    docs = _t(spark, sf_dir, "documents")
    s1 = docs.select("doc_id", "text")
    mutated = docs.where(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.where(F.col("doc_id") % 29 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("new page "), F.col("doc_id").cast("string")).alias(
            "text"
        ),
    )
    s2 = mutated.unionByName(added)
    h1 = scd2_upsert(None, s1, 1000, id_col="doc_id")
    h2 = scd2_upsert(h1, s2, 2000, id_col="doc_id")
    return h2.select(
        F.col("id").alias("doc_id"),
        "fp",
        F.col("valid_from").cast("bigint").alias("valid_from"),
        F.col("valid_to").cast("bigint").alias("valid_to"),
    )


def q96_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    100 docs sampled ∝ text length — the quality-weighted corpus-
    selection primitive, deterministic and engine-exact (u from the md5
    fold, key = ln(u)/w, no pow; ties by id).  The sort+limit compiles
    to TakeOrderedAndProject: per-partition top-n, never a global
    sort."""
    from semantic_entity_matching_spark.operators.sample import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", "lang", F.length("text").cast("double").alias("wt")
    )
    out = weighted_sample(lens, "doc_id", "wt", 100)
    return out.select(
        "doc_id", "lang", F.round("sample_key", 6).alias("sample_key")
    )


_SCRIPT_SNIPPETS = (
    "hello world",
    "привет мир",
    "你好世界",
    "γειά σου",
    "مرحبا",
    "שלום",
    "नमस्ते",
    "안녕하세요",
)


def q97_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script profiling for multilingual corpus routing: per-
    script character counts + the dominant script, over text with a
    deterministic multilingual snippet planted per doc (the raw corpus
    is ASCII — unplanted, the non-Latin branches would verify nothing).
    Counts use explicit code-point RANGES, not \\p{{script=...}} names,
    so Java regex and RE2/DuckDB agree independent of their Unicode
    table versions; the dominant-script CASE chain has a fixed
    documented precedence.  Pure codegen — zero shuffle, zero Python."""
    from semantic_entity_matching_spark.functions.textops import (
        with_script_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    snip = F.element_at(
        F.array(*[F.lit(s) for s in _SCRIPT_SNIPPETS]),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    base = docs.select(
        "doc_id",
        F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" "), snip).alias(
            "_txt"
        ),
    )
    out = with_script_profile(base, "_txt")
    from semantic_entity_matching_spark.functions.textops import SCRIPT_RANGES

    return out.select(
        "doc_id",
        *[
            F.col(f"n_{n}").cast("bigint").alias(f"n_{n}")
            for n, _ in SCRIPT_RANGES
        ],
        "script",
    )


def q98_partition_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARI + NMI between two deterministic clusterings of the corpus
    (5-grouping vs 7-grouping of doc_id) — chance-corrected and
    information-theoretic partition agreement, completing the cluster-
    evaluation family (pairwise P/R/F1 q28, B-cubed q07, blocking
    quality q06).  Everything reduces over the contingency table: one
    id join + three bounded aggregates; the scalar closed forms replay
    in SQL with the same expression structure (ln parity per
    q40/q68/q90)."""
    from semantic_entity_matching_spark.operators.evaluate import (
        partition_comparison,
    )

    docs = _t(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") - F.col("doc_id") % 5).alias("component"),
    )
    gold = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") - F.col("doc_id") % 7).alias("entity"),
    )
    return partition_comparison(pred, gold)


def q99_domain_quality_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrunken per-group means (tau=10) of a quality
    proxy (text length) per language — the domain/host-level quality
    prior of web curation: a group seen 3 times must not swing to an
    extreme and gate a whole stratum.  One map-side-combinable group
    aggregate + one scalar global mean broadcast back; raw and shrunken
    means both emitted for threshold audits."""
    from semantic_entity_matching_spark.operators.stats import (
        shrunken_group_means,
    )

    docs = _t(spark, sf_dir, "documents")
    vals = docs.select("lang", F.length("text").cast("double").alias("q"))
    return shrunken_group_means(vals, "lang", "q", prior_strength=10.0)


def q100_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan over the committed fixture (nulls in two columns,
    non-ASCII city names, booleans) — the Hive-era columnar source a
    migration pipeline must read alongside parquet, with the SAME
    scan-side machinery (column pruning to the file reader, predicate
    pushdown into PushedFilters — both pytest-pinned).  The oracle reads
    the byte-identical CSV twin (the q30/q35 committed-fixture pattern;
    DuckDB has no ORC reader).  Avro needs the external spark-avro jar —
    absent from this container, documented environment-blocked like the
    Iceberg runtime."""
    from semantic_entity_matching_spark.sources.readers import read_orc

    df = read_orc(spark, "/root/repo/fixtures/q100_catalog_orc")
    return df.select(
        "row_id",
        "name",
        "city",
        "qty",
        F.round("price", 6).alias("price"),
        F.col("active").cast("int").alias("active"),
    )


def q101_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic over a deterministically skewed key
    (half the corpus lands on 'hot'; the rest spreads over lang×mod-11
    keys, NULL lang keys included): top-10 hottest keys with row count,
    table share and the recommended salt count ceil(cnt/target) — the
    measurement behind every salting decision in the engine.  One census
    aggregate + TakeOrderedAndProject, deterministic (cnt desc, key asc
    nulls last) order."""
    from semantic_entity_matching_spark.operators.stats import skew_report

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.lit("hot"))
        .otherwise(
            F.concat(
                F.col("lang"), F.lit(":"), (F.col("doc_id") % 11).cast("string")
            )
        )
        .alias("k")
    )
    return skew_report(keyed, "k", top_k=10, rows_per_task_target=100)


def q102_sentence_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation exploded to (doc_id, sent_idx, sentence)
    for the first 50 docs — the unit of sentence-level dedup and
    boundary-aware chunking (token-window chunking q41 cuts
    mid-sentence).  Lookaround-free: RE2 has no lookbehind, so the
    terminator+whitespace is rewritten to terminator+sentinel with a
    backreference and split on the literal sentinel — identical
    semantics in Java regex and RE2, only the backref spelling
    differs."""
    from semantic_entity_matching_spark.functions.textops import (
        split_sentences,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.where(F.col("doc_id") < 50).select(
        "doc_id",
        F.posexplode(split_sentences("text")).alias("sent_idx", "sentence"),
    )


def q103_phonetic_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic (soundex-style) blocking over the part-name vocabulary.

    Classic name-noise blocking: the last word of every ``p_name`` plus a
    planted misspelling (2nd char dropped — "ring"→"rng" — for every
    ``p_partkey % 7 == 0`` part) is keyed with the engine's phonetic code;
    DISTINCT words sharing a key become candidate pairs, annotated with
    their true edit distance.  Pairing the VOCABULARY (not row instances)
    is the 100 TB shape: key cardinality is vocabulary-bounded, so the
    self-join never sees the Zipf head of row repetitions.  The oracle
    recomputes the identical key chain in DuckDB via
    :func:`phonetic_key_sql` — one source of truth, engine-portability
    verified by the contract (the q37 centroid precedent).
    """
    from semantic_entity_matching_spark.functions.phonetic import phonetic_key

    parts = _t(spark, sf_dir, "part")
    last = F.element_at(F.split(F.col("p_name"), " "), -1)
    orig = parts.select(last.alias("w"))
    mut = parts.where((F.col("p_partkey") % 7 == 0) & (F.length(last) >= 3)).select(
        F.concat(
            F.substring(last, 1, 1), F.substring(last, 3, 1_000_000)
        ).alias("w")
    )
    words = (
        orig.unionAll(mut)
        .where(F.col("w").isNotNull() & (F.col("w") != ""))
        .distinct()
    )
    keyed = words.select("w", phonetic_key(F.col("w")).alias("key")).where(
        F.col("key").isNotNull()
    )
    a = keyed.select(F.col("w").alias("word_a"), "key")
    b = keyed.select(F.col("w").alias("word_b"), "key")
    return (
        a.join(b, "key")
        .where(F.col("word_a") < F.col("word_b"))
        .select(
            "word_a",
            "word_b",
            "key",
            F.levenshtein("word_a", "word_b").alias("distance"),
        )
    )


def q104_simjoin_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS jaccard >= 0.7 self-join via AllPairs/PPJoin prefix
    filtering — the exact counterpart of the probabilistic MinHash path
    (q21) at the same tokenization.  Signatures are each doc's rarest
    tokens under the global df order, so candidate-join keys are anti-Zipf
    by construction (no salting needed); the oracle is the quadratic
    ground truth."""
    from semantic_entity_matching_spark.operators.simjoin import (
        prefix_filter_jaccard_join,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = prefix_filter_jaccard_join(docs, "doc_id", "text", 0.7)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q105_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDJoin-style exact levenshtein <= 2 self-join over part names
    (p_partkey < 1000) plus planted 1-edit mutants (char 4 dropped for
    every p_partkey % 5 == 0 name, re-keyed +1000000).  Prefix = the
    k*q+1 globally-rarest q-grams; length filter in the join condition;
    exact JVM ``levenshtein`` verification.  Oracle: quadratic DuckDB
    ``levenshtein`` with the (ED-implied) length prefilter."""
    from semantic_entity_matching_spark.operators.simjoin import (
        edit_distance_join,
    )

    parts = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 1000)
    orig = parts.select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    mut = parts.where(
        (F.col("p_partkey") % 5 == 0) & (F.length("p_name") >= 5)
    ).select(
        (F.col("p_partkey") + 1_000_000).alias("id"),
        F.concat(
            F.substring("p_name", 1, 3), F.substring("p_name", 5, 1_000_000)
        ).alias("name"),
    )
    return edit_distance_join(orig.unionAll(mut), "id", "name", k=2, q=2)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top_ngrams": q02_top_ngrams,
        "q03_pack_shards": q03_pack_shards,
        "q04_customers_without_orders": q04_customers_without_orders,
        "q05_dedup_survivors": q05_dedup_survivors,
        "q06_blocking_quality": q06_blocking_quality,
        "q07_bcubed_clustering": q07_bcubed_clustering,
        "q08_canonical_url_dedup": q08_canonical_url_dedup,
        "q09_user_hourly_events": q09_user_hourly_events,
        "q10_canonical_text": q10_canonical_text,
        "q11_query_text_valid": q11_query_text_valid,
        "q12_exact_dup_groups": q12_exact_dup_groups,
        "q13_fingerprint": q13_fingerprint,
        "q14_token_stats": q14_token_stats,
        "q15_normalize_text": q15_normalize_text,
        "q16_lang_id": q16_lang_id,
        "q17_ann_topk": q17_ann_topk,
        "q18_html_extract": q18_html_extract,
        "q19_lexical_bm25": q19_lexical_bm25,
        "q20_embedding_neardup": q20_embedding_neardup,
        "q21_minhash_neardup": q21_minhash_neardup,
        "q22_one_to_one_linkage": q22_one_to_one_linkage,
        "q23_entity_clusters": q23_entity_clusters,
        "q24_string_sims": q24_string_sims,
        "q25_outlink_domains": q25_outlink_domains,
        "q26_embedding_audit": q26_embedding_audit,
        "q27_document_frequency": q27_document_frequency,
        "q28_topk_accuracy": q28_topk_accuracy,
        "q29_search_rerank": q29_search_rerank,
        "q30_excel_scan": q30_excel_scan,
        "q31_media_features": q31_media_features,
        "q32_ivf_topk": q32_ivf_topk,
        "q33_duplicate_spans": q33_duplicate_spans,
        "q34_range_join": q34_range_join,
        "q35_csv_scan": q35_csv_scan,
        "q36_sessionize": q36_sessionize,
        "q37_semantic_dedup": q37_semantic_dedup,
        "q38_hash_sample": q38_hash_sample,
        "q39_golden_record": q39_golden_record,
        "q40_unigram_ppl": q40_unigram_ppl,
        "q41_chunk_documents": q41_chunk_documents,
        "q42_cluster_cohesion": q42_cluster_cohesion,
        "q43_jsonl_scan": q43_jsonl_scan,
        "q44_fs_graded": q44_fs_graded,
        "q45_decontaminate": q45_decontaminate,
        "q46_incremental_clusters": q46_incremental_clusters,
        "q47_incremental_match": q47_incremental_match,
        "q48_gopher_filter": q48_gopher_filter,
        "q49_pii_redact": q49_pii_redact,
        "q50_line_dedup": q50_line_dedup,
        "q51_top_customers": q51_top_customers,
        "q52_region_rollup": q52_region_rollup,
        "q53_nation_top3_acctbal": q53_nation_top3_acctbal,
        "q54_never_f_status_customers": q54_never_f_status_customers,
        "q55_priority_range_agg": q55_priority_range_agg,
        "q56_brand_volume": q56_brand_volume,
        "q57_quality": q57_quality,
        "q58_adjacent_jaccard": q58_adjacent_jaccard,
        "q59_json_props": q59_json_props,
        "q60_gold_rank_eval": q60_gold_rank_eval,
        "q61_vectorize_columns": q61_vectorize_columns,
        "q62_token_estimate": q62_token_estimate,
        "q63_frame_sample": q63_frame_sample,
        "q64_asof_join": q64_asof_join,
        "q65_stratified_sample": q65_stratified_sample,
        "q66_repetition_stats": q66_repetition_stats,
        "q67_fellegi_sunter": q67_fellegi_sunter,
        "q68_value_percentiles": q68_value_percentiles,
        "q69_rollup_volume": q69_rollup_volume,
        "q70_host_stats": q70_host_stats,
        "q71_host_sample": q71_host_sample,
        "q72_quality_model": q72_quality_model,
        "q73_blocklist_filter": q73_blocklist_filter,
        "q74_domain_pagerank": q74_domain_pagerank,
        "q75_corpus_mix": q75_corpus_mix,
        "q76_meta_blocking": q76_meta_blocking,
        "q77_token_comparators": q77_token_comparators,
        "q78_cross_corpus_dedup": q78_cross_corpus_dedup,
        "q79_hard_negatives": q79_hard_negatives,
        "q80_bigram_ppl": q80_bigram_ppl,
        "q81_entity_centroids": q81_entity_centroids,
        "q82_merge_candidates": q82_merge_candidates,
        "q83_split_clusters": q83_split_clusters,
        "q84_containment_neardup": q84_containment_neardup,
        "q85_repetition_extended": q85_repetition_extended,
        "q86_cluster_split": q86_cluster_split,
        "q87_simhash_neardup": q87_simhash_neardup,
        "q88_crawl_diff": q88_crawl_diff,
        "q89_exact_deciles": q89_exact_deciles,
        "q90_hll_distinct": q90_hll_distinct,
        "q91_stable_entity_ids": q91_stable_entity_ids,
        "q92_cms_token_freq": q92_cms_token_freq,
        "q93_incremental_pipeline": q93_incremental_pipeline,
        "q94_k_anonymity": q94_k_anonymity,
        "q95_scd2_history": q95_scd2_history,
        "q96_weighted_sample": q96_weighted_sample,
        "q97_script_profile": q97_script_profile,
        "q98_partition_comparison": q98_partition_comparison,
        "q99_domain_quality_prior": q99_domain_quality_prior,
        "q100_orc_scan": q100_orc_scan,
        "q101_skew_report": q101_skew_report,
        "q102_sentence_segmentation": q102_sentence_segmentation,
        "q103_phonetic_blocking": q103_phonetic_blocking,
        "q104_simjoin_jaccard": q104_simjoin_jaccard,
        "q105_edit_distance_join": q105_edit_distance_join,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["q01_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                  AS sum_qty,
               round(sum(l_extendedprice), 2)                             AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4)                                  AS avg_qty,
               round(avg(l_extendedprice), 4)                             AS avg_price,
               round(avg(l_discount), 4)                                  AS avg_disc,
               count(*)                                                   AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["q51_top_customers"] = """
        WITH rev AS (
            SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT c.c_custkey, c.c_name, r.revenue,
                   row_number() OVER (ORDER BY r.revenue DESC, c.c_custkey ASC) AS rk
            FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
        )
        SELECT c_custkey, c_name, revenue, rk FROM ranked WHERE rk <= 10
    """

    sql["q52_region_rollup"] = """
        SELECT r.r_name, n.n_name,
               count(*) AS n_customers,
               round(sum(c.c_acctbal), 2) AS total_acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    """

    sql["q04_customers_without_orders"] = """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000.0)
    """

    sql["q53_nation_top3_acctbal"] = """
        WITH ranked AS (
            SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal,
                   row_number() OVER (
                       PARTITION BY c_nationkey
                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rk
            FROM customer
        )
        SELECT c_nationkey, c_custkey, acctbal, rk FROM ranked WHERE rk <= 3
    """

    sql["q54_never_f_status_customers"] = """
        SELECT DISTINCT o_custkey AS custkey FROM orders
        EXCEPT
        SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """

    sql["q55_priority_range_agg"] = """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(avg(o_totalprice), 4) AS avg_price,
               strftime(max(o_orderdate), '%Y-%m-%d') AS max_date
        FROM orders
        WHERE o_totalprice >= 50000.0
        GROUP BY o_orderpriority
    """

    sql["q56_brand_volume"] = """
        SELECT p.p_brand,
               round(sum(l.l_quantity), 2) AS sum_qty,
               count(*) AS n_items,
               round(avg(p.p_retailprice), 4) AS avg_retail
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    """

    sql["q09_user_hourly_events"] = """
        SELECT user_id,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY user_id, date_trunc('hour', ts)
    """

    # null semantics mirror the UDFs exactly: canonical_entity_text DROPS
    # null fields (concat_ws skips NULL operands), query_text renders null
    # as 'nan' (str(NaN)) — so a regenerated fixture with nulls stays green.
    sql["q10_canonical_text"] = """
        SELECT doc_id,
               concat_ws(chr(10),
                   'doc_id: ' || CAST(doc_id AS VARCHAR),
                   CASE WHEN text IS NOT NULL THEN 'text: ' || text END,
                   CASE WHEN lang IS NOT NULL THEN 'lang: ' || lang END
               ) AS entity_text
        FROM documents
    """

    sql["q11_query_text_valid"] = """
        WITH qt AS (
            SELECT doc_id,
                   coalesce(text, 'nan') || ' ' || coalesce(lang, 'nan') AS qtext
            FROM documents
        )
        SELECT doc_id, qtext FROM qt
        WHERE trim(qtext) <> '' AND qtext <> 'nan'
    """

    sql["q12_exact_dup_groups"] = """
        WITH unioned AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id,
                   '  ' || upper(text) || '   ' AS text
            FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL
        ), hashed AS (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
            FROM unioned WHERE text IS NOT NULL
        )
        SELECT content_hash, min(doc_id) AS keep_id, count(doc_id) AS dup_count
        FROM hashed GROUP BY content_hash HAVING count(doc_id) >= 2
    """

    sql["q13_fingerprint"] = """
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
        FROM documents
    """

    sql["q14_token_stats"] = """
        SELECT doc_id,
               CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
               CASE WHEN text IS NULL THEN 0
                    ELSE len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) END            AS n_bpe,
               coalesce(length(text), 0)                                   AS n_chars
        FROM documents
    """

    sql["q57_quality"] = f"""
        WITH feats AS (
            SELECT doc_id,
                   coalesce(length(text), 0) AS n_chars,
                   CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                   CASE WHEN text IS NULL THEN 0
                        ELSE len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) END AS n_punct,
                   CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                        ELSE len(list_filter(
                             regexp_split_to_array(lower(trim(text)), '\\s+'),
                             x -> x IN ({_STOPWORDS_SQL}))) END AS n_stop
            FROM documents
        ), ratios AS (
            SELECT doc_id, n_tokens,
                   CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
                   CASE WHEN n_tokens > 0 THEN n_stop::DOUBLE / n_tokens ELSE 0.0 END AS stopword_ratio,
                   CASE WHEN n_tokens > 0 THEN n_chars::DOUBLE / n_tokens ELSE 0.0 END AS mean_word_len
            FROM feats
        )
        SELECT doc_id,
               round(
                 (CASE WHEN n_tokens >= 5 THEN 1.0 ELSE n_tokens::DOUBLE / 5.0 END) * 0.3
               + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 12.0
                       THEN 1.0 ELSE 0.5 END) * 0.2
               + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3
               + least(stopword_ratio * 5.0, 1.0) * 0.2
               , 6) AS quality
        FROM ratios
    """

    # language-ID: same marker lists + same first-wins tiebreak order
    def _score(lang: str, markers: list[str]) -> str:
        terms = " + ".join(
            "CASE WHEN contains(padded, '" + m.replace("'", "''") + "') THEN 1 ELSE 0 END"
            for m in markers
        )
        return f"({terms}) AS s_{lang}"

    markers = {
        "es": [" el ", " la ", " los ", " las ", " que ", " de ", " y ", "ción"],
        "de": [" der ", " die ", " das ", " und ", " ist ", " nicht ", "sch"],
        "fr": [" le ", " la ", " les ", " des ", " est ", " une ", " que ", "eux "],
        "en": [" the ", " and ", " of ", " to ", " is ", " in ", " that "],
    }
    score_cols = ",\n                   ".join(
        _score(lang, ms) for lang, ms in markers.items()
    )
    sql["q16_lang_id"] = f"""
        WITH padded AS (
            SELECT doc_id, text, ' ' || lower(text) || ' ' AS padded
            FROM documents
        ), scored AS (
            SELECT doc_id, text,
                   {score_cols}
            FROM padded
        )
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL
                    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                    WHEN greatest(s_es, s_de, s_fr, s_en) = 0 THEN 'und'
                    WHEN s_es = greatest(s_es, s_de, s_fr, s_en) THEN 'es'
                    WHEN s_de = greatest(s_es, s_de, s_fr, s_en) THEN 'de'
                    WHEN s_fr = greatest(s_es, s_de, s_fr, s_en) THEN 'fr'
                    ELSE 'en' END AS lang_guess
        FROM scored
    """

    sql["q17_ann_topk"] = """
        WITH q AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL
        ), c AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE embedding IS NOT NULL
        ), s AS (
            SELECT qid, cid,
                   round(list_cosine_similarity(qv, cv), 6) AS score
            FROM q, c WHERE qid <> cid
        ), ranked AS (
            SELECT qid AS query_id, cid AS candidate_id, score,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
            FROM s
        )
        SELECT query_id, candidate_id, score, rank FROM ranked WHERE rank <= 5
    """

    sql["q58_adjacent_jaccard"] = """
        WITH toks AS (
            SELECT doc_id,
                   list_distinct(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '')) AS tok
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(
                 CASE WHEN a.tok IS NULL OR b.tok IS NULL THEN 0.0
                      WHEN len(a.tok) = 0 AND len(b.tok) = 0 THEN 1.0
                      WHEN len(a.tok) = 0 OR len(b.tok) = 0 THEN 0.0
                      ELSE len(list_intersect(a.tok, b.tok))::DOUBLE
                           / len(list_distinct(list_concat(a.tok, b.tok)))
                 END, 6) AS jaccard
        FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1
    """

    sql["q19_lexical_bm25"] = """
        WITH corpus AS (
            SELECT doc_id AS candidate_id, text FROM documents
        ), q AS (
            SELECT doc_id AS query_id, text AS query_text
            FROM documents WHERE doc_id < 20
        ), terms0 AS (
            SELECT candidate_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\W+'),
                       x -> x <> '')) AS term
            FROM corpus
        ), terms AS (
            SELECT candidate_id, term, count(*) AS tf
            FROM terms0 GROUP BY candidate_id, term
        ), with_dl AS (
            SELECT *, sum(tf) OVER (PARTITION BY candidate_id) AS dl FROM terms
        ), stats AS (
            SELECT sum(tf)::DOUBLE / count(DISTINCT candidate_id) AS avgdl,
                   count(DISTINCT candidate_id) AS n_docs
            FROM terms
        ), dfreq AS (
            SELECT term, count(DISTINCT candidate_id) AS df FROM terms GROUP BY term
        ), idf AS (
            -- N = docs with >=1 term (matches lexical_topk's single-aggregate
            -- stats); df cut mirrors max_df_ratio=0.9
            SELECT term,
                   ln(1.0 + ((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5)) AS idf
            FROM dfreq
            WHERE df <= 0.9 * (SELECT n_docs FROM stats)
        ), qterms AS (
            SELECT DISTINCT query_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(query_text), '\\W+'),
                       x -> x <> '')) AS term
            FROM q
        ), scored AS (
            SELECT qt.query_id, t.candidate_id,
                   round(sum(i.idf * (t.tf * (1.2 + 1.0))
                       / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / s.avgdl))), 6) AS score
            FROM qterms qt
            JOIN idf i ON qt.term = i.term
            JOIN with_dl t ON qt.term = t.term
            CROSS JOIN stats s
            GROUP BY qt.query_id, t.candidate_id
        ), ranked AS (
            SELECT query_id, candidate_id, score,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, candidate_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, candidate_id, score, rank FROM ranked WHERE rank <= 10
    """

    # round BEFORE the threshold on both sides (q17/q19/q29 convention): a
    # pair within 1 ulp of 0.25 then resolves identically in both engines
    sql["q20_embedding_neardup"] = """
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
    """

    sql["q24_string_sims"] = """
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CASE WHEN a.text IS NULL OR b.text IS NULL THEN 0.0
                          ELSE jaro_winkler_similarity(a.text, b.text)
                     END, 6) AS jw,
               round(CASE WHEN greatest(length(a.text), length(b.text)) = 0
                          THEN 1.0
                          ELSE 1.0 - levenshtein(a.text, b.text)::DOUBLE
                               / greatest(length(a.text), length(b.text))
                     END, 6) AS lev_sim
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    """

    sql["q59_json_props"] = """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        FROM events
    """

    sql["q26_embedding_audit"] = """
        SELECT label,
               count(*) AS n_vectors,
               CAST(sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(max(len(embedding)) AS BIGINT) AS dim
        FROM embeddings GROUP BY label
    """

    _bm25_cte = """
        WITH corpus AS (
            SELECT doc_id AS candidate_id, text FROM documents
        ), q AS (
            SELECT doc_id AS query_id, text AS query_text
            FROM documents WHERE doc_id < 50
        ), terms0 AS (
            SELECT candidate_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\W+'),
                       x -> x <> '')) AS term
            FROM corpus
        ), terms AS (
            SELECT candidate_id, term, count(*) AS tf
            FROM terms0 GROUP BY candidate_id, term
        ), with_dl AS (
            SELECT *, sum(tf) OVER (PARTITION BY candidate_id) AS dl FROM terms
        ), stats AS (
            SELECT sum(tf)::DOUBLE / count(DISTINCT candidate_id) AS avgdl,
                   count(DISTINCT candidate_id) AS n_docs
            FROM terms
        ), dfreq AS (
            SELECT term, count(DISTINCT candidate_id) AS df FROM terms GROUP BY term
        ), idf AS (
            SELECT term,
                   ln(1.0 + ((SELECT n_docs FROM stats) - df + 0.5) / (df + 0.5)) AS idf
            FROM dfreq
        ), qterms AS (
            SELECT DISTINCT query_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(query_text), '\\W+'),
                       x -> x <> '')) AS term
            FROM q
        ), scored AS (
            SELECT qt.query_id, t.candidate_id,
                   round(sum(i.idf * (t.tf * (1.2 + 1.0))
                       / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / s.avgdl))), 6) AS score
            FROM qterms qt
            JOIN with_dl t ON qt.term = t.term
            JOIN idf i ON qt.term = i.term
            CROSS JOIN stats s
            GROUP BY qt.query_id, t.candidate_id
        ), ranked AS (
            SELECT query_id, candidate_id, score,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, candidate_id ASC) AS rank
            FROM scored
        ), hits AS (
            SELECT query_id, candidate_id, rank FROM ranked WHERE rank <= 50
        ), gold_ranks AS (
            SELECT q.query_id, h.rank
            FROM q LEFT JOIN hits h
              ON h.query_id = q.query_id AND h.candidate_id = q.query_id
        )
    """

    sql["q60_gold_rank_eval"] = _bm25_cte + """
        SELECT query_id, rank FROM gold_ranks
    """

    sql["q28_topk_accuracy"] = _bm25_cte + """
        SELECT round(sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*) * 100.0, 4) AS top1_pct,
               round(sum(CASE WHEN rank <= 5 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*) * 100.0, 4) AS top5_pct,
               round(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*) * 100.0, 4) AS top10_pct,
               count(*) AS n_queries
        FROM gold_ranks
    """

    # md5-hash embedding, 16 bytes -> [-1, 1); tiling to dim 1024 leaves
    # cosine identical to the 16-dim cosine, so the oracle uses 16 dims
    _md5vec = (
        "list_transform(range(1, 17), i -> "
        "((16 * (instr('0123456789abcdef', substr(md5({t}), 2*i - 1, 1)) - 1)"
        "  + (instr('0123456789abcdef', substr(md5({t}), 2*i, 1)) - 1))::DOUBLE"
        " / 128.0 - 1.0))"
    )
    sql["q29_search_rerank"] = f"""
        WITH corpus AS (
            SELECT doc_id AS candidate_id, text,
                   {_md5vec.format(t='text')} AS v
            FROM documents
            WHERE lang = 'en' AND text IS NOT NULL
              AND trim(text) <> '' AND text <> 'nan'
        ), q AS (
            SELECT doc_id AS query_id, text AS query_text,
                   {_md5vec.format(t='text')} AS v
            FROM documents
            WHERE doc_id < 20 AND text IS NOT NULL
              AND trim(text) <> '' AND text <> 'nan'
        ), knn AS (
            SELECT q.query_id, c.candidate_id,
                   round(list_cosine_similarity(q.v, c.v), 6) AS knn_score
            FROM q, corpus c
        ), r1 AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY knn_score DESC, candidate_id ASC
            ) AS rk FROM knn
        ), hits AS (
            SELECT query_id, candidate_id, knn_score FROM r1 WHERE rk <= 20
        ), rr AS (
            SELECT h.query_id, h.candidate_id, h.knn_score,
                   round(jaro_winkler_similarity(q.query_text, c.text), 6)
                       AS rerank_score
            FROM hits h
            JOIN q ON q.query_id = h.query_id
            JOIN corpus c ON c.candidate_id = h.candidate_id
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY rerank_score DESC, candidate_id ASC) AS rank
            FROM rr
        )
        SELECT query_id, candidate_id, knn_score, rerank_score, rank
        FROM ranked WHERE rank <= 5
    """

    # ------------------------------------------------------------------
    # q21/q87/q23 — the [core, north_rule] near-dup/CC operators, oracled exactly.
    #
    # The LSH/banded candidate generation itself is not SQL (and need not
    # be): each operator's CONTRACT is an exact set — q21 emits all pairs
    # with true unigram Jaccard >= 0.9 (banding recall verified 1 on this
    # corpus), q87 (simhash) is pigeonhole-complete for hamming <= 3 with 4 bands,
    # q23's edge scores are engine-portable (md5 feature hashing, bit-equal
    # float32 vectors; DuckDB's jaro_winkler/levenshtein match ours per
    # q24) — so DuckDB recomputes each result quadratically from scratch.
    # ------------------------------------------------------------------

    sql["q21_minhash_neardup"] = """
        WITH toks AS (
            -- token-empty (blank) docs emit no LSH keys in Spark and can
            -- never pair; exclude them so the quadratic oracle matches
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) WHERE len(tok) > 0
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CASE WHEN len(a.tok) = 0 AND len(b.tok) = 0 THEN 1.0
                        WHEN len(a.tok) = 0 OR len(b.tok) = 0 THEN 0.0
                        ELSE len(list_intersect(a.tok, b.tok))::DOUBLE
                             / len(list_distinct(list_concat(a.tok, b.tok)))
                   END AS jaccard
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, round(jaccard, 6) AS jaccard
        FROM pairs WHERE jaccard >= 0.9
    """

    # 64-bit token hash = first 16 md5 nibbles folded big-endian (UBIGINT);
    # simhash bit voting over every token OCCURRENCE; signatures rebuilt as
    # HUGEINT (sum(UBIGINT<<bit) overflows BIGINT), hamming via xor+bit_count.
    _h64 = " + ".join(
        "(instr('0123456789abcdef', substr(md5(tok), %d, 1)) - 1)::UBIGINT"
        " * (CAST(%d AS UBIGINT))" % (j + 1, 16 ** (15 - j))
        for j in range(16)
    )
    sql["q87_simhash_neardup"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '')) AS tok
            FROM documents WHERE text IS NOT NULL
        ), hashed AS (
            SELECT doc_id, ({_h64}) AS h FROM toks
        ), votes AS (
            SELECT doc_id, bits.bit AS bit,
                   sum(CASE WHEN (h >> CAST(bits.bit AS UBIGINT))
                                 & CAST(1 AS UBIGINT) = CAST(1 AS UBIGINT)
                            THEN 1 ELSE -1 END) AS s
            FROM hashed, (SELECT unnest(range(64)) AS bit) bits
            GROUP BY doc_id, bits.bit
        ), sh AS (
            SELECT doc_id,
                   sum(CASE WHEN s > 0
                            THEN CAST(1 AS HUGEINT) << CAST(bit AS INTEGER)
                            ELSE 0 END) AS simhash
            FROM votes GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """

    # token-hash embedding: bucket = (first 4 md5 bytes) % 256, sign = bit
    # 31; ±1 sums are exact integers, so f64 normalize + FLOAT cast is
    # bit-identical to the pandas UDF (verified all 500 docs).  Cosine =
    # sparse dot over shared buckets / recomputed norms; blend + threshold
    # mirror MatchConfig defaults (0.5/0.3/0.2, cutoff 0.6, round-6 @ 0.8);
    # components = recursive min-label reachability (= large/small-star
    # fixpoint), singletons from the documents base.
    _h32 = " + ".join(
        "(instr('0123456789abcdef', substr(md5(f), %d, 1)) - 1) * %d"
        % (j + 1, 16 ** (7 - j))
        for j in range(8)
    )
    # the full-pipeline CTE chain (embed → cosine → rerank → edges →
    # reachability) is shared by q23 (cluster labels) and q42 (per-cluster
    # edge-density audit)
    _q23_cte = f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '')) AS tok
            FROM documents WHERE text IS NOT NULL
        ), feats AS (
            SELECT doc_id, tok AS f FROM toks
            UNION ALL
            SELECT doc_id,
                   unnest(list_transform(range(1, length(tok) - 1),
                                         i -> substr(tok, i, 3))) AS f
            FROM toks WHERE length(tok) > 3
        ), hashed AS (
            SELECT doc_id, ({_h32})::BIGINT AS h FROM feats
        ), entries AS (
            SELECT doc_id, h % 256 AS bucket,
                   sum(CASE WHEN h >= 2147483648 THEN 1.0 ELSE -1.0 END)::DOUBLE AS val
            FROM hashed GROUP BY doc_id, h % 256
        ), nrm AS (
            SELECT doc_id, sqrt(sum(val * val)) AS n FROM entries GROUP BY doc_id
        ), vec AS (
            SELECT e.doc_id, e.bucket, CAST(e.val / nrm.n AS FLOAT) AS v
            FROM entries e JOIN nrm USING (doc_id) WHERE e.val <> 0
        ), n2 AS (
            SELECT doc_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
            FROM vec GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   sum(a.v::DOUBLE * b.v::DOUBLE) AS dot
            FROM vec a JOIN vec b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), cos AS (
            SELECT id_a, id_b, dot / (na.n * nb.n) AS cosine
            FROM dots
            JOIN n2 na ON na.doc_id = id_a
            JOIN n2 nb ON nb.doc_id = id_b
            WHERE dot / (na.n * nb.n) >= 0.6
        ), rr AS (
            SELECT c.id_a, c.id_b,
                   0.5 * c.cosine
                   + 0.3 * jaro_winkler_similarity(substr(a.text, 1, 100),
                                                   substr(b.text, 1, 100))
                   + 0.2 * (CASE WHEN greatest(length(substr(a.text, 1, 100)),
                                               length(substr(b.text, 1, 100))) = 0
                                 THEN 1.0
                                 ELSE 1.0 - levenshtein(substr(a.text, 1, 100),
                                                        substr(b.text, 1, 100))::DOUBLE
                                      / greatest(length(substr(a.text, 1, 100)),
                                                 length(substr(b.text, 1, 100)))
                            END) AS score
            FROM cos c
            JOIN documents a ON a.doc_id = c.id_a
            JOIN documents b ON b.doc_id = c.id_b
        ), edges0 AS (
            SELECT id_a, id_b FROM rr WHERE round(score, 6) >= 0.8
        ), edges AS (
            SELECT id_a AS u, id_b AS v FROM edges0
            UNION
            SELECT id_b AS u, id_a AS v FROM edges0
        ), walk(id, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
        )"""
    sql["q23_entity_clusters"] = _q23_cte + """
        SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id
    """

    # q42 — cohesion audit on the same pipeline: density = direct edges /
    # (size choose 2); integer product is even so the /2 cast is exact;
    # singletons keep null density.
    sql["q42_cluster_cohesion"] = _q23_cte + """, comps AS (
            SELECT id, min(comp) AS cluster_id FROM walk GROUP BY id
        ), sizes AS (
            SELECT cluster_id, COUNT(*) AS size FROM comps GROUP BY cluster_id
        ), intra AS (
            SELECT ca.cluster_id, COUNT(*) AS n_edges
            FROM edges0 e
            JOIN comps ca ON ca.id = e.id_a
            JOIN comps cb ON cb.id = e.id_b
            WHERE ca.cluster_id = cb.cluster_id
            GROUP BY ca.cluster_id
        )
        SELECT s.cluster_id, s.size,
               COALESCE(i.n_edges, 0) AS n_edges,
               CAST(s.size * (s.size - 1) / 2 AS BIGINT) AS possible_pairs,
               CASE WHEN s.size > 1
                    THEN round(CAST(COALESCE(i.n_edges, 0) AS DOUBLE)
                               / CAST(s.size * (s.size - 1) / 2 AS DOUBLE),
                               6)
               END AS density
        FROM sizes s LEFT JOIN intra i USING (cluster_id)
    """

    # null column values embed to NULL (provider convention), so dims and
    # the cross cosine are NULL-propagating in both engines
    sql["q61_vectorize_columns"] = f"""
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL
                    ELSE CAST(64 AS BIGINT) END AS dim_text,
               CASE WHEN lang IS NULL THEN NULL
                    ELSE CAST(64 AS BIGINT) END AS dim_lang,
               CASE WHEN text IS NULL OR lang IS NULL THEN NULL
                    ELSE round(list_cosine_similarity(
                        {_md5vec.format(t='text')},
                        {_md5vec.format(t='lang')}), 6) END AS cross_cos
        FROM documents
    """

    # same exhaustive-cosine shape as q17 (IVF with nprobe == nlist probes
    # every cell, so the approximate index degenerates to exact brute force)
    sql["q32_ivf_topk"] = """
        WITH q AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL
        ), c AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE embedding IS NOT NULL
        ), s AS (
            SELECT qid, cid,
                   round(list_cosine_similarity(qv, cv), 6) AS score
            FROM q, c WHERE qid <> cid
        ), ranked AS (
            SELECT qid AS query_id, cid AS candidate_id, score,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
            FROM s
        )
        SELECT query_id, candidate_id, score, rank FROM ranked WHERE rank <= 5
    """

    sql["q62_token_estimate"] = """
        WITH sized AS (
            SELECT doc_id,
                   CASE lang WHEN 'en' THEN 'txt' WHEN 'de' THEN 'md'
                             WHEN 'zh' THEN 'png' WHEN 'fr' THEN 'jpg'
                             ELSE 'bin' END AS ext,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   text
            FROM documents
        ), ratios AS (
            -- ::DOUBLE matters: a DECIMAL ratio would make floor(bytes*0.6)
            -- exact where Spark's float64 product rounds down
            SELECT *,
                   CASE WHEN ext IN ('txt','md','csv','json','html') THEN 0.25
                        WHEN ext IN ('jpg','jpeg','png','gif','webp') THEN 0.6
                        ELSE 0.15 END::DOUBLE AS ratio
            FROM sized
        )
        SELECT doc_id, ext, n_bytes,
               round(ratio, 4) AS ratio,
               CAST(CASE WHEN ext IN ('txt','md','csv','json','html')
                              AND text IS NOT NULL
                         THEN len(regexp_extract_all(text,
                              '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))
                         ELSE floor(n_bytes * ratio) END AS BIGINT) AS est_tokens
        FROM ratios
    """

    sql["q64_asof_join"] = """
        WITH probes AS (
            SELECT * FROM events WHERE event_id % 10 = 0
        ), builds AS (
            SELECT * FROM events WHERE event_id % 10 <> 0
        )
        SELECT p.event_id,
               b.event_id AS matched_event_id,
               round(b.value, 4) AS matched_value
        FROM probes p LEFT JOIN LATERAL (
            SELECT event_id, value FROM builds b
            WHERE b.user_id = p.user_id AND b.ts <= p.ts
            ORDER BY b.ts DESC, b.event_id DESC LIMIT 1
        ) b ON TRUE
    """

    sql["q34_range_join"] = """
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        )
        SELECT a.event_id AS id_a, b.event_id AS id_b,
               CAST(abs(a.us - b.us) AS BIGINT) AS gap_us
        FROM e a JOIN e b
          ON a.user_id = b.user_id AND a.event_id < b.event_id
        WHERE abs(a.us - b.us) <= 60000000
    """

    # q35 — scan family (S1/S3/S4).  The oracle reads the UTF-8 twin of the
    # latin-1 fixture the Spark side decodes via its encoding fallback
    # (DuckDB 1.0 has no latin-1 CSV support); identical logical content,
    # so a fallback mis-decode = hash mismatch on the accented columns.
    sql["q35_csv_scan"] = """
        WITH raw AS (
          SELECT row_id, name, city, embedding
          FROM read_csv('/root/repo/fixtures/q35_catalog_utf8.csv', header=true)
          ORDER BY row_id
          LIMIT 20 OFFSET 5
        )
        SELECT CAST(row_id AS BIGINT) AS row_id, name, city,
               CAST(len(v) AS BIGINT) AS vec_dim,
               round(list_sum(list_transform(v, x -> CAST(x AS DOUBLE))), 6)
                 AS vec_sum
        FROM (SELECT *, TRY_CAST(embedding AS FLOAT[]) AS v FROM raw)
    """

    # q36 — sessionization: classic gaps-and-islands on exact epoch micros.
    # Spark's session_window MERGES an event landing exactly at
    # prev_ts + gap (pytest-pinned), so new-session is strictly diff > gap.
    sql["q36_sessionize"] = """
        WITH e AS (
          SELECT user_id, ts, epoch_us(ts) AS us
          FROM events
          WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), o AS (
          SELECT user_id, ts, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 14400000000
                      THEN 1 ELSE 0 END AS new_s
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ), s AS (
          SELECT *,
                 sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM o
        )
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               min(us) AS start_us,
               max(us) AS end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s
        GROUP BY user_id, session_id
    """

    # q65/q38 — deterministic sampling, md5-keyed so both engines compute
    # the identical sample set.
    sql["q65_stratified_sample"] = """
        WITH ranked AS (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rk
          FROM documents
        )
        SELECT doc_id, lang FROM ranked WHERE rk <= 25
    """
    # 8-char lowercase hex compares like its numeric value:
    # v/2^32 < 0.1  <=>  v <= 0x19999999
    sql["q38_hash_sample"] = """
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <= '19999999'
    """

    # q66 — Gopher-style repetition signals, exact bigram mode frequency
    sql["q66_repetition_stats"] = """
        WITH d AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> x <> ''
                 ) AS t
          FROM documents WHERE text IS NOT NULL
        ), n AS (
          SELECT doc_id, t, len(t) AS n, len(list_distinct(t)) AS nd FROM d
        ), bg AS (
          SELECT doc_id, t[i] || ' ' || t[i + 1] AS b
          FROM n, unnest(generate_series(1, n - 1)) AS u(i)
          WHERE n >= 2
        ), bgc AS (
          SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b
        ), bga AS (
          SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY doc_id
        )
        SELECT n.doc_id,
               CAST(n.n AS BIGINT) AS n_tokens,
               round(CASE WHEN n.n > 0 THEN n.nd * 1.0 / n.n END, 6)
                 AS distinct_token_ratio,
               round(bga.mx * 1.0 / bga.tot, 6) AS top_bigram_ratio
        FROM n LEFT JOIN bga USING (doc_id)
    """

    # q68 — exact per-group percentiles (same linear interpolation rule in
    # both engines; count(value) skips NULLs like the quantile does)
    sql["q68_value_percentiles"] = """
        SELECT event_type,
               count(value) AS n_values,
               round(quantile_cont(value, 0.5), 6)  AS p50,
               round(quantile_cont(value, 0.95), 6) AS p95,
               round(quantile_cont(value, 0.99), 6) AS p99
        FROM events
        GROUP BY event_type
    """

    # q41 — sliding-window chunking: chunk i covers tokens
    # [i*30, i*30+40); n_chunks = ceil(max(n-40,0)/30) + 1
    sql["q41_chunk_documents"] = """
        WITH d AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> x <> ''
                 ) AS t
          FROM documents WHERE text IS NOT NULL
        ), n AS (
          SELECT doc_id, t, len(t) AS n FROM d WHERE len(t) > 0
        ), c AS (
          SELECT doc_id,
                 i + 1 AS chunk_id,
                 t[i * 30 + 1 : i * 30 + 40] AS c
          FROM n, unnest(generate_series(
                 0, CAST(ceil(greatest(n - 40, 0) / 30.0) AS INT)
               )) AS u(i)
        )
        SELECT doc_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(len(c) AS BIGINT) AS n_chunk_tokens,
               array_to_string(c, ' ') AS chunk_text
        FROM c
    """

    # q69 — ROLLUP + GROUPING bitmask (ANSI bit order in both engines)
    sql["q69_rollup_volume"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n,
               round(sum(l_quantity), 4) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    # ------------------------------------------------------------------
    # q70/q71 — URL/host operators over the deterministic synthetic url
    # (same construction as _docs_with_urls); host = authority regexp
    # (== parse_url HOST: port stripped, userinfo skipped, lowercased),
    # registered domain = last-2-labels with the two-part-suffix override.
    # ------------------------------------------------------------------
    _suffix_in = ", ".join(
        f"'{s}'"
        for s in (
            "co.uk", "org.uk", "ac.uk", "gov.uk",
            "com.au", "net.au", "org.au",
            "co.jp", "ne.jp", "or.jp",
            "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
            "com.ar", "com.tr", "com.tw", "co.nz",
        )
    )
    _url_cte = f"""
        pages AS (
          SELECT doc_id, text,
                 'https://'
                 || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
                 || 'site' || (doc_id % 10) || '.'
                 || CASE doc_id % 3 WHEN 0 THEN 'com'
                                    WHEN 1 THEN 'org'
                                    ELSE 'co.uk' END
                 || CASE WHEN doc_id % 7 = 0 THEN ':8443' ELSE '' END
                 || '/p/' || doc_id AS url
          FROM documents
        ), hosted AS (
          SELECT doc_id, text,
                 lower(regexp_extract(url, '://(?:[^@/]*@)?([^:/?#]*)', 1))
                   AS host
          FROM pages
        ), dom AS (
          SELECT doc_id, text, host,
                 CASE WHEN host IS NULL OR len(p) <= 1 THEN host
                      WHEN len(p) >= 3
                           AND (p[-2] || '.' || p[-1]) IN ({_suffix_in})
                        THEN p[-3] || '.' || p[-2] || '.' || p[-1]
                      ELSE p[-2] || '.' || p[-1] END AS domain
          FROM (SELECT *, string_split(host, '.') AS p FROM hosted)
        )
    """

    sql["q70_host_stats"] = f"""
        WITH {_url_cte}
        SELECT domain,
               count(*) AS n_docs,
               count(DISTINCT host) AS n_hosts,
               CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                             ELSE len(regexp_split_to_array(trim(text),
                                                            '\\s+')) END)
                    AS BIGINT) AS total_tokens
        FROM dom GROUP BY domain
    """

    sql["q71_host_sample"] = f"""
        WITH {_url_cte}, ranked AS (
          SELECT doc_id, domain,
                 row_number() OVER (
                   PARTITION BY domain
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rk
          FROM dom
        )
        SELECT doc_id, domain FROM ranked WHERE rk <= 7
    """

    # q45 — decontamination: distinct token 3-grams per doc; a doc is
    # contaminated when any of them appears anywhere in the eval split
    # (doc_id % 50 = 0).  Null/short texts carry zero n-grams.
    sql["q45_decontaminate"] = """
        WITH toks AS (
          SELECT doc_id,
                 CASE WHEN text IS NULL THEN CAST([] AS VARCHAR[])
                      ELSE list_filter(
                          regexp_split_to_array(lower(trim(text)), '\\s+'),
                          x -> x <> '') END AS t
          FROM documents
        ), grams AS (
          SELECT doc_id,
                 CASE WHEN len(t) >= 3
                      THEN list_distinct(list_transform(
                          range(1, len(t) - 1),
                          i -> array_to_string(t[i:i+2], ' ')))
                      ELSE CAST([] AS VARCHAR[]) END AS g
          FROM toks
        ), ev AS (
          SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 50 = 0
        ), corpus AS (
          SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0
        ), ov AS (
          SELECT c.doc_id, count(*) AS n_overlap
          FROM (SELECT doc_id, unnest(g) AS gram FROM corpus) c
          JOIN ev USING (gram)
          GROUP BY c.doc_id
        )
        SELECT c.doc_id,
               CAST(len(c.g) AS BIGINT) AS n_ngrams,
               CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
               CASE WHEN len(c.g) > 0
                    THEN round(coalesce(o.n_overlap, 0)::DOUBLE / len(c.g), 6)
               END AS overlap_ratio,
               CASE WHEN len(c.g) > 0 AND coalesce(o.n_overlap, 0) > 0
                    THEN 1 ELSE 0 END AS contaminated
        FROM corpus c LEFT JOIN ov o USING (doc_id)
    """

    # q85 — full Gopher repetition family over line-synthesized text2
    # (regexp_replace is 'g' in DuckDB to match Spark's replace-all).
    _rep_gram = """
        , g{n} AS (
          SELECT doc_id, array_to_string(t[i:i+{top}], ' ') AS gram
          FROM base, unnest(range(1, len(t) - {n} + 2)) AS u(i)
          WHERE len(t) >= {n}
        ), c{n} AS (
          SELECT doc_id, count(*) AS c FROM g{n} GROUP BY doc_id, gram
        ), a{n} AS (
          SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM c{n} GROUP BY doc_id
        )
    """
    sql["q85_repetition_extended"] = (
        """
        WITH t2 AS (
          SELECT doc_id,
                 regexp_replace(text, ' (value|table|query) ', chr(10), 'g')
                   AS text2
          FROM documents WHERE text IS NOT NULL
        ), base AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text2)), '\\s+'),
                   x -> x <> '') AS t,
                 list_filter(
                   list_transform(string_split(text2, chr(10)),
                                  s -> trim(s)),
                   s -> s <> '') AS l
          FROM t2
        )
        """
        + "".join(
            _rep_gram.format(n=n, top=n - 1) for n in (2, 3, 4)
        )
        + """
        SELECT b.doc_id,
               CAST(len(b.t) AS BIGINT) AS n_tokens,
               round(CASE WHEN len(b.t) > 0
                          THEN len(list_distinct(b.t))::DOUBLE / len(b.t)
                     END, 6) AS distinct_token_ratio,
               round(a2.mx::DOUBLE / a2.tot, 6) AS top_2gram_ratio,
               round(a3.mx::DOUBLE / a3.tot, 6) AS top_3gram_ratio,
               round(a4.mx::DOUBLE / a4.tot, 6) AS top_4gram_ratio,
               round(CASE WHEN len(b.l) > 0
                          THEN (len(b.l) - len(list_distinct(b.l)))::DOUBLE
                               / len(b.l)
                     END, 6) AS dup_line_fraction
        FROM base b
        LEFT JOIN a2 USING (doc_id)
        LEFT JOIN a3 USING (doc_id)
        LEFT JOIN a4 USING (doc_id)
    """
    )

    # q48 — Gopher filter decision: per-row rule exprs + the q85 repetition
    # scaffolding; undefined repetition ratios PASS; flags are exact-int
    # comparisons (mean/frac are int-sum / count divisions — IEEE-identical
    # doubles in both engines); repetition caps compare the ROUND-6 ratios.
    sql["q48_gopher_filter"] = (
        """
        WITH t2 AS (
          SELECT doc_id,
                 regexp_replace(text, ' (value|table|query) ', chr(10), 'g')
                   AS text2
          FROM documents WHERE text IS NOT NULL
        ), base AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text2)), '\\s+'),
                   x -> x <> '') AS t,
                 list_filter(
                   list_transform(string_split(text2, chr(10)),
                                  s -> trim(s)),
                   s -> s <> '') AS l
          FROM t2
        )
        """
        + "".join(
            _rep_gram.format(n=n, top=n - 1) for n in (2, 3, 4)
        )
        + """
        , rowrules AS (
          SELECT doc_id,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 CASE WHEN len(t) BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
                   AS ok_word_count,
                 CASE WHEN len(t) > 0
                       AND list_sum(list_transform(t, x -> length(x)))::DOUBLE
                           / len(t) BETWEEN 3.0 AND 10.0
                      THEN 1 ELSE 0 END AS ok_mean_word_len,
                 CASE WHEN len(t) > 0
                       AND len(list_filter(t,
                             x -> regexp_matches(x, '[a-z]')))::DOUBLE
                           / len(t) >= 0.80
                      THEN 1 ELSE 0 END AS ok_alpha_words,
                 CASE WHEN len(list_intersect(list_distinct(t),
                        ['the','be','to','of','and','that','have','with']))
                        >= 2
                      THEN 1 ELSE 0 END AS ok_stopwords,
                 CASE WHEN len(l) = 0 OR round(
                        (len(l) - len(list_distinct(l)))::DOUBLE / len(l), 6)
                        <= 0.30
                      THEN 1 ELSE 0 END AS ok_dup_lines
          FROM base
        )
        SELECT r.doc_id, r.n_tokens, r.ok_word_count, r.ok_mean_word_len,
               r.ok_alpha_words, r.ok_stopwords, r.ok_dup_lines,
               CASE WHEN a2.tot IS NULL
                         OR round(a2.mx::DOUBLE / a2.tot, 6) <= 0.20
                    THEN 1 ELSE 0 END AS ok_2gram,
               CASE WHEN a3.tot IS NULL
                         OR round(a3.mx::DOUBLE / a3.tot, 6) <= 0.18
                    THEN 1 ELSE 0 END AS ok_3gram,
               CASE WHEN a4.tot IS NULL
                         OR round(a4.mx::DOUBLE / a4.tot, 6) <= 0.16
                    THEN 1 ELSE 0 END AS ok_4gram,
               r.ok_word_count * r.ok_mean_word_len * r.ok_alpha_words
                 * r.ok_stopwords * r.ok_dup_lines
                 * (CASE WHEN a2.tot IS NULL
                              OR round(a2.mx::DOUBLE / a2.tot, 6) <= 0.20
                         THEN 1 ELSE 0 END)
                 * (CASE WHEN a3.tot IS NULL
                              OR round(a3.mx::DOUBLE / a3.tot, 6) <= 0.18
                         THEN 1 ELSE 0 END)
                 * (CASE WHEN a4.tot IS NULL
                              OR round(a4.mx::DOUBLE / a4.tot, 6) <= 0.16
                         THEN 1 ELSE 0 END) AS passes
        FROM rowrules r
        LEFT JOIN a2 USING (doc_id)
        LEFT JOIN a3 USING (doc_id)
        LEFT JOIN a4 USING (doc_id)
    """
    )

    # q47 — incremental matcher contract: quadratic re-derivation of
    # "best reference match per incoming doc" at the exact q23 scoring
    # contract (same token-hash embedding CTEs, same blend/threshold,
    # round-6 scores, tiebreak smallest reference id).
    sql["q47_incremental_match"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '')) AS tok
            FROM documents WHERE text IS NOT NULL
        ), feats AS (
            SELECT doc_id, tok AS f FROM toks
            UNION ALL
            SELECT doc_id,
                   unnest(list_transform(range(1, length(tok) - 1),
                                         i -> substr(tok, i, 3))) AS f
            FROM toks WHERE length(tok) > 3
        ), hashed AS (
            SELECT doc_id, ({_h32})::BIGINT AS h FROM feats
        ), entries AS (
            SELECT doc_id, h % 256 AS bucket,
                   sum(CASE WHEN h >= 2147483648 THEN 1.0 ELSE -1.0 END)::DOUBLE AS val
            FROM hashed GROUP BY doc_id, h % 256
        ), nrm AS (
            SELECT doc_id, sqrt(sum(val * val)) AS n FROM entries GROUP BY doc_id
        ), vec AS (
            SELECT e.doc_id, e.bucket, CAST(e.val / nrm.n AS FLOAT) AS v
            FROM entries e JOIN nrm USING (doc_id) WHERE e.val <> 0
        ), n2 AS (
            SELECT doc_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
            FROM vec GROUP BY doc_id
        ), dots AS (
            SELECT a.doc_id AS id_in, b.doc_id AS id_ref,
                   sum(a.v::DOUBLE * b.v::DOUBLE) AS dot
            FROM vec a JOIN vec b
              ON a.bucket = b.bucket
             AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
            GROUP BY a.doc_id, b.doc_id
        ), cos AS (
            SELECT id_in, id_ref, dot / (na.n * nb.n) AS cosine
            FROM dots
            JOIN n2 na ON na.doc_id = id_in
            JOIN n2 nb ON nb.doc_id = id_ref
            WHERE dot / (na.n * nb.n) >= 0.6
        ), rr AS (
            SELECT c.id_in, c.id_ref,
                   round(0.5 * c.cosine
                   + 0.3 * jaro_winkler_similarity(substr(a.text, 1, 100),
                                                   substr(b.text, 1, 100))
                   + 0.2 * (CASE WHEN greatest(length(substr(a.text, 1, 100)),
                                               length(substr(b.text, 1, 100))) = 0
                                 THEN 1.0
                                 ELSE 1.0 - levenshtein(substr(a.text, 1, 100),
                                                        substr(b.text, 1, 100))::DOUBLE
                                      / greatest(length(substr(a.text, 1, 100)),
                                                 length(substr(b.text, 1, 100)))
                            END), 6) AS score
            FROM cos c
            JOIN documents a ON a.doc_id = c.id_in
            JOIN documents b ON b.doc_id = c.id_ref
        ), best AS (
            SELECT id_in, id_ref, score,
                   row_number() OVER (
                     PARTITION BY id_in
                     ORDER BY score DESC, id_ref ASC) AS rk
            FROM rr WHERE score >= 0.8
        )
        SELECT d.doc_id,
               b.id_ref AS matched_id,
               b.score
        FROM documents d
        LEFT JOIN best b ON b.id_in = d.doc_id AND b.rk = 1
        WHERE d.doc_id % 10 = 0
    """

    # q49 — PII counts + redaction over deterministically planted PII.
    # The regex patterns are interpolated from the SAME Python constants
    # the Spark operator uses (functions/pii.py) — one source of truth,
    # and the patterns stay in the Java/RE2/DuckDB-common subset.
    from semantic_entity_matching_spark.functions.pii import (
        EMAIL_PATTERN,
        IPV4_PATTERN,
        PHONE_PATTERN,
    )

    _pii_text2 = """
          text
          || CASE WHEN doc_id % 3 = 0
                  THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
                       || '@example' || CAST(doc_id % 5 AS VARCHAR) || '.com'
                  ELSE '' END
          || CASE WHEN doc_id % 4 = 0
                  THEN ' call +1-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
                  ELSE '' END
          || CASE WHEN doc_id % 5 = 0
                  THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                       || CAST((doc_id * 7) % 256 AS VARCHAR) || '.'
                       || CAST(doc_id % 100 AS VARCHAR)
                  ELSE '' END
    """
    sql["q49_pii_redact"] = (
        """
        WITH t2 AS (
          SELECT doc_id, ("""
        + _pii_text2
        + """) AS text2
          FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text2, '"""
        + EMAIL_PATTERN
        + """')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text2, '"""
        + PHONE_PATTERN
        + """')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(text2, '"""
        + IPV4_PATTERN
        + """')) AS BIGINT) AS n_ipv4,
               regexp_replace(regexp_replace(regexp_replace(text2,
                 '"""
        + EMAIL_PATTERN
        + """', '<EMAIL>', 'g'),
                 '"""
        + PHONE_PATTERN
        + """', '<PHONE>', 'g'),
                 '"""
        + IPV4_PATTERN
        + """', '<IP>', 'g') AS text_redacted
        FROM t2
    """
    )

    # q50 — corpus-wide C4-style line dedup: first (doc_id, pos) occurrence
    # of each distinct trimmed line survives; docs reassembled in original
    # line order (null text_dedup when every line was claimed earlier).
    sql["q50_line_dedup"] = """
        WITH t2 AS (
          SELECT doc_id,
                 regexp_replace(text, ' (value|table|query) ', chr(10), 'g')
                   AS text2
          FROM documents WHERE text IS NOT NULL
        ), arr AS (
          SELECT doc_id, string_split(text2, chr(10)) AS s FROM t2
        ), lin AS (
          SELECT doc_id, i AS pos, trim(s[i]) AS line
          FROM arr, unnest(range(1, len(s) + 1)) AS u(i)
          WHERE trim(s[i]) <> ''
        ), counts AS (
          SELECT doc_id, count(*) AS n_lines FROM lin GROUP BY doc_id
        ), firsts AS (
          SELECT doc_id, pos, line FROM (
            SELECT doc_id, pos, line,
                   row_number() OVER (
                     PARTITION BY line ORDER BY doc_id, pos) AS rn
            FROM lin)
          WHERE rn = 1
        ), rebuilt AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(line, chr(10) ORDER BY pos) AS text_dedup
          FROM firsts GROUP BY doc_id
        )
        SELECT c.doc_id,
               CAST(c.n_lines AS BIGINT) AS n_lines,
               CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
               r.text_dedup
        FROM counts c LEFT JOIN rebuilt r USING (doc_id)
    """

    # q02 — global top-25 token 3-grams, (count desc, gram asc) tiebreak
    sql["q02_top_ngrams"] = """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> x <> '') AS t
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
          FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
          WHERE len(t) >= 3
        ), per AS (
          SELECT gram, doc_id, count(*) AS c FROM grams GROUP BY gram, doc_id
        ), tot AS (
          SELECT gram,
                 count(*) AS n_docs,
                 sum(c) AS n_occurrences
          FROM per GROUP BY gram
        ), ranked AS (
          SELECT row_number() OVER (
                   ORDER BY n_occurrences DESC, gram ASC) AS rank,
                 gram, n_docs, n_occurrences
          FROM tot
        )
        SELECT CAST(rank AS INT) AS rank,
               gram,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_occurrences AS BIGINT) AS n_occurrences
        FROM ranked WHERE rank <= 25
    """

    # naive form of the distributed prefix-sum: ONE global window.  Shard =
    # exclusive prefix of token counts in md5(id) order, integer-divided by
    # the budget.  Integer arithmetic end to end (no float division).
    sql["q03_pack_shards"] = """
        WITH t AS (
          SELECT doc_id,
                 md5(CAST(doc_id AS VARCHAR)) AS k,
                 CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                 END AS n_tokens
          FROM documents
        ), c AS (
          SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (
                     ORDER BY k ASC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS prefix
          FROM t
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(prefix // 2000 AS BIGINT) AS shard_id
        FROM c
    """

    # q21's quadratic jaccard pairs -> recursive reachability (component =
    # min id, q23's oracle shape) -> keep the longest doc per component
    # (ties to smallest doc_id)
    sql["q05_dedup_survivors"] = """
        WITH RECURSIVE toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) WHERE len(tok) > 0
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
                  / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9
        ), edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ), walk(id, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
        ), assign AS (
            SELECT id AS doc_id, min(comp) AS component FROM walk GROUP BY id
        ), scored AS (
            SELECT a.doc_id, a.component,
                   CASE WHEN d.text IS NULL OR trim(d.text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
                   END AS n_tokens
            FROM assign a JOIN documents d ON d.doc_id = a.doc_id
        )
        SELECT doc_id,
               component,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(CASE WHEN row_number() OVER (
                       PARTITION BY component
                       ORDER BY n_tokens DESC, doc_id ASC) = 1
                    THEN 1 ELSE 0 END AS INT) AS keep
        FROM scored
    """

    # blocking metrics: the candidate set replays the production pair
    # generator's observable semantics (prefix key, block cap 50, pair
    # dedup); gold = exact quadratic jaccard >= 0.9.  Integer counts cast
    # BIGINT; ratios rounded to 6 in both engines.
    sql["q06_blocking_quality"] = """
        WITH keys2 AS (
            SELECT doc_id,
                   substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                             1, 10) AS k
            FROM documents
            WHERE text IS NOT NULL
              AND substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                            1, 10) <> ''
        ), sizes AS (
            SELECT k, count(*) AS c FROM keys2 GROUP BY k
        ), kept AS (
            SELECT k2.doc_id, k2.k
            FROM keys2 k2 JOIN sizes s ON s.k = k2.k
            WHERE s.c <= 50
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM kept a JOIN kept b ON a.k = b.k AND a.doc_id < b.doc_id
        ), toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) WHERE len(tok) > 0
        ), gold AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
                  / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9
        ), counts AS (
            SELECT (SELECT count(*) FROM documents) AS n_records,
                   (SELECT count(*) FROM cand) AS n_candidates,
                   (SELECT count(*) FROM gold) AS n_gold,
                   (SELECT count(*) FROM gold g JOIN cand c
                      ON g.id_a = c.id_a AND g.id_b = c.id_b) AS gold_covered
        )
        SELECT CAST(n_records AS BIGINT) AS n_records,
               CAST(n_candidates AS BIGINT) AS n_candidates,
               CAST(n_gold AS BIGINT) AS n_gold,
               CAST(gold_covered AS BIGINT) AS gold_covered,
               round(CASE WHEN n_records > 1
                          THEN 1.0 - n_candidates::DOUBLE
                               / ((n_records * (n_records - 1)) // 2)
                          ELSE 1.0 END, 6) AS reduction_ratio,
               round(CASE WHEN n_gold > 0
                          THEN gold_covered::DOUBLE / n_gold
                          ELSE 1.0 END, 6) AS pairs_completeness,
               round(CASE WHEN n_candidates > 0
                          THEN gold_covered::DOUBLE / n_candidates
                          ELSE 1.0 END, 6) AS pairs_quality
        FROM counts
    """

    # B-cubed: predicted clusters = prefix-key groups (component = min id,
    # unkeyed docs singletons); gold clusters = q05's recursive-CTE
    # reachability over exact jaccard >= 0.9 pairs; metric = cell-count
    # roll-up (mean per-record precision/recall collapses to
    # sum(i^2/size)/N)
    sql["q07_bcubed_clustering"] = """
        WITH RECURSIVE keys2 AS (
            SELECT doc_id,
                   substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                             1, 10) AS k
            FROM documents
            WHERE text IS NOT NULL
              AND substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                            1, 10) <> ''
        ), grp AS (
            SELECT k, min(doc_id) AS comp FROM keys2 GROUP BY k
        ), pred AS (
            SELECT d.doc_id, coalesce(g.comp, d.doc_id) AS cp
            FROM documents d
            LEFT JOIN keys2 k2 ON k2.doc_id = d.doc_id
            LEFT JOIN grp g ON g.k = k2.k
        ), toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) WHERE len(tok) > 0
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
                  / len(list_distinct(list_concat(a.tok, b.tok))) >= 0.9
        ), edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ), walk(id, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
        ), assign AS (
            SELECT id AS doc_id, min(comp) AS cg FROM walk GROUP BY id
        ), jn AS (
            SELECT p.doc_id, p.cp, a.cg
            FROM pred p JOIN assign a ON a.doc_id = p.doc_id
        ), cells AS (
            SELECT cp, cg, count(*) AS i FROM jn GROUP BY cp, cg
        ), sp AS (
            SELECT cp, count(*) AS np FROM jn GROUP BY cp
        ), sg AS (
            SELECT cg, count(*) AS ng FROM jn GROUP BY cg
        ), per AS (
            SELECT cells.i,
                   cells.i * cells.i / sp.np::DOUBLE AS pc,
                   cells.i * cells.i / sg.ng::DOUBLE AS rc
            FROM cells
            JOIN sp ON sp.cp = cells.cp
            JOIN sg ON sg.cg = cells.cg
        )
        SELECT CAST(sum(i) AS BIGINT) AS n_docs,
               round(sum(pc) / sum(i), 6) AS bcubed_precision,
               round(sum(rc) / sum(i), 6) AS bcubed_recall,
               round(CASE WHEN sum(pc) / sum(i) + sum(rc) / sum(i) > 0
                          THEN 2.0 * (sum(pc) / sum(i)) * (sum(rc) / sum(i))
                               / (sum(pc) / sum(i) + sum(rc) / sum(i))
                          ELSE 0.0 END, 6) AS bcubed_f1
        FROM per
    """

    # q08 — canonical-URL dedup: identical deterministic messy-URL synth
    # (identity key doc_id % 250, mess keyed off doc_id), then the same
    # component-wise canonicalization as functions/urlops.canonical_url
    # (RE2-safe regexps; coalesce() because DuckDB's array_to_string of an
    # empty list is NULL where Spark's array_join is ''), then
    # latest-capture-wins per canonical key.
    sql["q08_canonical_url_dedup"] = r"""
        WITH pages AS (
          SELECT doc_id,
                 (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END)
                 || '://'
                 || CASE WHEN doc_id % 5 = 0 THEN 'crawler:pw@' ELSE '' END
                 || CASE WHEN (doc_id % 250) % 4 = 0
                         THEN CASE WHEN doc_id % 4 = 0
                                   THEN 'WWW.' ELSE 'www.' END
                         ELSE '' END
                 || CASE WHEN doc_id % 3 = 0 THEN 'SITE' ELSE 'site' END
                 || ((doc_id % 250) % 10) || '.'
                 || CASE (doc_id % 250) % 3 WHEN 0 THEN 'com'
                                            WHEN 1 THEN 'org'
                                            ELSE 'co.uk' END
                 || CASE WHEN (doc_id % 250) % 10 = 0 THEN ':8080'
                         WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
                 || '/p/' || (doc_id % 250)
                 || CASE WHEN doc_id % 6 = 0 THEN '//'
                         WHEN doc_id % 6 = 3 THEN '/' ELSE '' END
                 || '?'
                 || CASE WHEN doc_id % 2 = 0
                         THEN 'a=' || ((doc_id % 250) % 7)
                              || '&b=' || ((doc_id % 250) % 3)
                         ELSE 'b=' || ((doc_id % 250) % 3)
                              || '&a=' || ((doc_id % 250) % 7) END
                 || CASE WHEN doc_id % 3 = 0
                         THEN '&utm_source=feed' || doc_id ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                         THEN '&gclid=g' || doc_id ELSE '' END
                 || CASE WHEN doc_id % 8 = 0
                         THEN '#sec' || doc_id ELSE '' END AS url,
                 CAST(CASE WHEN (doc_id % 250) % 11 = 0 THEN 0
                           ELSE doc_id % 7 END AS BIGINT) AS ts
          FROM documents
        ), s1 AS (
          SELECT doc_id, ts, regexp_replace(trim(url), '#.*$', '') AS u
          FROM pages
        ), s2 AS (
          SELECT doc_id, ts,
                 lower(regexp_extract(u,
                       '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                 regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\-]*://', '') AS rest
          FROM s1
        ), s3 AS (
          SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS auth_raw,
                 regexp_replace(rest, '^[^/?]*', '') AS pathq
          FROM s2
        ), s4 AS (
          SELECT *,
                 CASE WHEN scheme = 'http'
                      THEN regexp_replace(lower(regexp_replace(auth_raw,
                           '^[^@]*@', '')), ':80$', '')
                      WHEN scheme = 'https'
                      THEN regexp_replace(lower(regexp_replace(auth_raw,
                           '^[^@]*@', '')), ':443$', '')
                      ELSE lower(regexp_replace(auth_raw, '^[^@]*@', ''))
                 END AS auth,
                 regexp_extract(pathq, '^([^?]*)', 1) AS path0,
                 regexp_extract(pathq, '\?(.*)$', 1) AS query
          FROM s3
        ), s5 AS (
          SELECT *,
                 CASE WHEN regexp_replace(
                          CASE WHEN path0 = '' THEN '/' ELSE path0 END,
                          '/+$', '') = '' THEN '/'
                      ELSE regexp_replace(
                          CASE WHEN path0 = '' THEN '/' ELSE path0 END,
                          '/+$', '') END AS path,
                 coalesce(array_to_string(list_sort(list_filter(
                     string_split(query, '&'),
                     p -> p <> '' AND NOT regexp_matches(p,
                       '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid|igshid|ref)(=|$)')
                 )), '&'), '') AS qcanon
          FROM s4
        ), canon AS (
          SELECT doc_id, ts,
                 (CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END)
                 || auth || path
                 || (CASE WHEN qcanon = '' THEN ''
                          ELSE '?' || qcanon END) AS canonical_url
          FROM s5
        )
        SELECT doc_id, canonical_url, ts FROM canon
        QUALIFY row_number() OVER (
            PARTITION BY canonical_url
            ORDER BY ts DESC, doc_id ASC) = 1
    """

    # q15 — unicode normalization: identical junk injection (chr() keeps
    # the SQL printable), then the same strip/NFC/collapse chain as
    # normalize_text.  RE2 needs \x{...} for codepoints >= 0x80; DuckDB's
    # nfc_normalize is the NFC twin of the pandas-UDF step.
    sql["q15_normalize_text"] = r"""
        WITH junked AS (
          SELECT doc_id,
                 'Caf' || 'e' || chr(769) || chr(8203)
                 || CASE WHEN doc_id % 4 = 0 THEN chr(8205) ELSE '' END
                 || ' ' || chr(160) || ' menu' || chr(13) || chr(10)
                 || CASE WHEN doc_id % 2 = 0 THEN chr(7) ELSE '' END
                 || chr(9) || ' ' || chr(9)
                 || text
                 || '  ' AS text2
          FROM documents
        ), cleaned AS (
          SELECT doc_id, text2,
            trim(regexp_replace(
              regexp_replace(
                nfc_normalize(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(text2,
                        '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g'),
                      '\r\n?', chr(10), 'g'),
                    '[\x{00}-\x{08}\x{0b}\x{0c}\x{0e}-\x{1f}\x{7f}-\x{9f}]',
                    '', 'g')),
                '[ \t\x{a0}]+', ' ', 'g'),
              ' ?\n ?', chr(10), 'g')) AS clean_text
          FROM junked
        )
        SELECT doc_id, clean_text,
               CAST(length(text2) - length(clean_text) AS BIGINT)
                 AS chars_removed
        FROM cleaned
    """

    # ------------------------------------------------------------------
    # q18/q25 — HTML extraction + outlink graph over the deterministic
    # synthetic page markup (same construction as _docs_with_html); the
    # strip/extract regexes are RE2-portable and run verbatim here.
    # ------------------------------------------------------------------
    _html_cte = """
        pages AS (
          SELECT doc_id,
                 '<html><head><title> Doc ' || doc_id
                 || ' &amp; Friends </title><style>body .adv-x red</style></head><body>'
                 || '<script type="text/javascript">var x = 1 < 2; // <p>not text</p></script>'
                 || '<!-- crawl note <div>skip me</div> -->'
                 || '<p class="main">' || coalesce(text, '') || '</p>'
                 || CASE WHEN doc_id % 5 = 0
                         THEN '<div>extra &lt;markup&gt;&nbsp;here</div>'
                         ELSE '' END
                 || '<a href="https://site' || ((doc_id * 7 + 3) % 10)
                 || '.com/p/' || (doc_id + 1) || '">first</a>'
                 || CASE WHEN doc_id % 3 = 0
                         THEN '<a href="https://www.site'
                              || ((doc_id * 5 + 1) % 10)
                              || '.co.uk/q/' || doc_id || '">second</a>'
                         ELSE '' END
                 || '<a href="/rel/' || doc_id || '">relative</a></body></html>'
                   AS html
          FROM documents
        )
    """

    def _decoded_collapsed(expr: str) -> str:
        # entity decode chain (&amp; last, matching htmlops._ENTITIES)
        # + whitespace collapse + trim
        s = expr
        for ent, ch in (
            ("&lt;", "'<'"),
            ("&gt;", "'>'"),
            ("&quot;", "'\"'"),
            ("&#39;", "chr(39)"),
            ("&apos;", "chr(39)"),
            ("&nbsp;", "' '"),
            ("&amp;", "'&'"),
        ):
            s = f"replace({s}, '{ent}', {ch})"
        return f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"

    sql["q18_html_extract"] = f"""
        WITH {_html_cte}, stripped AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(html,
                     '(?is)<head\\b[^>]*>.*?</head\\s*>', ' ', 'g'),
                     '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
                     '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
                     '(?s)<!--.*?-->', ' ', 'g'),
                     '(?s)<[^>]*>', ' ', 'g') AS body_raw,
                 regexp_extract(html,
                     '(?is)<title\\b[^>]*>(.*?)</title\\s*>', 1) AS title_raw
          FROM pages
        )
        SELECT doc_id,
               {_decoded_collapsed("title_raw")} AS title,
               {_decoded_collapsed("body_raw")} AS text_clean
        FROM stripped
    """

    sql["q25_outlink_domains"] = f"""
        WITH {_html_cte}, links AS (
          SELECT doc_id,
                 unnest(list_filter(regexp_extract_all(html,
                   '(?i)\\bhref\\s*=\\s*"([^"]*)"', 1), x -> x <> ''))
                   AS link
          FROM pages
        ), abs_links AS (
          SELECT doc_id, link FROM links
          WHERE regexp_matches(link, '(?i)^https?://')
        ), hosted AS (
          SELECT doc_id,
                 lower(regexp_extract(link, '://(?:[^@/]*@)?([^:/?#]*)', 1))
                   AS host
          FROM abs_links
        ), dom AS (
          SELECT doc_id,
                 CASE WHEN host IS NULL OR len(p) <= 1 THEN host
                      WHEN len(p) >= 3
                           AND (p[-2] || '.' || p[-1]) IN ({_suffix_in})
                        THEN p[-3] || '.' || p[-2] || '.' || p[-1]
                      ELSE p[-2] || '.' || p[-1] END AS domain
          FROM (SELECT *, string_split(host, '.') AS p FROM hosted)
        )
        SELECT domain,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_source_pages,
               CAST(count(*) AS BIGINT) AS n_links
        FROM dom GROUP BY domain
    """

    # q27 — DF/IDF vocabulary: distinct tokens per doc, smooth idf,
    # deterministic (df desc, token asc) top-25.
    sql["q27_document_frequency"] = """
        WITH base AS (
          SELECT doc_id,
                 list_distinct(list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> x <> '')) AS t
          FROM documents WHERE text IS NOT NULL
        ), n AS (SELECT count(*) AS c FROM base),
        tok AS (SELECT unnest(t) AS token FROM base),
        dfreq AS (
          SELECT token, count(*) AS doc_freq FROM tok GROUP BY token
        ), ranked AS (
          SELECT row_number() OVER (
                   ORDER BY doc_freq DESC, token ASC) AS rank,
                 token, doc_freq
          FROM dfreq
        )
        SELECT CAST(rank AS INT) AS rank, token,
               CAST(doc_freq AS BIGINT) AS doc_freq,
               round(ln((1.0 + (SELECT c FROM n)) / (1.0 + doc_freq)) + 1.0, 6)
                 AS idf
        FROM ranked WHERE rank <= 25
    """

    # ------------------------------------------------------------------
    # q30 — Excel scan: the oracle reads the CSV twin of the committed
    # xlsx fixture (q35 pattern; DuckDB has no xlsx reader), same ordered
    # skip-3 / limit-20 resume window.
    # ------------------------------------------------------------------
    sql["q30_excel_scan"] = """
        WITH raw AS (
          SELECT *
          FROM read_csv('/root/repo/fixtures/q30_catalog_utf8.csv',
                        header=true)
          ORDER BY row_id
          LIMIT 20 OFFSET 3
        )
        SELECT CAST(row_id AS BIGINT) AS row_id, name, city,
               CAST(qty AS BIGINT) AS qty,
               round(price, 6) AS price,
               CAST(active AS INT) AS active
        FROM raw
    """

    # ------------------------------------------------------------------
    # q31 — multimodal feature plumbing: the stand-in decoder tiles the md5
    # digest 12x into 192 bytes (byte j = digest[j % 16]); bucket k
    # mean-pools bytes 3k..3k+2, and round(val*3) recovers the exact
    # integer sum — reproduced here with the md5 nibble-fold.  NULL text
    # -> zero features.
    # ------------------------------------------------------------------
    sql["q31_media_features"] = """
        WITH media AS (
          SELECT 'm' || doc_id AS media_id, text FROM documents
        ), bytes AS (
          SELECT media_id,
                 CASE WHEN text IS NULL THEN NULL ELSE
                   list_transform(range(1, 17), i ->
                     16 * (instr('0123456789abcdef',
                                 substr(md5(text), 2*i - 1, 1)) - 1)
                        + (instr('0123456789abcdef',
                                 substr(md5(text), 2*i, 1)) - 1))
                 END AS b
          FROM media
        ), expl AS (
          SELECT media_id, b, unnest(range(0, 64)) AS bucket FROM bytes
        )
        SELECT media_id,
               CAST(bucket AS INT) AS bucket,
               CAST(CASE WHEN b IS NULL THEN 0 ELSE
                      b[(3*bucket) % 16 + 1]
                    + b[(3*bucket + 1) % 16 + 1]
                    + b[(3*bucket + 2) % 16 + 1]
                    END AS BIGINT) AS byte_sum
        FROM expl
    """

    # q33 — exact-substring duplicate spans: rolling 8-token windows,
    # md5-keyed, duplicated = present in >= 2 distinct docs; the same
    # boilerplate injection as the Spark side.
    sql["q33_duplicate_spans"] = """
        WITH t2 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 0 THEN
                   text || ' the quick brown fox jumps over the lazy dog'
                        || ' again and again'
                 ELSE text END AS text2
          FROM documents
        ), base AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text2)), '\\s+'),
                   x -> x <> '') AS t
          FROM t2 WHERE text2 IS NOT NULL
        ), grams AS (
          SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
          FROM base, unnest(range(1, len(t) - 8 + 2)) AS u(i)
          WHERE len(t) >= 8
        ), per AS (
          SELECT h, doc_id, count(*) AS c FROM grams GROUP BY h, doc_id
        ), dup AS (
          SELECT h FROM per GROUP BY h HAVING count(*) >= 2
        ), dpd AS (
          SELECT doc_id, sum(c) AS s FROM per JOIN dup USING (h)
          GROUP BY doc_id
        )
        SELECT b.doc_id,
               CAST(greatest(len(b.t) - 7, 0) AS BIGINT) AS n_windows,
               CAST(coalesce(d.s, 0) AS BIGINT) AS n_dup_windows,
               CASE WHEN len(b.t) >= 8
                    THEN round(coalesce(d.s, 0)::DOUBLE
                               / (len(b.t) - 7), 6)
               END AS dup_fraction,
               CASE WHEN coalesce(d.s, 0) > 0 THEN 1 ELSE 0 END AS flagged
        FROM base b LEFT JOIN dpd d USING (doc_id)
    """

    # q63 — frame-sampling grid: Spark sequence(0, d-1, step) ==
    # DuckDB end-exclusive range(0, d, step).
    sql["q63_frame_sample"] = """
        WITH media AS (
          SELECT 'm' || doc_id AS media_id,
                 CASE doc_id % 3 WHEN 0 THEN 'video'
                                 WHEN 1 THEN 'image'
                                 ELSE 'audio' END AS media_type,
                 (doc_id % 7 + 1) * 2500 AS duration_ms
          FROM documents
        )
        SELECT media_id,
               CAST(unnest(range(0, duration_ms, 1000)) AS BIGINT)
                 AS frame_ts_ms
        FROM media WHERE media_type = 'video'
    """

    # q37 — SemDeDup: the centroid table is recomputed from md5('cell-j')
    # hex (byte k -> k/128 - 1, tiled 16 -> 64: the q29 embedding trick),
    # assignment is argmax of the ROUNDED cosine with ties to the lowest
    # cell, near-dup pairs are within-cell only, components via the
    # recursive walk (== large/small-star fixpoint with component=min id),
    # survivor = (centroid_cos ASC, vec_id ASC) first row per component.
    sql["q37_semantic_dedup"] = """
        WITH RECURSIVE cents AS (
          SELECT j::INT AS cell,
                 list_transform(range(0, 64), i ->
                   (((instr('0123456789abcdef',
                            substr(md5('cell-' || j), 2*(i % 16) + 1, 1)) - 1)
                     * 16
                     + instr('0123456789abcdef',
                             substr(md5('cell-' || j), 2*(i % 16) + 2, 1))
                     - 1)::DOUBLE / 128.0 - 1.0)) AS cv
          FROM range(0, 8) t(j)
        ), scored AS (
          SELECT e.vec_id, e.embedding, c.cell,
                 round(list_cosine_similarity(e.embedding::DOUBLE[], c.cv),
                       6) AS ccos
          FROM embeddings e CROSS JOIN cents c
          WHERE e.embedding IS NOT NULL
        ), best AS (
          SELECT vec_id, embedding, cell, ccos,
                 row_number() OVER (
                   PARTITION BY vec_id ORDER BY ccos DESC, cell ASC) AS rk
          FROM scored
        ), a AS (
          SELECT vec_id, embedding, cell, ccos AS centroid_cos
          FROM best WHERE rk = 1
        ), pairs AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b
          FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
          WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
                                             y.embedding::DOUBLE[]), 6)
                >= 0.35
        ), e2 AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION
          SELECT id_b AS u, id_a AS v FROM pairs
        ), walk(id, comp) AS (
          SELECT vec_id, vec_id FROM a
          UNION
          SELECT e.v, w.comp FROM walk w JOIN e2 e ON e.u = w.id
        ), comps AS (
          SELECT id AS vec_id, CAST(min(comp) AS BIGINT) AS component
          FROM walk GROUP BY id
        )
        SELECT a.vec_id, a.cell, a.centroid_cos, c.component,
               CASE WHEN row_number() OVER (
                      PARTITION BY c.component
                      ORDER BY a.centroid_cos ASC, a.vec_id ASC) = 1
                    THEN 1 ELSE 0 END AS keep
        FROM a JOIN comps c USING (vec_id)
    """

    # q39 — golden-record survivorship: modal value per (cluster, field)
    # with ties to the smallest STRING-cast value (the operator melts
    # every field to strings, so '10' < '2'); all-null fields stay null;
    # nationkey cast back to INTEGER to match the source column type.
    sql["q39_golden_record"] = """
        WITH clus AS (
          SELECT c_custkey, c_custkey % 300 AS cluster, c_mktsegment,
                 CAST(c_nationkey AS VARCHAR) AS nk_s, c_acctbal
          FROM customer
        ), base AS (
          SELECT cluster, COUNT(*) AS size,
                 round(MAX(c_acctbal), 2) AS max_acctbal
          FROM clus GROUP BY cluster
        ), seg_pick AS (
          SELECT cluster, v AS c_mktsegment FROM (
            SELECT cluster, v, row_number() OVER (
                     PARTITION BY cluster ORDER BY cnt DESC, v ASC) AS rk
            FROM (SELECT cluster, c_mktsegment AS v, COUNT(*) AS cnt
                  FROM clus WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2))
          WHERE rk = 1
        ), nk_pick AS (
          SELECT cluster, CAST(v AS INTEGER) AS c_nationkey FROM (
            SELECT cluster, v, row_number() OVER (
                     PARTITION BY cluster ORDER BY cnt DESC, v ASC) AS rk
            FROM (SELECT cluster, nk_s AS v, COUNT(*) AS cnt
                  FROM clus WHERE nk_s IS NOT NULL GROUP BY 1, 2))
          WHERE rk = 1
        )
        SELECT b.cluster, b.size, s.c_mktsegment, n.c_nationkey,
               b.max_acctbal
        FROM base b
        LEFT JOIN seg_pick s USING (cluster)
        LEFT JOIN nk_pick n USING (cluster)
    """

    # q67 — Fellegi-Sunter: the per-field log2 Bayes-factor weights are
    # injected as repr() of the SAME Python floats the Spark operator
    # bakes in as literals (bit-identical on both engines), each cast
    # ::DOUBLE so DuckDB never routes them through DECIMAL arithmetic.
    import math as _math

    _wa_nat, _wd_nat = _math.log2(0.95 / 0.04), _math.log2(0.05 / 0.96)
    _wa_seg, _wd_seg = _math.log2(0.90 / 0.20), _math.log2(0.10 / 0.80)
    _wa_bal, _wd_bal = _math.log2(0.80 / 0.30), _math.log2(0.20 / 0.70)
    _prior_odds = 0.01 / 0.99
    sql["q67_fellegi_sunter"] = f"""
        WITH p AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                 CAST(a.c_nationkey = b.c_nationkey AS INT) AS g_nat,
                 CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS g_seg,
                 CASE WHEN a.c_acctbal < 0 OR b.c_acctbal < 0 THEN NULL
                      ELSE CAST(abs(a.c_acctbal - b.c_acctbal) < 500
                                AS INT)
                 END AS g_bal
          FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
        ), w AS (
          SELECT id_a, id_b, g_nat, g_seg, g_bal,
                 (CASE WHEN g_nat IS NULL THEN 0.0::DOUBLE
                       WHEN g_nat = 1 THEN {_wa_nat!r}::DOUBLE
                       ELSE {_wd_nat!r}::DOUBLE END
                + CASE WHEN g_seg IS NULL THEN 0.0::DOUBLE
                       WHEN g_seg = 1 THEN {_wa_seg!r}::DOUBLE
                       ELSE {_wd_seg!r}::DOUBLE END
                + CASE WHEN g_bal IS NULL THEN 0.0::DOUBLE
                       WHEN g_bal = 1 THEN {_wa_bal!r}::DOUBLE
                       ELSE {_wd_bal!r}::DOUBLE END) AS mw
          FROM p
        )
        SELECT id_a, id_b, g_nat, g_seg, g_bal,
               round(mw, 6) AS match_weight,
               round(({_prior_odds!r}::DOUBLE * power(2.0::DOUBLE, mw))
                     / ({_prior_odds!r}::DOUBLE * power(2.0::DOUBLE, mw)
                        + 1.0), 6) AS match_prob
        FROM w
    """

    # q40 — unigram self-perplexity: the shared whitespace tokenizer, the
    # same smoothed logp formula in pure DOUBLE math (every count cast
    # before the decimal literals touch it), round-6 on the outputs.
    # Summation order across engines differs only at ~1e-12 — far inside
    # the rounding.
    sql["q40_unigram_ppl"] = """
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\\s+'),
                   t -> t <> '')) AS token
          FROM documents WHERE text IS NOT NULL
        ), tf AS (
          SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
          FROM toks GROUP BY 1, 2
        ), cnts AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM toks GROUP BY token
        ), tot AS (
          SELECT CAST(SUM(cnt) AS BIGINT) AS n, COUNT(*) AS v FROM cnts
        ), lm AS (
          SELECT token,
                 log2((CAST(cnt AS DOUBLE) + 0.5::DOUBLE)
                      / (CAST(n AS DOUBLE)
                         + 0.5::DOUBLE * (CAST(v AS DOUBLE) + 1.0::DOUBLE)))
                 AS logp
          FROM cnts CROSS JOIN tot
        ), scored AS (
          SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
                 -SUM(CAST(tf.tf AS DOUBLE) * lm.logp)
                   / CAST(SUM(tf.tf) AS DOUBLE) AS bits
          FROM tf JOIN lm USING (token) GROUP BY tf.doc_id
        )
        SELECT d.doc_id,
               COALESCE(s.n_tokens, 0) AS n_tokens,
               round(s.bits, 6) AS bits_per_token,
               round(power(2.0::DOUBLE, s.bits), 6) AS ppl
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """

    # q43 — JSONL scan: DuckDB's ignore_errors nulls the malformed line
    # (it does NOT skip it), so validity anchors on id IS NOT NULL in
    # both engines; len(NULL array) is NULL on both.
    sql["q43_jsonl_scan"] = """
        SELECT id, title, props.lang AS lang,
               round(props.score, 2) AS score,
               len(tags) AS n_tags
        FROM read_json('/root/repo/fixtures/q43_docs.jsonl',
                       format='newline_delimited',
                       columns={'id': 'BIGINT', 'title': 'VARCHAR',
                                'props': 'STRUCT(lang VARCHAR, score DOUBLE)',
                                'tags': 'VARCHAR[]'},
                       ignore_errors=true)
        WHERE id IS NOT NULL
    """

    # q44 — graded FS: per-level log2(m[l]/u[l]) constants injected as
    # repr() of the SAME Python floats the Spark scorer bakes in.
    _w = {
        "nat0": _math.log2(0.05 / 0.96), "nat1": _math.log2(0.95 / 0.04),
        "seg0": _math.log2(0.10 / 0.80), "seg1": _math.log2(0.90 / 0.20),
        "bal0": _math.log2(0.05 / 0.50), "bal1": _math.log2(0.15 / 0.30),
        "bal2": _math.log2(0.80 / 0.20),
    }
    sql["q44_fs_graded"] = f"""
        WITH p AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                 CAST(a.c_nationkey = b.c_nationkey AS INT) AS lvl_nat,
                 CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS lvl_seg,
                 CASE WHEN a.c_acctbal < 0 OR b.c_acctbal < 0 THEN NULL
                      WHEN abs(a.c_acctbal - b.c_acctbal) < 500 THEN 2
                      WHEN abs(a.c_acctbal - b.c_acctbal) < 2000 THEN 1
                      ELSE 0 END AS lvl_bal
          FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
        ), w AS (
          SELECT id_a, id_b, lvl_nat, lvl_seg, lvl_bal,
                 (CASE WHEN lvl_nat IS NULL THEN 0.0::DOUBLE
                       WHEN lvl_nat = 1 THEN {_w["nat1"]!r}::DOUBLE
                       ELSE {_w["nat0"]!r}::DOUBLE END
                + CASE WHEN lvl_seg IS NULL THEN 0.0::DOUBLE
                       WHEN lvl_seg = 1 THEN {_w["seg1"]!r}::DOUBLE
                       ELSE {_w["seg0"]!r}::DOUBLE END
                + CASE WHEN lvl_bal IS NULL THEN 0.0::DOUBLE
                       WHEN lvl_bal = 2 THEN {_w["bal2"]!r}::DOUBLE
                       WHEN lvl_bal = 1 THEN {_w["bal1"]!r}::DOUBLE
                       ELSE {_w["bal0"]!r}::DOUBLE END) AS mw
          FROM p
        )
        SELECT id_a, id_b, lvl_nat, lvl_seg, lvl_bal,
               round(mw, 6) AS match_weight,
               round(({0.01 / 0.99!r}::DOUBLE * power(2.0::DOUBLE, mw))
                     / ({0.01 / 0.99!r}::DOUBLE * power(2.0::DOUBLE, mw)
                        + 1.0), 6) AS match_prob
        FROM w
    """

    # q72: hashed-linear quality model — 32-bit gram hash = the q23/q61
    # md5 nibble-fold convention; integer weight fold (exact), one
    # division, sigmoid.  Spark twin: textops.hashed_linear_score.
    _qh32 = " + ".join(
        "(instr('0123456789abcdef', substr(md5(x), %d, 1)) - 1) * %d"
        % (j + 1, 16 ** (7 - j))
        for j in range(8)
    )
    sql["q72_quality_model"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> t <> '') AS t
            FROM documents WHERE text IS NOT NULL
        ), grams AS (
            SELECT doc_id,
                   list_concat(
                       t,
                       CASE WHEN len(t) >= 2
                            THEN list_transform(range(1, len(t)),
                                                i -> t[i] || ' ' || t[i + 1])
                            ELSE [] END) AS g
            FROM toks
        ), scored AS (
            SELECT doc_id,
                   list_sum(list_transform(
                       g, x -> ({_qh32}) % 2001 - 1000))::DOUBLE
                   / (len(g) * 1000.0) AS mean_w
            FROM grams WHERE len(g) > 0
        )
        SELECT d.doc_id,
               round(1.0 / (1.0 + exp(-s.mean_w)), 6) AS q_score
        FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """

    # q73: the generic blocklist join replayed in SQL — patterns get the
    # same registered-domain heuristic, hosts match on label boundaries
    sql["q73_blocklist_filter"] = f"""
        WITH {_url_cte},
        pats AS (
          SELECT pat,
                 CASE WHEN len(pp) <= 1 THEN pat
                      WHEN len(pp) >= 3
                           AND (pp[-2] || '.' || pp[-1]) IN ({_suffix_in})
                        THEN pp[-3] || '.' || pp[-2] || '.' || pp[-1]
                      ELSE pp[-2] || '.' || pp[-1] END AS prd
          FROM (SELECT pat, string_split(pat, '.') AS pp
                FROM (VALUES ('site3.com'), ('www.site5.co.uk'),
                             ('site9.org')) t(pat))
        ),
        blocked AS (
          SELECT DISTINCT d.doc_id
          FROM dom d JOIN pats p ON d.domain = p.prd
          WHERE d.host = p.pat OR d.host LIKE '%.' || p.pat
        )
        SELECT d.doc_id, d.host
        FROM dom d LEFT JOIN blocked b ON d.doc_id = b.doc_id
        WHERE b.doc_id IS NULL
    """

    # q74 — fixed-point PageRank: the oracle constructs the same edge set
    # analytically (the synthetic outlink targets are pure doc_id
    # formulas) and unrolls the identical integer recurrence; ranks
    # compare as exact BIGINTs.  SUM(BIGINT) is HUGEINT in DuckDB — every
    # iteration's r casts back to BIGINT.
    _pr_scale = 10**12
    _src_dom = (
        "'site' || (doc_id % 10) || '.' || CASE doc_id % 3 "
        "WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'co.uk' END"
    )
    _pr_iters = "".join(
        f""", pr{i} AS (
          SELECT nd.node,
                 CAST((({_pr_scale} * 15) // 100) // c.n
                      + 85 * (coalesce(f.inflow, 0) + dg.d // c.n) // 100
                      AS BIGINT) AS r
          FROM nodes nd
          CROSS JOIN cnt c
          CROSS JOIN (SELECT coalesce(SUM(p.r), 0) AS d
                      FROM pr{i - 1} p LEFT JOIN outdeg o ON p.node = o.src
                      WHERE o.src IS NULL) dg
          LEFT JOIN (SELECT e.dst AS node, SUM(p.r // o.deg) AS inflow
                     FROM edges e
                     JOIN pr{i - 1} p ON e.src = p.node
                     JOIN outdeg o ON o.src = e.src
                     GROUP BY e.dst) f ON nd.node = f.node
        )"""
        for i in range(1, 6)
    )
    sql["q74_domain_pagerank"] = f"""
        WITH e0 AS (
          SELECT {_src_dom} AS src,
                 'site' || ((doc_id * 7 + 3) % 10) || '.com' AS dst
          FROM documents
          UNION ALL
          SELECT {_src_dom} AS src,
                 'site' || ((doc_id * 5 + 1) % 10) || '.co.uk' AS dst
          FROM documents WHERE doc_id % 3 = 0
        ), edges AS (SELECT DISTINCT src, dst FROM e0),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION SELECT dst FROM edges)
        ),
        cnt AS (SELECT count(*) AS n FROM nodes),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        pr0 AS (
          SELECT node,
                 CAST(CAST({_pr_scale} AS BIGINT) // (SELECT n FROM cnt)
                      AS BIGINT) AS r
          FROM nodes
        ){_pr_iters}
        SELECT node, r AS rank_scaled,
               round(CAST(r AS DOUBLE) / {float(_pr_scale)!r}, 9) AS rank
        FROM pr5
    """

    # q75 — weighted mixing: quotas are driver-side constants (largest-
    # remainder over the weights), the per-stratum pick is the md5 order
    sql["q75_corpus_mix"] = """
        WITH ranked AS (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rk
          FROM documents WHERE lang IN ('en', 'es', 'de', 'fr')
        )
        SELECT doc_id, lang FROM ranked
        WHERE rk <= CASE lang WHEN 'en' THEN 60 WHEN 'es' THEN 24
                              WHEN 'de' THEN 24 ELSE 12 END
    """

    # q76: token blocking -> CBS block graph -> weighted node pruning,
    # replayed quadratically per block.  Thresholds are exact-integer
    # SUM/COUNT divisions (matching the Spark side; never avg()).
    sql["q76_meta_blocking"] = """
        WITH blocks AS (
            SELECT doc_id, tok AS block_key
            FROM (
                SELECT doc_id,
                       unnest(list_distinct(regexp_split_to_array(
                           lower(text), '[^a-z0-9]+'))) AS tok
                FROM documents WHERE text IS NOT NULL
            ) WHERE length(tok) >= 2
        ), kept AS (
            SELECT block_key FROM blocks
            GROUP BY block_key HAVING count(*) <= 50
        ), edges AS (
            SELECT b1.doc_id AS id_a, b2.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS weight
            FROM blocks b1
            JOIN kept USING (block_key)
            JOIN blocks b2 USING (block_key)
            WHERE b1.doc_id < b2.doc_id
            GROUP BY 1, 2
        ), thr AS (
            SELECT node,
                   CAST(sum(weight) AS DOUBLE) / count(*) AS node_thr
            FROM (
                SELECT id_a AS node, weight FROM edges
                UNION ALL
                SELECT id_b AS node, weight FROM edges
            ) GROUP BY node
        )
        SELECT e.id_a, e.id_b, e.weight
        FROM edges e
        JOIN thr ta ON ta.node = e.id_a
        JOIN thr tb ON tb.node = e.id_b
        WHERE e.weight >= ta.node_thr OR e.weight >= tb.node_thr
    """

    # q77: token-sort ratio + symmetric set-Monge-Elkan over DuckDB's
    # jaro_winkler_similarity (bit-identical to jaro_winkler_py with the
    # 0.7 boost threshold).  The token grid is flattened via
    # list_transform (unnest of two lists in one SELECT would zip, not
    # cross).  Fixed-point 1e-6 BIGINT cells -> exact integer sums.
    sql["q77_token_comparators"] = """
        WITH pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   substr(coalesce(a.text, ''), 1, 160) AS sa,
                   substr(coalesce(b.text, ''), 1, 160) AS sb
            FROM documents a
            JOIN documents b ON b.doc_id = a.doc_id + 1
        ), toks AS (
            SELECT id_a, id_b,
                   list_filter(list_distinct(regexp_split_to_array(
                       lower(sa), '[^a-z0-9]+')), t -> t <> '') AS ta,
                   list_filter(list_distinct(regexp_split_to_array(
                       lower(sb), '[^a-z0-9]+')), t -> t <> '') AS tb,
                   coalesce(array_to_string(list_sort(list_filter(
                       regexp_split_to_array(lower(sa), '[^a-z0-9]+'),
                       t -> t <> '')), ' '), '') AS ka,
                   coalesce(array_to_string(list_sort(list_filter(
                       regexp_split_to_array(lower(sb), '[^a-z0-9]+'),
                       t -> t <> '')), ' '), '') AS kb
            FROM pairs
        ), valid AS (
            SELECT * FROM toks WHERE len(ta) > 0 AND len(tb) > 0
        ), tsr AS (
            SELECT id_a, id_b,
                   round(CASE WHEN greatest(length(ka), length(kb)) = 0
                              THEN 1.0
                              ELSE 1.0 - levenshtein(ka, kb) /
                                   CAST(greatest(length(ka), length(kb))
                                        AS DOUBLE)
                         END, 6) AS token_sort_ratio
            FROM valid
        ), grid AS (
            SELECT id_a, id_b, cell.x AS t_a, cell.y AS t_b,
                   CAST(round(jaro_winkler_similarity(cell.x, cell.y)
                              * 1000000) AS BIGINT) AS jw_micro
            FROM (
                SELECT id_a, id_b,
                       unnest(flatten(list_transform(ta,
                           x -> list_transform(tb,
                               y -> {'x': x, 'y': y})))) AS cell
                FROM valid
            )
        ), best_a AS (
            SELECT id_a, id_b, t_a, max(jw_micro) AS mx
            FROM grid GROUP BY id_a, id_b, t_a
        ), best_b AS (
            SELECT id_a, id_b, t_b, max(jw_micro) AS mx
            FROM grid GROUP BY id_a, id_b, t_b
        ), me_a AS (
            SELECT id_a, id_b,
                   CAST(sum(mx) AS DOUBLE) / (1000000.0 * count(*)) AS mea
            FROM best_a GROUP BY id_a, id_b
        ), me_b AS (
            SELECT id_a, id_b,
                   CAST(sum(mx) AS DOUBLE) / (1000000.0 * count(*)) AS meb
            FROM best_b GROUP BY id_a, id_b
        )
        SELECT t.id_a, t.id_b, t.token_sort_ratio,
               round((ma.mea + mb.meb) / 2, 6) AS monge_elkan
        FROM tsr t
        JOIN me_a ma USING (id_a, id_b)
        JOIN me_b mb USING (id_a, id_b)
    """

    # q78: survivors of cross-corpus near-dup dedup, replayed as the
    # quadratic cross-Jaccard truth (banding is candidate generation; the
    # planted reference is normalization-equal so recall is structural).
    # Token-empty docs emit no band keys in Spark and never match — the
    # oracle's len(tok) > 0 guards mirror that (q21 convention).
    sql["q78_cross_corpus_dedup"] = """
        WITH ref AS (
            SELECT doc_id AS ref_id,
                   '  ' || upper(text) || '   ' AS text
            FROM documents WHERE doc_id % 7 = 0 AND text IS NOT NULL
        ), ctoks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) WHERE len(tok) > 0
        ), rtoks AS (
            SELECT ref_id, tok FROM (
                SELECT ref_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM ref
            ) WHERE len(tok) > 0
        ), matched AS (
            SELECT DISTINCT c.doc_id
            FROM ctoks c, rtoks r
            WHERE len(list_intersect(c.tok, r.tok))::DOUBLE
                  / len(list_distinct(list_concat(c.tok, r.tok))) >= 0.9
        )
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM matched)
    """

    # q79: hard negatives = top-5 cosine neighbours with a DIFFERENT
    # label (same-label positives and self excluded before scoring),
    # ranked on the rounded score with id tiebreak (q17 conventions).
    sql["q79_hard_negatives"] = """
        WITH q AS (
            SELECT vec_id AS qid, label AS ql,
                   CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 20 AND embedding IS NOT NULL
        ), c AS (
            SELECT vec_id AS cid, label AS cl,
                   CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE embedding IS NOT NULL
        ), s AS (
            SELECT qid, cid,
                   round(list_cosine_similarity(qv, cv), 6) AS score
            FROM q, c
            WHERE qid <> cid
              AND (ql IS NULL OR cl IS NULL OR ql <> cl)
        ), ranked AS (
            SELECT qid AS query_id, cid AS candidate_id, score,
                   row_number() OVER (
                       PARTITION BY qid ORDER BY score DESC, cid ASC) AS rank
            FROM s
        )
        SELECT query_id, candidate_id, score, rank
        FROM ranked WHERE rank <= 5
    """

    # q80: bigram JM-interpolated self-perplexity.  list_zip structs are
    # unnamed in DuckDB — numeric index z[1]/z[2]; slicing is 1-based
    # INCLUSIVE so t[1:len-1] zip t[2:len] is the bigram stream.
    sql["q80_bigram_ppl"] = """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             t -> t <> '') AS t
          FROM documents WHERE text IS NOT NULL
        ), ne AS (
          SELECT * FROM toks WHERE len(t) > 0
        ), bi AS (
          SELECT doc_id, z[1] AS prev, z[2] AS tok
          FROM (
            SELECT doc_id,
                   unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z
            FROM ne WHERE len(t) >= 2
          )
        ), tf2 AS (
          SELECT doc_id, prev, tok, CAST(count(*) AS BIGINT) AS tf2
          FROM bi GROUP BY 1, 2, 3
        ), c2 AS (
          SELECT prev, tok, CAST(sum(tf2) AS BIGINT) AS c2
          FROM tf2 GROUP BY prev, tok
        ), c1 AS (
          SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev
        ), pbi AS (
          SELECT c2.prev, c2.tok,
                 CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS pbi
          FROM c2 JOIN c1 USING (prev)
        ), ucnt AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt
          FROM (SELECT unnest(t) AS tok FROM ne) GROUP BY tok
        ), tot AS (
          SELECT CAST(sum(cnt) AS DOUBLE) AS n,
                 CAST(count(*) AS DOUBLE) AS v
          FROM ucnt
        ), puni AS (
          SELECT tok,
                 (CAST(cnt AS DOUBLE) + 0.5::DOUBLE)
                 / (n + 0.5::DOUBLE * (v + 1.0::DOUBLE)) AS puni
          FROM ucnt CROSS JOIN tot
        ), bi_bits AS (
          SELECT tf2.doc_id,
                 -- (1.0 - 0.7) NOT the literal 0.3: Spark evaluates the
                 -- same runtime subtraction (= 0.30000000000000004)
                 sum(-log2(0.7::DOUBLE * pbi.pbi
                           + (1.0::DOUBLE - 0.7::DOUBLE) * puni.puni)
                     * CAST(tf2.tf2 AS DOUBLE)) AS bib
          FROM tf2
          JOIN pbi ON pbi.prev = tf2.prev AND pbi.tok = tf2.tok
          JOIN puni ON puni.tok = tf2.tok
          GROUP BY tf2.doc_id
        ), firsts AS (
          SELECT ne.doc_id, -log2(puni.puni) AS fb
          FROM ne JOIN puni ON puni.tok = ne.t[1]
        ), scored AS (
          SELECT ne.doc_id,
                 CAST(len(ne.t) AS BIGINT) AS n_tokens,
                 (f.fb + coalesce(b.bib, 0.0::DOUBLE))
                 / CAST(len(ne.t) AS DOUBLE) AS bits
          FROM ne
          JOIN firsts f USING (doc_id)
          LEFT JOIN bi_bits b ON b.doc_id = ne.doc_id
        )
        SELECT d.doc_id,
               coalesce(s.n_tokens, 0) AS n_tokens,
               round(s.bits, 6) AS bits_per_token,
               round(power(2.0::DOUBLE, s.bits), 6) AS ppl
        FROM documents d LEFT JOIN scored s USING (doc_id)
    """

    # q81: entity centroids — per-(component, pos) mean rounded, then the
    # norm from those ROUNDED means (positional sum; dim-bounded), then
    # normalize and round again: the exact Spark operator order.
    # generate_subscripts zips with unnest; -1 matches posexplode's
    # 0-based positions.
    sql["q81_entity_centroids"] = """
        WITH pos AS (
            SELECT label AS component,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ), m AS (
            SELECT component, pos,
                   round(sum(v) / count(*), 6) AS mr,
                   CAST(count(*) AS BIGINT) AS c
            FROM pos GROUP BY component, pos
        ), nrm AS (
            SELECT component, sqrt(sum(mr * mr)) AS nv
            FROM m GROUP BY component
        )
        SELECT m.component,
               m.c AS n_members,
               CAST(m.pos AS INT) AS pos,
               CASE WHEN nrm.nv > 0 THEN round(m.mr / nrm.nv, 6)
                    ELSE m.mr END AS value
        FROM m JOIN nrm USING (component)
    """

    # q82: merge candidates — two overlapping clusterings (runs A and B,
    # adjacent clusters share 3/5 members), the q81 centroid recurrence
    # into the q37 md5-hash cell assignment into the q20 within-bucket
    # pair form, all on rounded doubles so every engine resolves
    # near-threshold pairs identically.
    sql["q82_merge_candidates"] = """
        WITH mem AS (
            SELECT 2 * (vec_id // 5) AS component,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings WHERE embedding IS NOT NULL
            UNION ALL
            SELECT 2 * ((vec_id + 2) // 5) + 1,
                   generate_subscripts(embedding, 1) - 1,
                   CAST(unnest(embedding) AS DOUBLE)
            FROM embeddings WHERE embedding IS NOT NULL
        ), m AS (
            SELECT component, pos,
                   round(sum(v) / count(*), 6) AS mr,
                   CAST(count(*) AS BIGINT) AS c
            FROM mem GROUP BY component, pos
        ), nrm AS (
            SELECT component, sqrt(sum(mr * mr)) AS nv
            FROM m GROUP BY component
        ), cvec AS (
            SELECT m.component,
                   CAST(max(m.c) AS BIGINT) AS n_members,
                   list(CASE WHEN nrm.nv > 0 THEN round(m.mr / nrm.nv, 6)
                             ELSE m.mr END ORDER BY m.pos) AS centroid
            FROM m JOIN nrm USING (component)
            GROUP BY m.component
        ), cells AS (
          SELECT j::INT AS cell,
                 list_transform(range(0, 64), i ->
                   (((instr('0123456789abcdef',
                            substr(md5('cell-' || j), 2*(i % 16) + 1, 1)) - 1)
                     * 16
                     + instr('0123456789abcdef',
                             substr(md5('cell-' || j), 2*(i % 16) + 2, 1))
                     - 1)::DOUBLE / 128.0 - 1.0)) AS cv
          FROM range(0, 8) t(j)
        ), scored AS (
          SELECT c.component, c.centroid, c.n_members, s.cell,
                 round(list_cosine_similarity(c.centroid, s.cv), 6) AS ccos,
                 row_number() OVER (
                   PARTITION BY c.component
                   ORDER BY round(list_cosine_similarity(c.centroid, s.cv),
                                  6) DESC, s.cell ASC) AS rk
          FROM cvec c CROSS JOIN cells s
        ), a AS (
          SELECT component, centroid, n_members, cell
          FROM scored WHERE rk = 1
        )
        SELECT x.component AS cluster_a, y.component AS cluster_b,
               round(list_cosine_similarity(x.centroid, y.centroid), 6)
                 AS cosine,
               x.n_members AS n_a, y.n_members AS n_b
        FROM a x JOIN a y
          ON x.cell = y.cell AND x.component < y.component
        WHERE round(list_cosine_similarity(x.centroid, y.centroid), 6)
              >= 0.5
    """

    # q83: over-merge split detection — weak components from the q20 edge
    # form at 0.25 (recursive reachability, singletons = own id), then a
    # second reachability restricted to edges >= 0.5 gives subcomponents.
    sql["q83_split_clusters"] = """
        WITH RECURSIVE e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE embedding IS NOT NULL
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
        ), sym AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION SELECT id_b, id_a FROM pairs
        ), walk(id, comp) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT s.v, w.comp FROM walk w JOIN sym s ON s.u = w.id
        ), comps AS (
            SELECT id AS vec_id, CAST(min(comp) AS BIGINT) AS component
            FROM walk GROUP BY id
        ), strongsym AS (
            SELECT id_a AS u, id_b AS v FROM pairs WHERE cosine >= 0.5
            UNION SELECT id_b, id_a FROM pairs WHERE cosine >= 0.5
        ), swalk(id, comp) AS (
            SELECT vec_id, vec_id FROM embeddings
            UNION
            SELECT s.v, w.comp FROM swalk w JOIN strongsym s ON s.u = w.id
        ), subs AS (
            SELECT id AS vec_id, CAST(min(comp) AS BIGINT) AS subcomponent
            FROM swalk GROUP BY id
        )
        SELECT c.vec_id, c.component, s.subcomponent
        FROM comps c JOIN subs s USING (vec_id)
    """

    # q84: quadratic containment truth — same tokenization as q21;
    # containment = |A∩B| / min(|A|,|B|) over distinct tokens.
    sql["q84_containment_neardup"] = """
        WITH toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       list_distinct(list_filter(
                           regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents WHERE text IS NOT NULL
            ) WHERE len(tok) > 0
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.tok, b.tok))::DOUBLE
                       / least(len(a.tok), len(b.tok)) AS containment,
                   len(list_intersect(a.tok, b.tok))::DOUBLE
                       / len(list_distinct(list_concat(a.tok, b.tok)))
                       AS jaccard
            FROM toks a JOIN toks b ON a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               round(containment, 6) AS containment,
               round(jaccard, 6) AS jaccard
        FROM pairs WHERE containment >= 0.9
    """

    # q46: the incremental-update exactness contract IS "equals a full
    # recompute" — so the oracle ignores the old/new split entirely and
    # walks reachability over the complete edge set.
    sql["q46_incremental_clusters"] = """
        WITH RECURSIVE e0 AS (
            SELECT doc_id AS id_a, doc_id - (doc_id % 7) AS id_b
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT doc_id, doc_id - 35
            FROM documents WHERE doc_id % 35 = 0 AND doc_id >= 35
        ), e1 AS (
            SELECT e0.id_a, e0.id_b FROM e0
            JOIN documents d ON d.doc_id = e0.id_b
        ), edges AS (
            SELECT id_a AS u, id_b AS v FROM e1
            UNION
            SELECT id_b AS u, id_a AS v FROM e1
        ), walk(id, comp) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.id
        )
        SELECT id AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY id
    """

    # q86: the split boundaries are integer floor(cum*2^32) hex literals
    # compared lexically on the md5 prefix — import the operator's own
    # boundary computation so oracle and engine can never drift.
    from semantic_entity_matching_spark.operators.sample import (
        split_bounds_hex,
    )

    (_, _b_train), (_, _b_val), _ = split_bounds_hex(
        {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    sql["q86_cluster_split"] = f"""
        SELECT doc_id,
               doc_id - (doc_id % 5) AS cluster_id,
               CASE
                   WHEN substr(md5(cast(doc_id - (doc_id % 5) AS VARCHAR)),
                               1, 8) < '{_b_train}' THEN 'train'
                   WHEN substr(md5(cast(doc_id - (doc_id % 5) AS VARCHAR)),
                               1, 8) < '{_b_val}' THEN 'val'
                   ELSE 'test'
               END AS split
        FROM documents
    """

    # q22/q91: replay iterated mutual-best exactly — unrolled rounds of
    # window-ranked mutual filter + anti-join retirement, generated by a
    # loop so oracle and operator share the round structure.  Every CTE
    # is MATERIALIZED: DuckDB inlines plain CTEs, and the round chain
    # references each one several times — un-materialized, the expression
    # tree (and the parquet open count) grows exponentially in rounds.
    def _mutual_best_cte(rem0_body: str, rounds: int = 8) -> str:
        out = f"""
        WITH rem0 AS MATERIALIZED ({rem0_body}
        ), acc0 AS MATERIALIZED (SELECT id_a, id_b, score FROM rem0 WHERE FALSE)"""
        for i in range(1, rounds + 1):
            p = i - 1
            out += f""", s{i} AS MATERIALIZED (
            SELECT id_a, id_b, score,
                   row_number() OVER (PARTITION BY id_a
                                      ORDER BY score DESC, id_b) AS ra,
                   row_number() OVER (PARTITION BY id_b
                                      ORDER BY score DESC, id_a) AS rb
            FROM rem{p}
        ), m{i} AS MATERIALIZED (
            SELECT id_a, id_b, score FROM s{i} WHERE ra = 1 AND rb = 1
        ), acc{i} AS MATERIALIZED (
            SELECT * FROM acc{p} UNION ALL SELECT * FROM m{i}
        ), rem{i} AS MATERIALIZED (
            SELECT r.* FROM rem{p} r
            WHERE r.id_a NOT IN (SELECT id_a FROM acc{i})
              AND r.id_b NOT IN (SELECT id_b FROM acc{i})
        )"""
        return out

    _rounds = 8
    sql["q22_one_to_one_linkage"] = (
        _mutual_best_cte(
            """
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(((a.doc_id * 7 + b.doc_id * 13) % 97) / 97.0, 6)
                       AS score
            FROM documents a
            JOIN documents b
              ON b.doc_id IN (a.doc_id + 1, a.doc_id + 3, a.doc_id + 5)
            WHERE a.doc_id % 2 = 0""",
            _rounds,
        )
        + f" SELECT id_a, id_b, score FROM acc{_rounds}"
    )

    # q91: overlap counts (today's components × yesterday's entities)
    # matched 1:1 by the same unrolled mutual-best; unmatched components
    # mint 'new:' + component.
    sql["q91_stable_entity_ids"] = (
        _mutual_best_cte(
            """
            SELECT c.comp AS id_a, p.e AS id_b, count(*)::DOUBLE AS score
            FROM (SELECT doc_id AS id, doc_id - doc_id % 5 AS comp
                  FROM documents) c
            JOIN (SELECT doc_id AS id,
                         'E' || cast(doc_id - doc_id % 7 AS VARCHAR) AS e
                  FROM documents WHERE doc_id % 11 <> 0) p
              ON c.id = p.id
            GROUP BY c.comp, p.e""",
            _rounds,
        )
        + f""", cur AS MATERIALIZED (
            SELECT doc_id AS id, doc_id - doc_id % 5 AS comp FROM documents
        )
        SELECT cur.id AS doc_id,
               coalesce(a.id_b, 'new:' || cast(cur.comp AS VARCHAR))
                   AS entity_id
        FROM cur LEFT JOIN acc{_rounds} a ON a.id_a = cur.comp
    """
    )

    # q88: same deterministic snapshot mutation, same md5 fingerprints,
    # full-outer join + status CASE; delta-only (unchanged filtered).
    sql["q88_crawl_diff"] = """
        WITH old_side AS (
            SELECT doc_id, md5(coalesce(text, '')) AS fp FROM documents
        ), new_side AS (
            SELECT doc_id,
                   md5(coalesce(CASE WHEN doc_id % 13 = 0
                                     THEN coalesce(text, '') || ' v2'
                                     ELSE text END, '')) AS fp
            FROM documents WHERE doc_id % 17 <> 0
            UNION ALL
            SELECT doc_id + 100000,
                   md5('new page ' || cast(doc_id AS VARCHAR))
            FROM documents WHERE doc_id % 29 = 0
        ), j AS (
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   o.fp AS old_fp, n.fp AS new_fp
            FROM old_side o FULL OUTER JOIN new_side n
              ON o.doc_id = n.doc_id
        )
        SELECT doc_id,
               CASE WHEN old_fp IS NULL THEN 'added'
                    WHEN new_fp IS NULL THEN 'removed'
                    WHEN old_fp = new_fp THEN 'unchanged'
                    ELSE 'changed' END AS status,
               old_fp, new_fp
        FROM j
        WHERE NOT (old_fp IS NOT NULL AND new_fp IS NOT NULL
                   AND old_fp = new_fp)
    """

    # q89: exact per-lang deciles via the same domain-table + integer
    # threshold construction (cum*10 >= k*n; type-1 inverse CDF).
    sql["q89_exact_deciles"] = """
        WITH lens AS (
            SELECT lang, length(text)::BIGINT AS v
            FROM documents WHERE text IS NOT NULL
        ), counts AS (
            SELECT lang, v, count(*) AS c FROM lens GROUP BY lang, v
        ), cum AS (
            SELECT lang, v,
                   sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
                   sum(c) OVER (PARTITION BY lang) AS n
            FROM counts
        ), ks AS (SELECT unnest(range(1, 11)) AS k)
        SELECT cum.lang,
               ks.k::INT AS k,
               min(CASE WHEN cum.cum * 10 >= ks.k * cum.n
                        THEN cum.v END) AS text_len
        FROM cum CROSS JOIN ks
        GROUP BY cum.lang, ks.k
    """

    # q90: HLL replayed bit-exactly — md5 nibble-fold register index +
    # 40-bit rho window, fixed-point integer denominator, the SAME
    # Python-computed alpha literal as the operator, linear-counting
    # branch.  2^41 = 2199023255552; 2.5*m = 640.
    from semantic_entity_matching_spark.functions.sketch import hll_alpha

    _nib = (
        lambda i: f"(instr('0123456789abcdef', substr(hh, {i}, 1)) - 1)"
    )
    _idx = f"(16 * {_nib(1)} + {_nib(2)})"
    _v = " + ".join(
        f"{_nib(j)}::BIGINT * {16 ** (12 - j)}" for j in range(3, 13)
    )
    _num = repr(hll_alpha(256) * 256 * 256 * float(1 << 41))
    sql["q90_hll_distinct"] = f"""
        WITH h AS (
            SELECT lang, md5(text) AS hh
            FROM documents WHERE text IS NOT NULL
        ), rv AS (
            SELECT lang, {_idx} AS idx, ({_v}) AS v FROM h
        ), regs AS (
            SELECT lang, idx,
                   max(CASE WHEN v = 0 THEN 41
                            ELSE 41 - length(bin(v)) END) AS rho
            FROM rv GROUP BY lang, idx
        ), agg AS (
            SELECT lang,
                   sum(CAST(1 AS BIGINT) << CAST(41 - rho AS INT)) AS s,
                   count(*) AS observed
            FROM regs GROUP BY lang
        ), est AS (
            SELECT lang,
                   {_num} / ((256 - observed) * 2199023255552 + s)::DOUBLE
                       AS raw,
                   256 - observed AS zeros
            FROM agg
        )
        SELECT lang,
               round(CASE WHEN raw <= 640.0 AND zeros > 0
                          THEN 256.0 * ln(256.0 / zeros)
                          ELSE raw END, 4) AS distinct_est
        FROM est
    """

    # q92: count-min sketch replayed exactly — md5('j:'||tok) 32-bit
    # nibble-fold mod w per depth row, integer cell sums, min over rows.
    _fold8 = " + ".join(
        f"(instr('0123456789abcdef', substr(hh, {i}, 1)) - 1)::BIGINT"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    sql["q92_cms_token_freq"] = f"""
        WITH toks AS MATERIALIZED (
            SELECT unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x <> '')) AS tok
            FROM documents WHERE text IS NOT NULL
        ), hashed AS MATERIALIZED (
            SELECT md5(cast(r.j AS VARCHAR) || ':' || tok) AS hh, r.j
            FROM toks, (SELECT unnest(range(0, 4)) AS j) r
        ), cells AS MATERIALIZED (
            SELECT j, col, count(*)::BIGINT AS cnt FROM (
                SELECT j, ({_fold8}) % 1024 AS col FROM hashed
            ) GROUP BY j, col
        ), qtoks AS MATERIALIZED (
            SELECT DISTINCT tok FROM (
                SELECT unnest(list_filter(
                           regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents WHERE doc_id < 10 AND text IS NOT NULL
            )
        ), qhashed AS MATERIALIZED (
            SELECT tok, r.j,
                   md5(cast(r.j AS VARCHAR) || ':' || tok) AS hh
            FROM qtoks, (SELECT unnest(range(0, 4)) AS j) r
        ), qcells AS MATERIALIZED (
            SELECT tok, j, ({_fold8}) % 1024 AS col FROM qhashed
        )
        SELECT q.tok, min(coalesce(c.cnt, 0))::BIGINT AS est
        FROM qcells q LEFT JOIN cells c ON c.j = q.j AND c.col = q.col
        GROUP BY q.tok
    """

    # q93: the incremental day-2 loop's oracle is the UNSPLIT flagship
    # recompute — identical to q23's CTE chain.  Green = the incremental
    # composition (batch day1 + delta day2) reproduces the from-scratch
    # clustering byte-for-byte.
    sql["q93_incremental_pipeline"] = sql["q23_entity_clusters"]

    # q94: k-anonymity — same quasi bucketing, null-safe group join,
    # typed-NULL suppression below k=3.
    sql["q94_k_anonymity"] = """
        WITH q AS (
            SELECT doc_id, lang,
                   CAST(floor(length(text) / 200) AS BIGINT) AS len_bucket
            FROM documents
        ), s AS (
            SELECT lang, len_bucket, count(*) AS k
            FROM q GROUP BY lang, len_bucket
        )
        SELECT q.doc_id,
               CASE WHEN s.k < 3 THEN NULL ELSE q.lang END AS lang,
               CASE WHEN s.k < 3 THEN NULL ELSE q.len_bucket END
                   AS len_bucket,
               s.k::BIGINT AS anonymity_set_size
        FROM q JOIN s
          ON q.lang IS NOT DISTINCT FROM s.lang
         AND q.len_bucket IS NOT DISTINCT FROM s.len_bucket
    """

    # q95: two-snapshot SCD2 intervals derived set-theoretically — the
    # snapshot definitions are q88's mutation scheme.
    sql["q95_scd2_history"] = """
        WITH s1 AS (
            SELECT doc_id, md5(coalesce(text, '')) AS fp FROM documents
        ), s2 AS (
            SELECT doc_id,
                   md5(coalesce(CASE WHEN doc_id % 13 = 0
                                     THEN coalesce(text, '') || ' v2'
                                     ELSE text END, '')) AS fp
            FROM documents WHERE doc_id % 17 <> 0
            UNION ALL
            SELECT doc_id + 100000,
                   md5('new page ' || cast(doc_id AS VARCHAR))
            FROM documents WHERE doc_id % 29 = 0
        )
        -- unchanged: open interval from t=1000 survives
        SELECT s1.doc_id, s1.fp,
               1000::BIGINT AS valid_from, NULL::BIGINT AS valid_to
        FROM s1 JOIN s2 ON s1.doc_id = s2.doc_id AND s1.fp = s2.fp
        UNION ALL
        -- changed or removed: t=1000 interval closes at t=2000
        SELECT s1.doc_id, s1.fp, 1000::BIGINT, 2000::BIGINT
        FROM s1 LEFT JOIN s2 ON s1.doc_id = s2.doc_id
        WHERE s2.doc_id IS NULL OR s1.fp <> s2.fp
        UNION ALL
        -- changed or added: a new open interval starts at t=2000
        SELECT s2.doc_id, s2.fp, 2000::BIGINT, NULL::BIGINT
        FROM s2 LEFT JOIN s1 ON s1.doc_id = s2.doc_id
        WHERE s1.doc_id IS NULL OR s1.fp <> s2.fp
    """

    # q96: A-ES weighted sample — same md5 32-bit fold (never 0), same
    # ln(u)/w key, top-100 with id tiebreak.
    _fold8d = " + ".join(
        "(instr('0123456789abcdef',"
        f" substr(md5(cast(doc_id AS VARCHAR)), {i}, 1)) - 1)::BIGINT"
        f" * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    sql["q96_weighted_sample"] = f"""
        WITH w AS (
            SELECT doc_id, lang,
                   length(text)::DOUBLE AS wt,
                   (({_fold8d}) + 1) / 4294967297.0 AS u
            FROM documents
            WHERE text IS NOT NULL AND length(text) > 0
        )
        SELECT doc_id, lang, round(ln(u) / wt, 6) AS sample_key
        FROM w
        ORDER BY ln(u) / wt DESC, doc_id
        LIMIT 100
    """

    # q97: script profile — the Spark patterns use Java \uXXXX escapes;
    # RE2 wants literal characters, so convert the escapes for the twin.
    # Counting = len(regexp_extract_all), same overlap-free semantics.
    import re as _re97

    from semantic_entity_matching_spark.functions.textops import (
        SCRIPT_RANGES,
    )

    def _re2_class(pat: str) -> str:
        return _re97.sub(
            r"\\u([0-9A-Fa-f]{4})",
            lambda m: chr(int(m.group(1), 16)),
            pat,
        )

    _snips = ", ".join(f"'{s}'" for s in _SCRIPT_SNIPPETS)
    _cnt_cols = ",\n                   ".join(
        f"len(regexp_extract_all(_txt, '{_re2_class(p)}'))::BIGINT"
        f" AS n_{n}"
        for n, p in SCRIPT_RANGES
    )
    _greatest = ", ".join(f"n_{n}" for n, _ in SCRIPT_RANGES)
    _dom_chain = "\n                    ".join(
        f"WHEN n_{n} = _top THEN '{n}'" for n, _ in SCRIPT_RANGES
    )
    sql["q97_script_profile"] = f"""
        WITH base AS (
            SELECT doc_id,
                   coalesce(text, '') || ' ' ||
                   [{_snips}][(doc_id % 8)::INT + 1] AS _txt
            FROM documents
        ), counted AS (
            SELECT doc_id,
                   {_cnt_cols}
            FROM base
        ), topped AS (
            SELECT *, greatest({_greatest}) AS _top FROM counted
        )
        SELECT doc_id,
               {_greatest},
               CASE WHEN _top IS NULL OR _top = 0 THEN NULL
                    {_dom_chain}
               END AS script
        FROM topped
    """

    # q98: ARI/NMI closed forms over the contingency table, expression
    # structure mirrored from the operator so the driver-side doubles
    # agree (half-integer pair counts are exact; ln sums round at 6).
    sql["q98_partition_comparison"] = """
        WITH p AS (
            SELECT doc_id AS id, doc_id - doc_id % 5 AS pc FROM documents
        ), g AS (
            SELECT doc_id AS id, doc_id - doc_id % 7 AS gc FROM documents
        ), cont AS (
            SELECT pc, gc, count(*)::DOUBLE AS nij
            FROM p JOIN g ON p.id = g.id GROUP BY pc, gc
        ), a AS (
            SELECT pc, sum(nij) AS ai FROM cont GROUP BY pc
        ), b AS (
            SELECT gc, sum(nij) AS bj FROM cont GROUP BY gc
        ), s AS (
            SELECT (SELECT sum(nij) FROM cont) AS n,
                   (SELECT sum(nij * (nij - 1) / 2) FROM cont) AS snij,
                   (SELECT sum(nij * ln(nij)) FROM cont) AS lnij,
                   (SELECT sum(ai * (ai - 1) / 2) FROM a) AS sa,
                   (SELECT sum(ai * ln(ai)) FROM a) AS lna,
                   (SELECT sum(bj * (bj - 1) / 2) FROM b) AS sb,
                   (SELECT sum(bj * ln(bj)) FROM b) AS lnb
        )
        SELECT n::BIGINT AS n,
               round((snij - sa * sb / (n * (n - 1) / 2))
                     / ((sa + sb) / 2 - sa * sb / (n * (n - 1) / 2)), 6)
                   AS ari,
               round((ln(n) - (lna + lnb - lnij) / n)
                     / (((ln(n) - lna / n) + (ln(n) - lnb / n)) / 2), 6)
                   AS nmi
        FROM s
    """

    # q99: shrinkage closed form, expression structure mirrored
    # (tau*gm + s) / (tau + n); half of it is exact integer sums.
    sql["q99_domain_quality_prior"] = """
        WITH v AS (
            SELECT lang, length(text)::DOUBLE AS q
            FROM documents WHERE text IS NOT NULL
        ), pg AS (
            SELECT lang, count(*) AS n, sum(q) AS s FROM v GROUP BY lang
        ), t AS (
            SELECT sum(s) / sum(n) AS gm FROM pg
        )
        SELECT pg.lang, pg.n,
               round(pg.s / pg.n, 6) AS mean,
               round((10.0 * t.gm + pg.s) / (10.0 + pg.n), 6)
                   AS shrunk_mean
        FROM pg, t
    """

    # q100: the ORC fixture's CSV twin (q30/q35 committed-fixture
    # pattern); empty CSV cells are NULLs, booleans cast to INT.
    sql["q100_orc_scan"] = """
        SELECT CAST(row_id AS BIGINT) AS row_id, name, city,
               CAST(qty AS BIGINT) AS qty,
               round(price, 6) AS price,
               CAST(active AS INT) AS active
        FROM read_csv('/root/repo/fixtures/q100_catalog_utf8.csv',
                      header=true)
    """

    # q101: census + top-k with the identical deterministic order; int
    # division yields DOUBLE in DuckDB so share matches Spark's long/long.
    sql["q101_skew_report"] = """
        WITH keyed AS (
            SELECT CASE WHEN doc_id % 2 = 0 THEN 'hot'
                        ELSE lang || ':' || cast(doc_id % 11 AS VARCHAR)
                   END AS key
            FROM documents
        ), counts AS (
            SELECT key, count(*)::BIGINT AS cnt FROM keyed GROUP BY key
        ), t AS (
            SELECT sum(cnt) AS total FROM counts
        )
        SELECT key, cnt,
               round(cnt / total, 6) AS share,
               greatest(1, ceil(cnt / 100.0))::INT AS recommended_salts
        FROM counts, t
        ORDER BY cnt DESC, key ASC NULLS LAST
        LIMIT 10
    """

    # q102: same sentinel rewrite (RE2 backref \\1, 'g' flag) + split +
    # trim + drop-empty, exploded with a 1-based range -> 0-based idx.
    sql["q102_sentence_segmentation"] = """
        WITH s AS (
            SELECT doc_id,
                   list_filter(list_transform(
                       string_split(
                           regexp_replace(text, '([.!?])\\s+',
                                          '\\1' || chr(1), 'g'),
                           chr(1)),
                       x -> trim(x)), x -> x <> '') AS sents
            FROM documents WHERE doc_id < 50 AND text IS NOT NULL
        ), e AS (
            SELECT doc_id,
                   unnest(range(1, len(sents) + 1)) AS i,
                   sents
            FROM s
        )
        SELECT doc_id, (i - 1)::INT AS sent_idx, sents[i] AS sentence
        FROM e
    """

    # q103: the SAME phonetic key chain rendered for DuckDB by the shared
    # generator (one source of truth — a Spark-side change not mirrored in
    # phonetic_key_sql fails this contract, not just a unit test).
    from semantic_entity_matching_spark.functions.phonetic import (
        phonetic_key_sql,
    )

    sql["q103_phonetic_blocking"] = f"""
        WITH lastw AS (
            SELECT p_partkey,
                   (regexp_split_to_array(p_name, ' '))[-1] AS w
            FROM part
        ), words0 AS (
            SELECT w FROM lastw
            UNION ALL
            SELECT concat(substr(w, 1, 1), substr(w, 3)) AS w
            FROM lastw WHERE p_partkey % 7 = 0 AND length(w) >= 3
        ), words AS (
            SELECT DISTINCT w FROM words0
            WHERE w IS NOT NULL AND w <> ''
        ), keyed AS (
            SELECT w, {phonetic_key_sql('w')} AS key FROM words
        )
        SELECT a.w AS word_a, b.w AS word_b, a.key AS key,
               levenshtein(a.w, b.w)::INT AS distance
        FROM keyed a JOIN keyed b
          ON a.key = b.key AND a.w < b.w
        WHERE a.key IS NOT NULL
    """

    # q104: quadratic exact-jaccard ground truth over the q58/q21 shared
    # tokenization (distinct lowercased \\s+ tokens, empties removed;
    # empty/null token sets dropped — a 0.7 threshold can never admit them)
    sql["q104_simjoin_jaccard"] = """
        WITH toks AS (
            SELECT doc_id,
                   list_distinct(list_filter(
                       regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '')) AS tok
            FROM documents
        ), ne AS (
            SELECT doc_id, tok, len(tok) AS n
            FROM toks WHERE tok IS NOT NULL AND len(tok) > 0
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.tok, b.tok))::DOUBLE
                     / (a.n + b.n - len(list_intersect(a.tok, b.tok)))
                     AS j
            FROM ne a JOIN ne b ON a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, round(j, 6) AS jaccard
        FROM pairs WHERE j >= 0.7
    """

    # q105: quadratic levenshtein ground truth over the planted-mutant
    # union; abs-length prefilter is implied by ED<=2, so applying it in
    # the oracle is a correct optimization, not an assumption shared with
    # the engine's q-gram prefix logic.
    sql["q105_edit_distance_join"] = """
        WITH base AS (
            SELECT p_partkey AS id, p_name AS name
            FROM part WHERE p_partkey < 1000
            UNION ALL
            SELECT p_partkey + 1000000 AS id,
                   concat(substr(p_name, 1, 3), substr(p_name, 5)) AS name
            FROM part
            WHERE p_partkey < 1000 AND p_partkey % 5 = 0
              AND length(p_name) >= 5
        )
        SELECT a.id AS id_a, b.id AS id_b,
               levenshtein(a.name, b.name)::INT AS distance
        FROM base a JOIN base b
          ON a.id < b.id AND abs(length(a.name) - length(b.name)) <= 2
        WHERE levenshtein(a.name, b.name) <= 2
    """

    return sql
