"""Benchmark decontamination — flag corpus documents that overlap an
evaluation/benchmark set by shared token n-grams.

Standard LLM-training-data hygiene (the n-gram overlap rule popularized by
GPT-3 appendix C / PaLM / Llama data cards, all public): a training
document is contaminated when it shares enough n-token spans with any eval
document.  Same join shape as the gold-label match join (J3, reference
lib/evaluate.py gold lookup — ``search.evaluate_gold_ranks``): the eval side
is SMALL by definition, so its n-gram set is broadcast and the corpus side
never shuffles — the whole operator is scan → flatMap → broadcast-semi-join
→ one per-doc hash aggregate.

At 100 TB the corpus n-gram explode is the dominant cost and it is a pure
map (no exchange); the only shuffle is the final per-doc count aggregate,
which partial-aggregates map-side to one row per (partition, doc).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.textops import whitespace_tokens


def _token_ngrams_col(text_col: Column, n: int) -> Column:
    """DISTINCT lowercased whitespace-token n-grams of a text column as an
    array<string> — [] for null/short texts.  Pure Column expr (tokenize
    once, slice windows), identical shape to the chunking operator."""
    toks = whitespace_tokens(text_col)
    n_tok = F.size(toks)
    grams = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), n_tok - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def eval_ngram_set(
    eval_df: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """-> one-column DataFrame ``gram`` of distinct token n-grams over the
    whole eval set.  Eval/benchmark sets are small (10^3-10^6 rows); the
    result is meant to be broadcast."""
    return (
        eval_df.where(F.col(text_col).isNotNull())
        .select(F.explode(_token_ngrams_col(F.col(text_col), n)).alias("gram"))
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 8,
    max_overlap_ratio: float = 0.0,
) -> DataFrame:
    """Per-corpus-doc contamination report against the eval set:

    -> (id, n_ngrams, n_overlap, overlap_ratio, contaminated)

    * ``n_ngrams``      — distinct token ``n``-grams of the document
    * ``n_overlap``     — how many of them appear ANYWHERE in the eval set
    * ``overlap_ratio`` — n_overlap / n_ngrams (NULL when the doc has no
      n-grams, i.e. null/short text — nothing to measure)
    * ``contaminated``  — overlap_ratio > ``max_overlap_ratio`` (the
      GPT-3-style rule is "any overlap" = threshold 0.0; raise it to
      tolerate boilerplate collisions)

    Plan: corpus docs explode their distinct n-grams (map-only), inner-join
    the broadcast eval n-gram set, count per doc; docs with zero overlap
    are restored by a left join against the corpus base (also no extra
    shuffle on the corpus side beyond the count aggregate's).  Filter the
    corpus with ``where(~contaminated)`` downstream.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    grams = _token_ngrams_col(F.col(text_col), n)
    base = corpus.select(
        F.col(id_col),
        F.size(grams).alias("n_ngrams"),
        grams.alias("_grams"),
    )
    evals = eval_ngram_set(eval_df, text_col=eval_text_col, n=n)
    overlap = (
        base.select(id_col, F.explode(F.col("_grams")).alias("gram"))
        .join(F.broadcast(evals), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    ratio = F.when(
        F.col("n_ngrams") > 0,
        F.col("n_overlap").cast("double") / F.col("n_ngrams"),
    )
    return (
        base.drop("_grams")
        .join(overlap, id_col, "left")
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0)))
        .withColumn("overlap_ratio", ratio)
        .withColumn(
            "contaminated",
            F.coalesce(
                F.col("overlap_ratio") > F.lit(float(max_overlap_ratio)),
                F.lit(False),
            ),
        )
        .select(
            id_col,
            F.col("n_ngrams").cast("bigint").alias("n_ngrams"),
            F.col("n_overlap").cast("bigint").alias("n_overlap"),
            "overlap_ratio",
            "contaminated",
        )
    )
