"""Banding-recall re-verification for the q21 contract.

q21's oracle equivalence ("LSH banding + exact verify == quadratic
jaccard >= t") rests on banding recall being exactly 1 on the corpus at
hand.  That is an EMPIRICAL property: per-pair miss probability at j=0.9
with the 16x8 two-family config is ~1e-4 per family and collapses toward
1e-8 at the j~0.95+ where real duplicate families live, but a regenerated
fixture could in principle plant a boundary pair that banding misses.

Run this after ANY fixture regeneration (see FIXTURES.md):

    python tools/verify_banding_recall.py [sf_dir] [threshold]

It compares the candidate-pair set (the same lifted-cap config q21 uses)
against the quadratic all-pairs truth computed with the same exact verify
(size-ratio prefilter makes the quadratic side affordable), prints both
counts, and exits non-zero listing every missed true pair.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 0.9

    from semantic_entity_matching_spark.operators.blocking import (
        LSHConfig,
        minhash_block_keys,
    )
    from semantic_entity_matching_spark.operators.dedup import (
        ngram_jaccard_verify,
    )
    from semantic_entity_matching_spark.operators.pairs import (
        PairGenConfig,
        generate_candidate_pairs,
    )
    from semantic_entity_matching_spark.session import get_session

    spark = get_session(app_name="verify-banding-recall")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # quadratic truth: every unordered pair, exact verify (the prefilter
    # keeps this affordable — only size-compatible pairs touch arrays)
    ids = docs.select("doc_id")
    all_pairs = (
        ids.select(F.col("doc_id").alias("id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("id_b")))
        .where(F.col("id_a") < F.col("id_b"))
    )
    truth = (
        ngram_jaccard_verify(
            all_pairs, docs, id_col="doc_id", text_col="text",
            min_jaccard=threshold,
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b")
    )

    # the q21 candidate set (lifted cap, default LSH config)
    blocks = minhash_block_keys(
        docs, id_col="doc_id", text_col="text", config=LSHConfig()
    )
    cand = generate_candidate_pairs(
        blocks,
        id_col="doc_id",
        config=PairGenConfig(max_block_size=1_000_000, hot_block_threshold=20),
    ).select("id_a", "id_b")

    missed = truth.join(cand, ["id_a", "id_b"], "left_anti")
    n_truth = truth.count()
    n_missed = missed.count()
    print(
        f"sf_dir={sf_dir} threshold={threshold}: "
        f"true_pairs={n_truth} missed_by_banding={n_missed} "
        f"recall={1.0 if n_truth == 0 else (n_truth - n_missed) / n_truth:.6f}"
    )
    if n_missed:
        for r in missed.limit(50).collect():
            print(f"MISSED ({r['id_a']}, {r['id_b']})")
        print(
            "banding recall < 1: the q21 oracle equivalence does NOT hold "
            "on this corpus — raise LSHConfig bands for the contract or "
            "regenerate the fixture"
        )
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
