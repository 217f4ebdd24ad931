"""Deduplication operators for training-data pipelines.

Every operator returns DataFrames with stable, aliased columns
(driver-contract friendly):

* exact          — md5/xxhash64 group on normalized text (one shuffle)
* token-set      — MinHash-LSH, cross-corpus and containment near-dup plus
                   the n-gram Jaccard verifier, all on the token-set kernel
                   (operators/tokensets.py: token sets, rarest-first order,
                   overlap verify)
* simhash        — 64-bit simhash + hamming-ball grouping via band keys
* embedding      — cosine near-dup and SemDeDup over an embedding column
* lines / spans  — C4-style line dedup and exact-substring window stats
* survivors      — one keep-best representative per duplicate cluster

Scale shape: every family is (cheap per-row keying in one pass) →
(equi-join on key) → (verify/aggregate).  No cross joins, no driver loops.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.textops import (
    fingerprint_hex,
    whitespace_tokens,
)
from semantic_entity_matching_spark.operators.ann import centroid_cosines
from semantic_entity_matching_spark.operators.blocking import (
    LSHConfig,
    minhash_block_keys,
)
from semantic_entity_matching_spark.operators.pairs import (
    PairGenConfig,
    generate_candidate_pairs,
    key_pairs,
)
from semantic_entity_matching_spark.operators.tokensets import (
    _distinct_tokens,
    _size_ratio_keep,
    jaccard,
    overlap_verify,
    token_sets,
)
from semantic_entity_matching_spark.plans.checkpoint import materialize


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of rows with identical normalized text.

    -> (content_hash, keep_id, dup_count): keep_id = min id (the canonical
    survivor), dup_count >= 2.  One hash-aggregate shuffle on the 32-byte
    hash, never on the raw text."""
    return (
        df.select(F.col(id_col), fingerprint_hex(text_col).alias("content_hash"))
        .where(F.col("content_hash").isNotNull())
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(id_col).alias("dup_count"),
        )
        .where(F.col("dup_count") >= 2)
    )


def drop_exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id row of each identical-content group (plus all
    null-text rows untouched).

    Aggregate + semi-join, NOT a window over the hash: a mass-duplicated
    page (real crawls carry 1e9 copies of one boilerplate page) would
    pile its whole group into one unsplittable window sort partition,
    while the min() aggregate combines map-side and the semi-join is an
    ordinary splittable hash join on (hash, id)."""
    hashed = df.withColumn("_h", fingerprint_hex(text_col))
    keepers = (
        hashed.where(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.min(F.col(id_col)).alias(id_col))
    )
    kept = hashed.join(keepers, ["_h", id_col], "semi")
    return kept.unionByName(hashed.where(F.col("_h").isNull())).drop("_h")


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup
# ---------------------------------------------------------------------------

def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lsh: LSHConfig | None = None,
    jaccard_threshold: float = 0.7,
    pairgen: PairGenConfig | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with true token-set
    Jaccard -> (id_a, id_b, jaccard) (same schema at every threshold).

    The exact size-ratio bound (:func:`_size_ratio_keep`) is pushed all
    the way into CANDIDATE GENERATION: per-doc distinct-token counts ride
    the block rows into the self-join and provably-below-threshold pairs
    are pruned BEFORE the pair-dedup shuffle ever carries them (at sf0.1:
    5.7M -> 2.9M rows) and before any token array is joined — zero recall
    loss.  Eager at construction: see
    :func:`plans.checkpoint.materialize`."""
    lsh = lsh or LSHConfig()
    # single-split corpora would run the signature pass (and the shared
    # tokenization below) in one task; no-op when the scan is parallel
    from semantic_entity_matching_spark.session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    # ONE token-set table serves the size counts on both pair sides and
    # both verify sides
    sets = token_sets(df, id_col, _distinct_tokens(text_col))
    blocks = minhash_block_keys(df, id_col=id_col, text_col=text_col, config=lsh)
    pair_filter = None
    if jaccard_threshold > 0.0:
        # no pruning is sound at threshold 0
        blocks = blocks.join(
            sets.select(F.col("_id").alias(id_col), F.col("_n").alias("_ntok")),
            id_col,
        )
        pair_filter = _size_ratio_keep(
            F.col("_ntok_a"), F.col("_ntok_b"), jaccard_threshold
        )
    # The pair generator SELF-JOINS the block table, and each join side —
    # plus each side's block-size aggregate — re-executes the whole
    # upstream subtree: without a lineage cut the mapInPandas signature
    # pass (the most expensive Python stage of this operator) ran FOUR
    # times per query.  The eager cut materializes the narrow
    # (id, block_key[, _ntok]) rows once; every downstream consumer reads
    # the cached RDD.  run_pipeline gets the same effect from its stage
    # cuts.
    blocks = materialize(blocks, "minhash_blocks")
    pairs = generate_candidate_pairs(
        blocks, id_col=id_col, config=pairgen, keep_block_key=False,
        pair_filter=pair_filter,
    )
    return (
        overlap_verify(pairs, sets)
        .select("id_a", "id_b", jaccard().alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
    )


# ---------------------------------------------------------------------------
# cross-corpus near-dup (dedup a new crawl against earlier dumps)
# ---------------------------------------------------------------------------

def cross_corpus_near_duplicates(
    corpus: DataFrame,
    reference: DataFrame,
    corpus_id: str = "doc_id",
    ref_id: str = "ref_id",
    text_col: str = "text",
    ref_text_col: str | None = None,
    lsh: LSHConfig | None = None,
    jaccard_threshold: float = 0.7,
    pairgen: PairGenConfig | None = None,
) -> DataFrame:
    """Near-duplicate matches BETWEEN two corpora -> (corpus_id, ref_id,
    jaccard >= threshold).

    The cross-dump dedup step every crawl pipeline runs (C4/RefinedWeb
    drop pages already seen in earlier snapshots; the reference repo's
    analog is re-ingest suppression via idempotent create-ops,
    lib/ingest.py:63,90-94 — here the match is NEAR-dup, not just exact).
    Candidates come from the SAME MinHash band keys as within-corpus
    near-dup (one keying pass per side), joined A×B on the band key —
    never a self-join, so candidate volume is |A_k|·|B_k| per key.

    Skew/cap discipline (same Zipf-head pattern as
    ``pairs.block_pair_stream``): per-key sizes are computed per SIDE;
    only keys over the threshold on EITHER side ride a (full-outer,
    broadcast-hinted) head table — a key is dropped when either side
    exceeds ``max_block_size`` (boilerplate bands), and the A×B join is
    the two-table :func:`pairs.key_pairs` sized by the larger side: a key
    over ``hot_block_threshold`` spreads its reference rows across
    ``pairs.salt_count`` reducers and replicates its corpus rows to
    each.  Cold keys (absent from the head) never ride any annotation
    join and take one salt.  The exact size-ratio bound prunes
    candidates AT the block join, before the (corpus_id, ref_id) dedup
    exchange.

    Verification is the kernel's true unigram Jaccard
    (:func:`tokensets.overlap_verify`); banding is candidate generation
    only, so at recall-1 thresholds the output is the exact cross-corpus
    near-dup set.  Eager at construction: see
    :func:`plans.checkpoint.materialize`.
    """
    lsh = lsh or LSHConfig()
    cfg = pairgen or PairGenConfig()
    rtext = ref_text_col or text_col

    # single-split inputs would run the signature/tokenize passes in one
    # task; no-op when the scans are already parallel
    from semantic_entity_matching_spark.session import ensure_min_parallelism

    corpus = ensure_min_parallelism(corpus)
    reference = ensure_min_parallelism(reference)

    # each side's key table feeds its Zipf-head aggregate AND the block
    # join — cut lineage once per side so the Python signature pass runs
    # once, not once per consumer
    cb = materialize(
        minhash_block_keys(
            corpus, id_col=corpus_id, text_col=text_col, config=lsh
        ).select(F.col(corpus_id).alias("_id"), "block_key"),
        "cross_corpus_blocks",
    )
    rb = materialize(
        minhash_block_keys(
            reference, id_col=ref_id, text_col=rtext, config=lsh
        ).select(F.col(ref_id).alias("_id"), "block_key"),
        "cross_reference_blocks",
    )

    c_head = (
        cb.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("_cn"))
        .where(F.col("_cn") > cfg.head_threshold)
    )
    r_head = (
        rb.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("_rn"))
        .where(F.col("_rn") > cfg.head_threshold)
    )
    # keys needing annotation = the union of the two Zipf heads (bounded
    # by side_rows/threshold each); everything else is cold on BOTH sides
    head = F.broadcast(
        c_head.join(r_head, "block_key", "full").select(
            "block_key",
            F.coalesce(F.col("_cn"), F.lit(0)).alias("_cn"),
            F.coalesce(F.col("_rn"), F.lit(0)).alias("_rn"),
        )
    )

    def annotate(side: DataFrame, sets: DataFrame) -> DataFrame:
        # keep keys within the cap on both sides, sized by the larger side
        # (null = cold), with each row's token count for the ratio bound
        return (
            side.join(head, "block_key", "left")
            .where(
                F.col("_cn").isNull()
                | (
                    (F.col("_cn") <= cfg.max_block_size)
                    & (F.col("_rn") <= cfg.max_block_size)
                )
            )
            .select("_id", "block_key", F.greatest("_cn", "_rn").alias("_size"))
            .join(sets.select("_id", F.col("_n").alias("_ntok")), "_id")
        )

    # one token-set table per side: its sizes serve the ratio bound here
    # and its sets the verify joins below
    ta = token_sets(corpus, corpus_id, _distinct_tokens(text_col))
    tb = token_sets(reference, ref_id, _distinct_tokens(rtext))
    cand = key_pairs(
        annotate(cb, ta), annotate(rb, tb), id_col="_id", size="_size",
        pair_filter=_size_ratio_keep(
            F.col("_ntok_a"), F.col("_ntok_b"), jaccard_threshold
        ) if jaccard_threshold > 0.0 else None,
        threshold=cfg.hot_block_threshold,
    ).select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    return (
        overlap_verify(cand, ta, tb)
        .select(
            F.col("id_a").alias(corpus_id),
            F.col("id_b").alias(ref_id),
            jaccard().alias("jaccard"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def cross_corpus_dedup(
    corpus: DataFrame,
    reference: DataFrame,
    corpus_id: str = "doc_id",
    ref_id: str = "ref_id",
    text_col: str = "text",
    ref_text_col: str | None = None,
    lsh: LSHConfig | None = None,
    jaccard_threshold: float = 0.7,
    pairgen: PairGenConfig | None = None,
) -> DataFrame:
    """Corpus rows that are NOT near-duplicates of any reference row
    (schema = the corpus schema, untouched).  Matches -> one distinct id
    projection -> LEFT ANTI join; null/blank corpus rows emit no band
    keys, match nothing, and survive.  Eager at construction: see
    :func:`plans.checkpoint.materialize`."""
    matches = cross_corpus_near_duplicates(
        corpus,
        reference,
        corpus_id=corpus_id,
        ref_id=ref_id,
        text_col=text_col,
        ref_text_col=ref_text_col,
        lsh=lsh,
        jaccard_threshold=jaccard_threshold,
        pairgen=pairgen,
    )
    matched_ids = matches.select(F.col(corpus_id)).distinct()
    return corpus.join(matched_ids, corpus_id, "left_anti")


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def _ascii_tokens(text: str) -> list[str]:
    r"""ASCII-\s tokenization — the same whitespace class Java regex and
    DuckDB RE2 use for '\s+', unlike str.split() (Unicode whitespace).
    Keeps the pure-Python oracles byte-consistent with the JVM/SQL paths
    on text containing exotic whitespace (e.g. U+00A0)."""
    import re

    return [t for t in re.split(r"\s+", str(text), flags=re.ASCII) if t]


def jaccard_py(a: str, b: str) -> float:
    """Pure-Python oracle of :func:`tokensets.jaccard` (shared with tests)."""
    if a is None or b is None:
        return 0.0
    sa, sb = (set(_ascii_tokens(x.lower())) for x in (a, b))
    if not sa and not sb:
        return 1.0
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def ngram_jaccard_verify(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float | None = None,
) -> DataFrame:
    """Attach true token-set Jaccard to candidate (id_a, id_b) pairs: the
    kernel's :func:`tokensets.overlap_verify` over the records' token
    sets, tokenized ONCE PER DOCUMENT (not per pair).  Semantics identical
    to :func:`jaccard_py` (both-empty => 1.0, one-empty/null => 0.0).

    ``min_jaccard`` enables the EXACT size-ratio prefilter
    (:func:`_size_ratio_keep`): pairs failing the bound are pruned using
    only the cheap per-doc counts — their arrays are never joined, and no
    pair with jaccard >= min_jaccard is ever lost.  The pruned pairs are
    simply absent from the output (they could only ever carry jaccard <
    min_jaccard).  Eager at construction: see
    :func:`plans.checkpoint.materialize`."""
    sets = token_sets(records, id_col, _distinct_tokens(text_col))
    if min_jaccard is not None and min_jaccard > 0.0:
        # counts-only prefilter join: (id, _n) is a handful of bytes per
        # doc — prune before any array ships
        def counts(s: str) -> DataFrame:
            return sets.select(
                F.col("_id").alias(f"id_{s}"), F.col("_n").alias(f"_c{s}")
            )

        pairs = (
            pairs.join(counts("a"), "id_a")
            .join(counts("b"), "id_b")
            .where(_size_ratio_keep(F.col("_ca"), F.col("_cb"), min_jaccard))
            .drop("_ca", "_cb")
        )
    return (
        overlap_verify(pairs, sets)
        .withColumn("jaccard", jaccard())
        .drop("_inter", "_na", "_nb")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_py(text: str, bits: int = 64) -> int:
    """Charikar simhash over word features (md5-based, deterministic).
    Bit voting is vectorized: one (n_tokens, 64) matrix op per doc.

    The per-token 64-bit hash is the first 8 md5 bytes (big-endian) so the
    identical signature is reproducible in ANSI SQL (DuckDB oracle:
    nibble-fold of ``md5(token)``) — every token OCCURRENCE votes, matching
    a plain ``unnest`` of the token list."""
    import hashlib

    if text is None:
        return 0
    tokens = _ascii_tokens(str(text).lower())
    if not tokens:
        return 0
    hashes = np.array(
        [
            int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
            for t in tokens
        ],
        dtype=np.uint64,
    )
    bit_idx = np.arange(bits, dtype=np.uint64)
    votes = ((hashes[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
    acc = (2 * votes - 1).sum(axis=0)
    return int(((acc > 0).astype(np.uint64) << bit_idx).sum())


def with_simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """Append a 64-bit simhash column (mapInPandas, vectorized inner loop)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            batch = batch.copy()
            batch["simhash"] = [
                (v - (1 << 64)) if v >= (1 << 63) else v  # two's-complement
                for v in (simhash_py(t, bits) for t in batch[text_col])
            ]
            yield batch

    # append a typed StructField (robust to nested/struct input schemas,
    # unlike simpleString() surgery)
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField("simhash", LongType())]
    )
    return df.mapInPandas(gen, schema=out_schema)


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Pairs within hamming distance via banding: split the 64-bit hash into
    n_bands chunks — any pair with <= (n_bands-1) differing bands shares a
    band key (pigeonhole guarantees full recall when max_hamming < n_bands).
    -> (id_a, id_b, hamming).

    Null/blank documents are excluded BEFORE banding: they would all share
    simhash 0 and emit an O(n²) false near-dup clique (and the SQL oracle's
    token CTE naturally drops them)."""
    df = df.where(
        F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    )
    # single-split corpora would run the simhash pass in one task
    from semantic_entity_matching_spark.session import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    hashed = with_simhash(df, id_col, text_col).select(id_col, "simhash")
    # the band self-join below re-executes its upstream once per side:
    # cut lineage so the Python simhash pass runs once, not twice
    hashed = materialize(hashed, "simhash")
    width = 64 // n_bands
    bands = hashed.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"sh{b}:"),
                        F.conv(
                            F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                                F.lit((1 << width) - 1)
                            ).cast("string"),
                            10,
                            16,
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("block_key"),
    )
    # band keys carry no size: every band is cold (one salt)
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        key_pairs(bands, id_col=id_col, pair_filter=hamming <= max_hamming)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = None,
    cosine_threshold: float = 0.95,
    score_round: int | None = None,
    quantization: str | None = None,
) -> DataFrame:
    """Cosine near-dup pairs over an array<float> column.

    The self-join is :func:`pairs.key_pairs` (buckets carry no size, so
    each is cold).  With ``bucket_col`` it is per-bucket (an LSH bucket, a
    label, a shard key...) — the scale path.  Without it every row shares
    one key, a full self-join: only for small/test inputs.

    ``score_round`` rounds the cosine BEFORE thresholding (round-before-rank
    convention): a pair within 1 ulp of the threshold then resolves
    identically in every engine/partitioning.

    ``quantization`` shrinks the SHUFFLE PAYLOAD (reference EmbeddingType,
    lib/bedrock/types.py:20-27): 'int8' carries ``array<tinyint>`` through
    the self-join (4× fewer vector bytes) and scores with int8 cosine;
    'binary' carries packed sign bits (32× fewer) and scores with the
    sign-sketch cosine estimate.  Both are approximate — use them as the
    pre-scoring pass at 100 TB and rerank survivors with exact float."""
    from semantic_entity_matching_spark.functions.quantize import (
        quantize,
        quantized_cosine,
    )
    from semantic_entity_matching_spark.functions.similarity import (
        cosine_udf_filter_safe,
    )

    # Python-UDF scores use the filter-safe (non-deterministic-marked)
    # variants: the threshold filter below otherwise makes Catalyst
    # evaluate the UDF twice per row (guide §4.4; measured: 4
    # ArrowEvalPython nodes in the q20 plan, 2 after the fix)
    cosine = cosine_udf_filter_safe
    if quantization not in (None, "float"):
        cosine = quantized_cosine(quantization)
        df = quantize(df, vec_col, quantization, out_col="_qv")
        vec_col = "_qv"
    key = bucket_col or "_all"
    joined = key_pairs(
        df.select(
            id_col,
            (F.col(bucket_col) if bucket_col else F.lit(0)).alias(key),
            F.col(vec_col).alias("_v"),
        ),
        id_col=id_col, key=key,
    )
    cos = cosine(F.col("_v_a"), F.col("_v_b"))
    if score_round is not None:
        cos = F.round(cos, score_round)
    return (
        joined.withColumn("cosine", cos)
        .where(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# corpus-wide line-level dedup (C4-style)
# ---------------------------------------------------------------------------

def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """C4-style exact line dedup across the WHOLE corpus.

    Every line that occurs more than once anywhere in the corpus is kept
    only at its first occurrence — "first" meaning the smallest
    ``(id, position)`` pair, so survivors are deterministic under any
    partitioning.  This is the boilerplate-removal step of C4/RefinedWeb
    cleaning ("Subscribe to our newsletter" appears 10^9 times in a crawl;
    one copy survives).  Blank/whitespace-only lines are dropped outright.

    Returns one row per input document that has at least one non-blank
    line: ``(id, n_lines, n_kept, text_dedup)`` where ``text_dedup`` is
    the surviving lines re-joined in original order (null when every line
    of the document was claimed by an earlier document).

    Scale shape — deliberately NOT a ``row_number`` window over the line:
    a window partitioned by line content has no partial aggregation and
    must sort every occurrence of the hottest boilerplate line inside one
    partition (unsplittable skew).  Instead the first occurrence per line
    is ``groupBy(line).agg(min(struct(id, pos)))`` — map-side combine
    collapses each partition's duplicates BEFORE the exchange (struct min
    lowers to a partial SortAggregate: an in-partition external sort,
    spill-safe where a hash buffer is not), AQE can split residual skew,
    and the aggregate's output IS the survivor set
    (``(min.id, min.pos, line)``), so no join back against the exploded
    corpus is needed.  Total cost: two partially-aggregated exchanges
    (per-line firsts, per-doc reassembly) plus one doc-keyed join for the
    pre-dedup line counts — each strictly smaller than the exploded input.
    """
    # F.split takes a REGEX while array_join below re-joins with the
    # literal separator — quote regex metachars so e.g. line_sep='|' splits
    # on the literal pipe instead of between every character.  '\n' and
    # other plain chars pass through untouched (q50's oracle contract).
    sep_pattern = "".join(
        "\\" + c if c in r".^$*+?()[]{}|\&-~" else c for c in line_sep
    )
    lines = (
        df.select(F.col(id_col), F.col(text_col))
        .where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep_pattern)).alias(
                "pos", "line"
            ),
        )
        .withColumn("line", F.trim("line"))
        .where(F.col("line") != "")
    )
    # per-doc pre-dedup line counts (map-side combined, narrow payload)
    counts = lines.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    # first (id, pos) per distinct line == the survivor set itself
    firsts = lines.groupBy("line").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias(
            "f"
        )
    )
    kept = firsts.select(
        F.col("f.i").alias(id_col), F.col("f.p").alias("pos"), "line"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            line_sep,
        ).alias("text_dedup"),
    )
    return (
        counts.join(rebuilt, id_col, "left")
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)))
        .select(id_col, "n_lines", "n_kept", "text_dedup")
    )


# ---------------------------------------------------------------------------
# near-dup survivor selection (keep-best canonicalization)
# ---------------------------------------------------------------------------

def _mark_one_survivor(
    df: DataFrame, component_col: str, key: Column
) -> DataFrame:
    """keep=1 on the per-component row MINIMIZING ``key`` (the key must
    embed the id so the order is total — exactly one row matches).

    Aggregate + join, NOT a window over the component: a chain-merged
    mega-component (the failure mode the cohesion audit q42 exists to
    surface) would pile into one unsplittable window sort partition,
    while min() combines map-side and a skewed join partition splits
    under AQE.  The join is null-safe so a NULL component forms one
    group, exactly as the window's partitionBy would."""
    winners = (
        df.groupBy(component_col)
        .agg(F.min(key).alias("_wk"))
        .withColumnRenamed(component_col, "_wc")
    )
    return (
        df.join(winners, F.col(component_col).eqNullSafe(F.col("_wc")))
        .withColumn("keep", (key == F.col("_wk")).cast("int"))
        .drop("_wc", "_wk")
    )


def keep_best_representatives(
    assignments: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    component_col: str = "component",
) -> DataFrame:
    """Mark ONE survivor per duplicate cluster: the row with the highest
    ``score_col`` (ties broken by smallest ``id_col``) gets ``keep = 1``,
    every other cluster member 0.

    This is the decision step a dedup pipeline actually ships: near-dup
    detection (MinHash / SimHash / cosine) groups documents, and the
    corpus keeps the best representative of each group (e.g. the longest
    page of a boilerplate family, C4/RefinedWeb-style).  Input is any
    ``(id, component, score)`` assignment — compose with
    ``connected_components`` over near-dup pairs.

    Scale shape: a min() aggregate picks each cluster's winner and a
    null-safe join marks it — never a window over the component, so a
    chain-merged mega-component (the q42 cohesion-audit failure mode)
    costs a splittable skew-join partition instead of one unsplittable
    sort task.  The exchange payload is the narrow (id, component,
    score) triple either way.
    """
    # window-desc-nulls-last semantics: non-null scores first (flag 0),
    # then score descending (negated ascending), ties smallest id.  (NaN
    # scores are out of contract: every score the engine produces is a
    # bounded similarity; a NaN would win a desc window but lose min() —
    # callers feeding external scores should scrub NaN first.)
    key = F.struct(
        F.col(score_col).isNull().cast("int").alias("null_last"),
        (-F.coalesce(F.col(score_col).cast("double"), F.lit(0.0))).alias(
            "neg_score"
        ),
        F.col(id_col).alias("id"),
    )
    return _mark_one_survivor(assignments, component_col, key)


# ---------------------------------------------------------------------------
# exact-substring (rolling k-token window) duplicate spans
# ---------------------------------------------------------------------------

def duplicate_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    min_docs: int = 2,
    use_md5: bool = False,
) -> DataFrame:
    """Exact-substring duplication signal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" family,
    window-hash form): every length-``k`` token window is keyed, and a
    window is *duplicated* when the identical window occurs in at least
    ``min_docs`` distinct documents.

    -> (id, n_windows, n_dup_windows, dup_fraction, flagged) — one row
    per non-null-text document; docs shorter than ``k`` tokens carry
    ``n_windows = 0`` and a NULL fraction.

    Scale shape: window expansion is a pure flatMap emitting one key per
    token position.  The default key is ``xxhash64`` applied DIRECTLY to
    the length-``k`` token-array slice — no per-window string is ever
    materialized (the old ``array_join`` form built a ~``k*avg_token``-
    byte string per position just to hash it; at 100 TB that is the
    pipeline's biggest transient allocation).  ``use_md5=True`` swaps in
    md5-of-joined-string for engine-portable oracles at contract scale;
    the two keys induce identical equality classes because whitespace
    tokens cannot contain the join separator.  Then a
    (key, doc) partial aggregation collapses in-doc repeats map-side, the
    distinct-doc count is a second aggregate on the key, and the flagged
    keys join back to the (key, doc) table on the SAME key partitioning
    — no window function, no global sort, and boilerplate hot keys cost
    one AQE-splittable reducer.  Total: three key-partitioned exchanges
    plus one id-keyed join, independent of corpus size per row.

    Unlike the suffix-array formulation this does not locate maximal
    duplicated spans — it measures per-document duplication mass, the
    decision signal C4/RefinedWeb-class cleaning acts on.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = whitespace_tokens(text_col)
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), toks.alias("_t"))
    )
    if use_md5:
        def window_key(i):  # engine-portable oracle twin (string + md5)
            return F.md5(F.array_join(F.slice("_t", i + 1, k), " "))
    else:
        def window_key(i):  # hash the token slice itself — zero strings
            return F.xxhash64(F.slice("_t", i + 1, k))

    grams = (
        base.where(F.size("_t") >= k)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - F.lit(k)),
                    window_key,
                )
            ).alias("_h"),
        )
    )
    per = grams.groupBy("_h", "_id").agg(
        F.count(F.lit(1)).alias("_c")
    )
    dup_keys = (
        per.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("_h")
    )
    dup_per_doc = (
        per.join(dup_keys, "_h")
        .groupBy("_id")
        .agg(F.sum("_c").alias("_dup"))
    )
    n_windows = F.greatest(F.size("_t") - F.lit(k - 1), F.lit(0))
    out = (
        base.select("_id", n_windows.cast("bigint").alias("n_windows"))
        .join(dup_per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_windows",
            F.coalesce(F.col("_dup"), F.lit(0)).cast("bigint").alias(
                "n_dup_windows"
            ),
            F.when(
                F.col("n_windows") > 0,
                F.round(
                    F.coalesce(F.col("_dup"), F.lit(0))
                    / F.col("n_windows"),
                    6,
                ),
            ).alias("dup_fraction"),
            (F.coalesce(F.col("_dup"), F.lit(0)) > 0).cast("int").alias(
                "flagged"
            ),
        )
    )
    return out


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic dedup
# ---------------------------------------------------------------------------

def hash_centroid_vectors(
    nlist: int, dim: int, prefix: str = "cell-"
) -> list[list[float]]:
    """Deterministic centroid table for tests/oracles: the md5-hash
    embedding (``HashEmbeddingProvider`` scheme, reference
    test_services_search_service_integration.py:188-202) of the strings
    ``'{prefix}0'..'{prefix}{nlist-1}'``.  Every value ``k/128 - 1`` is
    exact in float32 AND reproducible in DuckDB from ``md5()`` hex (the
    q29 oracle trick), so cluster assignment is engine-portable bit for
    bit.  Production callers pass ``train_ivf_centroids(...).tolist()``
    instead — the operator only sees a list of vectors."""
    from semantic_entity_matching_spark.functions.embed import (
        HashEmbeddingProvider,
    )

    prov = HashEmbeddingProvider(dim=dim)
    return [prov.embed_one(f"{prefix}{j}") for j in range(nlist)]


def assign_nearest_centroid(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched BLAS map →
    ``(id, vec, cell, centroid_cos)``: zero shuffle, the centroid matrix
    rides in the UDF closure (nlist × dim floats — KBs to MBs, fine for
    nlist in the thousands, unlike literal-array codegen which explodes
    the Catalyst expression tree when the plan is later self-joined).
    Same shape as the IVF assigner (``operators/ann.py:_cell_assign_df``)
    but keeps the vector and the winning cosine for downstream scoring.

    ``score_round`` rounds every centroid cosine BEFORE the argmax
    (round-before-rank convention), half-away-from-zero to match Spark's
    ``F.round``/DuckDB's ``round``, so near-ties resolve identically in
    every engine/partitioning; ties → lowest cell index (numpy argmax is
    first-wins).  Null-vector rows are excluded (they have no nearest
    centroid; upstream audits count them)."""
    if len(centroids) == 0:
        raise ValueError("centroids must be non-empty")
    cn = np.asarray(centroids, dtype=np.float64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if batch.empty:
                continue
            sims = centroid_cosines(np.vstack(batch[vec_col].to_numpy()), cn)
            if score_round is not None:
                # half-away-from-zero (Spark F.round / DuckDB round), NOT
                # numpy's half-even
                p = 10.0**score_round
                sims = np.sign(sims) * np.floor(np.abs(sims) * p + 0.5) / p
            cell = sims.argmax(axis=1)  # first max wins -> lowest cell
            yield pd.DataFrame(
                {
                    id_col: batch[id_col].to_numpy(),
                    vec_col: batch[vec_col],
                    "cell": cell.astype(np.int32),
                    "centroid_cos": sims[np.arange(len(cell)), cell],
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()
    return (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.col(vec_col))
        .mapInPandas(
            gen,
            schema=(
                f"{id_col} {id_type}, {vec_col} {vec_type}, "
                "cell int, centroid_cos double"
            ),
        )
    )


def semantic_cell_audit(
    assigned: DataFrame,
    max_cell_size: int | None = None,
    cell_col: str = "cell",
) -> DataFrame:
    """Per-cell pair-cost audit over an assignment table →
    ``(cell, cell_size, implied_pairs)``, largest first.

    Cells are SemDeDup's block-cap analog: a cell of ``b`` members costs
    ``b(b-1)/2`` within-cell pairs, so one mega-cell (an under-trained or
    too-coarse quantizer) is the same O(b²) risk the candidate-pair
    block cap guards against.  With ``max_cell_size`` only the over-cap
    cells are returned — the no-silent-caps audit for
    :func:`semantic_dedup`'s ``max_cell_size`` drop, exactly like
    ``dropped_blocks_audit`` for the pair generator."""
    sizes = assigned.groupBy(cell_col).agg(
        F.count(F.lit(1)).alias("cell_size")
    )
    if max_cell_size is not None:
        sizes = sizes.where(F.col("cell_size") > int(max_cell_size))
    return sizes.withColumn(
        "implied_pairs",
        (F.col("cell_size") * (F.col("cell_size") - 1) / 2).cast("bigint"),
    ).orderBy(F.desc("cell_size"), F.asc(cell_col))


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cosine_threshold: float = 0.95,
    score_round: int | None = None,
    quantization: str | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public method):
    semantic dedup of an embedded corpus by cluster-then-prune →
    ``(id, cell, centroid_cos, component, keep)``.

    1. assign every vector to its nearest centroid
       (:func:`assign_nearest_centroid` — pure codegen map, no shuffle);
    2. cosine near-dup pairs WITHIN each cell only
       (:func:`embedding_near_duplicates` with the cell as the blocking
       key — never all-pairs; the k-means cells play the LSH-bucket role,
       and ``quantization`` shrinks the per-cell join payload exactly as
       in the flagship prescore);
    3. connected components over the near-dup graph (large-star/small-star,
       ``operators/cluster.py``), singletons keeping their own id;
    4. ONE survivor per component — the member LEAST similar to its
       centroid (the paper's diversity-keep rule: of a semantic-duplicate
       group, keep the example farthest from the cluster center), ties →
       smallest id; ``keep`` is 1 for survivors, 0 for pruned rows.

    Scale shape: the only shuffles are the per-cell self-join (keyed by
    cell — at 10^12 docs use enough centroids that cells fit executor
    memory; skewed hot cells split under AQE) and the CC supersteps over
    the (usually tiny) duplicate-edge set.  The final window is keyed by
    component over narrow rows.

    ``max_cell_size`` is the block-cap analog for cells: members of a
    cell larger than it are EXCLUDED from pair generation (they become
    keep=1 singletons — conservative: nothing is pruned on the strength
    of an over-coarse cell), because one mega-cell is the same O(b²)
    blow-up the candidate-pair block cap guards against.  Never a silent
    cap: count :func:`semantic_cell_audit` ``(assigned, max_cell_size)``
    alongside, the way the pipeline counts ``blocks_dropped``.
    """
    from semantic_entity_matching_spark.operators.cluster import (
        connected_components,
    )

    assigned = assign_nearest_centroid(
        df,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        score_round=score_round,
    )
    pair_src = assigned
    if max_cell_size is not None:
        # the over-cap cell list is bounded by nlist (small by
        # construction) — safe to broadcast, unlike a per-key table
        over = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("_csize"))
            .where(F.col("_csize") > int(max_cell_size))
            .select("cell")
        )
        pair_src = assigned.join(F.broadcast(over), "cell", "left_anti")
    pairs = embedding_near_duplicates(
        pair_src,
        id_col=id_col,
        vec_col=vec_col,
        bucket_col="cell",
        cosine_threshold=cosine_threshold,
        score_round=score_round,
        quantization=quantization,
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    out = (
        assigned.drop(vec_col)
        .join(
            comp.select(
                F.col("id").alias(id_col), F.col("component")
            ),
            id_col,
            "left",
        )
        .withColumn(
            "component", F.coalesce(F.col("component"), F.col(id_col))
        )
    )
    # diversity-keep survivor: least centroid-similar member, ties to the
    # smallest id — via the aggregate+join survivor mark (splittable under
    # AQE; a window would put a mega-component into one sort task)
    key = F.struct(
        F.col("centroid_cos").alias("cos"), F.col(id_col).alias("id")
    )
    return _mark_one_survivor(out, "component", key)


# ---------------------------------------------------------------------------
# containment (asymmetric-Jaccard) near-dup — prefix-filtered set join
# ---------------------------------------------------------------------------

def containment_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    containment_threshold: float = 0.9,
    max_token_df: int | None = None,
) -> DataFrame:
    """Pairs where the SMALLER token set is mostly inside the larger one:
    ``containment = |A∩B| / min(|A|,|B|) >= threshold`` -> (id_a, id_b,
    containment, jaccard).

    Symmetric-Jaccard LSH structurally misses small-inside-big duplication
    (a quote page inside an aggregator page has jaccard |A|/|B| ~ 0 but
    containment 1), which is why dedup pipelines carry a containment pass
    alongside MinHash (the reference's kNN retrieval has the same blind
    spot — cosine over whole-doc embeddings dilutes an embedded fragment;
    reference lib/opensearch/services/search_query_builder.py:46-62).

    **Exact, not probabilistic**: candidates come from prefix filtering
    (Chaudhuri/Ganti/Kaushik ICDE'06; Bayardo/Ma/Srikant WWW'07
    "Scaling Up All Pairs Similarity Search").  Order each doc's distinct
    tokens rarest-first by global document frequency; if the smaller set A
    has containment >= t in B then at most ``floor((1-t)·|A|)`` of A's
    tokens are missing from B, so by pigeonhole at least one of A's first
    ``floor((1-t)·|A|)+1`` tokens (its PREFIX) appears in B.  Joining
    (prefix token -> doc) against the full inverted index therefore finds
    every qualifying pair; each candidate is then verified exactly by the
    kernel's :func:`tokensets.overlap_verify`.  Rarest-first ordering is
    what makes the probe side cheap: prefix tokens are the doc's rarest,
    so per-token candidate lists stay short.

    Scale shape (no cross join, no Window):

    * token DF and the per-doc rarest-first order are the kernel's
      (:func:`tokensets.token_sets` with ``rarest_first``): one token hash
      aggregate and one doc-keyed ``array_sort`` aggregate whose group
      size is bounded by doc length, never corpus-shaped;
    * the probe×index token join is the two-table :func:`pairs.key_pairs`,
      the same salted join as ``pairs.block_pair_stream``: each row KNOWS
      its token's df, which is the key size, so no size-table join is
      needed.  A token in more than ``pairs.HOT_KEY_THRESHOLD`` docs
      spreads the big INDEX side across ``pairs.salt_count`` reducers
      while the small probe side replicates to each;
    * ``max_token_df`` is the vocabulary cap for web scale: tokens in more
      than that many docs (stopwords/boilerplate) are removed from the
      UNIVERSE — sets, prefixes, index and the verify step all see the
      filtered vocabulary, so the result stays exact w.r.t. the filtered
      token sets (the principled form of "don't index stopwords"; dropping
      index-side only would silently lose recall).  Default None keeps the
      full vocabulary (the oracle-comparable form).

    Token-empty docs (blank text, or fully stopword under the cap) emit no
    keys and never pair — the q21 oracle convention.  Eager at
    construction: see :func:`tokensets.token_sets`.
    """
    t = float(containment_threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(
            f"containment_threshold must be in (0, 1], got {containment_threshold}"
        )

    # three consumers (probe, index, verify) read the one rarest-first
    # token-set table
    sets = token_sets(
        df, id_col, _distinct_tokens(text_col),
        rarest_first=True, max_token_df=max_token_df,
    )
    # floor((1-t)·n)+1, guarded against float-low rounding (an undersized
    # prefix breaks the pigeonhole guarantee; oversized only costs work)
    prefix_len = F.least(
        (F.floor((1.0 - t) * F.col("_n") + 1e-9) + 1).cast("int"),
        F.col("_n"),
    )

    def postings(upto: Column) -> DataFrame:
        # (id, token, token df) for the first `upto` rarest-first tokens
        return sets.select(
            "_id",
            F.explode(F.slice(F.arrays_zip("_tok", "_dfs"), 1, upto)).alias("_e"),
        ).select("_id", F.col("_e._tok").alias("_t"), F.col("_e._dfs").alias("_df"))

    # the probe side (prefixes only) is replicated and builds; the
    # corpus-cardinality index spreads and is never broadcast
    cand = (
        key_pairs(
            postings(prefix_len).hint("shuffle_hash"), postings(F.col("_n")),
            id_col="_id", key="_t", size="_df",
            pair_filter=F.col("id_a") != F.col("id_b"),
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    containment = F.col("_inter").cast("double") / F.least("_na", "_nb").cast(
        "double"
    )
    return (
        overlap_verify(cand, sets)
        .select(
            "id_a",
            "id_b",
            containment.alias("containment"),
            jaccard().alias("jaccard"),
        )
        .where(F.col("containment") >= t)
    )
