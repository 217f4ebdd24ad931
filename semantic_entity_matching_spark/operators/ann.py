"""Approximate nearest-neighbor search over an embedding column.

Replaces the reference's OpenSearch HNSW kNN retrieval (reference
lib/opensearch/services/search_query_builder.py:46-62) with three
Spark-native strategies:

* ``brute_force_topk`` — exact cosine top-k: the query side is broadcast
  in chunks of ``GROUPED_QUERY_BOUND`` queries, one pass over the corpus
  per chunk keeps a running per-query top-k in each task, then one window
  per query.  Correctness baseline; O(|Q| x |C|) work but embarrassingly
  parallel (corpus partitions never shuffle).
* ``lsh_topk`` — scale path: random-hyperplane LSH buckets both sides;
  candidates only meet inside a bucket (equi-join).  Recall is tunable via
  (n_tables, n_bits).
* ``ivf_topk`` — scale path: a k-means coarse quantizer; each query probes
  its ``nprobe`` nearest cells.

LSH and IVF differ only in how they emit ``(query_id, candidate_id)``
candidates; both score them through one tail (join both vectors, exact
cosine, top-k).  The reference's 2x over-fetch (k = 2*size,
search_query_builder.py:58) belongs to the caller: ``search_and_rerank``
asks any retriever for size x overfetch.

All return (query_id, candidate_id, score, rank) with rank 1-based by
(score desc, candidate_id asc) — deterministic tiebreak (SURVEY §2.5 W1).
"""

from __future__ import annotations

import functools
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.similarity import (
    cosine_udf,
    jaro_winkler_py,
)


def ranked_topk(scored: DataFrame, k: int, query_col: str = "query_id") -> DataFrame:
    """Per-query top-k of a ``(query_id, candidate_id, score)`` table
    WITHOUT a candidate-set-sized sort partition.

    The scale hazard is a single window per query sorting that query's
    whole candidate set in ONE task (corpus-cardinality for brute force;
    window partitions cannot be AQE-split).  Spark 3.5+/4.x removes it in
    the engine: ``row_number() <= k`` triggers the InferWindowGroupLimit
    rule, which inserts a map-side ``WindowGroupLimit(Partial)`` BEFORE
    the exchange — each input partition forwards at most k rows per query
    — and a ``WindowGroupLimit(Final)`` after it, so the per-query window
    task sees <= k * num_input_partitions rows, never the candidate set.
    This is exactly the round-5 manual salted two-phase plan
    (rank within (query, spark_partition_id), keep k, merge), minus the
    extra ``_pid`` exchange and two of its four sorts — the engine's
    partial limit reuses the map stage it already has.  The plan shape
    (WindowGroupLimit Partial present, single Exchange) is pinned by
    tools/plan_audit.py; ties resolve identically because both phases use
    the same (score desc, candidate_id asc) total order, so output is
    partitioning-independent."""
    rank = Window.partitionBy(query_col).orderBy(F.desc("score"), F.asc("candidate_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rank))
        .where(F.col("rank") <= k)
        .select(query_col, "candidate_id", "score", "rank")
    )


def _rounded_topk(scored: DataFrame, k: int, score_round: int | None) -> DataFrame:
    """``ranked_topk`` after rounding the score: rounding BEFORE ranking
    turns float near-ties (< 1 ulp apart) into exact ties broken by
    candidate_id, so the top-k set is reproducible across
    engines/partitionings (SURVEY §7.3 hard part (c))."""
    if score_round is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), score_round))
    return ranked_topk(scored, k)


# Queries per chunk of the brute-force scan: each chunk's query matrix is
# one broadcast and one pass over the corpus.  16k queries x dim 1024 in
# float64 (exactness requires the wide accumulator dtype) is a ~128 MB
# broadcast.  ``search.lexical_topk`` chunks its query side by the same
# bound.  Rank is per query, so chunking is exact in both.
GROUPED_QUERY_BOUND = 16_384


def _kth_per_query(q: np.ndarray, score: np.ndarray, nq: int, k: int) -> np.ndarray:
    """The k-th best score of each query among the flat rows ``(q, score)``;
    -inf for a query with fewer than k rows."""
    kth = np.full(nq, -np.inf)
    counts = np.bincount(q, minlength=nq)
    has = counts >= k
    if has.any():
        ordered = score[np.lexsort((-score, q))]
        starts = np.cumsum(counts) - counts
        kth[has] = ordered[starts[has] + k - 1]
    return kth


def _grouped_brute_scores(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int | None = None,
    exclude_self: bool = False,
    score_round: int | None = None,
    texts: tuple[str, str] | None = None,
) -> DataFrame:
    """(query_id, candidate_id, score) via one mapInPandas pass over the
    corpus per chunk of ``GROUPED_QUERY_BOUND`` queries.

    A per-pair join would replicate every corpus vector once PER QUERY
    through the cosine UDF — at 20 queries x 60k docs x dim 1024 that is
    ~5 GB crossing the JVM->Python boundary for ~250 MB of corpus vectors.
    Here the query side is collected in one job, each chunk of it is
    sc.broadcast to every executor, and each corpus batch is scored
    against all of the chunk's queries with one float64
    ``einsum("ij,kj->ik")`` — bit-identical to the per-pair
    ``einsum("ij,ij->i")`` the pandas cosine UDF computes (same float64
    dot/norm/divide per pair).  The chunks' rows are unioned; the caller's
    rank is per query, so chunking changes no output row.  Null corpus and
    null query vectors are never scored.  ``exclude_self`` drops the rows
    whose ids are equal or null (the rows Spark's ``query_id !=
    candidate_id`` filter drops) inside the pass.

    With ``k`` each scan task keeps, per query, only the rows whose raw
    score is at least that task's k-th best minus a margin: 0 without
    ``score_round``, ``2·10^-score_round`` with it (rounding moves a score
    by at most half a unit, so no row the rounded (score desc,
    candidate_id asc) top-k can pick falls below the margin).  The task
    output is at most n_queries × (k + ties) rows, down from corpus ×
    n_queries, and a superset of every row the final per-query top-k can
    pick, whatever the partitioning.  Callers that remove rows AFTER the
    scan (an ``exclude_pairs`` anti-join) must pass ``k=None``: the task
    would otherwise hand over k rows that are all removed later and drop
    the ones that should have taken their place.

    ``texts=(query_text, corpus_text)`` adds ``rerank_score``, the
    Jaro-Winkler similarity of the two texts (0.0 when either is null),
    computed on each task's final survivors only: at most
    n_queries × (k + ties) calls per task, whatever the task size."""
    q_cols = [F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv")]
    c_cols = [F.col(corpus_id).alias("candidate_id"), F.col(vec_col).alias("_cv")]
    if texts is not None:
        q_cols.append(F.col(texts[0]).alias("_qt"))
        c_cols.append(F.col(texts[1]).alias("_ct"))
    q_rows = [r for r in queries.select(*q_cols).collect() if r["_qv"] is not None]
    spark = corpus.sparkSession
    qid_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    schema = f"query_id {qid_type}, candidate_id {cid_type}, score double"
    if texts is not None:
        schema += ", rerank_score double"
    c = corpus.select(*c_cols).where(F.col("_cv").isNotNull())
    margin = 0.0 if score_round is None else 2.0 * 10.0 ** -score_round

    def scan(chunk: list) -> DataFrame:
        qids = [r["query_id"] for r in chunk]
        qmat = np.array([r["_qv"] for r in chunk], dtype=np.float64)
        qnorm = np.linalg.norm(qmat, axis=1)
        qtexts = [r["_qt"] for r in chunk] if texts is not None else None
        bc = spark.sparkContext.broadcast((qids, qmat, qnorm, qtexts))

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            b_qids, b_qmat, b_qnorm, b_qtexts = bc.value
            nq = len(b_qids)
            qid_arr = np.asarray(b_qids, dtype=object)
            qtext_arr = np.asarray(b_qtexts, dtype=object) if texts else None

            def frame(qi, ids, score, ctexts) -> pd.DataFrame:
                out = {"query_id": qid_arr[qi], "candidate_id": ids, "score": score}
                if texts is not None:
                    out["rerank_score"] = np.array(
                        [
                            0.0 if a is None or b is None else jaro_winkler_py(a, b)
                            for a, b in zip(qtext_arr[qi], ctexts)
                        ],
                        dtype=np.float64,
                    )
                return pd.DataFrame(out)

            # survivors so far: parallel flat arrays (query index, candidate
            # id, score, candidate text), exactly the rows at or above
            # kth - margin
            kept = None
            kth = np.full(nq, -np.inf)
            for batch in batches:
                if batch.empty:
                    continue
                mat = np.vstack(batch["_cv"].to_numpy()).astype(np.float64)
                dots = np.einsum("ij,kj->ik", mat, b_qmat)  # (n, nq)
                norms = np.linalg.norm(mat, axis=1)[:, None] * b_qnorm[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    scores = np.where(norms > 0, dots / norms, 0.0)
                ids = batch["candidate_id"].to_numpy()
                ctexts = batch["_ct"].to_numpy() if texts is not None else ids
                valid = np.ones(scores.shape, dtype=bool)
                if exclude_self:
                    valid = (
                        (ids[:, None] != qid_arr[None, :])
                        & ~pd.isna(ids)[:, None]
                        & ~pd.isna(qid_arr)[None, :]
                    )
                if k is None:
                    rows, qi = np.nonzero(valid)
                    yield frame(qi, ids[rows], scores[rows, qi], ctexts[rows])
                    continue
                # prefilter the batch against a lower bound on the new k-th
                # score: the old k-th or the batch's own, whichever is higher
                masked = np.where(valid, scores, -np.inf)
                n = len(ids)
                if n >= k:
                    kth = np.maximum(kth, np.partition(masked, n - k, axis=0)[n - k])
                rows, qi = np.nonzero(valid & (masked >= (kth - margin)[None, :]))
                new = (qi, ids[rows], scores[rows, qi], ctexts[rows])
                kept = new if kept is None else [
                    np.concatenate(pair) for pair in zip(kept, new)
                ]
                kth = _kth_per_query(kept[0], kept[2], nq, k)
                survive = kept[2] >= (kth - margin)[kept[0]]
                kept = [a[survive] for a in kept]
            if k is not None:
                none = np.empty(0, dtype=object)
                yield frame(*(kept or (np.empty(0, dtype=np.int64), none, np.empty(0), none)))

        return c.mapInPandas(gen, schema=schema)

    bound = GROUPED_QUERY_BOUND
    parts = [scan(q_rows[i : i + bound]) for i in range(0, len(q_rows), bound)]
    if not parts:
        return spark.createDataFrame([], schema)
    return functools.reduce(DataFrame.unionByName, parts)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "candidate_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    score_round: int | None = None,
    exclude_pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k.  The query side is collected and broadcast in
    chunks (see ``_grouped_brute_scores``); the corpus never shuffles.
    Each scan task keeps a running per-query top-k, so only
    n_queries × (k + ties) rows per task reach the final top-k.

    ``score_round``: round the cosine BEFORE ranking so near-ties (< 1 ulp
    apart) become exact ties broken by candidate_id — makes the top-k set
    reproducible across engines/partitionings (SURVEY §7.3 hard part (c)).

    ``exclude_pairs`` — a ``(query_id, candidate_id)`` table anti-joined
    off the candidate stream before RANKING (so excluded rows can never
    displace a result): the hook hard-negative mining uses to remove known
    positives.  Joined as an ordinary hash anti-join — the pair table may
    be corpus-scale (one positive per record), never force-broadcast.  The
    anti-join runs after the scan, so with it the scan tasks do not prune.
    """
    if exclude_pairs is not None:
        missing = {"query_id", "candidate_id"} - set(exclude_pairs.columns)
        if missing:
            raise ValueError(
                f"exclude_pairs needs columns query_id/candidate_id, missing {sorted(missing)}"
            )
    scored = _grouped_brute_scores(
        queries, corpus, query_id, corpus_id, vec_col,
        k=max(k, 1) if exclude_pairs is None else None,
        exclude_self=exclude_self,
        score_round=score_round,
    )
    if exclude_pairs is not None:
        scored = scored.join(
            exclude_pairs.select("query_id", "candidate_id"),
            ["query_id", "candidate_id"], "left_anti",
        )
    return _rounded_topk(scored, k, score_round)


def _knn_tail(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    exclude_self: bool,
    score_round: int | None,
    broadcast_queries: bool = False,
) -> DataFrame:
    """Exact cosine top-k over a ``(query_id, candidate_id)`` candidate
    table: join both vectors (the query side under a broadcast hint when
    ``broadcast_queries``), drop rows with a null vector, cosine, top-k.
    The candidate emitter's hot buckets/cells make a query's candidate set
    unbounded, so the rank is ``ranked_topk``'s two-phase one."""
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("candidate_id"))
    q = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(corpus_id).alias("candidate_id"), F.col(vec_col).alias("_cv"))
    scored = (
        cand.join(F.broadcast(q) if broadcast_queries else q, "query_id")
        .join(c, "candidate_id")
        # null-filter the inputs, not the UDF output (guide §4.4: an
        # output filter re-evaluates the UDF below the pushed filter)
        .where(F.col("_qv").isNotNull() & F.col("_cv").isNotNull())
        .withColumn("score", cosine_udf(F.col("_qv"), F.col("_cv")))
    )
    return _rounded_topk(scored, k, score_round)


def _hyperplanes(n_tables: int, n_bits: int, dim: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_tables, n_bits, dim)).astype(np.float32)


def _vector_keys(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, keys_of, key_ddl: str
) -> DataFrame:
    """(id, _slot, _key) rows in one mapInPandas pass: ``keys_of`` maps a
    batch's (n, dim) vector matrix to an (n, m) key matrix, and vector i
    becomes the m rows (id_i, j, key_ij).  Null vectors emit no row."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            mask = batch[vec_col].notna()
            if not mask.any():
                continue
            keys = keys_of(np.vstack(batch.loc[mask, vec_col].to_numpy()))
            n, m = keys.shape
            yield pd.DataFrame(
                {
                    out_id: np.repeat(batch.loc[mask, batch.columns[0]].to_numpy(), m),
                    "_slot": np.tile(np.arange(m, dtype=np.int32), n),
                    "_key": keys.reshape(-1),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        gen, schema=f"{out_id} {id_type}, _slot int, _key {key_ddl}"
    )


def _bucket_keys_df(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: np.ndarray,
    out_id: str,
) -> DataFrame:
    """(id, bucket) rows: one bucket key per LSH table — sign pattern of the
    vector against n_bits random hyperplanes."""
    n_tables, n_bits, dim = planes.shape
    flat = planes.reshape(n_tables * n_bits, dim)
    weights = np.uint64(1) << np.arange(n_bits, dtype=np.uint64)

    def codes(mat: np.ndarray) -> np.ndarray:
        proj = mat.astype(np.float32) @ flat.T  # (n, n_tables*n_bits)
        bits = (proj > 0).reshape(len(mat), n_tables, n_bits)
        # two's-complement view: JVM hex(bigint) prints the same digits
        # Python's f"{code:x}" prints for uint64
        return (bits.astype(np.uint64) * weights[None, None, :]).sum(axis=2).view(np.int64)

    # typed (id, table, code) columns; the 't<t>:<hex>' string is
    # assembled in JVM codegen (no per-row Python formatting)
    return _vector_keys(df, id_col, vec_col, out_id, codes, "bigint").select(
        F.col(out_id),
        F.concat(
            F.lit("t"),
            F.col("_slot").cast("string"),
            F.lit(":"),
            F.lower(F.hex(F.col("_key"))),
        ).alias("bucket"),
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "candidate_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 12,
    dim: int | None = None,
    seed: int = 42,
    exclude_self: bool = False,
    score_round: int | None = None,
) -> DataFrame:
    """LSH-bucketed approximate top-k (random hyperplane / SimHash family,
    Charikar'02).  Work is proportional to bucket collisions, not |Q|x|C|.
    Every candidate that shares a bucket with the query is scored exactly;
    the top-k cut is the only truncation.
    """
    if dim is None:
        # schema-first: parquet/Arrow vector columns carry their width in
        # field metadata when written by our sinks; fall back to a one-row
        # probe ONLY if no metadata exists (never a full scan either way,
        # but the probe is an extra Spark job — pass dim at 100 TB)
        meta = corpus.schema[vec_col].metadata or {}
        dim = meta.get("dim")
    if dim is None:
        dim = len(
            corpus.select(vec_col).where(F.col(vec_col).isNotNull()).first()[0]
        )
    planes = _hyperplanes(n_tables, n_bits, int(dim), seed)

    qb = _bucket_keys_df(queries, query_id, vec_col, planes, "query_id")
    cb = _bucket_keys_df(corpus, corpus_id, vec_col, planes, "candidate_id")

    cand = qb.join(cb, "bucket").select("query_id", "candidate_id").distinct()
    return _knn_tail(
        cand, queries, corpus, k, query_id, corpus_id, vec_col, exclude_self, score_round
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------


def _ivf_sample_plan(src: DataFrame, n_vecs: int, sample_n: int) -> DataFrame:
    """Hash-range sampling filter over ``src(_h, v)`` — the plan is a pure
    filter (no Sort/TakeOrdered), sized so ~2×sample_n rows survive."""
    mod = max(1, n_vecs // max(1, 2 * sample_n))
    return src.where(F.pmod(F.col("_h"), F.lit(mod)) == 0)


def centroid_cosines(mat, centroids) -> np.ndarray:
    """(n, nlist) cosine of every row of ``mat`` against every centroid:
    both sides in float64, unit-normalized (norms floored at 1e-12), one
    ``mat @ cn.T``.  The IVF trainer and both centroid assigners (this
    module's ``_cell_assign_df``, ``dedup.assign_nearest_centroid``) score
    with it; each keeps its own argmax/argsort."""

    def unit(m) -> np.ndarray:
        m = np.asarray(m, dtype=np.float64)
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    return unit(mat) @ unit(centroids).T


def parquet_footer_row_count(df: DataFrame) -> int | None:
    """Total row count of a parquet-backed DataFrame from the file FOOTERS —
    driver-side metadata reads, zero Spark jobs (``inputFiles`` is a listing
    the scan already performed).  Returns None when the plan is not a plain
    local parquet scan (non-file scheme, non-parquet files, in-memory
    relation); callers fall back to a counting job.  For a filtered plan the
    footer count is an UPPER bound on the post-filter rows — fine wherever
    the count only sizes something (the IVF sampling modulus)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    import urllib.parse

    import pyarrow.parquet as pq

    total = 0
    for uri in files:
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme not in ("", "file") or not uri.endswith(".parquet"):
            return None
        path = urllib.parse.unquote(parsed.path)
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return None
    return total


def train_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "candidate_id",
    nlist: int = 16,
    sample_n: int = 10_000,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """k-means coarse quantizer trained on a bounded, DETERMINISTIC sample.

    Sampling is a hash-range FILTER, not a sort: rows with
    ``pmod(xxhash64(id), m) == 0`` (m sized from a metadata-cheap count so
    ~2×sample_n rows survive) are collected and the final ``sample_n`` are
    picked by hash order driver-side.  Partitioning-independent like the
    old ``orderBy(xxhash64).limit`` formulation, but the plan is scan →
    filter → collect — no Sort / TakeOrdered node touches the corpus at any
    scale.  Lloyd iterations run in numpy on the driver: the centroid table
    is tiny (nlist × dim) and training data is capped at ``sample_n`` rows,
    so this never scales with the corpus.  Empty cells re-seed to the
    farthest point (k-means++-ish repair)."""
    src = corpus.where(F.col(vec_col).isNotNull()).select(
        F.xxhash64(F.col(id_col)).alias("_h"), F.col(vec_col).alias("v")
    )
    # size the sampling modulus from parquet FOOTER metadata when the corpus
    # is a file scan — no counting job; the footer total upper-bounds the
    # non-null vector count, which only shrinks the survivor set slightly
    # (still hash-deterministic).  Non-parquet inputs pay one count job.
    footer_n = parquet_footer_row_count(corpus)
    n_vecs = footer_n if footer_n is not None else src.count()
    rows = _ivf_sample_plan(src, n_vecs, sample_n).collect()
    # redo only if the modulus actually FILTERED (mod > 1 requires
    # n_vecs >= 4*sample_n): with mod == 1 every row already survived, so
    # an exact recount would re-collect the identical set for nothing
    if footer_n is not None and len(rows) < sample_n and n_vecs >= 4 * sample_n:
        # the footer total counts ALL rows of the underlying files, but a
        # selective filter on the corpus (e.g. lang='en' keeping 1%) can
        # shrink the post-filter population far below it — the modulus is
        # then oversized and the hash-range sample under-delivers (possibly
        # to zero on a non-empty corpus).  Detect under-delivery and redo
        # the sizing from an exact count — one extra job, paid only on
        # filtered corpora where the cheap metadata bound was wrong.
        n_vecs = src.count()
        rows = _ivf_sample_plan(src, n_vecs, sample_n).collect()
    rows.sort(key=lambda r: r["_h"])
    rows = rows[:sample_n]
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    if len(mat) == 0:
        raise ValueError("cannot train IVF centroids on an empty corpus")
    nlist = min(nlist, len(mat))
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=nlist, replace=False)]
    for _ in range(iters):
        # cosines against this iteration's centroids, before any moves
        sims = centroid_cosines(mat, centroids)
        assign = sims.argmax(axis=1)
        for c in range(nlist):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
            else:
                dists = 1.0 - sims.max(axis=1)
                centroids[c] = mat[int(dists.argmax())]
    return centroids.astype(np.float32)


def _cell_assign_df(
    df: DataFrame, id_col: str, vec_col: str, centroids: np.ndarray,
    out_id: str, nprobe: int = 1,
) -> DataFrame:
    """(id, cell) rows — top-``nprobe`` nearest centroids per vector (cosine).
    Centroids ride inside the UDF closure (broadcast by Spark's task
    serialization — nlist × dim floats, KBs)."""

    def top(mat: np.ndarray) -> np.ndarray:
        sims = centroid_cosines(mat, centroids)
        return np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype(np.int32)

    return _vector_keys(df, id_col, vec_col, out_id, top, "int").select(
        out_id, F.col("_key").alias("cell")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "candidate_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    seed: int = 42,
    exclude_self: bool = False,
    score_round: int | None = None,
) -> DataFrame:
    """IVF approximate top-k (Faiss-style inverted file, public technique):
    corpus rows live in exactly one k-means cell; each query probes its
    ``nprobe`` nearest cells and scores only those candidates — work is
    O(|Q| * |C| * nprobe / nlist) instead of O(|Q| x |C|).

    ``nprobe == nlist`` probes every cell: the result is then EXACTLY the
    brute-force top-k (same scoring, same deterministic tiebreak), which is
    what the oracle checks; smaller nprobe trades recall for cost.  Pass
    precomputed ``centroids`` on repeated runs to skip training.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, vec_col=vec_col, id_col=corpus_id, nlist=nlist, seed=seed
        )
    qcells = _cell_assign_df(
        queries, query_id, vec_col, centroids, "query_id", nprobe=nprobe
    )
    ccells = _cell_assign_df(
        corpus, corpus_id, vec_col, centroids, "candidate_id", nprobe=1
    )
    cand = qcells.join(ccells, "cell").select("query_id", "candidate_id").distinct()
    return _knn_tail(
        cand, queries, corpus, k, query_id, corpus_id, vec_col, exclude_self,
        score_round, broadcast_queries=True,
    )


def mine_hard_negatives(
    records: DataFrame,
    positives: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter=None,
    score_round: int | None = None,
    symmetric: bool = True,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-cosine-similar records that are NOT known positives
    -> (query_id, candidate_id, score, rank).

    The training-data generation step of every embedding fine-tune (the
    reference's model domain — its Titan/Cohere embed-and-rerank serving
    path presumes such a trained model): in-batch random negatives are
    easy, so the encoder learns most from the nearest NON-matching
    neighbours (Xiong et al. 2021, ANCE — public method).

    ``positives(query_id, candidate_id)`` are the gold/weak match edges;
    with ``symmetric=True`` (unordered ER labels) the reversed pairs are
    excluded too (one unionByName of two projections — no extra scan of
    the corpus side).  Exclusion is a hash anti-join applied BEFORE
    scoring (excluded pairs never pay a cosine and never displace a
    result), self-pairs are always excluded.

    Retrieval here is the exact brute-force baseline; at corpus scale
    mine per-shard with ``lsh_topk``/``ivf_topk`` candidates and apply the
    same exclusion — the anti-join composes with any candidate stream.
    ``query_filter`` (a Column over ``records``) restricts the anchor
    side, e.g. to the labeled subset.
    """
    queries = records if query_filter is None else records.where(query_filter)
    excl = positives.select(
        F.col(positives.columns[0]).alias("query_id"),
        F.col(positives.columns[1]).alias("candidate_id"),
    )
    if symmetric:
        excl = excl.unionByName(
            excl.select(
                F.col("candidate_id").alias("query_id"),
                F.col("query_id").alias("candidate_id"),
            )
        )
    return brute_force_topk(
        queries,
        records,
        k=k,
        query_id=id_col,
        corpus_id=id_col,
        vec_col=vec_col,
        exclude_self=True,
        score_round=score_round,
        exclude_pairs=excl,
    )
