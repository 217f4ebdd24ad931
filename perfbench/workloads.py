"""The benchmark workloads.  Each one generates its inputs from the seed,
runs one operation (a whole job or one request) through the engine's public
API, checks the output against the generator's truth, and can run the same
operation layer by layer under a :class:`measure.Tracer`.

Why each workload exists, and its sizes, are in METRICS.md.
"""

from __future__ import annotations

import os
from collections import defaultdict
from itertools import combinations

from pyspark.sql import functions as F

import gen


class CheckFailed(Exception):
    """An operation's output disagrees with the generator's truth."""


def _truth_pairs(ids: list, labels: list) -> set[tuple]:
    groups = defaultdict(list)
    for i, label in zip(ids, labels):
        groups[label].append(i)
    return {p for m in groups.values() for p in combinations(sorted(m), 2)}


def _pair_f1(predicted: set, truth: set) -> float:
    tp = len(predicted & truth)
    if tp == 0:
        return 0.0
    p, r = tp / len(predicted), tp / len(truth)
    return 2 * p * r / (p + r)


def _cut(df, span):
    """Cut lineage the way run_pipeline's no-checkpoint path does and record
    the layer's output rows."""
    df = df.localCheckpoint(eager=True)
    span["rows"] = df.count()
    return df


class Linkage:
    """``run_pipeline(pages, MatchConfig())`` over web pages whose entities
    are published as edited variants, plus boilerplate groups that make hot
    blocks."""

    layers = ("records", "blocks", "pairs", "scored", "reranked", "edges", "clusters")

    def __init__(self, n_entities: int, boilerplate_groups: int):
        self.n_entities = n_entities
        self.boilerplate_groups = boilerplate_groups

    def make_inputs(self, seed: int, work: str) -> None:
        cols = gen.linkage_pages(seed, self.n_entities, self.boilerplate_groups)
        self.path = os.path.join(work, "linkage")
        gen.write_parquet({k: cols[k] for k in ("url", "text", "lang")}, self.path, 4)
        self.urls = set(cols["url"])
        self.truth = _truth_pairs(cols["url"], cols["entity"])

    def op(self, spark, i: int) -> dict:
        from semantic_entity_matching_spark.plans.pipeline import (
            MatchConfig,
            run_pipeline,
        )

        res = run_pipeline(spark.read.parquet(self.path), MatchConfig())
        return dict(res.clusters.collect())

    def traced_op(self, spark, tracer, i: int) -> dict:
        """The seven layer calls in run_pipeline's order, each cut like its
        no-checkpoint path."""
        from semantic_entity_matching_spark.operators.blocking import all_block_keys
        from semantic_entity_matching_spark.operators.cluster import (
            clusters_from_pairs,
        )
        from semantic_entity_matching_spark.operators.pairs import (
            block_sizes,
            dropped_blocks_audit,
            generate_candidate_pairs,
        )
        from semantic_entity_matching_spark.plans.pipeline import (
            MatchConfig,
            prepare_records,
            rerank_pairs,
            score_pairs,
        )

        cfg = MatchConfig()
        pages = spark.read.parquet(self.path)
        with tracer.span("records", i) as s:
            records = _cut(prepare_records(pages, cfg, with_entity_text=False), s)
        with tracer.span("blocks", i) as s:
            blocks = _cut(
                all_block_keys(
                    records,
                    id_col=cfg.id_col,
                    text_col=cfg.text_col,
                    lsh=cfg.lsh,
                    sn_window=cfg.sn_window,
                    sn_key_scan_chars=cfg.sn_key_scan_chars,
                ),
                s,
            )
        with tracer.span("pairs", i) as s:
            sizes = block_sizes(blocks, cfg.id_col).persist()
            pairs = _cut(
                generate_candidate_pairs(blocks, cfg.id_col, cfg.pairgen, sizes=sizes),
                s,
            )
            dropped_blocks_audit(blocks, cfg.id_col, cfg.pairgen, sizes=sizes).count()
            sizes.unpersist()
        with tracer.span("scored", i) as s:
            scored = _cut(score_pairs(pairs, records, cfg), s)
        with tracer.span("reranked", i) as s:
            reranked = _cut(rerank_pairs(scored, records, cfg), s)
        with tracer.span("edges", i) as s:
            edges = _cut(
                reranked.where(F.col("score") >= cfg.match_threshold).select(
                    "id_a", "id_b", "score"
                ),
                s,
            )
        n_edges = s["rows"]
        with tracer.span("clusters", i) as s:
            clusters = _cut(
                clusters_from_pairs(
                    edges.select("id_a", "id_b"),
                    all_ids=records,
                    id_col=cfg.id_col,
                    max_iterations=cfg.max_cc_iterations,
                    n_edges=n_edges,
                ),
                s,
            )
        return dict(clusters.collect())

    def check(self, clusters: dict) -> float:
        if set(clusters) != self.urls:
            raise CheckFailed("clusters do not cover every page exactly once")
        f1 = _pair_f1(_truth_pairs(list(clusters), list(clusters.values())), self.truth)
        if f1 < 0.99:
            raise CheckFailed(f"pair F1 {f1:.4f} < 0.99")
        return f1


class NearDup:
    """The ``jaccard >= 0.9`` near-duplicate family on one corpus: MinHash
    banding (``minhash_near_duplicates``) and the exact prefix-filter join
    (``prefix_filter_jaccard_join``).  Both must return exactly the
    generator's within-family pairs."""

    layers = ("dedup.blocks", "dedup.match", "simjoin.match")
    threshold = 0.9

    def __init__(self, n_families: int):
        self.n_families = n_families

    def make_inputs(self, seed: int, work: str) -> None:
        cols = gen.family_pages(seed, self.n_families)
        self.path = os.path.join(work, "neardup")
        gen.write_parquet({k: cols[k] for k in ("doc_id", "text")}, self.path, 4)
        self.truth = _truth_pairs(cols["doc_id"], cols["family"])

    def _minhash(self, docs):
        from semantic_entity_matching_spark.operators.dedup import (
            minhash_near_duplicates,
        )

        out = minhash_near_duplicates(
            docs, "doc_id", "text", jaccard_threshold=self.threshold
        )
        return {tuple(r) for r in out.select("id_a", "id_b").collect()}

    def _prefix(self, docs):
        from semantic_entity_matching_spark.operators.simjoin import (
            prefix_filter_jaccard_join,
        )

        out = prefix_filter_jaccard_join(docs, "doc_id", "text", self.threshold)
        return {tuple(r) for r in out.select("id_a", "id_b").collect()}

    def op(self, spark, i: int) -> tuple[set, set]:
        docs = spark.read.parquet(self.path)
        return self._minhash(docs), self._prefix(docs)

    def traced_op(self, spark, tracer, i: int) -> tuple[set, set]:
        from semantic_entity_matching_spark.operators.blocking import (
            minhash_block_keys,
        )

        docs = spark.read.parquet(self.path)
        with tracer.span("dedup.blocks", i) as s:
            _cut(minhash_block_keys(docs, id_col="doc_id", text_col="text"), s)
        with tracer.span("dedup.match", i) as s:
            minhash = self._minhash(docs)
            s["rows"] = len(minhash)
        with tracer.span("simjoin.match", i) as s:
            prefix = self._prefix(docs)
            s["rows"] = len(prefix)
        return minhash, prefix

    def check(self, result: tuple[set, set]) -> float:
        for name, pairs in zip(("minhash", "prefix join"), result):
            if pairs != self.truth:
                raise CheckFailed(
                    f"{name}: {len(pairs - self.truth)} extra and"
                    f" {len(self.truth - pairs)} missing pairs"
                )
        return min(_pair_f1(pairs, self.truth) for pairs in result)


class Search:
    """The reference's read path, one request per operation: embed a batch
    of noisy title queries, ``search_and_rerank`` (brute-force kNN plus the
    Jaro-Winkler rerank on titles) and ``lexical_topk`` (BM25)."""

    name = "search"
    layers = ("search.embed", "search.knn_rerank", "search.lexical")
    n_groups = 500  # gen.SIBLINGS entries each
    batch = 64
    # distinct query batches; request i answers batch i % n_inputs
    n_inputs = 2
    top_k = 10

    def make_inputs(self, seed: int, work: str) -> None:
        catalog = gen.search_catalog(seed, self.n_groups)
        queries = gen.search_queries(seed, catalog["title"], self.batch * self.n_inputs)
        self.path = os.path.join(work, "catalog")
        self.query_path = os.path.join(work, "queries")
        gen.write_parquet(catalog, self.path, 4)
        gen.write_parquet(queries, self.query_path, 1)
        self.n_catalog = len(catalog["candidate_id"])
        self.accuracy: dict[int, float] = {}

    def load(self, spark) -> None:
        """Embed the catalog once; every request reads the cut result."""
        from semantic_entity_matching_spark.functions.embed import (
            TokenHashEmbeddingProvider,
        )

        self.embed = TokenHashEmbeddingProvider(dim=256).udf()
        self.catalog = (
            spark.read.parquet(self.path)
            .withColumn("embedding", self.embed(F.col("text")))
            .localCheckpoint(eager=True)
        )
        q = spark.read.parquet(self.query_path).toPandas()
        self.requests = [
            q.iloc[b * self.batch : (b + 1) * self.batch] for b in range(self.n_inputs)
        ]

    def warm_up(self, spark, seed: int, work: str) -> None:
        """A long-lived service answers requests warm: answer one first."""
        self.check(self.op(spark, 0))

    def _request(self, spark, i: int, span):
        from semantic_entity_matching_spark.operators.search import (
            lexical_topk,
            search_and_rerank,
        )

        b = i % self.n_inputs
        batch = self.requests[b]
        with span("search.embed") as s:
            queries = _cut(
                spark.createDataFrame(batch[["query_id", "query_text"]]).withColumn(
                    "embedding", self.embed(F.col("query_text"))
                ),
                s,
            )
        with span("search.knn_rerank") as s:
            knn = search_and_rerank(
                queries, self.catalog, corpus_text="title",
                size=self.top_k, top_k=self.top_k,
            ).select("query_id", "candidate_id", "rank").collect()
            knn = sorted(tuple(r) for r in knn)
            s["rows"] = len(knn)
        with span("search.lexical") as s:
            lexical = lexical_topk(
                queries.select("query_id", "query_text"), self.catalog,
                k=self.top_k, persist_index=True,
            ).select("query_id", "candidate_id", "rank").collect()
            lexical = sorted(tuple(r) for r in lexical)
            s["rows"] = len(lexical)
        return b, knn, lexical

    def op(self, spark, i: int):
        from contextlib import nullcontext

        return self._request(spark, i, lambda layer: nullcontext({}))

    def traced_op(self, spark, tracer, i: int):
        return self._request(spark, i, lambda layer: tracer.span(layer, i))

    def check(self, result) -> float:
        b, knn, lexical = result
        gold = dict(zip(self.requests[b]["query_id"], self.requests[b]["gold_id"]))
        hits = 0
        for name, rows in (("kNN+rerank", knn), ("BM25", lexical)):
            top1 = {}
            for query, candidate, rank in rows:
                if not 0 <= candidate < self.n_catalog:
                    raise CheckFailed(f"{name}: unknown candidate {candidate}")
                if rank == 1:
                    top1[query] = candidate
            if set(top1) != set(gold):
                raise CheckFailed(f"{name}: {len(set(gold) - set(top1))} unanswered")
            hits += sum(top1[q] == g for q, g in gold.items())
        acc = hits / (2 * len(gold))
        if acc < 0.5:
            raise CheckFailed(f"top-1 accuracy {acc:.3f} < 0.5")
        self.accuracy[b] = acc
        # the share over distinct batches answered, so it does not depend on
        # how many requests fit in the timed window
        return sum(self.accuracy.values()) / len(self.accuracy)


class Corpus:
    """A batch run over a crawl: link the web pages into entities
    (:class:`Linkage`), then find the near-duplicate pairs of a second
    corpus (:class:`NearDup`).  One operation runs both jobs."""

    name = "corpus"
    n_inputs = 1

    def __init__(
        self, entities: int = 300, boilerplate_groups: int = 3, families: int = 150
    ):
        self.parts = (Linkage(entities, boilerplate_groups), NearDup(families))

    def make_inputs(self, seed: int, work: str) -> None:
        for p in self.parts:
            p.make_inputs(seed, work)

    def load(self, spark) -> None:
        """Nothing to load: each job reads its parquet input itself."""

    def warm_up(self, spark, seed: int, work: str) -> None:
        """Pay the session's first-run costs (code generation, JIT, Python
        worker start) on a small corpus of the same shape, with one hot
        block, so the timed jobs run warm."""
        small = Corpus(entities=50, boilerplate_groups=1, families=20)
        small.make_inputs(seed, os.path.join(work, "warm"))
        small.check(small.op(spark, 0))

    def op(self, spark, i: int) -> list:
        return [p.op(spark, i) for p in self.parts]

    def traced_op(self, spark, tracer, i: int) -> list:
        return [p.traced_op(spark, tracer, i) for p in self.parts]

    def check(self, result: list) -> float:
        return min(p.check(r) for p, r in zip(self.parts, result))


WORKLOADS = {w.name: w for w in (Corpus, Search)}
# every layer a traced run reports, whichever workload calls it
LAYERS = Linkage.layers + NearDup.layers + Search.layers
