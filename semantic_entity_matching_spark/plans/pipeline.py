"""End-to-end record-linkage pipeline (the flagship plan).

    webpages(url, warc_ts, html, text, lang)
      → canonical text + embedding          (Arrow pandas UDFs, no shuffle)
      → blocking keys (LSH + sorted-nbhd)   (mapInPandas + one window)
      → candidate pairs                     (salted equi-join, capped blocks)
      → pair scoring                        (cosine BLAS batch + JW + Levenshtein)
      → threshold → match edges
      → connected components                (large-star/small-star, checkpointed)
      → clusters(id, component)

Counters (pairs_generated, pairs_scored, edges_emitted) are captured at each
stage boundary and written with the stage checkpoint (Iceberg snapshot
properties in production; manifest JSON here) — per-partition task metrics
remain visible in the Spark UI/event log, and the stage counts make the run
resumable AND auditable (north_rule).

Every stage reads its input from the previous stage's committed snapshot,
so a killed run resumes at the first uncommitted stage (``resume=True``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.embed import (
    EmbeddingProvider,
    TokenHashEmbeddingProvider,
)
from semantic_entity_matching_spark.functions.extract import canonical_text_udf
from semantic_entity_matching_spark.functions.similarity import (
    blended_score,
    cosine_udf,
    jaro_winkler_udf,
    levenshtein_similarity_expr,
)
from semantic_entity_matching_spark.operators.blocking import LSHConfig, all_block_keys
from semantic_entity_matching_spark.operators.cluster import (
    CC_CHECKPOINT_TABLE,
    clusters_from_pairs,
)
from semantic_entity_matching_spark.operators.pairs import (
    PairGenConfig,
    generate_candidate_pairs,
)
from semantic_entity_matching_spark.plans.checkpoint import (
    CheckpointManager,
    materialize,
)


@dataclass
class MatchConfig:
    id_col: str = "url"
    text_col: str = "text"
    extract_cols: tuple[str, ...] = ("url", "text", "lang")
    embedding_dim: int = 256
    lsh: LSHConfig = field(default_factory=LSHConfig)
    sn_window: int = 10
    # how much of the text head the sorted-neighborhood key regex scans.
    # Docs whose head yields < prefix_len alphanumeric chars get shorter/no
    # SN keys (they remain covered by the MinHash families); raise to
    # restore a full-page scan where that trade is wrong.  With
    # ``audit_sn_keys`` the pipeline counts the affected docs per run
    # (counter ``sn_short_keyed``) so the trade is observable, not silent.
    sn_key_scan_chars: int = 1024
    audit_sn_keys: bool = False
    pairgen: PairGenConfig = field(default_factory=PairGenConfig)
    match_threshold: float = 0.80
    score_weights: dict | None = None
    max_cc_iterations: int = 20
    # cap for the O(len^2)/O(len*window) string metrics (Levenshtein, JW):
    # web pages are long; edit distance on full pages is neither meaningful
    # nor affordable at 10^12 docs (JW on 512 chars is ~10 ms/pair in pure
    # Python).  JW/Lev are short-string (name-like) metrics; they see the
    # first ``rerank_max_chars`` chars only.
    rerank_max_chars: int = 100
    # round the blended score to this many decimals BEFORE thresholding —
    # float near-threshold pairs then resolve identically in every engine /
    # partitioning (the same round-before-rank convention as the search
    # operators).  None = raw float compare.
    score_round: int | None = None
    # quantized PRE-scoring (reference EmbeddingType, lib/bedrock/types.py:
    # 20-27): 'int8' carries array<tinyint> through the candidate-pair join
    # (4× fewer vector bytes on the biggest shuffle of the pipeline),
    # 'binary' packed sign bits (32×).  Survivors of the approximate
    # cutoff are re-scored with EXACT float cosine, so every downstream
    # stage (rerank bound, threshold, edges, clusters) sees true scores.
    quantization: str | None = None
    # how far below the rerank cosine cutoff the approximate score may sit
    # before a pair is dropped unscored.  Must upper-bound the quantization
    # error of the chosen scheme (measured on token-hash embeddings at dim
    # 256: int8 error < 0.02, sign-sketch error < 0.12); None = scheme
    # default (0.08 int8, 0.25 binary).
    quantize_margin: float | None = None
    # 'blended' (default): weighted cosine+JW+lev vs match_threshold —
    # the reference-parity path.  'fellegi_sunter': UNSUPERVISED edges —
    # the three similarities become 0/1 agreement features at
    # fs_agree_thresholds, m/u/prior are EM-fit on the blocked candidate
    # population (Splink's estimate-on-blocked-pairs practice), and a
    # pair becomes an edge when its posterior match probability reaches
    # fs_posterior.  No labels, no hand-set match_threshold.  The blended
    # rerank bounds don't apply, but the cost is still bounded: the EM fit
    # sees a hash-sample (fs_em_sample_*) and, with fs_defer_jw, the
    # per-pair Python JW runs only on that sample plus the pairs whose
    # cheap-feature weight upper bound can still reach fs_posterior —
    # both exact, identical edges to the eager form.
    scoring: str = "blended"
    fs_agree_thresholds: tuple = (0.80, 0.90, 0.80)  # cosine, jw, lev
    fs_posterior: float = 0.5
    # EM-fit sampling (FS mode): fit m/u/prior on a deterministic 1/mod
    # hash-sample of the candidate pairs — pattern-count EM needs cell
    # frequencies, not the full pair table, so a ~fs_em_sample_target-pair
    # sample reproduces the full fit to Monte-Carlo noise (pytest-pinned).
    # None = auto: mod chosen from the measured candidate count so the fit
    # sees ~fs_em_sample_target pairs (1 — full population — when the
    # candidates are already small).  The scoring pass always sees every
    # pair.
    fs_em_sample_mod: int | None = None
    fs_em_sample_target: int = 100_000
    # Defer the per-pair Python Jaro-Winkler in FS mode: compute it only
    # on the EM sample plus the pairs whose cheap-feature (cosine +
    # codegen Levenshtein) weight upper bound still reaches fs_posterior
    # — an exact prune (identical edges, pytest-pinned), so the engine's
    # one per-pair-Python stage runs on ~fs_em_sample_target +
    # decision-relevant pairs instead of every candidate.  Deferral costs
    # ~3 s of fixed overhead (two lineage cuts, audit counts, a second
    # UDF stage — measured at sf0.1, BASELINE.md), so None (default) =
    # AUTO: defer exactly when the EM sample mod engages (candidates >
    # fs_em_sample_target — when there is something to save).  True/False
    # force it.
    fs_defer_jw: bool | None = None


@dataclass
class MatchResult:
    clusters: DataFrame
    edges: DataFrame
    scored_pairs: DataFrame
    counters: dict


def prepare_records(
    pages: DataFrame,
    config: MatchConfig,
    provider: EmbeddingProvider | None = None,
    with_entity_text: bool = True,
) -> DataFrame:
    """url + canonical entity text + embedding.

    Column pruning matters at 100 TB: ``html`` (the fat binary column) is
    dropped before any UDF so the parquet scan never materializes it —
    verify with .explain(): ReadSchema excludes html.

    ``with_entity_text=False`` omits the rendered canonical text column:
    run_pipeline passes it because NO downstream stage consumes
    entity_text (blocking and rerank read ``text_col``; the embedding is
    computed from ``text_col`` too), so materializing it into the records
    checkpoint paid a full UDF pass plus a text-sized copy in every
    snapshot for nothing.  External callers keep the rendered column by
    default.
    """
    # token-hash (feature hashing) is the default: deterministic AND
    # similarity-preserving for near-duplicates.  The md5 scheme
    # (HashEmbeddingProvider) only detects exact duplicates; a real
    # sentence-transformer slots in here on a cluster.
    provider = provider or TokenHashEmbeddingProvider(dim=config.embedding_dim)
    # a single-file corpus scans as one split and would run the extract +
    # embed UDF chain single-task; no-op when the scan already parallel
    from semantic_entity_matching_spark.session import ensure_min_parallelism

    pages = ensure_min_parallelism(pages)
    cols = [c for c in config.extract_cols if c in pages.columns]
    out = pages.select(*dict.fromkeys([config.id_col, config.text_col, *cols]))
    keep = [config.id_col, config.text_col]
    if with_entity_text:
        out = out.withColumn("entity_text", canonical_text_udf(cols))
        keep.append("entity_text")
    out = out.withColumn("embedding", provider.udf()(F.col(config.text_col)))
    return out.select(*keep, "embedding")


def score_pairs(
    pairs: DataFrame,
    records: DataFrame,
    config: MatchConfig,
) -> DataFrame:
    """Stage 1 of scoring: attach texts/embeddings and the CHEAP feature
    (batched BLAS cosine) to every candidate pair.

    Two hash joins against the records table (shuffled on id — the same
    partitioning both times, so AQE can reuse the exchange).  Records carry
    only (id, text, embedding): the per-pair payload stays narrow.

    The expensive per-pair string metrics live in :func:`rerank_pairs`,
    which runs only on pairs that can still reach the match threshold —
    the same retrieve-then-rerank shape as the reference
    (lib/search_and_rerank.py:22-113), but with an exact pruning bound.

    Texts are deliberately NOT joined here: at web scale the candidate-pair
    table is the biggest intermediate, and shuffling two text payloads per
    pair dwarfs the embeddings.  The rerank stage joins texts only for the
    (much smaller) survivor set.

    With ``config.quantization`` the pair join carries the QUANTIZED
    vectors (int8 4× / packed-bit 32× smaller payload); pairs whose
    approximate cosine sits more than ``quantize_margin`` below the rerank
    cutoff are dropped unscored (they could never become edges as long as
    the margin bounds the quantization error), and the survivors — a small
    fraction on realistic corpora — are re-scored with exact float cosine
    via a second narrow join.  Cluster output is identical to the float
    path whenever the margin assumption holds (pinned by pytest).
    """
    feat = records.select(
        F.col(config.id_col).alias("_rid"),
        F.col("embedding").alias("_emb"),
    )
    # The records side is the CORPUS — hint it to a hash-partitioned
    # shuffle join, never a broadcast: at 10^12 docs a corpus broadcast is
    # impossible, and even at bench scale Catalyst/AQE mis-estimates of
    # the checkpointed table turned both joins into driver-serial ~240MB
    # HashedRelation builds shipped once per executor (measured: the
    # scored stage ANTI-scaled 30s -> 160s from 1 to 4 executors; the
    # explicit shuffle join halved it in one JVM and splits the vector
    # traffic across executors on a cluster).
    if config.quantization in (None, "float"):
        a = feat.select(
            F.col("_rid").alias("id_a"), F.col("_emb").alias("emb_a")
        ).hint("shuffle_hash")
        b = feat.select(
            F.col("_rid").alias("id_b"), F.col("_emb").alias("emb_b")
        ).hint("shuffle_hash")
        return (
            pairs.join(a, "id_a")
            .join(b, "id_b")
            .withColumn("cosine", cosine_udf(F.col("emb_a"), F.col("emb_b")))
            .select("id_a", "id_b", "block_key", "cosine")
        )

    from semantic_entity_matching_spark.functions.quantize import (
        binary_cosine_from_packed,
        int8_cosine_udf_filter_safe,
        quantize,
    )

    if config.quantization not in ("int8", "binary", "ubinary"):
        raise ValueError(
            f"unsupported pre-scoring quantization {config.quantization!r}"
            " (use None/'float', 'int8', 'binary' or 'ubinary')"
        )
    margin = config.quantize_margin
    if margin is None:
        margin = 0.08 if config.quantization == "int8" else 0.25
    approx_cutoff = rerank_cosine_cutoff(config) - margin - 1e-6

    q = quantize(feat, "_emb", config.quantization, out_col="_q").select(
        "_rid", "_q"
    )
    qa = q.select(
        F.col("_rid").alias("id_a"), F.col("_q").alias("_qa")
    ).hint("shuffle_hash")
    qb = q.select(
        F.col("_rid").alias("id_b"), F.col("_q").alias("_qb")
    ).hint("shuffle_hash")
    if config.quantization == "int8":
        # filter-safe marker: the approx-cutoff filter below would
        # otherwise double-evaluate the UDF (guide §4.4)
        approx = int8_cosine_udf_filter_safe(F.col("_qa"), F.col("_qb"))
    else:
        approx = binary_cosine_from_packed(F.col("_qa"), F.col("_qb"))
    kept = (
        pairs.join(qa, "id_a")
        .join(qb, "id_b")
        .where(approx >= F.lit(approx_cutoff))
        .select("id_a", "id_b", "block_key")
    )
    a = feat.select(
        F.col("_rid").alias("id_a"), F.col("_emb").alias("emb_a")
    ).hint("shuffle_hash")
    b = feat.select(
        F.col("_rid").alias("id_b"), F.col("_emb").alias("emb_b")
    ).hint("shuffle_hash")
    return (
        kept.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", cosine_udf(F.col("emb_a"), F.col("emb_b")))
        .select("id_a", "id_b", "block_key", "cosine")
    )


def rerank_cosine_cutoff(config: MatchConfig) -> float:
    """Exact pruning bound for the rerank stage.

    JW and Levenshtein similarities are <= 1, so a pair's blended score is
    at most ``w_cos*cosine + w_jw + w_lev``.  If that upper bound is below
    the match threshold the pair can NEVER become an edge — skipping its
    rerank loses zero recall.  With default weights/threshold the cutoff is
    cosine < (0.80 - 0.5) / 0.5 = 0.6, which prunes the vast majority of
    candidate pairs before any per-pair Python runs.
    """
    from semantic_entity_matching_spark.functions.similarity import DEFAULT_WEIGHTS

    w = config.score_weights or DEFAULT_WEIGHTS
    w_cos = w["cosine"]
    if w_cos <= 0:
        return float("-inf")
    return (config.match_threshold - w["jaro_winkler"] - w["levenshtein"]) / w_cos


def rerank_pairs(
    scored: DataFrame,
    records: DataFrame,
    config: MatchConfig,
    prune: bool = True,
    with_jw: bool = True,
) -> DataFrame:
    """Stage 2 of scoring: expensive string metrics + blended score, only on
    pairs whose upper bound can still reach the threshold.  Joins the
    (truncated) texts here so the big stage-1 pair table stays narrow.

    Two exact pruning bounds, cheapest feature first (zero recall loss):

    1. cosine bound (stage 1 already computed it): prune when even
       jw = lev = 1 cannot reach the threshold;
    2. Levenshtein bound: Levenshtein is a JVM built-in (whole-stage
       codegen) while Jaro-Winkler is per-pair Python — so compute lev
       FIRST and prune with jw = 1 before any Python runs.  On near-dup-
       heavy corpora the cosine bound alone keeps ~70% of candidates; the
       lev bound cuts the Python JW set to roughly the eventual edge set.

    The ``- 1e-6`` margin keeps the bound conservative under
    ``score_round`` (round(score, 6) >= T only requires score >= T - 5e-7).
    """
    from semantic_entity_matching_spark.functions.similarity import DEFAULT_WEIGHTS

    w = config.score_weights or DEFAULT_WEIGHTS
    # prune=False (FS scoring): every candidate pair gets all three
    # features — the blended-threshold bounds don't apply to FS edges and
    # EM's u estimate needs the non-match population intact.
    survivors = (
        scored.where(F.col("cosine") >= F.lit(rerank_cosine_cutoff(config)))
        if prune
        else scored
    )
    txt = records.select(
        F.col(config.id_col).alias("_rid"),
        F.substring(F.col(config.text_col), 1, config.rerank_max_chars).alias(
            "_text"
        ),
    )
    survivors = survivors.join(
        txt.select(F.col("_rid").alias("id_a"), F.col("_text").alias("text_a")),
        "id_a",
    ).join(
        txt.select(F.col("_rid").alias("id_b"), F.col("_text").alias("text_b")),
        "id_b",
    )
    jw_upper_bound = (
        F.col("cosine") * F.lit(w["cosine"])
        + F.lit(w["jaro_winkler"])
        + F.col("levenshtein") * F.lit(w["levenshtein"])
    )
    score_col = blended_score(
        F.col("cosine"),
        F.col("jaro_winkler"),
        F.col("levenshtein"),
        config.score_weights,
    )
    if config.score_round is not None:
        score_col = F.round(score_col, config.score_round)
    out = survivors.withColumn(
        "levenshtein", levenshtein_similarity_expr("text_a", "text_b")
    )
    if prune:
        out = out.where(jw_upper_bound >= F.lit(config.match_threshold - 1e-6))
    if not with_jw:
        # FS deferred-JW mode: every feature except the per-pair-Python
        # Jaro-Winkler; the truncated text heads ride along so the
        # deferred stage needs no second corpus join (<= 2*rerank_max_chars
        # bytes/pair — the prefilter reads none of it)
        return out.select(
            "id_a", "id_b", "block_key", "cosine", "levenshtein",
            "text_a", "text_b",
        )
    return (
        out.withColumn(
            "jaro_winkler", jaro_winkler_udf(F.col("text_a"), F.col("text_b"))
        )
        .withColumn("score", score_col)
        .select(
            "id_a", "id_b", "block_key", "cosine", "jaro_winkler",
            "levenshtein", "score",
        )
    )


PIPELINE_STAGES = (
    "records", "blocks", "pairs", "scored", "reranked", "edges", "clusters",
)
N_PIPELINE_STAGES = len(PIPELINE_STAGES)


def run_pipeline(
    pages: DataFrame,
    config: MatchConfig | None = None,
    provider: EmbeddingProvider | None = None,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
    reporter=None,
) -> MatchResult:
    """Full pipeline.  With ``checkpoint``, each stage is committed and a
    re-run with ``resume=True`` skips every already-committed stage.

    Every stage is cut by :func:`~.checkpoint.materialize`.  ALWAYS pass
    a ``CheckpointManager`` on a real cluster: without one the cuts are
    in-memory local checkpoints, which are eager, not replicated and not
    fault-tolerant (the helper's contract) — acceptable for local tests and
    benchmarks, wrong at 100 TB.  The checkpointed path costs one parquet
    round-trip per stage and buys resume + bounded executor memory.  A
    stage that is built rather than resumed drops every later stage's
    snapshot (the CC supersteps included), so a resume never mixes two
    runs' stages.
    """
    from semantic_entity_matching_spark.plans.reporting import NullReporter

    config = config or MatchConfig()
    # pure-config validation belongs BEFORE any stage executes: the stages
    # run eagerly (each is counted), so a late raise would burn the whole
    # expensive front of the pipeline on a config that can never finish
    if config.scoring not in ("blended", "fellegi_sunter"):
        raise ValueError(f"unknown scoring mode: {config.scoring!r}")
    if config.scoring == "fellegi_sunter" and config.quantization not in (
        None,
        "float",
    ):
        # the quantized pre-scoring path DROPS pairs below its approx
        # cutoff — sound for blended-threshold edges, but it would
        # silently skew the FS u estimate (EM needs the candidate
        # population intact)
        raise ValueError("scoring='fellegi_sunter' requires quantization=None")
    if config.fs_em_sample_mod is not None and config.fs_em_sample_mod < 1:
        raise ValueError(
            f"fs_em_sample_mod must be >= 1 or None, got {config.fs_em_sample_mod}"
        )
    if config.fs_em_sample_target < 1:
        raise ValueError(
            f"fs_em_sample_target must be >= 1, got {config.fs_em_sample_target}"
        )
    counters: dict[str, int] = {}
    reporter = reporter or NullReporter()
    reporter.start_progress(total=N_PIPELINE_STAGES)

    def stage(name: str, build, counter: str) -> DataFrame:
        reporter.on_message(f"stage {name}")
        if checkpoint is not None and resume and checkpoint.exists(name):
            df = checkpoint.read(name)
            reporter.on_message(f"stage {name}: resumed from checkpoint")
        else:
            if checkpoint is not None:
                # a rebuilt stage makes every later snapshot stale (an
                # earlier run's, on other input): drop them, so a kill
                # before they are rewritten cannot resume from them
                stale = PIPELINE_STAGES[PIPELINE_STAGES.index(name) + 1:]
                if name != "clusters":  # which resumes from its supersteps
                    stale += (CC_CHECKPOINT_TABLE,)
                for table in stale:
                    checkpoint.drop(table)
            # each stage feeds several downstream consumers: without the
            # cut every stage recomputes its whole upstream chain
            df = materialize(build(), name, checkpoint)
        if checkpoint is None:  # reads the cut blocks, not the stage's plan
            counters[counter] = df.count()
        else:  # the snapshot's count, from its parquet footers
            counters[counter] = checkpoint.manifest(name)["rows"]
            checkpoint.add_counter(counter, counters[counter])
        reporter.on_message(f"stage {name}: {counter}={counters[counter]}")
        reporter.on_progress(PIPELINE_STAGES.index(name) + 1)
        return df

    records = stage(
        "records",
        lambda: prepare_records(pages, config, provider, with_entity_text=False),
        "records_prepared",
    )
    blocks = stage(
        "blocks",
        lambda: all_block_keys(
            records,
            id_col=config.id_col,
            text_col=config.text_col,
            lsh=config.lsh,
            sn_window=config.sn_window,
            sn_key_scan_chars=config.sn_key_scan_chars,
        ),
        "block_keys_emitted",
    )
    if config.audit_sn_keys:
        from semantic_entity_matching_spark.operators.blocking import (
            sn_short_key_audit,
        )

        n_short = sn_short_key_audit(
            records,
            id_col=config.id_col,
            text_col=config.text_col,
            key_scan_chars=config.sn_key_scan_chars,
        ).count()
        counters["sn_short_keyed"] = n_short
        if checkpoint is not None:
            checkpoint.add_counter("sn_short_keyed", n_short)
    # ONE block-sizes aggregate feeds both the pair generator's cap/salt
    # logic and the dropped-blocks audit below: persisted so the audit
    # count reuses the exchange instead of re-aggregating the block table.
    from semantic_entity_matching_spark.operators.pairs import (
        block_sizes,
        dropped_blocks_audit,
    )

    sizes = block_sizes(blocks, config.id_col).persist()
    pairs = stage(
        "pairs",
        lambda: generate_candidate_pairs(
            blocks, config.id_col, config.pairgen, sizes=sizes
        ),
        "pairs_generated",
    )
    # the block-size cap must never be a silent cap (north_rule audit):
    # surface the number of dropped keys with every run's counters.
    n_dropped = dropped_blocks_audit(
        blocks, config.id_col, config.pairgen, sizes=sizes
    ).count()
    sizes.unpersist()
    counters["blocks_dropped"] = n_dropped
    if checkpoint is not None:
        checkpoint.add_counter("blocks_dropped", n_dropped)
    scored = stage(
        "scored", lambda: score_pairs(pairs, records, config), "pairs_scored"
    )
    if config.scoring == "fellegi_sunter":
        from semantic_entity_matching_spark.operators.resolve import (
            fs_edges_deferred,
            fs_edges_from_features,
        )

        # the scored stage already counted the candidate population
        # (prune=False keeps every scored pair through rerank): size the
        # EM sample mod and the auto defer decision from it BEFORE the
        # rerank stage builds, so with_jw is known up front
        n_cand = counters.get("pairs_scored", 0)
        em_mod = config.fs_em_sample_mod
        if em_mod is None:
            em_mod = max(1, -(-n_cand // config.fs_em_sample_target))
        defer = config.fs_defer_jw
        if defer is None:
            defer = em_mod > 1
        reranked = stage(
            "reranked",
            lambda: rerank_pairs(
                scored, records, config, prune=False, with_jw=not defer,
            ),
            "pairs_reranked",
        )
        if defer:
            fs_counters: dict[str, int] = {}

            def build_edges_deferred() -> DataFrame:
                return fs_edges_deferred(
                    reranked,
                    lambda df: df.withColumn(
                        "jaro_winkler",
                        jaro_winkler_udf(F.col("text_a"), F.col("text_b")),
                    ),
                    agree_thresholds=config.fs_agree_thresholds,
                    posterior_threshold=config.fs_posterior,
                    em_sample_mod=em_mod,
                    counters=fs_counters,
                    n_pairs=counters.get("pairs_reranked"),
                )

            edges = stage("edges", build_edges_deferred, "edges_emitted")
            # filled during the build (empty on checkpoint resume)
            counters.update(fs_counters)
            if checkpoint is not None:
                for k, v in fs_counters.items():
                    checkpoint.add_counter(k, v)
        else:
            edges = stage(
                "edges",
                lambda: fs_edges_from_features(
                    reranked,
                    agree_thresholds=config.fs_agree_thresholds,
                    posterior_threshold=config.fs_posterior,
                    em_sample_mod=em_mod,
                ),
                "edges_emitted",
            )
        counters["fs_em_sample_mod"] = em_mod
        if checkpoint is not None:
            checkpoint.add_counter("fs_em_sample_mod", em_mod)
    else:  # 'blended' — validated at entry
        reranked = stage(
            "reranked",
            lambda: rerank_pairs(scored, records, config),
            "pairs_reranked",
        )
        edges = stage(
            "edges",
            lambda: reranked.where(
                F.col("score") >= config.match_threshold
            ).select("id_a", "id_b", "score"),
            "edges_emitted",
        )
    clusters = stage(
        "clusters",
        lambda: clusters_from_pairs(
            edges.select("id_a", "id_b"),
            all_ids=records,
            id_col=config.id_col,
            max_iterations=config.max_cc_iterations,
            checkpoint=checkpoint,
            resume=resume,
            # the edges stage already counted its rows: a small edge set
            # folds to the exact driver union-find (no superstep jobs)
            n_edges=counters.get("edges_emitted"),
        ),
        "records_clustered",
    )
    if checkpoint is not None:
        checkpoint.write_run_summary()
    reporter.stop_progress()
    return MatchResult(
        clusters=clusters, edges=edges, scored_pairs=reranked, counters=counters
    )
