"""End-to-end record-linkage pipeline (the flagship plan).

    webpages(url, warc_ts, html, text, lang)
      → canonical text + embedding          (Arrow pandas UDFs, no shuffle)
      → blocking keys (LSH + sorted-nbhd)   (mapInPandas + one window)
      → candidate pairs                     (salted equi-join, capped blocks)
      → pair scoring                        (cosine BLAS batch + JW + Levenshtein)
      → threshold → match edges
      → connected components                (large-star/small-star, checkpointed)
      → clusters(id, component)

Counters (pairs_generated, pairs_scored, edges_emitted, ...) are captured at
each stage boundary by the cut itself (no job runs only to count them) and
written with the stage checkpoint (Iceberg snapshot properties in
production; manifest JSON here) — per-partition task metrics remain visible
in the Spark UI/event log, and the stage counts make the run resumable AND
auditable (north_rule).

Every stage reads its input from the previous stage's committed snapshot,
so a killed run resumes at the first uncommitted stage (``resume=True``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
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
from semantic_entity_matching_spark.operators.blocking import (
    LSHConfig,
    all_block_keys,
    sn_short_key,
)
from semantic_entity_matching_spark.operators.cluster import (
    CC_CHECKPOINT_TABLE,
    clusters_from_pairs,
)
from semantic_entity_matching_spark.operators.pairs import (
    PairGenConfig,
    block_sizes,
    generate_candidate_pairs,
)
from semantic_entity_matching_spark.plans.checkpoint import (
    CheckpointManager,
    materialize_observed,
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
    # 'blended' (default): weighted cosine+JW+lev vs match_threshold —
    # the reference-parity path.  'fellegi_sunter': UNSUPERVISED edges —
    # the three similarities become 0/1 agreement features at
    # fs_agree_thresholds, m/u/prior are EM-fit on the blocked candidate
    # population (Splink's estimate-on-blocked-pairs practice), and a
    # pair becomes an edge when its posterior match probability reaches
    # fs_posterior.  No labels, no hand-set match_threshold.  The blended
    # rerank bounds don't apply, but the cost is still bounded: the
    # per-pair Python JW runs only on the EM sample plus the pairs whose
    # cheap-feature weight upper bound can still reach fs_posterior —
    # exact, identical edges to scoring every pair
    # (resolve.fs_edges_deferred).
    scoring: str = "blended"
    fs_agree_thresholds: tuple = (0.80, 0.90, 0.80)  # cosine, jw, lev
    fs_posterior: float = 0.5
    # EM-fit sampling (FS mode): the EM fits m/u/prior on a deterministic
    # 1/mod hash-sample of the candidate pairs, mod derived from the
    # measured candidate count so the fit sees ~fs_em_sample_target pairs
    # (mod 1, the full population, when the candidates are already
    # small; reported as counter fs_em_sample_mod).  Pattern-count EM
    # needs cell frequencies, not the full pair table, so the sample
    # reproduces the full fit to Monte-Carlo noise (pytest-pinned).  The
    # scoring pass always sees every pair.
    fs_em_sample_target: int = 100_000


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
    records_b: DataFrame | None = None,
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
    approximate cosine sits more than the scheme's error margin
    (:func:`functions.quantize.quantized_cosine_margin`) below the rerank
    cutoff are dropped unscored (they could never become edges as long as
    the margin bounds the quantization error), and the survivors — a small
    fraction on realistic corpora — are re-scored with exact float cosine
    via a second narrow join.  Cluster output is identical to the float
    path whenever the margin assumption holds (pinned by pytest).

    ``id_a`` resolves in ``records`` and ``id_b`` in ``records_b``
    (default: the same table), so one scorer serves a self-join's pairs
    and cross pairs between two tables.  The output is ``pairs``' own
    columns + ``cosine``.  Cut it before :func:`rerank_pairs`: Catalyst
    pushes the rerank's cosine filter below the cosine projection, which
    evaluates the cosine UDF twice.
    """
    records_b = records if records_b is None else records_b
    # The records side is the CORPUS — hint it to a hash-partitioned
    # shuffle join, never a broadcast: at 10^12 docs a corpus broadcast is
    # impossible, and even at bench scale Catalyst/AQE mis-estimates of
    # the checkpointed table turned both joins into driver-serial ~240MB
    # HashedRelation builds shipped once per executor (measured: the
    # scored stage ANTI-scaled 30s -> 160s from 1 to 4 executors; the
    # explicit shuffle join halved it in one JVM and splits the vector
    # traffic across executors on a cluster).
    if config.quantization not in (None, "float"):
        from semantic_entity_matching_spark.functions.quantize import (
            quantize,
            quantized_cosine,
            quantized_cosine_margin,
        )

        approx = quantized_cosine(config.quantization)
        margin = quantized_cosine_margin(config.quantization)
        approx_cutoff = rerank_cosine_cutoff(config) - margin - 1e-6

        def q(recs: DataFrame, s: str) -> DataFrame:
            recs = quantize(recs, "embedding", config.quantization, out_col="_q")
            return _side(recs, config, s, F.col("_q"), "_q").hint("shuffle_hash")

        pairs = (
            pairs.join(q(records, "a"), "id_a")
            .join(q(records_b, "b"), "id_b")
            .where(approx(F.col("_q_a"), F.col("_q_b")) >= F.lit(approx_cutoff))
            .select(*pairs.columns)
        )

    def emb(recs: DataFrame, s: str) -> DataFrame:
        return _side(recs, config, s, F.col("embedding"), "emb").hint("shuffle_hash")

    return (
        pairs.join(emb(records, "a"), "id_a")
        .join(emb(records_b, "b"), "id_b")
        .withColumn("cosine", cosine_udf(F.col("emb_a"), F.col("emb_b")))
        .select(*pairs.columns, "cosine")
    )


def _side(
    records: DataFrame, config: MatchConfig, s: str, value: Column, name: str
) -> DataFrame:
    """One pair side's lookup table over ``records``: ``id_<s>`` and
    ``<name>_<s>`` = ``value``."""
    return records.select(
        F.col(config.id_col).alias(f"id_{s}"), value.alias(f"{name}_{s}")
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
    records_b: DataFrame | None = None,
) -> DataFrame:
    """Stage 2 of scoring: expensive string metrics + blended score, only on
    pairs whose upper bound can still reach the threshold.  Joins the
    (truncated) texts here so the big stage-1 pair table stays narrow.

    Two exact pruning bounds, cheapest feature first (zero recall loss):

    1. cosine bound (stage 1 already computed it): prune when even
       jw = lev = 1 cannot reach the threshold;
    2. Levenshtein bound: Levenshtein is a JVM built-in (whole-stage
       codegen) while Jaro-Winkler is per-pair Python — so compute lev
       FIRST and prune with jw = 1 before any Python runs.  On
       near-dup-heavy corpora the cosine bound alone keeps ~70% of
       candidates; the lev bound cuts the Python JW set to roughly the
       eventual edge set.  The ``- 1e-6`` margin keeps it conservative
       under ``score_round`` (round(score, 6) >= T only requires
       score >= T - 5e-7).

    Cut the result before filtering on ``score``: Catalyst pushes a
    filter on the (deterministic) JW UDF down into the bound's filter,
    which runs JW on every pair the bound would have pruned, and again
    above it.

    ``records_b`` as in :func:`score_pairs`.  The output is ``scored``'s
    columns + ``jaro_winkler``, ``levenshtein`` and ``score``.
    """
    from semantic_entity_matching_spark.functions.similarity import DEFAULT_WEIGHTS

    w = config.score_weights or DEFAULT_WEIGHTS
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
    survivors = scored.where(
        F.col("cosine") >= F.lit(rerank_cosine_cutoff(config))
    )
    return (
        _text_heads(survivors, records, config, records_b)
        .withColumn(
            "levenshtein", levenshtein_similarity_expr("text_a", "text_b")
        )
        .where(jw_upper_bound >= F.lit(config.match_threshold - 1e-6))
        .withColumn(
            "jaro_winkler", jaro_winkler_udf(F.col("text_a"), F.col("text_b"))
        )
        .withColumn("score", score_col)
        .select(*scored.columns, "jaro_winkler", "levenshtein", "score")
    )


def _text_heads(
    pairs: DataFrame,
    records: DataFrame,
    config: MatchConfig,
    records_b: DataFrame | None = None,
) -> DataFrame:
    """``pairs`` + ``text_a``/``text_b``: the first ``rerank_max_chars``
    of each side's text, the only text the string metrics read.  ``id_a``
    resolves in ``records`` and ``id_b`` in ``records_b`` (default: the
    same table)."""
    head = F.substring(F.col(config.text_col), 1, config.rerank_max_chars)
    records_b = records if records_b is None else records_b
    return pairs.join(_side(records, config, "a", head, "text"), "id_a").join(
        _side(records_b, config, "b", head, "text"), "id_b"
    )


def _block_keys(records: DataFrame, config: MatchConfig) -> DataFrame:
    """``config``'s blocking keys over ``records``: (id, block_key)."""
    return all_block_keys(
        records,
        id_col=config.id_col,
        text_col=config.text_col,
        lsh=config.lsh,
        sn_window=config.sn_window,
        sn_key_scan_chars=config.sn_key_scan_chars,
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

    Where each counter comes from (no job runs only to count):

    * the seven stage counters (``records_prepared``, ``block_keys_emitted``,
      ``pairs_generated``, ``pairs_scored``, ``pairs_reranked``,
      ``edges_emitted``, ``records_clustered``) are the stage's row count:
      with a ``CheckpointManager`` the snapshot manifest's, from its parquet
      footers; without one, an ``Observation`` on the stage's cut, so the
      cut's own job counts the rows;
    * ``blocks_dropped`` (keys over ``max_block_size``) is observed on the
      in-memory cut of the size table's head (the ``block_sizes`` job),
      which the pair generator reads as its ``sizes``;
    * ``sn_short_keyed`` (``audit_sn_keys``) is observed on the records
      cut; a resumed records snapshot counts it with one action instead;
    * ``fs_em_sample_mod`` (FS scoring) is derived from ``pairs_scored``;
      ``fs_pairs_total``, ``fs_jw_sample_pairs`` and ``fs_jw_pairs`` are
      observed on the jobs of ``resolve.fs_edges_deferred`` (a resumed
      edges snapshot re-emits none of them).
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
    if config.fs_em_sample_target < 1:
        raise ValueError(
            f"fs_em_sample_target must be >= 1, got {config.fs_em_sample_target}"
        )
    counters: dict[str, int] = {}
    reporter = reporter or NullReporter()
    reporter.start_progress(total=N_PIPELINE_STAGES)

    def stage(name: str, build, counter: str, metrics=None) -> DataFrame:
        """Build (or resume) stage ``name`` and cut it.  ``metrics``
        (counter -> aggregate Column) are observed on the cut's own job
        when the stage is built, not on a resumed snapshot."""
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
            # without a snapshot manifest the cut's own job counts the rows
            observe = {counter: F.count(F.lit(1))} if checkpoint is None else {}
            observe.update(metrics or {})
            # each stage feeds several downstream consumers: without the
            # cut every stage recomputes its whole upstream chain
            df, observed = materialize_observed(build(), name, checkpoint, observe)
            counters.update(observed)
        if checkpoint is not None:  # the snapshot's count, from its parquet footers
            counters[counter] = checkpoint.manifest(name)["rows"]
            checkpoint.add_counter(counter, counters[counter])
        reporter.on_message(f"stage {name}: {counter}={counters[counter]}")
        reporter.on_progress(PIPELINE_STAGES.index(name) + 1)
        return df

    sn_short = sn_short_key(
        config.text_col, key_scan_chars=config.sn_key_scan_chars
    )
    records = stage(
        "records",
        lambda: prepare_records(pages, config, provider, with_entity_text=False),
        "records_prepared",
        {"sn_short_keyed": F.count_if(sn_short)} if config.audit_sn_keys else None,
    )
    blocks = stage(
        "blocks", lambda: _block_keys(records, config), "block_keys_emitted"
    )
    if config.audit_sn_keys:
        if "sn_short_keyed" not in counters:  # records resumed, not built
            counters["sn_short_keyed"] = records.where(sn_short).count()
        if checkpoint is not None:
            checkpoint.add_counter("sn_short_keyed", counters["sn_short_keyed"])
    # The pair generator reads only the block_size > head_threshold head
    # of the size table: the keys it salts or drops
    # (block_pair_stream).  Cut that head once, in memory: it is bounded by
    # total block rows / threshold, the bound its broadcast relies on.  The
    # same job counts the keys the cap drops, which must never be a silent
    # cap (north_rule audit), so every run's counters surface them.
    pg = config.pairgen
    head, dropped = materialize_observed(
        block_sizes(blocks, config.id_col).where(
            F.col("block_size") > pg.head_threshold
        ),
        "block_sizes",
        None,
        {"blocks_dropped": F.count_if(F.col("block_size") > pg.max_block_size)},
    )
    pairs = stage(
        "pairs",
        lambda: generate_candidate_pairs(blocks, config.id_col, pg, sizes=head),
        "pairs_generated",
    )
    counters.update(dropped)
    if checkpoint is not None:
        checkpoint.add_counter("blocks_dropped", dropped["blocks_dropped"])
    scored = stage(
        "scored", lambda: score_pairs(pairs, records, config), "pairs_scored"
    )
    if config.scoring == "fellegi_sunter":
        from semantic_entity_matching_spark.operators.resolve import (
            fs_edges_deferred,
        )

        # every scored pair is an FS candidate: its text heads and the
        # codegen Levenshtein; the per-pair Python JW is deferred to the
        # edges stage, which runs it only where the fit or an edge needs it
        reranked = stage(
            "reranked",
            lambda: _text_heads(scored, records, config)
            .withColumn(
                "levenshtein", levenshtein_similarity_expr("text_a", "text_b")
            )
            .select(
                "id_a", "id_b", "block_key", "cosine", "levenshtein",
                "text_a", "text_b",
            ),
            "pairs_reranked",
        )
        # the EM sample mod, from the counted candidate population
        em_mod = max(1, -(-counters["pairs_scored"] // config.fs_em_sample_target))
        fs_counters = {"fs_em_sample_mod": em_mod}
        edges = stage(
            "edges",
            lambda: fs_edges_deferred(
                reranked,
                lambda df: df.withColumn(
                    "jaro_winkler",
                    jaro_winkler_udf(F.col("text_a"), F.col("text_b")),
                ),
                agree_thresholds=config.fs_agree_thresholds,
                posterior_threshold=config.fs_posterior,
                em_sample_mod=em_mod,
                counters=fs_counters,
            ),
            "edges_emitted",
        )
        counters.update(fs_counters)
        if checkpoint is not None:
            for k, v in fs_counters.items():
                checkpoint.add_counter(k, v)
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
