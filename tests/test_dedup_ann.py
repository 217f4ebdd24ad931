from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.embed import TokenHashEmbeddingProvider
from semantic_entity_matching_spark.operators.ann import brute_force_topk, lsh_topk
from semantic_entity_matching_spark.operators.dedup import (
    drop_exact_duplicates,
    embedding_near_duplicates,
    exact_duplicate_groups,
    jaccard_py,
    minhash_near_duplicates,
    simhash_near_duplicates,
    simhash_py,
    with_simhash,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "The  Quick Brown Fox jumps over the lazy dog"),  # exact after norm
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup
    (3, "spark shuffles are expensive at scale"),
    (4, "spark shuffles are expensive at scale"),  # exact dup of 3
    (5, None),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicate_groups(spark):
    groups = exact_duplicate_groups(_docs(spark)).collect()
    got = {(r["keep_id"], r["dup_count"]) for r in groups}
    assert got == {(0, 2), (3, 2)}


def test_drop_exact_duplicates(spark):
    kept = sorted(r["doc_id"] for r in drop_exact_duplicates(_docs(spark)).collect())
    assert kept == [0, 2, 3, 5]


def test_jaccard_oracle():
    assert jaccard_py("a b c", "a b c") == 1.0
    assert jaccard_py("a b", "c d") == 0.0
    assert jaccard_py("a b c d", "a b c x") == pytest.approx(3 / 5)
    assert jaccard_py("", "") == 1.0
    assert jaccard_py("a b c", "b c a") == 1.0  # order-insensitive
    assert jaccard_py(None, "a") == jaccard_py(None, None) == 0.0  # null text


def test_minhash_near_duplicates(spark):
    pairs = minhash_near_duplicates(_docs(spark), jaccard_threshold=0.6).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    text = dict(DOCS)
    for r in pairs:  # the verified score is the oracle's, above threshold
        assert abs(r["jaccard"] - jaccard_py(text[r["id_a"]], text[r["id_b"]])) < 1e-12
        assert r["jaccard"] >= 0.6
    assert (0, 1) in got  # normalization-identical
    assert (0, 2) in got or (1, 2) in got  # near-dup via one-token change
    assert (3, 4) in got
    assert all(not (a in (0, 1, 2) and b in (3, 4)) for a, b in got)


def test_simhash_properties(spark):
    h0 = simhash_py(DOCS[0][1])
    h1 = simhash_py(DOCS[2][1])  # one token differs
    h3 = simhash_py(DOCS[3][1])
    ham01 = bin(h0 ^ h1).count("1")
    ham03 = bin(h0 ^ h3).count("1")
    assert ham01 < ham03  # near-dup closer than unrelated
    assert simhash_py(DOCS[0][1]) == h0  # deterministic
    hashed = with_simhash(_docs(spark)).collect()
    by_id = {r["doc_id"]: r["simhash"] for r in hashed}
    expected = simhash_py(DOCS[0][1])
    expected = (expected - (1 << 64)) if expected >= (1 << 63) else expected
    assert by_id[0] == expected


def test_simhash_near_duplicates(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta iota"),  # 1 token
            (2, "totally different words appear in this sentence here"),
        ],
        "doc_id long, text string",
    )
    # short docs flip ~13 bits for one token; pigeonhole recall needs
    # hamming < n_bands, so use 16 bands here
    pairs = simhash_near_duplicates(docs, max_hamming=14, n_bands=16).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got
    assert (0, 2) not in got and (1, 2) not in got


def _vec_table(spark, n=40, dim=32, seed=3):
    rng = np.random.RandomState(seed)
    base = rng.standard_normal((n, dim)).astype(np.float32)
    rows = []
    for i in range(n):
        v = base[i] / np.linalg.norm(base[i])
        rows.append((i, [float(x) for x in v]))
    # add near-duplicates of vec 0 and 1
    for j, src in [(n, 0), (n + 1, 1)]:
        v = base[src] + rng.standard_normal(dim).astype(np.float32) * 0.01
        v = v / np.linalg.norm(v)
        rows.append((j, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark):
    vecs = _vec_table(spark)
    queries = vecs.where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = vecs.select(F.col("vec_id").alias("candidate_id"), "embedding")
    top = brute_force_topk(queries, corpus, k=3, exclude_self=False)
    rows = top.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["candidate_id"], r["score"]))
    # rank 1 = self (cosine 1), rank 2 = planted near-dup
    assert sorted(by_q[0])[0][1] == 0 and sorted(by_q[0])[1][1] == 40
    assert sorted(by_q[1])[0][1] == 1 and sorted(by_q[1])[1][1] == 41
    assert all(len(v) == 3 for v in by_q.values())


def test_lsh_topk_finds_planted_neighbors(spark):
    vecs = _vec_table(spark, n=60)
    queries = vecs.where(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = vecs.select(F.col("vec_id").alias("candidate_id"), "embedding")
    top = lsh_topk(queries, corpus, k=3, n_tables=12, n_bits=8)
    by_q = {}
    for r in top.collect():
        by_q.setdefault(r["query_id"], []).append(r["candidate_id"])
    # planted near-dups must surface in approximate top-3
    assert 60 in by_q[0]
    assert 61 in by_q[1]


def test_embedding_near_duplicates(spark):
    vecs = _vec_table(spark)
    pairs = embedding_near_duplicates(vecs, cosine_threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, 40), (1, 41)}


def test_embedding_near_duplicates_bucketed(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = embedding_near_duplicates(
        emb, bucket_col="label", cosine_threshold=0.99
    )
    # just exercising the bucketed plan — no cross join in it
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    out.count()  # runs


def test_ivf_topk_recall_and_exactness(spark):
    """IVF: nprobe == nlist degenerates to exact brute force; low nprobe
    keeps recall@5 high while scoring a fraction of the corpus."""
    from semantic_entity_matching_spark.operators.ann import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select(F.col("vec_id").alias("candidate_id"), "embedding")
    cents = train_ivf_centroids(corpus, nlist=8, seed=42)

    exact = brute_force_topk(
        queries, corpus, k=5, exclude_self=True, score_round=6
    ).toPandas()
    full = ivf_topk(
        queries, corpus, k=5, nlist=8, nprobe=8, centroids=cents,
        exclude_self=True, score_round=6,
    ).toPandas()
    key = ["query_id", "candidate_id", "score", "rank"]
    assert sorted(map(tuple, full[key].values.tolist())) == sorted(
        map(tuple, exact[key].values.tolist())
    )

    probe2 = ivf_topk(
        queries, corpus, k=5, nlist=8, nprobe=2, centroids=cents,
        exclude_self=True, score_round=6,
    ).toPandas()
    gold = {(r.query_id, r.candidate_id) for r in exact.itertuples()}
    got = {(r.query_id, r.candidate_id) for r in probe2.itertuples()}
    recall = len(gold & got) / len(gold)
    assert recall >= 0.5, recall  # coarse 2-of-8-cell probe on random vecs


def test_ivf_sampling_plan_has_no_sort(spark):
    """Centroid-training sample is a hash-range filter — at 10^12 docs a
    global orderBy (even as TakeOrdered) scans-and-heaps the whole corpus;
    the filter plan must contain no Sort/TakeOrdered node."""
    from semantic_entity_matching_spark.operators.ann import _ivf_sample_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = emb.where(F.col("embedding").isNotNull()).select(
        F.xxhash64(F.col("vec_id")).alias("_h"), F.col("embedding").alias("v")
    )
    plan = _ivf_sample_plan(src, n_vecs=src.count(), sample_n=100)
    txt = plan._jdf.queryExecution().executedPlan().toString()
    assert "Sort" not in txt and "TakeOrdered" not in txt, txt
    # and the filter still yields a deterministic, bounded sample
    assert plan.count() > 0


def test_sessionize_boundary_and_nulls(spark):
    """session_window semantics the q36 oracle depends on: an event exactly
    at prev_ts + gap MERGES into the session (new-session is strictly
    diff > gap); NULL key/ts rows are excluded; ordinals are 1-based per
    key by start time and session_end is the last EVENT (no gap padding)."""
    import datetime

    from semantic_entity_matching_spark.operators.sessions import sessionize

    t0 = datetime.datetime(2024, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        (1, at(0)),
        (1, at(100)),      # merges: exactly prev + gap
        (1, at(200)),      # merges again (chained boundary)
        (1, at(300.000001)),  # > gap after 200 -> NEW session
        (2, at(0)),
        (2, None),         # null ts dropped
        (None, at(0)),     # null key dropped
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["user_id"], r["session_id"]): (r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(df, gap_seconds=100).collect()
    }
    assert got == {
        (1, 1): (at(0), at(200), 3),
        (1, 2): (at(300.000001), at(300.000001), 1),
        (2, 1): (at(0), at(0), 1),
    }


def test_asof_join_semantics(spark):
    """Point-in-time lookup: latest prior build per key; build AT the
    probe's exact ts counts; ties on ts pick the largest id; no prior
    build -> null match."""
    from datetime import datetime

    from semantic_entity_matching_spark.operators.asof import asof_join

    def t(m):
        return datetime(2026, 1, 1, 0, m)

    builds = spark.createDataFrame(
        [("u1", t(1), 101, 1.0), ("u1", t(5), 105, 5.0),
         ("u1", t(5), 106, 6.0),   # ts tie -> largest id wins
         ("u2", t(9), 201, 9.0)],
        "user_id string, ts timestamp, event_id bigint, value double",
    )
    probes = spark.createDataFrame(
        [("u1", t(3), 1001), ("u1", t(5), 1002),  # equal ts -> eligible
         ("u1", t(8), 1003), ("u2", t(2), 2001),  # before any build -> null
         ("u3", t(4), 3001)],                     # key never built -> null
        "user_id string, ts timestamp, event_id bigint",
    )
    out = {
        r["event_id"]: (r["matched_event_id"], r["matched_value"])
        for r in asof_join(probes, builds).collect()
    }
    assert out[1001] == (101, 1.0)
    assert out[1002] == (106, 6.0)  # same-ts build eligible, max id of tie
    assert out[1003] == (106, 6.0)
    assert out[2001] == (None, None)
    assert out[3001] == (None, None)


def test_range_self_join_boundary_orientations(spark):
    """Binned range join: pairs straddling a bucket boundary are found even
    when the later-bucket member has the SMALLER id (canonicalization after
    the join, not an id pre-filter); exact-gap pairs included, beyond-gap
    excluded."""
    from datetime import datetime, timedelta

    from semantic_entity_matching_spark.operators.asof import range_self_join

    t0 = datetime(2026, 1, 1)

    def at(us):
        return t0 + timedelta(microseconds=us)

    rows = [
        ("u1", 5, at(100_500_000)),  # bucket 1
        ("u1", 2, at(130_200_000)),  # bucket 2, gap 29.7s, smaller id later
        ("u1", 9, at(300_000_000)),  # far away from both
        ("u2", 11, at(10_000_000)),
        ("u2", 12, at(70_000_000)),  # exactly 60.0s -> included
        ("u2", 13, at(70_000_001)),  # 60.000001s from 11 -> excluded
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id bigint, ts timestamp"
    )
    out = {
        (r["id_a"], r["id_b"]): r["gap_us"]
        for r in range_self_join(df, max_gap_seconds=60).collect()
    }
    assert out[(2, 5)] == 29_700_000
    assert out[(11, 12)] == 60_000_000
    assert (11, 13) not in out
    assert (12, 13) in out  # 1 microsecond apart
    assert all(a != 9 and b != 9 for a, b in out)


def test_deterministic_sampling_stability(spark):
    """md5-keyed sampling is reproducible AND growth-stable: the sample of
    a corpus prefix is exactly the prefix-restriction of the full-corpus
    sample (ids never move buckets), and stratified quotas are exact with
    the identical membership at any partitioning."""
    from semantic_entity_matching_spark.operators.sample import (
        deterministic_sample,
        stratified_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    full = {
        r["doc_id"]
        for r in deterministic_sample(docs, "doc_id", 0.2).select("doc_id").collect()
    }
    sub_ids = {r["doc_id"] for r in docs.where(F.col("doc_id") < 250).collect()}
    sub = {
        r["doc_id"]
        for r in deterministic_sample(
            docs.where(F.col("doc_id") < 250), "doc_id", 0.2
        ).select("doc_id").collect()
    }
    assert sub == full & sub_ids  # growth-stable
    assert 0 < len(full) < docs.count()

    strat = stratified_sample(docs, "lang", 10, "doc_id")
    counts = {r["lang"]: r["n"] for r in strat.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    avail = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {k: min(10, v) for k, v in avail.items()}
    # repartitioning must not change membership
    a = sorted(r["doc_id"] for r in strat.collect())
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(docs.repartition(17), "lang", 10, "doc_id").collect()
    )
    assert a == b


def test_stratified_sample_prefilter_exactness(spark):
    """The per-stratum hash prefilter (the fix for the one-task
    whole-stratum sort) must not change the sample: on a skewed corpus
    where the filter genuinely fires (stratum_size >> oversample*n) the
    output equals the naive full-window spec; forcing mass
    under-delivery (oversample ~ 0) exercises the exact redo branch to
    the same answer; NULL strata keep their own quota."""
    from pyspark.sql import Window

    from semantic_entity_matching_spark.operators.sample import (
        stratified_sample,
    )

    rows = [(i, "big" if i < 3000 else ("small" if i < 3020 else None))
            for i in range(3040)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    # naive spec: full window per stratum
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    want = sorted(
        (r["doc_id"], r["lang"])
        for r in df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 7).drop("_rk").collect()
    )
    for oversample in (4.0, 1e-6):  # filter path / forced-redo path
        got = sorted(
            (r["doc_id"], r["lang"])
            for r in stratified_sample(
                df, "lang", 7, "doc_id", oversample=oversample
            ).collect()
        )
        assert got == want, f"oversample={oversample}"
    by_lang = {}
    for _, lang in want:
        by_lang[lang] = by_lang.get(lang, 0) + 1
    assert by_lang == {"big": 7, "small": 7, None: 7}


def test_semantic_dedup_survivor_and_cells(spark):
    """SemDeDup contract: within-cell near-dups collapse to ONE survivor —
    the member LEAST similar to its centroid (diversity-keep, ties to the
    smallest id); cross-cell near-dups are NOT paired (cells are the
    blocking key — the documented cluster-then-prune tradeoff); null
    vectors are excluded."""
    from semantic_entity_matching_spark.operators.dedup import semantic_dedup

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),      # cell 0, dup group A
        (2, [0.999, 0.04, 0.0, 0.0]),   # cell 0, dup of 1, lower centroid_cos
        (3, [0.8, 0.0, 0.6, 0.0]),      # cell 0, singleton (cos 0.8 < 0.95)
        (4, [0.0, 1.0, 0.0, 0.0]),      # cell 1, dup group B
        (5, [0.04, 0.999, 0.0, 0.0]),   # cell 1, dup of 4
        (7, [0.72, 0.69, 0.0, 0.0]),    # cell 0 } cosine(7,8)≈0.998 but
        (8, [0.69, 0.72, 0.0, 0.0]),    # cell 1 } different cells: no pair
        (9, None),                       # excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup(
            df, cents, cosine_threshold=0.95
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 7, 8}  # null row gone
    assert {k: v["cell"] for k, v in out.items()} == {
        1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 7: 0, 8: 1
    }
    # dup groups resolved to one component each
    assert out[1]["component"] == out[2]["component"]
    assert out[4]["component"] == out[5]["component"]
    # survivor = least similar to centroid (2 and 5, not 1 and 4)
    assert (out[1]["keep"], out[2]["keep"]) == (0, 1)
    assert (out[4]["keep"], out[5]["keep"]) == (0, 1)
    # cross-cell near-dups never pair: both survive as singletons
    assert out[7]["keep"] == 1 and out[8]["keep"] == 1
    assert out[7]["component"] != out[8]["component"]
    assert out[3]["keep"] == 1


def test_semantic_dedup_cell_cap_and_audit(spark):
    """max_cell_size: members of an over-cap cell are EXCLUDED from pair
    generation (keep=1 singletons — conservative, nothing pruned via an
    over-coarse cell) while small cells dedup normally; the audit reports
    exactly the over-cap cells with their implied pair costs."""
    from semantic_entity_matching_spark.operators.dedup import (
        assign_nearest_centroid,
        semantic_cell_audit,
        semantic_dedup,
    )

    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    # cell 0: 6 near-identical members (a mega-cell at cap 4);
    # cell 1: 2 near-dups (under cap, dedups normally)
    rows = [(i, [1.0, 0.0001 * i, 0.0, 0.0]) for i in range(1, 7)] + [
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.02, 0.999, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup(
            df, cents, cosine_threshold=0.95, max_cell_size=4
        ).collect()
    }
    # over-cap cell: every member survives as its own singleton component
    assert all(out[i]["keep"] == 1 for i in range(1, 7))
    assert len({out[i]["component"] for i in range(1, 7)}) == 6
    # under-cap cell still dedups (survivor = least centroid-similar = 11)
    assert out[10]["component"] == out[11]["component"]
    assert (out[10]["keep"], out[11]["keep"]) == (0, 1)
    # audit: exactly the over-cap cell, with b(b-1)/2 implied pairs
    assigned = assign_nearest_centroid(df, cents)
    audit = semantic_cell_audit(assigned, max_cell_size=4).collect()
    assert [(r["cell"], r["cell_size"], r["implied_pairs"]) for r in audit] == [
        (0, 6, 15)
    ]
    # audit without a cap covers every cell, largest first
    full = semantic_cell_audit(assigned).collect()
    assert [(r["cell"], r["cell_size"]) for r in full] == [(0, 6), (1, 2)]
    # without the cap, the mega-cell collapses to one survivor
    out_nocap = {
        r["vec_id"]: r.asDict()
        for r in semantic_dedup(df, cents, cosine_threshold=0.95).collect()
    }
    assert sum(out_nocap[i]["keep"] for i in range(1, 7)) == 1


def test_mix_corpus_quotas_and_stability(spark):
    """Weighted mixing: largest-remainder quotas sum to n_total, unweighted
    strata are excluded, a too-small stratum under-delivers without
    disturbing the others (growth-stability), null-stratum weights work."""
    from semantic_entity_matching_spark.operators.sample import mix_corpus

    rows = (
        [(i, "en") for i in range(100)]
        + [(200 + i, "de") for i in range(50)]
        + [(300 + i, "fr") for i in range(3)]     # smaller than its quota
        + [(400 + i, "zh") for i in range(40)]    # unweighted -> excluded
        + [(500 + i, None) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # raw quotas for n=31: en 15.5, de 9.3, fr 3.1, null 3.1 -> floors
    # 15/9/3/3 = 30, remainder 1 -> largest fraction (en .5) gets it
    out = mix_corpus(
        df, "lang", {"en": 0.5, "de": 0.3, "fr": 0.1, None: 0.1},
        n_total=31, id_col="doc_id",
    )
    by = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by == {"en": 16, "de": 9, "fr": 3, None: 3}
    # growth-stability: shrinking fr must not change en/de/null membership
    kept = {
        r["doc_id"]
        for r in out.where("lang IS NULL OR lang <> 'fr'").collect()
    }
    out2 = mix_corpus(
        df.where("lang IS NULL OR lang <> 'fr'"), "lang",
        {"en": 0.5, "de": 0.3, "fr": 0.1, None: 0.1}, n_total=31,
        id_col="doc_id",
    )
    kept2 = {r["doc_id"] for r in out2.collect()}
    assert kept == kept2
    with pytest.raises(ValueError):
        mix_corpus(df, "lang", {}, 10, "doc_id")
    with pytest.raises(ValueError):
        mix_corpus(df, "lang", {"en": -1.0}, 10, "doc_id")


def _tied_vectors(spark, n=60, dim=6, seed=11):
    """Small-integer vectors: many exact cosine ties, so the k-th score of
    a query is usually shared by several candidates."""
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.randint(-1, 2, dim)]) for i in range(n)]
    rows.append((n, None))  # null vector: never scored
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _numpy_topk(queries, corpus, k, exclude_self=False, score_round=None, exclude=()):
    """The join form of exact top-k, in numpy: every (query, candidate)
    pair with both vectors non-null scored by the cosine UDF's own kernel,
    rounded like Spark's ``round`` (HALF_UP on the shortest decimal repr),
    ranked by (score desc, candidate_id asc)."""
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    from semantic_entity_matching_spark.functions.similarity import _cosine_batch

    c_rows = [tuple(r) for r in corpus.collect() if r[1] is not None]
    pairs = [
        (q, qv, c, cv)
        for q, qv in (tuple(r) for r in queries.collect() if r[1] is not None)
        for c, cv in c_rows
        if not (exclude_self and q == c) and (q, c) not in exclude
    ]
    scores = _cosine_batch(
        pd.Series([p[1] for p in pairs], dtype=object),
        pd.Series([p[3] for p in pairs], dtype=object),
    ).tolist()
    if score_round is not None:
        unit = Decimal(1).scaleb(-score_round)
        scores = [float(Decimal(repr(s)).quantize(unit, ROUND_HALF_UP)) for s in scores]
    ranked = sorted(zip((p[0] for p in pairs), (p[2] for p in pairs), scores),
                    key=lambda r: (r[0], -r[2], r[1]))
    out, rank = [], {}
    for q, c, score in ranked:
        rank[q] = rank.get(q, 0) + 1
        if rank[q] <= k:
            out.append((q, c, score, rank[q]))
    return sorted(out)


def _chunked_runs(monkeypatch, run):
    """``run()`` with the brute-force scan chunked to 1 and to 2 queries."""
    from semantic_entity_matching_spark.operators import ann

    out = []
    for bound in (1, 2):
        monkeypatch.setattr(ann, "GROUPED_QUERY_BOUND", bound)
        out.append(run())
    return out


@pytest.mark.parametrize("score_round", [None, 6])
@pytest.mark.parametrize("exclude_self", [False, True])
def test_pruned_brute_force_equals_join_form(spark, monkeypatch, score_round, exclude_self):
    """The per-task running top-k of the grouped scorer changes no output
    row: same rows as the join form (every pair scored, in numpy), ties
    at the k-th score included, whether the query side is scanned in one
    chunk or in chunks of 1 or 2 queries."""
    vecs = _tied_vectors(spark)
    corpus = vecs.select(F.col("vec_id").alias("candidate_id"), "embedding").repartition(3)
    queries = vecs.where((F.col("vec_id") % 7 == 0) | F.col("embedding").isNull()).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run():
        return sorted(
            tuple(r)
            for r in brute_force_topk(
                queries, corpus, k=4, exclude_self=exclude_self, score_round=score_round
            ).collect()
        )

    pruned = run()
    assert pruned == _numpy_topk(queries, corpus, 4, exclude_self, score_round)
    assert _chunked_runs(monkeypatch, run) == [pruned, pruned]
    assert len(pruned) == 4 * queries.where(F.col("embedding").isNotNull()).count()


def test_pruned_brute_force_keeps_rounding_near_ties(spark, monkeypatch):
    """Candidates 1 and 2 score 0.80000001 and 0.80000004: raw, 2 is the
    task's best, but both round to 0.8 and the tie goes to candidate 1.
    The task must keep rows within the rounding margin of its k-th score."""
    import math

    def unit(cos):
        return [cos, math.sqrt(1.0 - cos * cos)]

    corpus = spark.createDataFrame(
        [(1, unit(0.80000001)), (2, unit(0.80000004)), (3, unit(0.3))],
        "candidate_id long, embedding array<double>",
    ).coalesce(1)
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0]), (4, [0.0, 1.0])], "query_id long, embedding array<double>"
    )

    def top1():
        return sorted(
            tuple(r) for r in brute_force_topk(queries, corpus, k=1, score_round=6).collect()
        )

    got = top1()
    assert got[0][:3] == (0, 1, 0.8)
    assert got == _numpy_topk(queries, corpus, 1, score_round=6)
    assert _chunked_runs(monkeypatch, top1) == [got, got]


def test_exclude_pairs_removing_the_whole_topk(spark, monkeypatch):
    """Pairs excluded after the scan must not cost a query its results:
    with the first k candidates excluded, the next k take their place."""
    vecs = _vec_table(spark, n=30)
    corpus = vecs.select(F.col("vec_id").alias("candidate_id"), "embedding").coalesce(1)
    queries = corpus.where(F.col("candidate_id") == 0).withColumnRenamed(
        "candidate_id", "query_id"
    )
    top = brute_force_topk(queries, corpus, k=3)
    excluded = top.select("query_id", "candidate_id")

    def run():
        return sorted(
            tuple(r)
            for r in brute_force_topk(queries, corpus, k=3, exclude_pairs=excluded).collect()
        )

    got = run()
    assert len(got) == 3
    gone = {tuple(r) for r in excluded.collect()}
    assert not {r[1] for r in got} & {c for _, c in gone}
    assert got == _numpy_topk(queries, corpus, 3, exclude=gone)
    assert _chunked_runs(monkeypatch, run) == [got, got]


def test_grouped_scorer_task_output_is_topk_plus_ties(spark):
    """Each scan task hands over, per query, exactly its rows at or above
    its own k-th best score — at most n_queries × (k + ties) rows — never
    its whole corpus slice."""
    from semantic_entity_matching_spark.operators.ann import _grouped_brute_scores

    vecs = _tied_vectors(spark, n=200)
    corpus = vecs.select(F.col("vec_id").alias("candidate_id"), "embedding").repartition(3)
    queries = vecs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 3

    def by_task(df):
        out = {}
        for r in df.withColumn("_task", F.spark_partition_id()).collect():
            out.setdefault((r["_task"], r["query_id"]), []).append(
                (r["score"], r["candidate_id"])
            )
        return out

    args = (queries, corpus, "query_id", "candidate_id", "embedding")
    full = by_task(_grouped_brute_scores(*args, exclude_self=True))
    # several Arrow batches per task: the running top-k spans batches
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        pruned = by_task(_grouped_brute_scores(*args, k=k, exclude_self=True))
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert set(pruned) == set(full)
    n_ties = 0
    for key, rows in full.items():
        kth = sorted((s for s, _ in rows), reverse=True)[min(k, len(rows)) - 1]
        want = sorted(r for r in rows if r[0] >= kth)
        assert sorted(pruned[key]) == want, key
        assert all(c != key[1] for _, c in pruned[key])  # exclude_self
        n_ties = max(n_ties, len(want) - k)
    assert n_ties > 0  # the fixture really has ties at the k-th score
    per_task = {}
    for (task, _), rows in pruned.items():
        per_task[task] = per_task.get(task, 0) + len(rows)
    assert max(per_task.values()) <= queries.count() * (k + n_ties)
