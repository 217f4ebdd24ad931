from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.resolve import (
    FSField,
    estimate_fs_params,
    fellegi_sunter_score,
    golden_record,
)


def test_golden_record_mode_ties_nulls_and_types(spark):
    """Survivorship contract: modal value per field, ties to the SMALLEST
    string-cast value, all-null fields stay null, non-string mode fields
    come back in their original type, agg fields apply their rule."""
    records = spark.createDataFrame(
        [
            # cluster A (ids 1-3): color red wins 2-1; code all-null; nk
            # modal 10 vs 2 tie -> STRING order '10' < '2' keeps 10
            (1, "red", None, 10, 5.0),
            (2, "red", None, 2, 7.0),
            (3, "blue", None, 10, None),
            (4, "blue", "x", 2, 1.0),
            (5, "green", "x", 7, 3.0),
        ],
        "id long, color string, code string, nk int, bal double",
    )
    clusters = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (4, 200), (5, 200)],
        "id long, cluster int",
    )
    out = {
        r["cluster"]: r.asDict()
        for r in golden_record(
            records,
            clusters,
            "id",
            mode_fields=["color", "code", "nk"],
            agg_fields={"bal": "max"},
        ).collect()
    }
    a, b = out[100], out[200]
    assert a["size"] == 3 and b["size"] == 2
    assert a["color"] == "red"
    assert a["code"] is None  # all-null field survives as null
    assert a["nk"] == 10 and isinstance(a["nk"], int)  # cast back to int
    assert a["bal"] == 7.0
    # cluster B: color blue vs green 1-1 tie -> 'blue' (smallest string)
    assert b["color"] == "blue"
    assert b["code"] == "x"
    # nk 2 vs 7 tie -> '2' < '7'
    assert b["nk"] == 2
    assert b["bal"] == 3.0


def test_golden_record_rejects_overlapping_fields(spark):
    records = spark.createDataFrame([(1, "a")], "id long, f string")
    clusters = spark.createDataFrame([(1, 1)], "id long, cluster int")
    with pytest.raises(ValueError):
        golden_record(
            records, clusters, "id", mode_fields=["f"], agg_fields={"f": "max"}
        )


def test_golden_record_rejects_unknown_agg_fn(spark):
    """agg_fields resolves via getattr(F, fn) — an allowlist must reject
    anything outside min/max/sum/avg ('first' would silently yield a
    partitioning-dependent survivor)."""
    records = spark.createDataFrame([(1, 2.0)], "id long, bal double")
    clusters = spark.createDataFrame([(1, 1)], "id long, cluster int")
    for fn in ("first", "collect_list", "typo"):
        with pytest.raises(ValueError, match="agg_fields"):
            golden_record(records, clusters, "id", agg_fields={"bal": fn})


def test_fellegi_sunter_score_weights_and_prob(spark):
    fields = [
        FSField("g_nat", m=0.95, u=0.04),
        FSField("g_seg", m=0.90, u=0.20),
    ]
    pairs = spark.createDataFrame(
        [
            (1, 1, 1),      # both agree
            (2, 0, 1),      # nat disagrees
            (3, None, 0),   # nat missing -> contributes 0
        ],
        "pid long, g_nat int, g_seg int",
    )
    got = {
        r["pid"]: (r["match_weight"], r["match_prob"])
        for r in fellegi_sunter_score(pairs, fields, prior=0.1).collect()
    }

    def expect(contribs):
        w = sum(contribs)
        odds = (0.1 / 0.9) * 2.0**w
        return w, odds / (1.0 + odds)

    wa_nat = math.log2(0.95 / 0.04)
    wd_nat = math.log2(0.05 / 0.96)
    wa_seg = math.log2(0.90 / 0.20)
    wd_seg = math.log2(0.10 / 0.80)
    for pid, contribs in {
        1: [wa_nat, wa_seg],
        2: [wd_nat, wa_seg],
        3: [0.0, wd_seg],
    }.items():
        ew, ep = expect(contribs)
        assert got[pid][0] == pytest.approx(ew, abs=1e-12)
        assert got[pid][1] == pytest.approx(ep, abs=1e-12)


def test_fs_field_validation():
    with pytest.raises(ValueError):
        FSField("g", m=1.0, u=0.1)
    with pytest.raises(ValueError):
        FSField("g", m=0.9, u=0.0)


def test_estimate_fs_params_recovers_planted(spark):
    """EM over a synthetic mixture recovers the planted m/u/prior: 2,000
    matched pairs with per-field agreement ~ Bernoulli(m), 18,000
    non-matched ~ Bernoulli(u); one field carries 10% missing entries."""
    rng = np.random.RandomState(0)
    m_true = np.array([0.95, 0.85, 0.75, 0.90])
    u_true = np.array([0.05, 0.20, 0.30, 0.10])
    n_match, n_non = 2_000, 18_000
    g_match = (rng.rand(n_match, 4) < m_true).astype(int)
    g_non = (rng.rand(n_non, 4) < u_true).astype(int)
    g = np.vstack([g_match, g_non])
    missing = rng.rand(len(g)) < 0.10
    rows = [
        (
            int(i),
            None if missing[i] else int(g[i, 0]),
            int(g[i, 1]),
            int(g[i, 2]),
            int(g[i, 3]),
        )
        for i in range(len(g))
    ]
    pairs = spark.createDataFrame(
        rows, "pid long, g0 int, g1 int, g2 int, g3 int"
    )
    fields, lam = estimate_fs_params(
        pairs,
        ["g0", "g1", "g2", "g3"],
        prior_init=0.2,
        m_init=0.8,
        u_init=0.15,
    )
    m_hat = np.array([f.m for f in fields])
    u_hat = np.array([f.u for f in fields])
    assert np.abs(m_hat - m_true).max() < 0.05
    assert np.abs(u_hat - u_true).max() < 0.05
    assert abs(lam - n_match / (n_match + n_non)) < 0.02
    # scoring with the fitted params separates the two populations
    scored = fellegi_sunter_score(pairs, fields, prior=lam)
    hi = scored.where("match_prob >= 0.5").count()
    assert abs(hi - n_match) / n_match < 0.25


def test_fs_em_sampled_fit_matches_full(spark):
    """fs_edges_deferred with em_sample_mod fits m/u/prior on a 1/mod
    deterministic hash-sample; pattern-count EM is frequency-driven, so
    the sampled parameters must land within Monte-Carlo noise of the full
    fit AND the resulting edge set must be near-identical."""
    from semantic_entity_matching_spark.operators.resolve import (
        estimate_fs_params,
        fs_edges_deferred,
    )

    def fs_edges(df, **kw):
        # every feature is already there: nothing to defer
        return fs_edges_deferred(df, lambda d: d, **kw)

    rng = np.random.RandomState(7)
    m_true = np.array([0.95, 0.85, 0.90])
    u_true = np.array([0.05, 0.20, 0.10])
    n_match, n_non = 2_000, 18_000
    g = np.vstack(
        [
            (rng.rand(n_match, 3) < m_true).astype(int),
            (rng.rand(n_non, 3) < u_true).astype(int),
        ]
    )
    # feature values placed firmly on the right side of the default-ish
    # thresholds so the 0/1 agreement reproduces g exactly
    rows = [
        (int(i), int(i) + 1_000_000, *[0.95 if v else 0.30 for v in g[i]])
        for i in range(len(g))
    ]
    feats = spark.createDataFrame(
        rows, "id_a long, id_b long, cosine double, jaro_winkler double, "
        "levenshtein double"
    ).cache()

    def fit(mod):
        g_cols = ["g_cosine", "g_jaro_winkler", "g_levenshtein"]
        src = feats
        for c, t in (("cosine", 0.8), ("jaro_winkler", 0.9),
                     ("levenshtein", 0.8)):
            src = src.withColumn(f"g_{c}", (F.col(c) >= t).cast("int"))
        if mod > 1:
            src = src.where(
                F.pmod(F.xxhash64("id_a", "id_b"), F.lit(mod)) == 0
            )
        return estimate_fs_params(src, g_cols, prior_init=0.3,
                                  m_init=0.9, u_init=0.1)

    fields_full, lam_full = fit(1)
    # 1/4 sample = ~5,000 pairs / ~500 matches: m's Monte-Carlo std is
    # ~sqrt(m(1-m)/500) ≈ 0.013, so 0.05 is a ~4-sigma pin (the pipeline
    # default samples ~100k pairs — far tighter)
    fields_samp, lam_samp = fit(4)
    for ff, fs in zip(fields_full, fields_samp):
        assert abs(ff.m - fs.m) < 0.05, (ff, fs)
        assert abs(ff.u - fs.u) < 0.05, (ff, fs)
    assert abs(lam_full - lam_samp) < 0.03

    edges_full = {
        (r["id_a"], r["id_b"])
        for r in fs_edges(feats).collect()
    }
    edges_samp = {
        (r["id_a"], r["id_b"])
        for r in fs_edges(feats, em_sample_mod=4).collect()
    }
    sym = edges_full ^ edges_samp
    assert len(sym) <= max(5, len(edges_full) // 100), (
        f"sampled fit shifted {len(sym)} of {len(edges_full)} edges"
    )
    # a mod larger than the population: empty sample falls back to the
    # full-population fit instead of emitting no edges
    tiny = feats.limit(20)
    assert fs_edges(
        tiny, em_sample_mod=10_000_000
    ).count() == fs_edges(tiny).count()
    feats.unpersist()


def test_fs_edges_deferred_matches_eager(spark):
    """fs_edges_deferred computes the expensive feature only on the EM
    sample + the pairs whose cheap-feature weight upper bound reaches the
    posterior threshold — the edge set must be IDENTICAL to an eager fit
    + score over all features at the same em_sample_mod, and the counters
    must show what ran the deferred feature: every pair at mod 1, the
    sample plus the bound's survivors (a strict minority) at mod 4."""
    from semantic_entity_matching_spark.operators.resolve import (
        estimate_fs_params,
        fellegi_sunter_score,
        fs_edges_deferred,
    )

    rng = np.random.RandomState(11)
    m_true = np.array([0.95, 0.85, 0.90])
    u_true = np.array([0.05, 0.20, 0.10])
    g = np.vstack(
        [
            (rng.rand(1_500, 3) < m_true).astype(int),
            (rng.rand(15_000, 3) < u_true).astype(int),
        ]
    )
    rows = [
        (int(i), int(i) + 1_000_000, *[0.95 if v else 0.30 for v in g[i]])
        for i in range(len(g))
    ]
    feats = spark.createDataFrame(
        rows, "id_a long, id_b long, cosine double, jaro_winkler double, "
        "levenshtein double"
    ).cache()
    feats.count()
    g_feats = feats
    for c, t in (("cosine", 0.8), ("jaro_winkler", 0.9), ("levenshtein", 0.8)):
        g_feats = g_feats.withColumn(f"g_{c}", (F.col(c) >= t).cast("int"))

    for mod in (1, 4):
        sample = g_feats.where(
            F.pmod(F.xxhash64("id_a", "id_b"), F.lit(mod)) == 0
        )
        fields, prior = estimate_fs_params(
            sample, ["g_cosine", "g_jaro_winkler", "g_levenshtein"],
            prior_init=0.3, m_init=0.9, u_init=0.1,
        )
        eager = {
            (r["id_a"], r["id_b"], round(r["match_prob"], 9))
            for r in fellegi_sunter_score(g_feats, fields, prior=prior)
            .where("match_prob >= 0.5")
            .collect()
        }
        counters: dict = {}
        deferred = {
            (r["id_a"], r["id_b"], round(r["score"], 9))
            for r in fs_edges_deferred(
                feats.drop("jaro_winkler"),
                # the "expensive" feature: rejoin the true jw by id pair
                lambda df: df.join(
                    feats.select("id_a", "id_b", "jaro_winkler"),
                    ["id_a", "id_b"],
                ),
                em_sample_mod=mod,
                counters=counters,
            ).collect()
        }
        assert deferred == eager, f"mod={mod}: edge sets differ"
        assert counters["fs_pairs_total"] == len(g)
        assert counters["fs_jw_sample_pairs"] == sample.count()
        if mod == 1:
            assert counters["fs_jw_pairs"] == len(g)
        else:
            # the bulk (g_cos=0 non-matches) never reaches the deferred stage
            assert len(eager) <= counters["fs_jw_pairs"] < len(g) * 0.5, (
                counters
            )
    feats.unpersist()


def test_estimate_fs_params_label_switch_repair(spark):
    """The two-component likelihood is identical under (m,u,lam) ->
    (u,m,1-lam); initializing EM on the mirrored side MUST still come
    back with the match component = the agreement-likely one."""
    rng = np.random.RandomState(1)
    m_true = np.array([0.95, 0.85, 0.75, 0.90])
    u_true = np.array([0.05, 0.20, 0.30, 0.10])
    g = np.vstack(
        [
            (rng.rand(2_000, 4) < m_true).astype(int),
            (rng.rand(8_000, 4) < u_true).astype(int),
        ]
    )
    pairs = spark.createDataFrame(
        [(int(i), *map(int, g[i])) for i in range(len(g))],
        "pid long, g0 int, g1 int, g2 int, g3 int",
    )
    # mirrored init: m_init < u_init drives EM to the swapped optimum
    fields, lam = estimate_fs_params(
        pairs,
        ["g0", "g1", "g2", "g3"],
        prior_init=0.7,
        m_init=0.15,
        u_init=0.8,
    )
    m_hat = np.array([f.m for f in fields])
    u_hat = np.array([f.u for f in fields])
    assert (m_hat > u_hat).all()
    assert np.abs(m_hat - m_true).max() < 0.05
    assert abs(lam - 0.2) < 0.02


def test_fs_graded_scoring_math(spark):
    """Graded scoring: per-level log2(m[l]/u[l]) contributions, null level
    contributes 0, an out-of-range level poisons the weight to null."""
    from semantic_entity_matching_spark.operators.resolve import (
        FSComparison,
        fellegi_sunter_score_graded,
    )

    comp = FSComparison("lvl", m=(0.05, 0.15, 0.80), u=(0.70, 0.20, 0.10))
    pairs = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2), (3, None), (4, 7)], "pid long, lvl int"
    )
    got = {
        r["pid"]: (r["match_weight"], r["match_prob"])
        for r in fellegi_sunter_score_graded(
            pairs, [comp], prior=0.2
        ).collect()
    }
    for pid, w in {
        0: math.log2(0.05 / 0.70),
        1: math.log2(0.15 / 0.20),
        2: math.log2(0.80 / 0.10),
        3: 0.0,
    }.items():
        odds = 0.25 * 2.0**w
        assert got[pid][0] == pytest.approx(w, abs=1e-12)
        assert got[pid][1] == pytest.approx(odds / (1 + odds), abs=1e-12)
    assert got[4] == (None, None)  # out-of-range level never scores 0

    with pytest.raises(ValueError, match="sum to 1"):
        FSComparison("x", m=(0.5, 0.2), u=(0.5, 0.5))
    with pytest.raises(ValueError, match="length"):
        FSComparison("x", m=(0.5, 0.5), u=(0.2, 0.3, 0.5))


def test_estimate_fs_graded_recovers_planted(spark):
    """EM over planted 3-level mixtures recovers per-level m/u and the
    prior; missing levels excluded; the match component always expects
    the higher levels (label-switch repair invariant)."""
    from semantic_entity_matching_spark.operators.resolve import (
        estimate_fs_graded,
        fellegi_sunter_score_graded,
    )

    rng = np.random.RandomState(3)
    m_true = [np.array([0.05, 0.15, 0.80]), np.array([0.10, 0.90])]
    u_true = [np.array([0.70, 0.20, 0.10]), np.array([0.85, 0.15])]
    n_match, n_non = 3_000, 17_000

    def draw(dists, n):
        return np.column_stack(
            [rng.choice(len(d), size=n, p=d) for d in dists]
        )

    g = np.vstack([draw(m_true, n_match), draw(u_true, n_non)])
    missing = rng.rand(len(g)) < 0.08
    rows = [
        (int(i), None if missing[i] else int(g[i, 0]), int(g[i, 1]))
        for i in range(len(g))
    ]
    pairs = spark.createDataFrame(rows, "pid long, c0 int, c1 int")
    comps, lam = estimate_fs_graded(pairs, {"c0": 3, "c1": 2})
    assert abs(lam - 0.15) < 0.02
    for j, comp in enumerate(comps):
        assert np.abs(np.array(comp.m) - m_true[j]).max() < 0.05
        assert np.abs(np.array(comp.u) - u_true[j]).max() < 0.05
        exp_m = sum(p * l for l, p in enumerate(comp.m))
        exp_u = sum(p * l for l, p in enumerate(comp.u))
        assert exp_m > exp_u  # repair invariant
    scored = fellegi_sunter_score_graded(pairs, comps, prior=lam)
    hi = scored.where("match_prob >= 0.5").count()
    assert abs(hi - n_match) / n_match < 0.25

    with pytest.raises(ValueError, match="level"):
        estimate_fs_graded(pairs, {"c0": 2, "c1": 2})  # c0 has level 2


def test_entity_centroids_hand_computed(spark):
    from semantic_entity_matching_spark.operators.resolve import entity_centroids

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [2.0, 2.0]),
            (4, None),          # null vector excluded
            (5, [0.0, 0.0]),    # zero-vector singleton: stays zeros
        ],
        "doc_id bigint, embedding array<float>",
    )
    members = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 11), (4, 11), (5, 12), (99, 13)],
        "doc_id bigint, component bigint",
    )
    out = {
        r.component: r.asDict()
        for r in entity_centroids(members, emb, normalize=True).collect()
    }
    # cluster 10: mean (0.5, 0.5) -> normalized (0.707107, 0.707107)
    assert out[10]["n_members"] == 2
    assert out[10]["centroid"] == [0.707107, 0.707107]
    # cluster 11: only member 3 counts (4 is null)
    assert out[11]["n_members"] == 1
    assert out[11]["centroid"] == [0.707107, 0.707107]
    # zero vector: norm 0 -> unscaled zeros
    assert out[12]["centroid"] == [0.0, 0.0]
    # cluster 13 has no scorable member -> absent
    assert 13 not in out


def test_entity_centroids_unnormalized_and_partition_stable(spark):
    from semantic_entity_matching_spark.operators.resolve import entity_centroids

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(60)],
        "doc_id bigint, embedding array<float>",
    )
    members = spark.createDataFrame(
        [(i, i % 4) for i in range(60)], "doc_id bigint, component bigint"
    )
    base = sorted(
        (r.component, r.n_members, tuple(r.centroid))
        for r in entity_centroids(members, emb).collect()
    )
    again = sorted(
        (r.component, r.n_members, tuple(r.centroid))
        for r in entity_centroids(
            members.repartition(7), emb.repartition(5)
        ).collect()
    )
    assert again == base
    assert all(n == 15 for _, n, _ in base)


def test_entity_merge_candidates_same_cell_detected(spark):
    from semantic_entity_matching_spark.operators.resolve import (
        entity_merge_candidates,
    )

    # cells: axis-aligned centroids -> cell 0 catches x-heavy, cell 1 y-heavy
    cells = [[1.0, 0.0], [0.0, 1.0]]
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.05]),   # cluster 10
            (2, [1.0, 0.0]),    # cluster 10
            (3, [1.0, 0.02]),   # cluster 11 -> centroid ~ cluster 10's
            (4, [0.0, 1.0]),    # cluster 12 -> other cell
            (5, [0.70, 0.7141]),  # cluster 13 -> cell 1 (y edges out)
            (6, [0.7141, 0.70]),  # cluster 14 -> cell 0: near-identical to
                                  # 13 but CROSS-CELL -> documented miss
        ],
        "doc_id bigint, embedding array<float>",
    )
    members = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 11), (4, 12), (5, 13), (6, 14)],
        "doc_id bigint, component bigint",
    )
    out = {
        (r.cluster_a, r.cluster_b): r.asDict()
        for r in entity_merge_candidates(
            members, emb, cells, cosine_threshold=0.99
        ).collect()
    }
    assert (10, 11) in out
    assert out[(10, 11)]["n_a"] == 2 and out[(10, 11)]["n_b"] == 1
    # dissimilar cluster never pairs; the cross-cell near-pair is the
    # documented SemDeDup-style recall trade
    assert all(12 not in k for k in out)
    assert (13, 14) not in out and (14, 13) not in out
    assert len(out) == 1


def test_split_clusters_and_report(spark):
    from semantic_entity_matching_spark.operators.resolve import (
        cluster_split_report,
        split_clusters,
    )

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "doc_id bigint, component bigint",
    )
    edges = spark.createDataFrame(
        [
            (1, 2, 0.9),   # strong intra
            (2, 3, 0.3),   # weak bridge -> 3 splits off
            (4, 5, 0.8),   # strong intra -> cluster 4 intact
            (3, 4, 0.95),  # strong but CROSS-cluster -> ignored
        ],
        "id_a bigint, id_b bigint, score double",
    )
    split = split_clusters(clusters, edges, strong_threshold=0.5)
    got = {r.doc_id: (r.component, r.subcomponent) for r in split.collect()}
    assert got == {
        1: (1, 1), 2: (1, 1), 3: (1, 3),   # fractured
        4: (4, 4), 5: (4, 4),              # intact
        6: (6, 6),                          # singleton, no edges
    }
    rep = {
        r.component: r.asDict()
        for r in cluster_split_report(split).collect()
    }
    assert rep[1]["fractured"] and rep[1]["n_subcomponents"] == 2
    assert rep[1]["largest_sub"] == 2 and rep[1]["n_members"] == 3
    assert not rep[4]["fractured"] and not rep[6]["fractured"]
