from __future__ import annotations

from semantic_entity_matching_spark.operators.cluster import (
    clusters_from_pairs,
    connected_components,
)
from semantic_entity_matching_spark.operators.evaluate import (
    pairwise_metrics,
    predicted_pairs_from_clusters,
)


def _cc_oracle(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find oracle."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress all to min representative
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    edges = [
        ("a", "b"), ("b", "c"),            # chain -> {a,b,c}
        ("d", "e"),                          # pair
        ("f", "g"), ("g", "h"), ("h", "f"),  # triangle
        ("x", "y"), ("y", "z"), ("z", "w"), ("w", "v"),  # long chain
    ]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    oracle = _cc_oracle(edges)
    assert got == oracle


def test_connected_components_large_random(spark):
    # 40 chains of length 12 plus cross links inside each chain
    edges = []
    for c in range(40):
        nodes = [f"n{c:02d}_{i:02d}" for i in range(12)]
        edges += list(zip(nodes, nodes[1:]))
        edges.append((nodes[0], nodes[-1]))
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _cc_oracle(edges)
    assert len({v for v in got.values()}) == 40


def test_driver_fold_equals_superstep_path(spark):
    """The small-graph driver union-find (n_edges <= bound) must return
    EXACTLY the superstep result: same node membership (self-loop-only
    nodes excluded), same min-id labels, on strings and on bigints."""
    import random

    random.seed(11)
    edges = [
        (f"n{random.randrange(60):02d}", f"n{random.randrange(60):02d}")
        for _ in range(120)
    ] + [("s1", "s1"), ("zz", "zz")]  # self-loop-only nodes: must be absent
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    distributed = {
        (r["id"], r["component"])
        for r in connected_components(df, n_edges=None).collect()
    }
    folded = {
        (r["id"], r["component"])
        for r in connected_components(df, n_edges=len(edges)).collect()
    }
    assert folded == distributed
    assert not any(i in ("s1", "zz") for i, _ in folded)

    # NULL endpoints: the superstep path's u != v predicate drops them
    # silently; the fold must match (and not crash on None ordering)
    null_df = spark.createDataFrame(
        [("a", "b"), ("c", None), (None, "d"), (None, None)],
        "id_a string, id_b string",
    )
    nd = {
        (r["id"], r["component"])
        for r in connected_components(null_df, n_edges=None).collect()
    }
    nf = {
        (r["id"], r["component"])
        for r in connected_components(null_df, n_edges=4).collect()
    }
    assert nf == nd == {("a", "a"), ("b", "a")}

    int_edges = [(random.randrange(50), random.randrange(50)) for _ in range(80)]
    dfi = spark.createDataFrame(int_edges, "id_a long, id_b long")
    got_d = {
        (r["id"], r["component"])
        for r in connected_components(dfi, n_edges=None).collect()
    }
    got_f = {
        (r["id"], r["component"])
        for r in connected_components(dfi, n_edges=len(int_edges)).collect()
    }
    assert got_f == got_d

    # no edges at all: both paths return no rows, typed like the ids
    for ddl in ("id_a string, id_b string", "id_a long, id_b long"):
        empty = spark.createDataFrame([], ddl)
        dist = connected_components(empty, n_edges=None)
        fold = connected_components(empty, n_edges=0)
        assert fold.collect() == dist.collect() == []
        assert fold.dtypes == dist.dtypes


def test_clusters_with_singletons(spark):
    pairs = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "url string")
    got = {r["id"]: r["component"] for r in clusters_from_pairs(pairs, all_ids=ids).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_empty_edges(spark):
    pairs = spark.createDataFrame([], "id_a string, id_b string")
    ids = spark.createDataFrame([("a",), ("b",)], "url string")
    got = {r["id"]: r["component"] for r in clusters_from_pairs(pairs, all_ids=ids).collect()}
    assert got == {"a": "a", "b": "b"}


def test_predicted_pairs_and_metrics(spark):
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d")],
        "id string, component string",
    )
    pred = predicted_pairs_from_clusters(clusters)
    got = {(r["url_a"], r["url_b"]) for r in pred.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c"), ("d", "e")}

    gold = spark.createDataFrame(
        [("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("d", "e", 0), ("a", "zz", 1)],
        "url_a string, url_b string, label int",
    )
    m = pairwise_metrics(pred, gold)
    assert (m.true_positives, m.false_positives, m.false_negatives) == (3, 1, 1)
    assert m.precision == 0.75 and m.recall == 0.75


# ---------------------------------------------------------------------------
# incremental update_components
# ---------------------------------------------------------------------------

def _edges_df(spark, edges):
    if not edges:
        return spark.createDataFrame([], "id_a string, id_b string")
    return spark.createDataFrame(edges, "id_a string, id_b string")


def _assign(spark, edges, all_ids=None):
    from semantic_entity_matching_spark.operators.cluster import (
        clusters_from_pairs,
    )
    ids = (
        spark.createDataFrame([(i,) for i in all_ids], "url string")
        if all_ids is not None
        else None
    )
    return clusters_from_pairs(_edges_df(spark, edges), all_ids=ids)


def test_update_equals_full_recompute_randomized(spark):
    import hashlib

    from semantic_entity_matching_spark.operators.cluster import (
        connected_components,
        update_components,
    )

    def h(seed, i):
        return int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest(), 16)

    for seed in (1, 2, 3):
        n = 60
        all_edges = [
            (f"n{h(seed, i) % n:02d}", f"n{h(seed, i + 1000) % n:02d}")
            for i in range(70)
        ]
        all_edges = [(a, b) for a, b in all_edges if a != b]
        cut = len(all_edges) * 2 // 3
        old_edges, new_edges = all_edges[:cut], all_edges[cut:]
        base = _assign(spark, old_edges)
        got = {
            (r["id"], r["component"])
            for r in update_components(
                base, _edges_df(spark, new_edges)
            ).collect()
        }
        want = {
            (r["id"], r["component"])
            for r in connected_components(_edges_df(spark, all_edges)).collect()
        }
        assert got == want, f"seed {seed}"


def test_update_merges_two_old_components(spark):
    from semantic_entity_matching_spark.operators.cluster import (
        update_components,
    )

    base = _assign(spark, [("a", "b"), ("c", "d")], all_ids=["a", "b", "c", "d", "z"])
    got = {
        r["id"]: r["component"]
        for r in update_components(
            base, _edges_df(spark, [("b", "c")])
        ).collect()
    }
    # merged component takes the global min id; untouched singleton z intact
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "z": "z"}


def test_update_untouched_pass_through_and_new_singletons(spark):
    from semantic_entity_matching_spark.operators.cluster import (
        update_components,
    )

    base = _assign(spark, [("a", "b"), ("c", "d")])
    new_ids = spark.createDataFrame([("p",), ("q",), ("a",)], "id string")
    got = {
        r["id"]: r["component"]
        for r in update_components(
            base, _edges_df(spark, [("p", "q")]), new_ids=new_ids
        ).collect()
    }
    # old components untouched; p-q a brand-new component; 'a' not duplicated
    assert got == {"a": "a", "b": "a", "c": "c", "d": "c", "p": "p", "q": "p"}


def test_update_empty_delta_is_identity(spark):
    from semantic_entity_matching_spark.operators.cluster import (
        update_components,
    )

    base = _assign(spark, [("a", "b"), ("c", "d")])
    got = {
        (r["id"], r["component"])
        for r in update_components(base, _edges_df(spark, [])).collect()
    }
    assert got == {(r["id"], r["component"]) for r in base.collect()}


def test_update_new_node_joins_old_component(spark):
    from semantic_entity_matching_spark.operators.cluster import (
        update_components,
    )

    base = _assign(spark, [("m", "n")])
    got = {
        r["id"]: r["component"]
        for r in update_components(
            base, _edges_df(spark, [("n", "zz")])
        ).collect()
    }
    assert got == {"m": "m", "n": "m", "zz": "m"}


def test_update_components_column_order_pinned(spark):
    from semantic_entity_matching_spark.operators.cluster import (
        update_components,
    )

    base = _assign(spark, [("a", "b")])
    out = update_components(
        base,
        _edges_df(spark, [("c", "d")]),
        new_ids=spark.createDataFrame([("e",)], "id string"),
    )
    # positional consumers (exceptAll, parquet appends) need the same
    # layout as connected_components
    assert out.columns == ["id", "component"]


# ---------------------------------------------------------------------------
# ARI / NMI partition comparison
# ---------------------------------------------------------------------------

def _part(spark, mapping, col):
    return spark.createDataFrame(
        [(k, v) for k, v in mapping.items()], f"id string, {col} string"
    )


def test_ari_nmi_match_sklearn_formulas(spark):
    import hashlib
    import math
    from collections import Counter

    from semantic_entity_matching_spark.operators.evaluate import (
        partition_comparison,
    )

    def ref_ari_nmi(pl, gl):
        n = len(pl)
        cont = Counter(zip(pl, gl))
        a, b = Counter(pl), Counter(gl)
        c2 = lambda x: x * (x - 1) / 2
        s_nij = sum(c2(v) for v in cont.values())
        s_a, s_b = sum(c2(v) for v in a.values()), sum(c2(v) for v in b.values())
        exp = s_a * s_b / c2(n)
        mx = (s_a + s_b) / 2
        ari = 1.0 if mx == exp else (s_nij - exp) / (mx - exp)
        h = lambda cnt: -sum(v / n * math.log(v / n) for v in cnt.values())
        mi = sum(
            v / n * math.log(n * v / (a[i] * b[j]))
            for (i, j), v in cont.items()
        )
        denom = (h(a) + h(b)) / 2
        nmi = mi / denom if denom else 1.0
        return round(ari, 6), round(nmi, 6)

    for seed in (1, 2, 3):
        h = lambda i, s: int(
            hashlib.md5(f"{seed}:{s}:{i}".encode()).hexdigest(), 16
        )
        ids = [f"r{i}" for i in range(80)]
        pl = [f"p{h(i, 'p') % 7}" for i in range(80)]
        gl = [f"g{h(i, 'g') % 5}" for i in range(80)]
        pred = _part(spark, dict(zip(ids, pl)), "component")
        gold = _part(spark, dict(zip(ids, gl)), "entity")
        row = partition_comparison(pred, gold).collect()[0]
        want_ari, want_nmi = ref_ari_nmi(pl, gl)
        assert row["n"] == 80
        assert abs(row["ari"] - want_ari) < 1e-9, seed
        assert abs(row["nmi"] - want_nmi) < 1e-9, seed


def test_ari_nmi_identical_and_orthogonal(spark):
    from semantic_entity_matching_spark.operators.evaluate import (
        partition_comparison,
    )

    ids = [f"r{i}" for i in range(12)]
    same = {i: f"c{k % 3}" for k, i in enumerate(ids)}
    pred = _part(spark, same, "component")
    gold = _part(spark, same, "entity")
    row = partition_comparison(pred, gold).collect()[0]
    assert row["ari"] == 1.0 and row["nmi"] == 1.0

    # single cluster vs singletons: no information shared
    one = _part(spark, {i: "all" for i in ids}, "component")
    singl = _part(spark, {i: i for i in ids}, "entity")
    row = partition_comparison(one, singl).collect()[0]
    assert row["ari"] == 0.0 and row["nmi"] == 0.0
