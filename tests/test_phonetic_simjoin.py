"""Phonetic blocking key + lossless similarity joins (simjoin.py).

The exactness claims (prefix filtering loses no pairs) are pinned against
brute-force quadratic ground truth computed IN SPARK on seeded random
corpora, so the tests exercise the filter math independently of the DuckDB
contract twins (which pin engine-portability at sf0.01 instead).
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.phonetic import (
    phonetic_key,
    phonetic_key_sql,
)
from semantic_entity_matching_spark.operators.simjoin import (
    edit_distance_join,
    prefix_filter_jaccard_join,
)

# every rule edge: runs ("tt"), vowel separators (same class twice with a
# vowel between survives as two digits), H/W treated as vowels (documented
# ANSI deviation), short names padded, no-letter inputs -> NULL, mixed case
# and punctuation stripped
WORDS = [
    "Robert", "Rupert", "Ashcraft", "Ashcroft", "Tymczak", "Pfister",
    "Honeyman", "Jackson", "JACKSON", "jackson!!", "O'Brien", "ring",
    "rng", "widget", "wdget", "Lee", "Lu", "x", "x1", "", "123", "Aeiou",
    "Schmidt", "Smith", "Smyth", "Smithh", "Wu", "Hwang",
]


def test_phonetic_key_matches_duckdb_twin(spark):
    sdf = spark.createDataFrame([(w,) for w in WORDS], "w string")
    got = {
        r["w"]: r["k"]
        for r in sdf.select("w", phonetic_key(F.col("w")).alias("k")).collect()
    }
    con = duckdb.connect()
    ref = dict(
        con.execute(
            f"SELECT w, {phonetic_key_sql('w')} FROM (SELECT unnest(?) AS w)",
            [WORDS],
        ).fetchall()
    )
    assert got == ref


def test_phonetic_key_known_vectors(spark):
    # classic soundex vectors that do NOT involve the H/W-transparency
    # rule, so our documented deviation leaves them at their ANSI values
    sdf = spark.createDataFrame(
        [("Robert",), ("Rupert",), ("Honeyman",), ("Smith",), ("Smyth",)],
        "w string",
    )
    got = dict(
        (r["w"], r["k"])
        for r in sdf.select("w", phonetic_key(F.col("w")).alias("k")).collect()
    )
    assert got == {
        "Robert": "R163",
        "Rupert": "R163",
        "Honeyman": "H555",
        "Smith": "S530",
        "Smyth": "S530",
    }


def test_phonetic_key_null_and_letterless(spark):
    sdf = spark.createDataFrame([(None,), ("42!",), ("",)], "w string")
    vals = [r["k"] for r in sdf.select(phonetic_key(F.col("w")).alias("k")).collect()]
    assert vals == [None, None, None]


VOCAB = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _random_docs(n: int, seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        k = rng.randint(0, 8)
        out.append((i, " ".join(rng.choice(VOCAB) for _ in range(k))))
    out.append((n, None))
    out.append((n + 1, "   "))
    return out


@pytest.mark.parametrize("threshold", [0.5, 0.8, 1.0])
def test_prefix_jaccard_join_equals_bruteforce(spark, threshold):
    docs = spark.createDataFrame(
        _random_docs(60, seed=7), "id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_join(docs, "id", "text", threshold).collect()
    }
    want = _jaccard_bruteforce(docs, threshold)
    assert got == want
    if threshold <= 0.8:
        assert want, "degenerate test: brute force found no pairs"


def _jaccard_bruteforce(docs, threshold: float) -> dict:
    """{(id_a, id_b): jaccard} of every pair at or above ``threshold``,
    quadratic in Spark over the join's tokenization."""
    from semantic_entity_matching_spark.operators.tokensets import _distinct_tokens

    toks = docs.select(
        F.col("id"), _distinct_tokens("text").alias("tok")
    ).where(F.size("tok") > 0)
    a = toks.select(F.col("id").alias("id_a"), F.col("tok").alias("ta"))
    b = toks.select(F.col("id").alias("id_b"), F.col("tok").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter.cast("double") / (
        F.size("ta") + F.size("tb") - inter
    ).cast("double")
    return {
        (r["id_a"], r["id_b"]): r["j"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("j"))
        .where(F.col("j") >= threshold)
        .collect()
    }


def test_prefix_jaccard_join_salts_a_hot_prefix_token(spark):
    """A prefix token in more than HOT_KEY_THRESHOLD docs is salted over
    several reducers; the join must still equal the brute force.  Thirty
    docs share 'hot' (df 30), which sits second in each one's rarest-first
    order behind an f-token (df 5) and ahead of three s-tokens (df 45), so
    it is in every one of their prefixes at t = 0.6."""
    from semantic_entity_matching_spark.operators.pairs import HOT_KEY_THRESHOLD

    rows = [(i, f"f{i % 6} hot s0 s1 s2") for i in range(30)]
    rows += [(100 + j, f"z{j} s0 s1 s2") for j in range(15)]
    assert sum("hot" in t for _, t in rows) > HOT_KEY_THRESHOLD
    docs = spark.createDataFrame(rows, "id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_join(docs, "id", "text", 0.6).collect()
    }
    want = _jaccard_bruteforce(docs, 0.6)
    assert len(want) == 30 * 29 // 2 + 15 * 14 // 2
    assert got == want


def test_prefix_jaccard_join_keeps_pair_at_exact_threshold(spark):
    # jaccard 14/25 = 0.56 exactly, and 0.56 * 25 rounds UP to
    # 14.000000000000002 in float: a product-form length filter or an
    # unguarded ceil in the prefix length drops this pair at t = 0.56
    shared = [f"s{i}" for i in range(14)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(shared + [f"u{i}" for i in range(11)])),
            (2, " ".join(shared)),
        ],
        "id long, text string",
    )
    got = [
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_filter_jaccard_join(docs, "id", "text", 0.56).collect()
    ]
    assert got == [(1, 2, 14 / 25)]


def test_prefix_jaccard_join_rejects_bad_threshold(spark):
    docs = spark.createDataFrame([(1, "a b")], "id long, text string")
    with pytest.raises(ValueError):
        prefix_filter_jaccard_join(docs, "id", "text", 0.0)
    with pytest.raises(ValueError):
        prefix_filter_jaccard_join(docs, "id", "text", 1.5)


def _random_strings(n: int, seed: int) -> list[tuple[int, str]]:
    rng = random.Random(seed)
    base = ["kitten", "sitting", "mitten", "flour", "flower", "a", "ab", ""]
    out = []
    for i in range(n):
        s = rng.choice(base)
        if s and rng.random() < 0.5:
            p = rng.randrange(len(s))
            s = s[:p] + rng.choice("abcdxyz") + s[p + 1 :]
        out.append((i, s))
    out.append((n, None))
    return out


@pytest.mark.parametrize("k,q", [(1, 2), (2, 2), (2, 3)])
def test_edit_distance_join_equals_bruteforce(spark, k, q):
    strs = spark.createDataFrame(_random_strings(50, seed=11), "id long, s string")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in edit_distance_join(strs, "id", "s", k=k, q=q).collect()
    }
    nn = strs.where(F.col("s").isNotNull())
    a = nn.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    b = nn.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    want = {
        (r["id_a"], r["id_b"]): r["d"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.levenshtein("sa", "sb").alias("d"))
        .where(F.col("d") <= k)
        .collect()
    }
    assert got == want
    assert want, "degenerate test: brute force found no pairs"


def test_edit_distance_join_short_strings_join(spark):
    # strings shorter than q contribute themselves as their only gram and
    # must still pair up ("a" vs "ab" is distance 1)
    strs = spark.createDataFrame(
        [(1, "a"), (2, "ab"), (3, "zzzzzz")], "id long, s string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in edit_distance_join(strs, "id", "s", k=1, q=3).collect()
    }
    assert got == {(1, 2): 1}


def test_edit_distance_join_rejects_bad_params(spark):
    strs = spark.createDataFrame([(1, "a")], "id long, s string")
    with pytest.raises(ValueError):
        edit_distance_join(strs, "id", "s", k=-1)
    with pytest.raises(ValueError):
        edit_distance_join(strs, "id", "s", k=1, q=0)
