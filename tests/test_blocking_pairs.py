from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.blocking import (
    LSHConfig,
    all_block_keys,
    minhash_block_keys,
    minhash_signature,
    sorted_neighborhood_keys,
)
from semantic_entity_matching_spark.operators.pairs import (
    HOT_KEY_THRESHOLD,
    PairGenConfig,
    block_sizes,
    dropped_blocks_audit,
    generate_candidate_pairs,
    key_pairs,
    salt_count,
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_minhash_signature_properties():
    cfg = LSHConfig()
    s1 = minhash_signature("the quick brown fox jumps over the lazy dog", cfg.num_perm, cfg.shingle_k, cfg.seed)
    s2 = minhash_signature("the quick brown fox jumps over the lazy dog", cfg.num_perm, cfg.shingle_k, cfg.seed)
    s3 = minhash_signature("a completely different sentence about spark shuffles", cfg.num_perm, cfg.shingle_k, cfg.seed)
    np.testing.assert_array_equal(s1, s2)  # deterministic
    assert (s1 == s3).mean() < 0.3  # distinct texts disagree on most perms
    # near-duplicates agree on most permutations (MinHash ~ Jaccard)
    s4 = minhash_signature("the quick brown fox jumps over the lazy cat", cfg.num_perm, cfg.shingle_k, cfg.seed)
    assert (s1 == s4).mean() > 0.5
    # case/whitespace normalization
    s5 = minhash_signature("  The QUICK  brown fox jumps over the lazy dog ", cfg.num_perm, cfg.shingle_k, cfg.seed)
    np.testing.assert_array_equal(s1, s5)


def test_minhash_block_keys_bucket_near_duplicates(spark):
    rows = [
        ("u1", "the quick brown fox jumps over the lazy dog today"),
        ("u2", "the quick brown fox jumps over the lazy dog yesterday"),
        ("u3", "completely unrelated text about query optimizers and shuffles"),
        ("u4", None),
        ("u5", "   "),
    ]
    blocks = minhash_block_keys(_pages(spark, rows))
    rows_out = blocks.collect()
    by_url: dict[str, set] = {}
    for r in rows_out:
        by_url.setdefault(r["url"], set()).add(r["block_key"])
    assert "u4" not in by_url and "u5" not in by_url  # null/blank skip
    # two families (char + word), num_bands keys each
    assert len(by_url["u1"]) == 2 * LSHConfig().num_bands
    assert by_url["u1"] & by_url["u2"]  # near-dups share >=1 band
    assert not (by_url["u1"] & by_url["u3"])  # unrelated don't


def test_word_family_covers_token_reordering(spark):
    # leading-token swap: char shingles may miss, word family must hit
    rows = [
        ("u1", "sodium clinical blood protein hemoglobin bacteria presence"),
        ("u2", "clinical sodium blood protein hemoglobin bacteria presence"),
    ]
    blocks = minhash_block_keys(_pages(spark, rows))
    by_url: dict[str, set] = {}
    for r in blocks.collect():
        by_url.setdefault(r["url"], set()).add(r["block_key"])
    word_keys_1 = {k for k in by_url["u1"] if k.startswith("mhw:")}
    word_keys_2 = {k for k in by_url["u2"] if k.startswith("mhw:")}
    assert word_keys_1 == word_keys_2  # identical token set -> identical sig


def test_sorted_neighborhood_keys(spark):
    rows = [
        ("u1", "alpha beta gamma"),
        ("u2", "alpha beta gamma delta"),
        ("u3", "zulu yankee xray"),
        ("u4", None),
    ]
    keys = sorted_neighborhood_keys(_pages(spark, rows), window=4)
    got = {(r["url"], r["block_key"]) for r in keys.collect()}
    urls = {u for u, _ in got}
    assert urls == {"u1", "u2", "u3"}
    # u1/u2 share the 12-char normalized prefix 'alphabetagam'
    assert ("u1", "snp:alphabetagam") in got and ("u2", "snp:alphabetagam") in got


def test_candidate_pairs_basic(spark):
    blocks = spark.createDataFrame(
        [("b1", "u1"), ("b1", "u2"), ("b1", "u3"), ("b2", "u2"), ("b2", "u1"), ("lonely", "u9")],
        "block_key string, url string",
    )
    pairs = generate_candidate_pairs(blocks)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {("u1", "u2"), ("u1", "u3"), ("u2", "u3")}
    # canonical order + no dup from the shared b2 key
    counts = pairs.groupBy("id_a", "id_b").count().where(F.col("count") > 1).count()
    assert counts == 0


def _quad(block_members):
    return {(a, b) for m in block_members for a in m for b in m if a < b}


@pytest.mark.parametrize(
    "hot_block_threshold",
    [
        pytest.param(1000, id="unsalted"),  # every key cold: one salt each
        pytest.param(100, id="mixed"),  # mega 2 salts, warm/cold 1
        pytest.param(1, id="clamped"),  # mega/warm capped at parallelism
    ],
)
def test_salting_pair_set_identity(spark, hot_block_threshold):
    """The derived salt count never changes the pair set: on a skewed
    fixture (one mega-block, one mildly hot block, cold tail) every
    threshold yields exactly the quadratic pairs of each block, each
    unordered pair once."""
    mega = [f"m{i:04d}" for i in range(200)]
    warm = [f"w{i:02d}" for i in range(25)]
    rows = (
        [("mega", u) for u in mega]
        + [("warm", u) for u in warm]
        + [("cold", "c1"), ("cold", "c2"), ("x", "c9")]
    )
    blocks = spark.createDataFrame(rows, "block_key string, url string")
    pairs = generate_candidate_pairs(
        blocks,
        config=PairGenConfig(
            max_block_size=10_000, hot_block_threshold=hot_block_threshold
        ),
        keep_block_key=False,
    )
    got = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    assert got == sorted(_quad([mega, warm, ["c1", "c2"]]))


def test_salt_count_per_key_at_default_threshold(spark):
    """ceil(size / 20) salts, capped at the session's default parallelism;
    a cold key and a key absent from the hot head (null size) get 1."""
    par = spark.sparkContext.defaultParallelism
    sizes = [5, 20, 21, 30, 44, 500, None]
    df = spark.createDataFrame([(s,) for s in sizes], "size bigint")
    got = {
        r["size"]: r["n"]
        for r in df.select(
            "size", salt_count(F.col("size"), 20, par).alias("n")
        ).collect()
    }
    assert got == {
        5: 1, 20: 1, 21: 2, 30: 2, 44: 3, 500: par, None: 1,
    }
    assert par < 500 / 20  # the 500-row key really hits the cap


def test_candidate_pairs_mixed_hot_cold_one_join(spark):
    """The fused dynamic-salt path: one call carrying a hot block (salted
    ceil(12/5) = 3 ways) AND cold blocks (salt count 1) must emit exactly
    the quadratic pair set of each block, each unordered pair exactly
    once — including a pair reachable through both a hot and a cold key."""
    members = (
        [("hotk", f"u{i:02d}") for i in range(12)]       # hot: 12 > threshold
        + [("coldk", "u00"), ("coldk", "u01"), ("coldk", "x9")]  # cold
        + [("solo", "z1")]
    )
    blocks = spark.createDataFrame(members, "block_key string, url string")
    pairs = generate_candidate_pairs(
        blocks,
        config=PairGenConfig(hot_block_threshold=5),
        keep_block_key=False,
    )
    got = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    want = {
        (f"u{i:02d}", f"u{j:02d}") for i in range(12) for j in range(i + 1, 12)
    }
    want |= {("u00", "x9"), ("u01", "x9")}  # cold-only pairs
    assert got == sorted(want)  # sorted-list compare also proves no dups


def test_size_annotation_head_join_boundaries(spark):
    """The size annotation is a LEFT join against only the
    block_size > min(hot_block_threshold, max_block_size) head of the size
    table (the full table is corpus-cardinality and must never broadcast).
    Keys exactly AT the hot threshold stay cold (absent from the head,
    salt 1), keys exactly at max are kept, keys above max drop.  Both
    thresholds must be >= 1: the salt count divides by the hot one."""

    def quad(prefix, n):
        return {
            (f"{prefix}{i}", f"{prefix}{j}")
            for i in range(n)
            for j in range(n)
            if f"{prefix}{i}" < f"{prefix}{j}"
        }

    members = (
        [("at_hot", f"a{i}") for i in range(5)]    # == hot threshold: cold
        + [("salted", f"s{i}") for i in range(6)]  # > hot, <= max: salted
        + [("at_max", f"m{i}") for i in range(8)]  # == max: kept
        + [("over", f"o{i}") for i in range(9)]    # > max: dropped
    )
    blocks = spark.createDataFrame(members, "block_key string, url string")

    def pairset(cfg):
        return {
            (r["id_a"], r["id_b"])
            for r in generate_candidate_pairs(blocks, config=cfg).collect()
        }

    want = quad("a", 5) | quad("s", 6) | quad("m", 8)
    cfg = PairGenConfig(max_block_size=8, hot_block_threshold=5)
    assert pairset(cfg) == want
    # max below hot: the head filter uses the SMALLER threshold, so the
    # cap still sees sizes for every key it must drop
    tight = PairGenConfig(max_block_size=5, hot_block_threshold=50)
    assert pairset(tight) == quad("a", 5)
    for bad in (
        {"max_block_size": 0},
        {"max_block_size": -1},
        {"hot_block_threshold": 0},
        {"hot_block_threshold": -5},
    ):
        with pytest.raises(ValueError, match=next(iter(bad))):
            PairGenConfig(**bad)
    assert PairGenConfig(max_block_size=1, hot_block_threshold=1)


def test_pairgen_never_broadcasts_full_size_table(spark):
    """Every BroadcastExchange in the pair-gen plan whose input carries
    block_size must sit directly above a Filter on block_size (the Zipf
    head), never the raw size aggregate.  Formatted-plan numbering is
    depth-first, so a unary node's child is (N-1)."""
    import re

    blocks = spark.createDataFrame(
        [(f"k{i % 7}", f"u{i}") for i in range(40)],
        "block_key string, url string",
    )
    df = generate_candidate_pairs(blocks, config=PairGenConfig())
    explained = df._jdf.queryExecution().explainString(  # noqa: SLF001
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    detail = {}
    for blk in explained.split("\n\n"):
        m = re.match(r"\((\d+)\)\s+(\S+)", blk.strip())
        if m:
            detail[int(m.group(1))] = (m.group(2), blk)
    offenders = [
        n
        for n, (node, blk) in detail.items()
        if node == "BroadcastExchange"
        and "block_size" in blk
        and not (
            (child := detail.get(n - 1))
            and child[0] == "Filter"
            and "block_size" in child[1]
            and ">" in child[1]
        )
    ]
    assert not offenders, f"unfiltered size-table broadcast at {offenders}"


def test_cross_corpus_broadcasts_only_filtered_head(spark):
    """cross_corpus_near_duplicates always broadcast-hints its per-key
    size head.  Every BroadcastExchange in its plan must reach the per-side
    ``_cn``/``_rn`` aggregates only through a Filter ``_cn``/``_rn > N``
    (the Zipf head), never a raw per-side aggregate, and the head must in
    fact be broadcast.  The tree is read from the formatted plan's
    indentation: a child line's marker sits 3 columns right of its
    parent's."""
    import re

    from semantic_entity_matching_spark.operators.dedup import (
        cross_corpus_near_duplicates,
    )

    text = "the quick brown fox jumps over the lazy dog near the river"
    corpus = spark.createDataFrame(
        [(i, f"{text} w{i % 5}") for i in range(40)], "doc_id bigint, text string"
    )
    ref = spark.createDataFrame([(100, text)], "ref_id bigint, text string")
    df = cross_corpus_near_duplicates(corpus, ref, jaccard_threshold=0.8)
    explained = df._jdf.queryExecution().explainString(  # noqa: SLF001
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    tree, _, details = explained.partition("\n\n")
    children: dict[int, list[int]] = {}
    stack: list[int] = []
    for line in tree.splitlines():
        m = re.search(r"\((\d+)\)\s*$", line)
        if not m:
            continue
        marker = re.search(r"[+:]- ", line)
        depth = marker.start() // 3 + 1 if marker else 0
        del stack[depth:]
        if stack:
            children.setdefault(stack[-1], []).append(int(m.group(1)))
        stack.append(int(m.group(1)))
    detail = {}
    for blk in details.split("\n\n"):
        m = re.match(r"\((\d+)\)\s+(\S+)", blk.strip())
        if m:
            detail[int(m.group(1))] = (m.group(2), blk)

    def reaches(n, raw: bool) -> bool:
        # raw=True: an unfiltered _cn/_rn aggregate below n;
        # raw=False: a head Filter below n
        node, blk = detail[n]
        if node == "Filter" and re.search(r"_[cr]n#\d+L? > \d+", blk):
            return not raw
        if raw and node == "HashAggregate" and re.search(r"AS _[cr]n#", blk):
            return True
        return any(reaches(c, raw) for c in children.get(n, []))

    bx = [n for n, (node, _) in detail.items() if node == "BroadcastExchange"]
    offenders = [n for n in bx if reaches(n, raw=True)]
    assert not offenders, f"raw per-side size aggregate broadcast at {offenders}"
    assert any(reaches(n, raw=False) for n in bx), "size head not broadcast"


def test_block_cap_drops_mega_blocks(spark):
    members = [("boiler", f"u{i:04d}") for i in range(50)] + [("ok", "a"), ("ok", "b")]
    blocks = spark.createDataFrame(members, "block_key string, url string")
    cfg = PairGenConfig(max_block_size=10)
    pairs = generate_candidate_pairs(blocks, config=cfg)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {("a", "b")}
    audit = dropped_blocks_audit(blocks, config=cfg).collect()
    assert len(audit) == 1 and audit[0]["block_key"] == "boiler" and audit[0]["block_size"] == 50


def test_all_block_keys_union(spark):
    rows = [("u1", "alpha beta gamma"), ("u2", "alpha beta gamma")]
    blocks = all_block_keys(_pages(spark, rows))
    kinds = {r["block_key"].split(":")[0] for r in blocks.collect()}
    assert {"mh", "mhw", "sn", "snp"} <= kinds
    sizes = sorted(block_sizes(blocks).collect(), key=lambda r: -r["block_size"])
    assert sizes[0]["block_size"] == 2  # identical texts share every key


def test_gray_zone_boundary_pair_shares_a_scheme(spark):
    """Two near-duplicates whose shingle counts straddle the OPH cutover
    (512 = 4*num_perm) must still share band keys: the 2x gray zone emits
    BOTH schemes for mid-sized docs, and jaccard >= 0.5 bounds a pair's
    size ratio to <= 2, so a shared scheme always exists."""
    import random

    from semantic_entity_matching_spark.operators.blocking import (
        _shingle_hashes,
        minhash_block_keys,
    )
    from semantic_entity_matching_spark.operators.dedup import (
        minhash_near_duplicates,
    )

    random.seed(3)
    words = [
        "".join(random.choices("abcdefghijklmnopqrstuvwxyz", k=7))
        for _ in range(90)
    ]
    base = " ".join(words)          # ~700 chars -> ~700 shingles (gray zone)
    bigger = base + " " + " ".join(words[:12])  # near-dup, slightly larger
    n_a = _shingle_hashes(base, 5).size
    n_b = _shingle_hashes(bigger, 5).size
    assert n_a != n_b  # genuinely different sizes around the zone
    df = spark.createDataFrame(
        [(1, base), (2, bigger)], "doc_id bigint, text string"
    )
    blocks = minhash_block_keys(df, id_col="doc_id", text_col="text")
    k1 = {r["block_key"] for r in blocks.where("doc_id=1").collect()}
    k2 = {r["block_key"] for r in blocks.where("doc_id=2").collect()}
    assert k1 & k2, "no shared band key across the scheme boundary"
    pairs = minhash_near_duplicates(
        df, id_col="doc_id", text_col="text", jaccard_threshold=0.5
    )
    assert pairs.count() == 1


def test_simhash_blank_docs_do_not_pair(spark):
    """Null/blank documents are excluded before simhash banding — they would
    otherwise all share signature 0 and form an O(n^2) false clique."""
    from semantic_entity_matching_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real content here"),
         (5, "real content here")],
        "doc_id bigint, text string",
    )
    out = simhash_near_duplicates(df, max_hamming=3, n_bands=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(4, 5)}


def test_jaccard_py_matches_jvm_on_unicode_whitespace(spark):
    """ASCII-\\s tokenization keeps the pure-Python oracle consistent with
    the JVM array path on text containing non-breaking spaces — and the
    two agree on the null/empty semantics too (null -> 0.0, blank vs
    blank -> 1.0, blank vs non-blank -> 0.0)."""
    from semantic_entity_matching_spark.operators.dedup import (
        jaccard_py,
        ngram_jaccard_verify,
    )

    texts = {
        1: "foo bar baz",  # U+00A0 is NOT whitespace to Java/RE2 \s
        2: "foo bar baz",
        3: None,
        4: "   ",
        5: "",
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    want = {(1, 2): None, (2, 3): 0.0, (3, 3): 0.0, (4, 5): 1.0, (2, 4): 0.0}
    pairs = spark.createDataFrame(list(want), "id_a bigint, id_b bigint")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_verify(pairs, df, id_col="doc_id").collect()
    }
    assert set(got) == set(want)
    for (a, b), j in got.items():
        assert abs(j - jaccard_py(texts[a], texts[b])) < 1e-12
        if want[(a, b)] is not None:
            assert j == want[(a, b)]


def test_banding_recall_is_1_on_fixture(spark):
    """q21's oracle equivalence needs LSH banding recall exactly 1 at the
    contract threshold (an empirical corpus property; see FIXTURES.md §8 and
    tools/verify_banding_recall.py for the full-fixture pre-flight).  Pin it
    on the smoke fixture so a regenerated corpus fails HERE deterministically
    instead of hash-mismatching q21 nondeterministically."""
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

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = docs.select("doc_id")
    all_pairs = (
        ids.select(F.col("doc_id").alias("id_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("id_b")))
        .where(F.col("id_a") < F.col("id_b"))
    )
    truth = (
        ngram_jaccard_verify(
            all_pairs, docs, id_col="doc_id", text_col="text", min_jaccard=0.9
        )
        .where(F.col("jaccard") >= 0.9)
        .select("id_a", "id_b")
    )
    blocks = minhash_block_keys(
        docs, id_col="doc_id", text_col="text", config=LSHConfig()
    )
    cand = generate_candidate_pairs(
        blocks,
        id_col="doc_id",
        config=PairGenConfig(max_block_size=1_000_000, hot_block_threshold=20),
    ).select("id_a", "id_b")
    n_truth = truth.count()
    assert n_truth > 0  # the fixture must actually contain near-dups
    assert truth.join(cand, ["id_a", "id_b"], "left_anti").count() == 0


def test_all_block_keys_emits_no_duplicate_id_key_rows(spark):
    """all_block_keys skips the dedup shuffle on the structural invariant
    that no (id, block_key) row repeats — every MinHash key embeds family
    prefix + band index, SN keys are prefix/suffix-distinct.  Guards the
    invariant against future key-scheme changes."""
    from semantic_entity_matching_spark.operators.blocking import all_block_keys

    rows = [
        (f"u{i}", ("alpha beta gamma delta epsilon zeta " * 40) + f"tail {i}")
        for i in range(30)
    ] + [("dup_a", "same text " * 50), ("dup_b", "same text " * 50)]
    df = spark.createDataFrame(rows, "url string, text string")
    blocks = all_block_keys(df)
    total = blocks.count()
    distinct = blocks.dropDuplicates(["url", "block_key"]).count()
    assert total == distinct


def _key_rows(seed: int) -> list[tuple]:
    """(id, key, size, w) rows: two keys above HOT_KEY_THRESHOLD (so they
    take several salts), a cold key and a one-row key, ids drawn from one
    pool so pairs recur across keys.  ``size`` is the key's row count for
    hot keys and null for cold ones."""
    import random

    rng = random.Random(seed)
    rows = []
    for key, n in (("hot", 55), ("warm", 30), ("cold", 8), ("solo", 1)):
        size = n if n > HOT_KEY_THRESHOLD else None
        for i in rng.sample(range(80), n):
            rows.append((i, key, size, rng.randrange(10)))
    return rows


@pytest.mark.parametrize("form", ["self", "two_sided"])
def test_key_pairs_equals_bruteforce_with_salted_hot_keys(spark, form):
    """The candidate emitter against a pandas brute force of the plain
    key join: the same (id_a, id_b) multiset (one row per shared key),
    extras suffixed _a/_b, and a pair filter that prunes exactly as a
    post-join where does — with hot keys split over several salts."""
    from collections import Counter

    import pandas as pd

    schema = "id long, key string, size long, w long"
    a_rows = _key_rows(1)
    rows = spark.createDataFrame(a_rows, schema)
    a_pdf = pd.DataFrame(a_rows, columns=["id", "key", "size", "w"])
    if form == "self":
        other, b_pdf = None, a_pdf
    else:
        # the other side: fresh ids per key, the same per-key size
        b_rows = [
            (i + 1000, key, size, w) for i, key, size, w in _key_rows(2)
        ]
        other = spark.createDataFrame(b_rows, schema)
        b_pdf = pd.DataFrame(b_rows, columns=["id", "key", "size", "w"])
    par = spark.sparkContext.defaultParallelism
    n_salts = rows.select(
        F.max(salt_count(F.col("size"), HOT_KEY_THRESHOLD, par))
    ).first()[0]
    assert n_salts > 1, "no key was salted"

    joined = a_pdf.merge(b_pdf, on="key", suffixes=("_a", "_b"))
    if form == "self":
        joined = joined[joined["id_a"] < joined["id_b"]]
    keep = (joined["w_a"] + joined["w_b"]) % 3 != 0

    def multiset(df) -> Counter:
        return Counter((r["id_a"], r["id_b"]) for r in df.collect())

    out = key_pairs(rows, other, id_col="id", key="key", size="size")
    assert sorted(out.columns) == sorted(["key", "id_a", "id_b", "w_a", "w_b"])
    assert multiset(out) == Counter(zip(joined["id_a"], joined["id_b"]))

    pair_filter = (F.col("w_a") + F.col("w_b")) % 3 != 0
    filtered = key_pairs(
        rows, other, id_col="id", key="key", size="size", pair_filter=pair_filter
    )
    want = Counter(zip(joined["id_a"][keep], joined["id_b"][keep]))
    assert want and len(want) < len(Counter(zip(joined["id_a"], joined["id_b"])))
    assert multiset(filtered) == want == multiset(out.where(pair_filter))
