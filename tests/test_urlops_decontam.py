"""Round-4 operators: URL/host stats, host-quota sampling, benchmark
decontamination, extended Gopher repetition rules, and the incremental
matcher's stream==batch equivalence."""

import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.urlops import (
    host_stats,
    host_stratified_sample,
    registered_domain,
    url_host,
)
from semantic_entity_matching_spark.operators.decontaminate import decontaminate
from semantic_entity_matching_spark.functions.textops import (
    extended_repetition_stats,
)

SF_DIR = "/root/testdata/sf0.001"


def test_url_host_and_registered_domain(spark):
    rows = [
        ("https://www.example.com/a/b?q=1", "www.example.com", "example.com"),
        ("https://Example.ORG:8443/x", "example.org", "example.org"),
        ("https://user:pw@deep.sub.example.co.uk/p", "deep.sub.example.co.uk",
         "example.co.uk"),
        ("http://localhost/x", "localhost", "localhost"),
        ("not a url at all", None, None),
    ]
    df = spark.createDataFrame([(u,) for u, _, _ in rows], "url string")
    got = (
        df.withColumn("host", url_host("url"))
        .withColumn("domain", registered_domain(F.col("host")))
        .collect()
    )
    for (u, host, dom), r in zip(rows, got):
        assert r["host"] == host, u
        assert r["domain"] == dom, u


def test_host_stats_per_domain(spark):
    df = spark.createDataFrame(
        [
            ("https://a.example.com/1", "one two"),
            ("https://b.example.com/2", "three"),
            ("https://example.org/3", None),
        ],
        "url string, text string",
    )
    got = {r["domain"]: r for r in host_stats(df).collect()}
    assert got["example.com"]["n_docs"] == 2
    assert got["example.com"]["n_hosts"] == 2
    assert got["example.com"]["total_tokens"] == 3
    assert got["example.org"]["n_docs"] == 1
    assert got["example.org"]["total_chars"] == 0


def test_host_stratified_sample_cap_and_determinism(spark):
    rows = [
        (f"https://{'big' if i % 4 else 'small'}.example.com/p/{i}",)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "url string")
    s1 = host_stratified_sample(df, n_per_domain=5, id_col="url")
    s2 = host_stratified_sample(df.repartition(7), n_per_domain=5, id_col="url")
    u1 = sorted(r["url"] for r in s1.collect())
    u2 = sorted(r["url"] for r in s2.collect())
    assert u1 == u2  # partitioning-independent
    assert len(u1) == 5  # one domain, capped


def test_decontaminate_planted_overlap(spark):
    contaminated_span = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, f"prefix words {contaminated_span} suffix words here"),
            (2, "a completely different document with no shared spans at all ok"),
            (3, None),
        ],
        "doc_id bigint, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, f"benchmark question mentions {contaminated_span} verbatim")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in decontaminate(corpus, eval_df, n=8).collect()}
    assert got[1]["contaminated"] is True and got[1]["n_overlap"] >= 1
    assert got[2]["contaminated"] is False and got[2]["n_overlap"] == 0
    assert got[3]["n_ngrams"] == 0 and got[3]["contaminated"] is False
    assert got[3]["overlap_ratio"] is None


def test_extended_repetition_stats_crafted(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a a"),          # every 2/3/4-gram identical
            (2, "x\ny\nx\n\n  "),      # 3 non-blank lines, one duplicate
            (3, "one two"),            # too short for 3/4-grams
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in extended_repetition_stats(df).collect()}
    assert got[1]["top_2gram_ratio"] == 1.0
    assert got[1]["top_3gram_ratio"] == 1.0
    assert got[1]["top_4gram_ratio"] == 1.0
    assert got[1]["distinct_token_ratio"] == pytest.approx(0.2)
    assert got[2]["dup_line_fraction"] == pytest.approx(1 / 3, abs=1e-6)
    assert got[3]["top_2gram_ratio"] == 1.0
    assert got[3]["top_3gram_ratio"] is None
    assert got[3]["top_4gram_ratio"] is None
    assert got[1]["dup_line_fraction"] == 0.0


def test_incremental_stream_equals_batch(spark, tmp_path):
    """The production read path under the oracle discipline: streaming the
    incoming split through incremental_match_stream (two micro-batches +
    one replayed batch) accumulates EXACTLY the rows of one batch
    match_batch call over the same input."""
    from semantic_entity_matching_spark.plans.pipeline import MatchConfig
    from semantic_entity_matching_spark.streaming.incremental_match import (
        ReferenceIndex,
        incremental_match_stream,
        match_batch,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cfg = MatchConfig(
        id_col="doc_id",
        text_col="text",
        extract_cols=("doc_id", "text", "lang"),
        score_round=6,
    )
    index = ReferenceIndex(docs.where(F.col("doc_id") % 10 != 0), cfg)
    incoming = docs.where(F.col("doc_id") % 10 == 0)

    expected = {
        (r["doc_id"], r["matched_id"], r["score"])
        for r in match_batch(incoming, index).collect()
    }

    src = str(tmp_path / "in")
    out = str(tmp_path / "matched")
    cp = str(tmp_path / "cp")
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in incoming.schema.fields)

    def run_batch(df):
        df.coalesce(1).write.mode("append").parquet(src)
        q = incremental_match_stream(
            spark.readStream.schema(schema).parquet(src), index, out, cp
        )
        q.awaitTermination(300)

    half = incoming.where(F.col("doc_id") % 20 == 0)
    rest = incoming.where(F.col("doc_id") % 20 != 0)
    run_batch(half)
    run_batch(rest)
    run_batch(half.limit(5))  # replay: must insert nothing

    got = {
        (r["doc_id"], r["matched_id"], r["score"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == expected
    assert len(got) == incoming.count()


def test_gopher_quality_flags(spark):
    from semantic_entity_matching_spark.functions.textops import (
        gopher_quality_flags,
    )

    good = ("the quick brown fox jumps over that lazy dog with energy and "
            "purpose today " * 5)  # 65 tokens, stopwords, sane lengths
    spam = "spam " * 60
    short = "just a few tokens here"
    df = spark.createDataFrame(
        [(1, good), (2, spam), (3, short)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r for r in gopher_quality_flags(df).collect()}
    assert got[1]["passes"] == 1
    assert got[2]["ok_2gram"] == 0 and got[2]["passes"] == 0
    assert got[2]["ok_stopwords"] == 0
    assert got[3]["ok_word_count"] == 0 and got[3]["passes"] == 0


def test_canonical_url(spark):
    from semantic_entity_matching_spark.functions.urlops import canonical_url

    cases = [
        ("HTTPS://User@WWW.Example.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
         "https://www.example.com/a/b?a=1&b=2"),
        ("http://site.co.uk:80/", "http://site.co.uk/"),
        ("http://site.co.uk:8080/p//", "http://site.co.uk:8080/p"),
        ("example.com/x?gclid=1&z=9", "example.com/x?z=9"),
        ("https://h.org", "https://h.org/"),
        (None, None),
        ("  https://h.org/a?  ", "https://h.org/a"),
        ("https://h.org/a?b=2&b=1&utm_campaign&ref=x", "https://h.org/a?b=1&b=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url("url").alias("c")).collect()]
    for (u, want), c in zip(cases, got):
        assert c == want, (u, c, want)


def test_canonical_url_dedup(spark):
    from semantic_entity_matching_spark.functions.urlops import (
        canonical_url_dedup,
    )

    rows = [
        # three captures of one resource: latest ts wins
        (1, "https://A.com/x?utm_source=1", 10),
        (2, "https://a.com/x/#frag", 30),
        (3, "https://a.com:443/x", 20),
        # tie on ts -> smallest id wins
        (4, "http://b.org/p?z=1&a=2", 5),
        (5, "http://b.org/p?a=2&z=1", 5),
        # distinct resource (non-default port)
        (6, "http://b.org:8080/p?a=2&z=1", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, ts long")
    out = canonical_url_dedup(df, url_col="url", ts_col="ts", id_col="doc_id")
    kept = {r["doc_id"]: r["canonical_url"] for r in out.collect()}
    assert kept == {
        2: "https://a.com/x",
        4: "http://b.org/p?a=2&z=1",
        6: "http://b.org:8080/p?a=2&z=1",
    }


def test_filter_blocked_urls_label_boundaries_and_nulls(spark):
    """Blocklist gate: a pattern blocks its host and every subdomain on
    LABEL boundaries only; unparseable/null-host rows pass through; null
    and blank patterns are ignored."""
    from semantic_entity_matching_spark.functions.urlops import (
        filter_blocked_urls,
    )

    rows = [
        (1, "https://example.com/a"),          # exact -> blocked
        (2, "https://www.example.com/b"),      # subdomain -> blocked
        (3, "https://a.b.example.com/c"),      # deep subdomain -> blocked
        (4, "https://notexample.com/d"),       # suffix WITHOUT boundary -> kept
        (5, "https://example.com.evil.org/e"), # different reg. domain -> kept
        (6, "https://bad.co.uk/f"),            # two-part-suffix pattern -> blocked
        (7, "https://alsobad.co.uk/g"),        # sibling domain -> kept
        (8, None),                              # null url -> kept
        (9, "not a url at all"),                # unparseable -> kept
        (10, "https://deep.bad.co.uk/h"),       # subdomain of 6 -> blocked
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = spark.createDataFrame(
        [("example.com",), ("bad.co.uk",), (None,), ("  ",)],
        "pattern string",
    )
    kept = sorted(
        r["doc_id"] for r in filter_blocked_urls(df, bl).collect()
    )
    assert kept == [4, 5, 7, 8, 9]


def test_match_batch_one_to_one_resolves_reference_conflicts(spark):
    """one_to_one=True: each reference entity is claimed by at most one
    incoming page; the loser falls back to its next-best qualified
    reference, and pages with no remaining reference go unmatched.
    Synthetic near-dup pages force two incoming rows onto one reference."""
    from semantic_entity_matching_spark.plans.pipeline import MatchConfig
    from semantic_entity_matching_spark.streaming.incremental_match import (
        ReferenceIndex,
        match_batch,
    )

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    ref_rows = [(100, base, "en")]
    inc_rows = [
        (1, base, "en"),                      # exact copy of ref 100
        (2, base + " extra", "en"),           # near-dup of ref 100
        (3, "totally unrelated page text", "en"),
    ]
    cfg = MatchConfig(
        id_col="doc_id",
        text_col="text",
        extract_cols=("doc_id", "text", "lang"),
        score_round=6,
    )
    schema = "doc_id bigint, text string, lang string"
    index = ReferenceIndex(spark.createDataFrame(ref_rows, schema), cfg)
    incoming = spark.createDataFrame(inc_rows, schema)

    plain = {
        r["doc_id"]: r["matched_id"]
        for r in match_batch(incoming, index).collect()
    }
    o2o = {
        r["doc_id"]: r["matched_id"]
        for r in match_batch(incoming, index, one_to_one=True).collect()
    }
    # 1:N: both near-dups claim the same reference
    assert plain[1] == 100 and plain[2] == 100 and plain[3] is None
    # 1:1: the exact copy (higher score) keeps it; the other goes unmatched
    assert o2o[1] == 100 and o2o[2] is None and o2o[3] is None
    assert set(o2o) == {1, 2, 3}
