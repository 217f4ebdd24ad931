"""URL / host-level operators — the first grouping key of a web-crawl corpus.

The input table of the north_star is keyed by ``url`` (Common-Crawl-style
pages); per-host and per-registered-domain statistics, quotas and sampling
are the standard first moves of an LLM web-data pipeline (domain caps,
per-site quality aggregates, host-bucketed dedup).  All host extraction is
pure Column expressions (``parse_url`` is a JVM built-in, whole-stage
codegen); aggregates are one hash shuffle on the domain key.

Reference analog: the reference keys documents by their natural id and
groups work per source (SURVEY §1.3 doc-identity by natural key); the
host/domain here is that natural grouping for web pages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.textops import token_count


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def url_host(col: str | Column) -> Column:
    """Lowercased hostname of a URL (port stripped), NULL for unparseable
    input.  ``try_parse_url(..., 'HOST')`` — JVM-side, no Python
    (``parse_url`` THROWS on malformed input under ANSI mode; a crawl
    corpus always contains garbage URLs, so the null-tolerant form is the
    only one that survives a real scan)."""
    return F.lower(F.try_parse_url(_c(col), F.lit("HOST")))


# Multi-label public suffixes for the registered-domain heuristic: the
# common ccTLD second-level registries.  A full Public Suffix List lookup
# is a broadcast-join against the published PSL table at scale; this
# deterministic subset keeps the operator dependency-free and
# oracle-portable (the heuristic is explicitly a subset, not the PSL).
MULTI_PART_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
    "com.ar", "com.tr", "com.tw", "co.nz",
)


def registered_domain(host_col: str | Column) -> Column:
    """Registrable domain of a hostname: last two labels, or last three
    when the final two form a known second-level registry suffix
    (``example.co.uk`` -> ``example.co.uk``, ``www.example.org`` ->
    ``example.org``).  Hosts with a single label (or NULL) pass through."""
    host = _c(host_col)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2),
        F.element_at(parts, -1),
    )
    return (
        F.when(host.isNull() | (n <= 1), host)
        .when((n >= 3) & last2.isin(*MULTI_PART_SUFFIXES), last3)
        .otherwise(last2)
    )


# Query parameters that carry tracking state, not content identity: the
# standard strip-set of crawl canonicalizers (utm_* per Google Analytics,
# click ids, mailchimp ids).  Matching is on the parameter NAME only.
TRACKING_PARAM_PATTERN = (
    r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_cid|mc_eid|igshid|ref)(=|$)"
)


def canonical_url(col: str | Column) -> Column:
    """Canonical form of a URL — the identity key for crawl-level dedup.

    Deterministic, component-wise, all JVM ``regexp_*``/array built-ins
    (no Python, whole-stage codegen; every step also exists in ANSI SQL /
    RE2, so the DuckDB oracle reproduces it byte-for-byte):

    1. strip the fragment (``#...``) — never part of the resource;
    2. lowercase the scheme and the authority; drop userinfo;
    3. drop the default port (``:80`` for http, ``:443`` for https);
    4. collapse trailing slashes on the path (``/a/`` == ``/a``; the
       bare root stays ``/``; an empty path becomes ``/``);
    5. drop tracking query parameters (:data:`TRACKING_PARAM_PATTERN`)
       and byte-sort the survivors (param order never changes identity).

    NULL in -> NULL out.  A scheme-less input canonicalizes its
    host/path/query the same way (no scheme is prepended).
    """
    u = F.regexp_replace(F.trim(_c(col)), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    auth_raw = F.regexp_extract(rest, r"^([^/?]*)", 1)
    pathq = F.regexp_replace(rest, r"^[^/?]*", "")
    auth = F.lower(F.regexp_replace(auth_raw, r"^[^@]*@", ""))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    stripped = F.regexp_replace(path, r"/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    params = F.filter(
        F.split(query, r"&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
    )
    qcanon = F.array_join(F.array_sort(params), "&")
    return F.concat(
        F.when(scheme == "", F.lit("")).otherwise(F.concat(scheme, F.lit("://"))),
        auth,
        path,
        F.when(qcanon == "", F.lit("")).otherwise(F.concat(F.lit("?"), qcanon)),
    )


def canonical_url_dedup(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str | None = "warc_ts",
    id_col: str = "url",
    canon_col: str = "canonical_url",
) -> DataFrame:
    """One row per canonical URL — the crawl convention: the LATEST capture
    wins (``ts_col`` descending), ties broken by ``id_col`` ascending so
    the survivor set is deterministic under any partitioning.

    One hash shuffle on the canonical key + a per-key window.  Hot
    canonical URLs (a page captured thousands of times) cost one reducer
    each — the per-group state is a single row_number counter, so skew is
    bounded by the hottest URL's capture count, orders of magnitude below
    content-blocking skew.
    """
    from pyspark.sql import Window

    order = [F.col(id_col).asc()]
    if ts_col is not None:
        order.insert(0, F.col(ts_col).desc_nulls_last())
    w = Window.partitionBy(canon_col).orderBy(*order)
    return (
        df.withColumn(canon_col, canonical_url(url_col))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def host_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str | None = "text",
    by: str = "domain",
) -> DataFrame:
    """Per-domain (default) or per-host corpus statistics:

    -> (key, n_docs, n_hosts, total_chars, total_tokens)

    One hash aggregate keyed on the domain/host — partial aggregation
    map-side, so the shuffle carries one row per (partition, key).  At
    crawl scale domain keys are Zipf-skewed; the aggregate state is a few
    counters per key (no lists), so skew costs only the hot key's single
    reducer and AQE splits it when it matters.
    """
    if by not in ("domain", "host"):
        raise ValueError(f"by must be 'domain' or 'host', got {by!r}")
    host = url_host(url_col)
    keyed = df.withColumn("_host", host).withColumn(
        "_key", registered_domain(F.col("_host")) if by == "domain" else F.col("_host")
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("_host").alias("n_hosts"),
    ]
    if text_col is not None:
        aggs += [
            F.sum(F.coalesce(F.length(F.col(text_col)), F.lit(0)))
            .cast("bigint").alias("total_chars"),
            F.sum(token_count(text_col)).cast("bigint").alias("total_tokens"),
        ]
    return keyed.groupBy(F.col("_key").alias(by)).agg(*aggs)


def host_stratified_sample(
    df: DataFrame,
    url_col: str = "url",
    n_per_domain: int = 100,
    id_col: str = "url",
) -> DataFrame:
    """At most ``n_per_domain`` pages per registered domain, chosen by the
    deterministic md5(id) order — the standard per-site cap of crawl
    pipelines (keeps mega-hosts from dominating the training mix), with
    :func:`operators.sample.stratified_sample`'s stability guarantees
    (growing a domain never reshuffles its already-sampled rows)."""
    from semantic_entity_matching_spark.operators.sample import stratified_sample

    with_domain = df.withColumn("_domain", registered_domain(url_host(url_col)))
    return stratified_sample(
        with_domain, strata_col="_domain", n_per_stratum=n_per_domain,
        id_col=id_col,
    ).drop("_domain")


def filter_blocked_urls(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    pattern_col: str = "pattern",
) -> DataFrame:
    """Drop rows whose URL host falls under a blocklisted host pattern —
    the UT1/C4/RefinedWeb-style domain-blocklist gate of a crawl pipeline.

    A pattern blocks its exact host AND every subdomain: pattern
    ``example.com`` drops ``example.com``, ``www.example.com``,
    ``a.b.example.com`` — never ``notexample.com`` (suffix matching is on
    label boundaries).  Unparseable/NULL-host rows pass through (the
    blocklist can't match what has no host; quality gates handle garbage).

    Scale shape: blocklists are MILLIONS of rows (the public UT1 adult
    list alone is ~4M domains) — never a forced broadcast.  Both sides
    key on the REGISTERED domain, so the match is an ordinary hash
    equi-join (one narrow shuffle each side; AQE may still broadcast a
    small list) and the label-boundary suffix check runs as a join
    residual only on same-registered-domain candidates.  Rows are then
    removed with a null-safe left anti join on the row's own URL.
    """
    host = F.lower(F.trim(_c(pattern_col)))
    pats = blocklist.where(host.isNotNull() & (host != "")).select(
        host.alias("_pat"), registered_domain(host).alias("_prd")
    )
    keyed = df.select(
        F.col(url_col).alias("_u"),
        url_host(url_col).alias("_h"),
    ).where(F.col("_h").isNotNull()).withColumn(
        "_hrd", registered_domain(F.col("_h"))
    )
    blocked_urls = (
        keyed.join(pats, F.col("_hrd") == F.col("_prd"))
        .where(
            (F.col("_h") == F.col("_pat"))
            | F.col("_h").endswith(F.concat(F.lit("."), F.col("_pat")))
        )
        .select(F.col("_u").alias("_blocked_u"))
        .distinct()
    )
    return df.join(
        blocked_urls, F.col(url_col).eqNullSafe(F.col("_blocked_u")), "left_anti"
    )
