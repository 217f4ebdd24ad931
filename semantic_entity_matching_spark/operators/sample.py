"""Deterministic sampling — reproducible corpus downsampling at any scale.

Training-data pipelines need samples that are (a) REPRODUCIBLE across
runs, partitionings and engines (``df.sample`` is none of these: it
depends on partition layout), (b) stratifiable (per-language / per-domain
quotas), and (c) cheap (no global sort of the corpus).

Both operators key on ``md5(id)`` — not xxhash64 — so the exact same
sample reproduces in any engine with an md5 function (the DuckDB oracle
recomputes it verbatim; same portability convention as the embedding and
fingerprint functions, reference test scheme lib/…/test_services_search_
service_integration.py:188-202).

Scale shapes:
* ``deterministic_sample``: pure filter — one scan, no shuffle, no sort.
* ``stratified_sample``: the naive form (row_number over each whole
  stratum) sorts an entire stratum in ONE task — a ``lang='en'`` stratum
  is half a web corpus, and window partitions cannot be AQE-split.  The
  implementation therefore pre-filters each stratum to the
  ``~oversample*n`` smallest hash fractions (a PREFIX of the md5 order,
  so the first-n is unchanged) and windows only the survivors; strata
  the probabilistic filter under-delivers (Chernoff-rare) are re-done
  exactly through a declarative fallback branch — deterministic result,
  probabilistic work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantic_entity_matching_spark.session import driver_table


def _hash_fraction(id_col: str) -> F.Column:
    """Uniform-ish [0, 1) value from the first 8 md5 hex chars of the id
    (32 bits — engine-portable, partitioning-independent)."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(float(1 << 32))
    )


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float
) -> DataFrame:
    """Keep rows whose md5-derived hash fraction < ``fraction``.

    A pure filter: deterministic, engine-portable, and stable under any
    partitioning — re-running on a grown corpus keeps every previously
    sampled row (ids don't move buckets), which makes incremental
    pipelines diff-friendly."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(_hash_fraction(id_col) < F.lit(float(fraction)))


def _stratum_key(strata_col: str):
    """Internal non-null stratum key: a NULL stratum is a legitimate group
    to the window but never matches an equi-join — tag it injectively
    ("n:" sentinel vs "v:"-prefixed value; within one column type the
    string cast is injective for standard types)."""
    return F.when(F.col(strata_col).isNull(), F.lit("n:")).otherwise(
        F.concat(F.lit("v:"), F.col(strata_col).cast("string"))
    )


def _first_per_stratum(
    base: DataFrame, id_col: str, out_cols: list, oversample: float
) -> DataFrame:
    """Core of the quota samplers: ``base`` carries ``_sk`` (non-null
    stratum key) and ``_quota`` (positive int, constant within a
    stratum); returns the first ``_quota`` rows of each stratum in
    md5(id) order, via the two-phase prefilter + exact-redo shape
    documented on :func:`stratified_sample`."""
    w = Window.partitionBy("_sk").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    sizes = base.groupBy("_sk").agg(
        F.count(F.lit(1)).alias("_ssize"), F.first("_quota").alias("_q")
    )
    survivors = base.join(sizes.select("_sk", "_ssize"), "_sk").where(
        _hash_fraction(id_col)
        < F.least(
            F.lit(1.0),
            F.lit(float(oversample)) * F.col("_quota") / F.col("_ssize"),
        )
    )

    # under-delivered strata: fewer survivors than min(quota, size) — the
    # prefix property then no longer covers the full first-quota.
    # Includes strata whose filter kept zero rows (absent from survivors).
    surv_counts = survivors.groupBy("_sk").agg(
        F.count(F.lit(1)).alias("_nsurv")
    )
    bad = (
        sizes.join(surv_counts, "_sk", "left")
        .withColumn("_nsurv", F.coalesce(F.col("_nsurv"), F.lit(0)))
        .where(
            (F.col("_nsurv") < F.col("_q"))
            & (F.col("_nsurv") < F.col("_ssize"))
        )
        .select("_sk")
    )

    def first_q(src: DataFrame) -> DataFrame:
        return (
            src.withColumn("_sample_rank", F.row_number().over(w))
            .where(F.col("_sample_rank") <= F.col("_quota"))
            .select(*out_cols)
        )

    ok_part = first_q(survivors.join(bad, "_sk", "left_anti"))
    # exact fallback for the rare under-delivered strata: windows the
    # FULL stratum, but only for strata the cheap path missed
    redo_part = first_q(base.join(bad, "_sk", "semi"))
    return ok_part.unionByName(redo_part)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    n_per_stratum: int,
    id_col: str,
    oversample: float = 4.0,
) -> DataFrame:
    """At most ``n_per_stratum`` rows per stratum, chosen by md5(id) order
    (ties broken by id — total order, so the sample is exact and unique).

    The per-stratum 'first n by hash' IS a uniform sample of the stratum
    (md5 order is independent of any data attribute), with the same
    stability property as :func:`deterministic_sample`: a row's rank only
    grows as the stratum grows, never reshuffles.

    Scale shape (the naive one-window form sorts a whole stratum in one
    unsplittable task): each stratum is pre-filtered to hash fraction
    ``< oversample * n / stratum_size`` — the fraction is a monotone
    coarsening of the window's md5 sort key and the cut keeps complete
    tie groups, so the survivors are a PREFIX of the stratum's order and
    their first n equals the stratum's first n whenever at least
    ``min(n, size)`` survive.  The window then sorts ~``oversample*n``
    rows per stratum regardless of stratum size.  Strata the filter
    under-delivers (probability ``exp(-Θ(n))`` per stratum at the
    default oversample — but data-fixed, not a coin flip, so it MUST be
    handled) are recomputed exactly through a declarative fallback
    branch: the result is always exactly the spec, only the work is
    probabilistic."""
    if n_per_stratum <= 0:
        raise ValueError(f"n_per_stratum must be positive, got {n_per_stratum}")
    if oversample <= 0:
        raise ValueError(f"oversample must be positive, got {oversample}")
    base = df.withColumn("_sk", _stratum_key(strata_col)).withColumn(
        "_quota", F.lit(int(n_per_stratum))
    )
    return _first_per_stratum(base, id_col, df.columns, oversample)


def mix_corpus(
    df: DataFrame,
    strata_col: str,
    weights: dict,
    n_total: int,
    id_col: str,
    oversample: float = 4.0,
) -> DataFrame:
    """Weighted corpus mixing: sample ~``n_total`` rows with per-stratum
    quotas proportional to ``weights`` — the static source-mixing step of
    a pretraining data pipeline (language/source shares à la the public
    LLM data recipes; DoReMi-style LEARNED weights plug into the same
    quota form).

    Quotas use largest-remainder apportionment (sum equals ``n_total``
    exactly; remainder seats go to the largest fractional parts, ties by
    stratum name — fully deterministic).  Strata missing from
    ``weights`` (or weighted 0) are excluded; a stratum smaller than its
    quota under-delivers (no reallocation — silent reallocation would
    change other strata's membership when one stratum shrinks, breaking
    the growth-stability guarantee).  A ``None`` key in ``weights``
    targets the NULL stratum.

    Same scale shape as :func:`stratified_sample`; the quota table is
    ``len(weights)`` rows — driver-built and broadcast."""
    if n_total <= 0:
        raise ValueError(f"n_total must be positive, got {n_total}")
    if oversample <= 0:
        raise ValueError(f"oversample must be positive, got {oversample}")
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be >= 0")
    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("at least one weight must be positive")
    raw = {
        k: n_total * float(w) / total_w for k, w in weights.items() if w > 0
    }
    quota = {k: int(v) for k, v in raw.items()}
    remainder = n_total - sum(quota.values())
    for k in sorted(raw, key=lambda k: (-(raw[k] - quota[k]), str(k)))[
        :remainder
    ]:
        quota[k] += 1
    rows = [
        ("n:" if k is None else f"v:{k}", int(q))
        for k, q in sorted(quota.items(), key=lambda kv: str(kv[0]))
        if q > 0
    ]
    qdf = driver_table(df.sparkSession, rows, "_sk string, _quota int")
    base = df.withColumn("_sk", _stratum_key(strata_col)).join(
        F.broadcast(qdf), "_sk"
    )
    return _first_per_stratum(base, id_col, df.columns, oversample)


def split_bounds_hex(fractions) -> list:
    """Cumulative split boundaries as zero-padded 8-char lowercase hex
    strings of ``floor(cum_fraction * 2^32)`` — shared by the operator and
    any external replay (the DuckDB oracle embeds the same literals).
    Returns ``[(name, upper_bound_hex_or_None), ...]`` in the given order;
    the last split has no upper bound (catches everything below 1.0, so
    float rounding in the cumulative sum can never orphan a row)."""
    items = list(fractions.items()) if hasattr(fractions, "items") else list(fractions)
    if not items:
        raise ValueError("fractions must be non-empty")
    names = [n for n, _ in items]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate split names: {names}")
    if any(not isinstance(n, str) or not n for n in names):
        raise ValueError(f"split names must be non-empty strings: {names}")
    if any(f <= 0 for _, f in items):
        raise ValueError("every split fraction must be > 0")
    total = float(sum(f for _, f in items))
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    out, cum = [], 0.0
    for name, frac in items[:-1]:
        cum += float(frac)
        out.append((name, format(min(int(cum * (1 << 32)), (1 << 32) - 1), "08x")))
    out.append((items[-1][0], None))
    return out


def cluster_split(
    df: DataFrame,
    fractions,
    cluster_col: str = "component",
    out_col: str = "split",
    salt: str = "",
) -> DataFrame:
    """Leakage-guarded train/val/test split: assign every CLUSTER — not
    every row — to a split, so near-duplicate / same-entity rows can never
    straddle a train/eval boundary (splitting a deduplicated web corpus by
    row leaks eval documents into training through their surviving
    near-dup cluster-mates; the standard fix is to split on the dedup
    clustering itself).

    * ``fractions``: ``{"train": 0.8, "val": 0.1, "test": 0.1}`` (order
      significant — boundaries are cumulative in iteration order; must
      sum to 1).
    * Assignment is ``md5(salt || cluster_id)`` compared LEXICALLY on the
      first 8 hex chars against integer ``floor(cum*2^32)`` boundaries —
      zero floating-point comparisons, so the split is bit-identical in
      any engine with md5 (same portability convention as
      :func:`deterministic_sample`) and stable under corpus growth: a
      cluster keeps its split when the corpus around it changes, and
      :func:`~semantic_entity_matching_spark.operators.cluster.update_components`
      deltas only re-split clusters whose min-id label changed.
    * ``salt`` re-draws the whole split without touching ids (fold
      cross-validation = k salts).
    * NULL ``cluster_col`` yields NULL ``split`` — unclustered rows have
      no leakage constraint and no identity to hash; assign them ids (or
      run them through clustering) first, or filter the NULLs and split
      them per-row with :func:`deterministic_sample` boundaries.

    Scale shape: ONE codegen CASE expression over an existing column —
    no shuffle, no join, no UDF; proportions hold over the number of
    CLUSTERS (row shares converge to the same fractions unless cluster
    size correlates with the hash, which md5 precludes)."""
    bounds = split_bounds_hex(fractions)
    h8 = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(cluster_col).cast("string"))), 1, 8
    )
    case = None
    for name, ub in bounds[:-1]:
        cond = h8 < F.lit(ub)
        case = F.when(cond, F.lit(name)) if case is None else case.when(cond, F.lit(name))
    last = F.lit(bounds[-1][0])
    chain = last if case is None else case.otherwise(last)
    return df.withColumn(
        out_col,
        F.when(F.col(cluster_col).isNull(), F.lit(None).cast("string")).otherwise(chain),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    IPL 2006): each row draws ``u`` from its md5 hash and ranks by
    ``ln(u) / w`` — the top ``n`` keys are a weight-proportional sample,
    exactly (inclusion probability proportional to weight, one pass, no
    rejection loop).  The quality-weighted corpus-selection step: sample
    pretraining pages ∝ quality score without materializing per-row
    randomness.

    Deterministic and engine-portable: ``u = (fold32(md5(salt||id)) + 1)
    / (2^32 + 1)`` (never 0), the key uses ``ln`` only (no ``pow`` —
    ``ln(u)/w`` is a monotone transform of the textbook ``u^(1/w)``),
    ties break by id.  Same id ⇒ same draw across runs and engines;
    ``salt`` re-draws.

    Rows with NULL or non-positive weight are excluded (they have zero
    inclusion probability in the A-ES model).

    Scale shape: the sort+limit compiles to ``TakeOrderedAndProject`` —
    per-partition top-n then a driver merge of ``n × partitions`` rows;
    no global sort, no shuffle of the corpus (pytest-pinned).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / float((1 << 32) + 1)
    w = F.col(weight_col).cast("double")
    base = df.where(w.isNotNull() & (w > 0)).withColumn(
        "sample_key", F.log(u) / w
    )
    return base.orderBy(F.desc("sample_key"), F.col(id_col)).limit(n)
