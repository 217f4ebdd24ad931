"""Text-analysis operators for a large-scale training-data pipeline.

All of these are pure Column expressions (JVM-side, whole-stage codegen) so
they run at scan speed with predicate pushdown intact — no Python in the hot
path.  Each has a DuckDB-expressible twin in ``__spark_entry__.oracle_sql``.

Operators: token counting, quality scoring, language-ID heuristic, document
fingerprinting (rolling hash), char/byte stats.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

def whitespace_tokens(col: str | Column) -> Column:
    """THE shared lowercase whitespace tokenizer: ``lower(trim(x))`` split
    on ``\\s+`` with empty tokens removed.

    Every operator whose tokenization must agree across the engine AND
    with its DuckDB oracle twin (repetition stats q66/q85, Gopher flags
    q48, n-gram census q02, DF/IDF q27, decontamination q45, span dedup
    q33) calls THIS helper — the DuckDB form is
    ``list_filter(string_split_regex(lower(trim(x)), '\\s+'), t -> t <> '')``.
    A tweak applied here changes all of them together; a tweak applied
    anywhere else silently forks the cross-operator tokenization contract.
    """
    return F.array_remove(F.split(F.lower(F.trim(_c(col))), r"\s+"), "")


def token_count(col: str | Column) -> Column:
    """Whitespace token count; 0 for null/blank."""
    c = _c(col)
    trimmed = F.trim(c)
    return F.when(
        c.isNull() | (trimmed == ""), F.lit(0)
    ).otherwise(F.size(F.split(trimmed, r"\s+")))


def bpe_ish_token_count(col: str | Column) -> Column:
    """Sub-word-ish token count: words + digits runs + punctuation marks,
    the common cl100k-style pre-tokenization regex shape.  Plays the role of
    the reference's tiktoken estimate (reference lib/file_token_estimation/
    file_token_estimator.py:24-108) without the tiktoken dependency."""
    c = _c(col)
    # count of matches of (letter-run | digit | punct): approximate BPE
    # pre-tokens; regexp_count is in both Spark 4 and DuckDB
    return F.when(c.isNull(), F.lit(0)).otherwise(
        F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
    )


# byte-ratio fallback table (reference lib/file_token_estimation/
# formats.py:15-29): text formats tokenize; everything else estimates
# tokens = int(bytes * ratio)
TEXT_EXTENSIONS = ("txt", "md", "csv", "json", "html")
IMAGE_EXTENSIONS = ("jpg", "jpeg", "png", "gif", "webp")
TEXT_BYTE_RATIO = 0.25
IMAGE_BYTE_RATIO = 0.6
OTHER_BYTE_RATIO = 0.15


def token_byte_ratio(ext_col: str | Column) -> Column:
    """tokens-per-byte ratio for a file extension (reference formats.py)."""
    ext = F.lower(_c(ext_col))
    return (
        F.when(ext.isin(*TEXT_EXTENSIONS), F.lit(TEXT_BYTE_RATIO))
        .when(ext.isin(*IMAGE_EXTENSIONS), F.lit(IMAGE_BYTE_RATIO))
        .otherwise(F.lit(OTHER_BYTE_RATIO))
    )


def estimate_tokens(
    text_col: str | Column,
    size_col: str | Column,
    ext_col: str | Column,
) -> Column:
    """File token estimation, reference semantics (file_token_estimator.py:
    60-164): text-format files with readable content use the tokenizer path
    (here the BPE-ish pre-token count); non-text formats — and text files
    whose content is unavailable — fall back to ``int(bytes * ratio)``.
    Pure Column expressions; ``int()`` truncation == floor for non-negative
    sizes in both engines."""
    ext = F.lower(_c(ext_col))
    is_text = ext.isin(*TEXT_EXTENSIONS)
    fallback = F.floor(
        _c(size_col).cast("double") * token_byte_ratio(ext_col)
    ).cast("bigint")
    return F.when(
        is_text & _c(text_col).isNotNull(),
        bpe_ish_token_count(text_col).cast("bigint"),
    ).otherwise(fallback)


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = (
    "the a an and or of to in is are was were be been it this that with for "
    "on as at by from"
).split()


def quality_features(col: str | Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features (C4/Gopher-style
    heuristics).  Returns named Columns so callers pick what they need."""
    c = _c(col)
    n_chars = F.coalesce(F.length(c), F.lit(0))
    n_tokens = token_count(c)
    n_punct = F.when(c.isNull(), F.lit(0)).otherwise(
        F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
    )
    words = F.split(F.lower(F.trim(c)), r"\s+")
    n_stop = F.when(c.isNull() | (F.trim(c) == ""), F.lit(0)).otherwise(
        F.size(F.filter(words, lambda w: w.isin(*_STOPWORDS)))
    )
    mean_word_len = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(
        F.lit(0.0)
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0)),
        "stopword_ratio": F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0)),
        "mean_word_len": mean_word_len,
    }


def quality_score(col: str | Column) -> Column:
    """Scalar quality in [0,1]: rewards stopword presence and sane word
    lengths, penalizes punctuation soup and very short docs."""
    f = quality_features(col)
    len_ok = F.when(f["n_tokens"] >= 5, F.lit(1.0)).otherwise(
        f["n_tokens"].cast("double") / 5.0
    )
    word_len_ok = F.when(
        (f["mean_word_len"] >= 3.0) & (f["mean_word_len"] <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    punct_ok = F.lit(1.0) - F.least(f["punct_ratio"] * 4.0, F.lit(1.0))
    stop_ok = F.least(f["stopword_ratio"] * 5.0, F.lit(1.0))
    return (len_ok * 0.3 + word_len_ok * 0.2 + punct_ok * 0.3 + stop_ok * 0.2)


# ---------------------------------------------------------------------------
# language-ID heuristic
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    # tiny, deterministic n-gram/function-word heuristic; a real fastText
    # model slots in as a pandas UDF behind the same column contract
    "es": [" el ", " la ", " los ", " las ", " que ", " de ", " y ", "ción"],
    "de": [" der ", " die ", " das ", " und ", " ist ", " nicht ", "sch"],
    "fr": [" le ", " la ", " les ", " des ", " est ", " une ", " que ", "eux "],
    "en": [" the ", " and ", " of ", " to ", " is ", " in ", " that "],
}


def lang_id(col: str | Column) -> Column:
    """Best-guess language code by marker hit count; 'und' if no marker."""
    c = F.concat(F.lit(" "), F.lower(_c(col)), F.lit(" "))
    scores = {
        lang: sum(
            (F.when(c.contains(m), 1).otherwise(0) for m in markers),
            F.lit(0),
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    # CJK: any Han codepoint wins outright
    has_cjk = F.regexp_count(_c(col), F.lit(r"[一-鿿]")) > 0
    best = F.lit("und")
    best_score = F.lit(0)
    for lang, score in scores.items():
        is_better = score > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    return F.when(_c(col).isNull(), F.lit(None).cast("string")).otherwise(
        F.when(has_cjk, F.lit("zh")).otherwise(best)
    )


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------

def fingerprint(col: str | Column) -> Column:
    """Stable 64-bit content fingerprint of the *normalized* text
    (case/whitespace-insensitive): xxhash64 — identical normalized content
    => identical fingerprint.  Used for exact-dup grouping at scale (cheaper
    shuffle key than the text itself)."""
    c = _c(col)
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.xxhash64(normalized)


def fingerprint_hex(col: str | Column) -> Column:
    """md5 hex of the normalized text — portable across engines (DuckDB
    oracle-checkable, unlike xxhash64 which is Spark-internal)."""
    c = _c(col)
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(normalized)


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

def token_repetition_stats(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """Gopher-style repetition quality signals per document (Rae et al.'21
    §A1.1 repetition filters — public technique, used by C4/Dolma-class
    cleaning pipelines):

    * ``n_tokens``             — whitespace token count
    * ``distinct_token_ratio`` — |unique tokens| / n_tokens (low = word soup)
    * ``top_bigram_ratio``     — occurrences of the most frequent word
      bigram / total bigrams (high = boilerplate / template spam)

    Null-text rows are excluded (no tokens to measure); ratios are NULL
    when undefined (0 tokens / fewer than 2 tokens).  A projection of
    :func:`extended_repetition_stats` with bigrams only: one tokenize, one
    (id, bigram) hash aggregate — the per-token shuffle rows are the
    natural cost of exact mode-frequency at scale (a sketch variant would
    trade exactness; this is the exact operator).
    """
    return extended_repetition_stats(df, id_col, text_col, (2,)).select(
        id_col,
        "n_tokens",
        "distinct_token_ratio",
        F.col("top_2gram_ratio").alias("top_bigram_ratio"),
    )


def extended_repetition_stats(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_ns: tuple[int, ...] = (2, 3, 4),
):
    """The full Gopher repetition rule family (Rae et al.'21 §A1.1 — the
    C4/Dolma-class cleaning rule set), extending
    :func:`token_repetition_stats` with the higher-order signals:

    * ``n_tokens``, ``distinct_token_ratio`` — as before
    * ``top_{n}gram_ratio`` for each n in ``ngram_ns`` — occurrences of the
      most frequent token n-gram / total n-grams (boilerplate/template spam)
    * ``dup_line_fraction`` — fraction of non-blank lines that are
      duplicates of an earlier line: (n_lines − n_distinct_lines) / n_lines
      (navigation chrome / repeated footers); NULL when the doc has no
      non-blank lines.

    Ratios are NULL when undefined (fewer than n tokens).  Plan shape:
    tokenize + line-split ONCE per doc (pure map), every n-gram family
    rides ONE tagged explode → one (id, n, gram) hash aggregate → one
    per-doc conditional aggregate — a single shuffle pays for all the
    mode-frequency signals; the line stat is per-row array exprs that
    ride the aggregates as one value per doc.
    """
    from pyspark.sql import functions as F

    toks = whitespace_tokens(text_col)
    # non-blank trimmed lines; duplicate detection is on exact line content
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_t"), lines.alias("_l"))
        .withColumn("_n", F.size("_t"))
        .withColumn("_nd", F.size(F.array_distinct("_t")))
        .withColumn("_nl", F.size("_l"))
        .withColumn("_nld", F.size(F.array_distinct("_l")))
        .select(
            id_col, "_t", "_n", "_nd",
            F.round(
                F.when(
                    F.col("_nl") > 0,
                    (F.col("_nl") - F.col("_nld")).cast("double") / F.col("_nl"),
                ),
                6,
            ).alias("_dup"),
        )
    )

    def grams_of(n: int):
        return F.when(
            F.col("_n") >= n,
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - n + 1),
                lambda i: F.struct(
                    F.lit(n).alias("g_n"),
                    F.array_join(F.slice("_t", i, n), " ").alias("gram"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<g_n:int,gram:string>>")
        )

    tagged = F.concat(*[grams_of(n) for n in ngram_ns])
    keys = [id_col, "_n", "_nd"]
    ex = base.select(*keys, "_dup", F.explode_outer(tagged).alias("_g"))
    # the line stat is one value per doc: an aggregate, not a grouping key,
    # so a caller that drops it prunes its computation
    per_gram = ex.groupBy(
        *keys, F.col("_g.g_n").alias("_gn"), F.col("_g.gram").alias("_gram")
    ).agg(F.count(F.lit(1)).alias("_c"), F.max("_dup").alias("_dup"))
    aggs = [F.max("_dup").alias("_dup")]
    for n in ngram_ns:
        hit = F.col("_gn") == n
        aggs.append(F.max(F.when(hit, F.col("_c"))).alias(f"_mx{n}"))
        aggs.append(F.sum(F.when(hit, F.col("_c"))).alias(f"_tot{n}"))
    agg = per_gram.groupBy(*keys).agg(*aggs)
    out_cols = [
        F.col(id_col),
        F.col("_n").cast("bigint").alias("n_tokens"),
        F.round(
            F.when(F.col("_n") > 0, F.col("_nd").cast("double") / F.col("_n")),
            6,
        ).alias("distinct_token_ratio"),
    ]
    for n in ngram_ns:
        out_cols.append(
            F.round(
                F.col(f"_mx{n}").cast("double") / F.col(f"_tot{n}"), 6
            ).alias(f"top_{n}gram_ratio")
        )
    out_cols.append(F.col("_dup").alias("dup_line_fraction"))
    return agg.select(*out_cols)


# Gopher rule thresholds (Rae et al.'21 table A1 — public): word count
# bounds, mean word length bounds, alphabetic-word fraction, the 8-word
# stop list with >=2 distinct hits, and the repetition caps.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_THRESHOLDS = {
    "min_tokens": 50,
    "max_tokens": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "min_alpha_word_frac": 0.80,
    "min_distinct_stopwords": 2,
    "max_dup_line_fraction": 0.30,
    "max_top_2gram_ratio": 0.20,
    "max_top_3gram_ratio": 0.18,
    "max_top_4gram_ratio": 0.16,
}


def gopher_quality_flags(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
):
    """The Gopher quality DECISION operator: compose the rule family into
    per-rule pass flags and an overall verdict — the keep/drop step of a
    C4/Gopher-class cleaning pipeline.

    -> (id, n_tokens, ok_word_count, ok_mean_word_len, ok_alpha_words,
        ok_stopwords, ok_dup_lines, ok_2gram, ok_3gram, ok_4gram, passes)
    — flags as 0/1 ints (engine-portable).  A repetition rule whose ratio
    is undefined (too few tokens/lines) PASSES (nothing to measure; the
    word-count rule already rejects tiny docs).

    Plan: the per-row rules are pure Column exprs on the tokenized text;
    the repetition ratios come from :func:`extended_repetition_stats` (one
    tagged-explode shuffle); one join on the id stitches them — two
    shuffles total regardless of how many rules fire.
    """
    from pyspark.sql import functions as F

    t = {**GOPHER_THRESHOLDS, **(thresholds or {})}
    toks = whitespace_tokens(text_col)
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_t"))
        .withColumn("_n", F.size("_t"))
    )
    mean_wl = F.when(
        F.col("_n") > 0,
        F.aggregate(
            F.transform("_t", lambda w: F.length(w)),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.col("_n"),
    )
    alpha_frac = F.when(
        F.col("_n") > 0,
        F.size(F.filter("_t", lambda w: w.rlike("[a-z]"))).cast("double")
        / F.col("_n"),
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct("_t"),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    flags = base.select(
        id_col,
        F.col("_n").cast("bigint").alias("n_tokens"),
        ((F.col("_n") >= t["min_tokens"]) & (F.col("_n") <= t["max_tokens"]))
        .cast("int").alias("ok_word_count"),
        F.coalesce(
            (mean_wl >= t["min_mean_word_len"])
            & (mean_wl <= t["max_mean_word_len"]),
            F.lit(False),
        ).cast("int").alias("ok_mean_word_len"),
        F.coalesce(alpha_frac >= t["min_alpha_word_frac"], F.lit(False))
        .cast("int").alias("ok_alpha_words"),
        (n_stop >= t["min_distinct_stopwords"]).cast("int").alias("ok_stopwords"),
    )
    rep = extended_repetition_stats(df, id_col=id_col, text_col=text_col)

    def rep_ok(col: str, cap: float):
        # undefined ratio (NULL) passes
        return F.coalesce(F.col(col) <= F.lit(cap), F.lit(True)).cast("int")

    rep_flags = rep.select(
        id_col,
        rep_ok("dup_line_fraction", t["max_dup_line_fraction"]).alias("ok_dup_lines"),
        rep_ok("top_2gram_ratio", t["max_top_2gram_ratio"]).alias("ok_2gram"),
        rep_ok("top_3gram_ratio", t["max_top_3gram_ratio"]).alias("ok_3gram"),
        rep_ok("top_4gram_ratio", t["max_top_4gram_ratio"]).alias("ok_4gram"),
    )
    joined = flags.join(rep_flags, id_col)
    ok_cols = [
        "ok_word_count", "ok_mean_word_len", "ok_alpha_words",
        "ok_stopwords", "ok_dup_lines", "ok_2gram", "ok_3gram", "ok_4gram",
    ]
    passes = F.lit(1)
    for c in ok_cols:
        passes = passes * F.col(c)
    return joined.withColumn("passes", passes.cast("int"))


# ---------------------------------------------------------------------------
# document chunking (training-sample preparation)
# ---------------------------------------------------------------------------

def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 200,
    overlap_tokens: int = 50,
):
    """Split documents into overlapping token windows — the unit-of-training
    preparation step of an LLM data pipeline (long pages -> fixed-budget
    samples with context overlap).

    -> (id, chunk_id 1-based, n_chunk_tokens, chunk_text).  Chunk i covers
    tokens [i*step, i*step + chunk_tokens) with step = chunk_tokens −
    overlap_tokens; the last chunk may be shorter; empty/null texts emit no
    chunks.  Fully JVM: tokenize once, one ``transform(sequence(...))`` +
    ``explode`` per doc — no shuffle at all (a pure flatMap shape that
    scales with the scan), deterministic output for any partitioning.
    """
    from pyspark.sql import functions as F

    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"overlap_tokens must be in [0, chunk_tokens), got {overlap_tokens}"
        )
    step = chunk_tokens - overlap_tokens
    toks = whitespace_tokens(text_col)
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), toks.alias("_t"))
        .withColumn("_n", F.size("_t"))
        .where(F.col("_n") > 0)
    )
    # n_chunks = ceil(max(n - chunk, 0) / step) + 1
    n_chunks = (
        F.ceil(
            F.greatest(F.col("_n") - F.lit(chunk_tokens), F.lit(0))
            / F.lit(step)
        )
        + 1
    ).cast("int")
    # posexplode gives the chunk ordinal directly (position within the
    # per-doc chunk array) — no window, no shuffle, deterministic
    return (
        base.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.slice(
                        F.col("_t"), i * F.lit(step) + 1, F.lit(chunk_tokens)
                    ),
                )
            ).alias("_pos", "_c"),
        )
        .select(
            F.col(id_col),
            (F.col("_pos") + 1).cast("bigint").alias("chunk_id"),
            F.size("_c").cast("bigint").alias("n_chunk_tokens"),
            F.array_join(F.col("_c"), " ").alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# corpus-level n-gram vocabulary (global top-k)
# ---------------------------------------------------------------------------

def top_ngrams(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 25,
):
    """Global top-``k`` token ``n``-grams across the whole corpus, with a
    deterministic tiebreak (count desc, gram asc) — the vocabulary/boiler-
    plate census step of corpus analysis (what C4's authors ran to find
    the "lorem ipsum" and javascript-warning strings worth filtering).

    -> (rank 1-based, gram, n_docs, n_occurrences), ``k`` rows.

    Scale shape: tokenize + inline n-gram expansion (pure flatMap), then
    ONE partially-aggregated exchange on the gram — per-doc occurrence
    counts collapse map-side before the shuffle (count + count-distinct-doc
    fold into (gram, doc) pre-aggregation), and the final top-k is a
    ``TakeOrdered`` (per-partition heap -> driver merge of k×partitions
    rows), never a full global sort of the gram table."""
    from pyspark.sql import functions as F

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = whitespace_tokens(text_col)
    base = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), toks.alias("_t"))
        .where(F.size("_t") >= n)
    )
    grams = base.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - F.lit(n)),
                lambda i: F.array_join(F.slice("_t", i + 1, n), " "),
            )
        ).alias("gram"),
    )
    # (gram, doc) pre-aggregation: in-doc repeats collapse before the
    # gram-level rollup, and n_docs becomes a plain count
    per_doc = grams.groupBy("gram", "_id").agg(
        F.count("*").alias("_c")
    )
    totals = per_doc.groupBy("gram").agg(
        F.count("*").alias("n_docs"),
        F.sum("_c").alias("n_occurrences"),
    )
    top = totals.orderBy(
        F.col("n_occurrences").desc(), F.col("gram").asc()
    ).limit(k)
    # ranking k collected-size rows: the window's single partition is fine
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
    return top.select(
        F.row_number().over(w).alias("rank"),
        "gram",
        "n_docs",
        "n_occurrences",
    )


def document_frequency(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 25,
    n_docs: int | None = None,
):
    """Top-``k`` tokens by document frequency with smoothed IDF:

    -> (rank 1-based, token, doc_freq, idf), ``k`` rows,
    ``idf = ln((1 + N) / (1 + doc_freq)) + 1`` (the sklearn smooth-idf
    convention), rounded to 6 dp; deterministic tiebreak (doc_freq desc,
    token asc).

    The corpus-vocabulary companion of :func:`top_ngrams`: DF/IDF tables
    drive stopword discovery and BM25/TF-IDF weighting.  Scale shape:
    per-doc ``array_distinct`` collapses in-doc repeats BEFORE the
    explode, so the exchange carries at most one (token, doc) row per
    distinct token per doc and partial aggregation folds those map-side;
    the top-k is a ``TakeOrdered``, never a global sort.  ``N`` (docs
    with text) is one scalar aggregate — pass ``n_docs`` to skip it when
    the caller already knows the corpus size.
    """
    from pyspark.sql import functions as F

    base = df.where(F.col(text_col).isNotNull())
    if n_docs is None:
        n_docs = base.count()
    toks = F.array_distinct(whitespace_tokens(text_col))
    dfreq = (
        base.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"))
    )
    top = dfreq.orderBy(
        F.col("doc_freq").desc(), F.col("token").asc()
    ).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("doc_freq").desc(), F.col("token").asc())
    return top.select(
        F.row_number().over(w).alias("rank"),
        "token",
        "doc_freq",
        F.round(
            F.log((1.0 + n_docs) / (F.col("doc_freq") + 1.0)) + 1.0, 6
        ).alias("idf"),
    )


# ---------------------------------------------------------------------------
# unicode normalization (web-corpus cleaning)
# ---------------------------------------------------------------------------

# zero-width characters that survive crawling (ZWSP/ZWNJ/ZWJ/BOM) and the
# C0/C1 control ranges minus \t \n (kept: document structure)
_ZERO_WIDTH_RE = "[\u200b\u200c\u200d\ufeff]"
_CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]"


def nfc_udf():
    """Arrow-batched pandas UDF applying Unicode NFC composition.

    Spark has no JVM normalization builtin; Python's ``unicodedata.
    normalize`` is the stdlib's C implementation — this is the one
    genuinely non-Column step of :func:`normalize_text`.  DuckDB twin:
    ``nfc_normalize``.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(texts: pd.Series) -> pd.Series:
        import unicodedata

        return texts.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return _nfc


def normalize_text(
    col: str | Column,
    nfc: bool = True,
    strip_zero_width: bool = True,
    strip_controls: bool = True,
    collapse_whitespace: bool = True,
) -> Column:
    """Canonical text cleanup for crawled pages:

    1. drop zero-width chars (ZWSP/ZWNJ/ZWJ/BOM) — invisible, they break
       tokenization and dedup fingerprints;
    2. drop C0/C1 controls except tab/newline; CRLF/CR -> LF;
    3. Unicode NFC composition (combining sequences -> precomposed, so
       ``e`` + U+0301 and a precomposed é fingerprint identically) —
       pandas UDF, the only non-JVM step, applied AFTER the strips so
       the Python stage sees already-shortened strings;
    4. collapse horizontal whitespace runs (incl. NBSP) to one space,
       trim around newlines and at the ends.

    Every step independently toggleable; NULL in -> NULL out.  The strips
    and collapses are JVM regexps (codegen, scan speed).  DuckDB twin
    (q15): the same regexp chain around ``nfc_normalize``.
    """
    c = _c(col)
    if strip_zero_width:
        c = F.regexp_replace(c, _ZERO_WIDTH_RE, "")
    if strip_controls:
        c = F.regexp_replace(F.regexp_replace(c, "\r\n?", "\n"), _CONTROL_RE, "")
    if nfc:
        c = nfc_udf()(c)
    if collapse_whitespace:
        c = F.regexp_replace(c, "[ \t\u00a0]+", " ")
        c = F.trim(F.regexp_replace(c, " ?\n ?", "\n"))
    return c


# ---------------------------------------------------------------------------
# unigram-LM self-perplexity (CCNet-style quality signal)
# ---------------------------------------------------------------------------

def unigram_lm(
    df,
    text_col: str = "text",
    alpha: float = 0.5,
):
    """Corpus unigram language model → ``(token, logp)``.

    ``logp = log2((count + alpha) / (N + alpha * (V + 1)))`` — additive
    smoothing over the corpus vocabulary; the ``+1`` reserves mass for
    unseen tokens when the LM scores a DIFFERENT corpus (the CCNet /
    KenLM-filtering use case: train on a clean reference corpus, score
    candidates), carried as a reserved row under ``token = ''`` (the
    empty string can never be a real token — the shared tokenizer strips
    it).  Tokenization is :func:`whitespace_tokens` (the shared
    cross-operator contract).

    Scale shape: one explode + one hash aggregate keyed by token (partial
    aggregation folds repeats map-side); the two scalar totals ride in
    the same pass via a final tiny aggregate.  The vocabulary table is
    (token, logp) — narrow, never collected.
    """
    from pyspark.sql import functions as F

    counts = (
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(whitespace_tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return _lm_from_counts(counts, alpha)


def _lm_from_counts(counts, alpha: float):
    """Smoothed ``(token, logp)`` LM from a ``(token, cnt)`` table (plus
    the reserved unseen row)."""
    from pyspark.sql import functions as F

    from semantic_entity_matching_spark.session import driver_table

    totals = counts.agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("v")
    )
    # scalar broadcast: totals is ONE row — a broadcast nested-loop join
    # is the right plan (no key), not a collect (keeps the whole thing a
    # single lazy DataFrame).
    from pyspark.sql.functions import broadcast

    with_unseen = counts.unionByName(
        # the reserved unseen row: cnt 0 under the impossible '' token
        driver_table(counts.sparkSession, [("", 0)], "token string, cnt bigint")
    )
    return (
        with_unseen.crossJoin(broadcast(totals))
        .select(
            "token",
            F.log2(
                (F.col("cnt") + F.lit(float(alpha)))
                / (F.col("n") + F.lit(float(alpha)) * (F.col("v") + 1))
            ).alias("logp"),
        )
    )


def unigram_ppl_scores(
    df,
    lm=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    round_to: int | None = 6,
):
    """Per-document unigram cross-entropy + perplexity →
    ``(id, n_tokens, bits_per_token, ppl)``.

    ``bits_per_token = -sum(tf * logp) / n_tokens`` over the document's
    tokens under ``lm`` (default: the self-LM of ``df`` — the CCNet-style
    "how typical of this corpus is this page" signal; low perplexity =
    boilerplate-like, high = noise/garble, both tails are filter
    candidates).  ``ppl = 2^bits_per_token``.  Docs with no tokens keep a
    row with ``n_tokens = 0`` and null scores.

    Out-of-vocabulary tokens take the LM's reserved ``token = ''`` unseen
    logp (present whenever the LM came from :func:`unigram_lm`).  If the
    caller supplies an LM WITHOUT that row, any doc containing an OOV
    token scores null (never a silent partial sum).

    Scale shape: (doc, token, tf) pre-aggregation collapses in-doc
    repeats map-side BEFORE the vocabulary join, the join is keyed by
    token (both sides narrow; the LM side is vocabulary-sized — a plain
    hash join, AQE splits hot stopword keys), and the per-doc roll-up is
    one more partial-agg exchange.  Nothing is collected; no windows.
    """
    from pyspark.sql import functions as F

    tf = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(whitespace_tokens(text_col)).alias("token"),
        )
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    if lm is None:
        # self-LM: derive the corpus counts from the tf pre-aggregate
        # (sum of per-doc tfs == global token count) instead of a second
        # independent tokenize+explode of the corpus — the tf exchange is
        # shared between the LM branch and the scoring join (one scan)
        lm = _lm_from_counts(
            tf.groupBy("token").agg(
                F.sum("tf").cast("bigint").alias("cnt")
            ),
            alpha,
        )
    unseen = lm.where(F.col("token") == "").agg(
        F.min("logp").alias("unseen_logp")
    )  # always exactly one row; unseen_logp null if the LM lacks the row
    from pyspark.sql.functions import broadcast

    scored = (
        tf.join(lm.where(F.col("token") != ""), "token", "left")
        .crossJoin(broadcast(unseen))
        .withColumn("eff_logp", F.coalesce(F.col("logp"), F.col("unseen_logp")))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            # F.sum skips nulls, which would silently drop OOV mass —
            # null the whole doc instead when any token has no logp
            F.when(
                F.max(F.col("eff_logp").isNull().cast("int")) == 1,
                F.lit(None).cast("double"),
            )
            .otherwise(
                -F.sum(F.col("tf") * F.col("eff_logp")) / F.sum("tf")
            )
            .alias("bits_per_token"),
        )
    )
    out = (
        df.select(id_col)
        .join(scored, id_col, "left")
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)))
        .withColumn("ppl", F.pow(F.lit(2.0), F.col("bits_per_token")))
    )
    if round_to is not None:
        out = out.withColumn(
            "bits_per_token", F.round("bits_per_token", round_to)
        ).withColumn("ppl", F.round("ppl", round_to))
    return out


def bigram_ppl_scores(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    lam: float = 0.7,
    round_to: int | None = 6,
):
    """Per-document bigram-interpolated self-perplexity →
    ``(id, n_tokens, bits_per_token, ppl)``.

    Jelinek-Mercer interpolation (public method; the KenLM/CCNet filter
    family one order up from :func:`unigram_ppl_scores`):
    ``p(w|prev) = lam * p_bi(w|prev) + (1-lam) * p_uni(w)`` with MLE
    ``p_bi = c(prev,w) / c(prev·)`` (0 for unseen bigrams — the unigram
    term keeps every probability positive) and the same
    additive-smoothed ``p_uni`` as the unigram LM.  Each document's
    FIRST token has no history and scores ``p_uni`` alone.  Repetitive
    boilerplate gets dramatically lower bigram perplexity than bag-level
    stats suggest (word order is the signal unigrams cannot see).

    Scale shape: tokenize ONCE; per-doc (prev, tok) bigram counts
    pre-aggregate map-side before anything joins; corpus bigram/history
    counts are two hash aggregates over that same pre-aggregate (no
    second scan); probability attachment is two narrow hash joins keyed
    by (prev, tok) and tok — vocabulary-cardinality tables, plain hash
    joins (AQE splits hot stopword-pair keys), never broadcast; the two
    scalar totals ride a one-row broadcast.  No windows, no Python.

    Self-LM only by design: the external-LM variant needs an unseen-
    history convention the caller should pick explicitly (use the
    unigram operator's ``lm`` parameter for the cross-corpus case).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), whitespace_tokens(text_col).alias("_t"))
        .where(F.size("_t") > 0)
    )
    # (doc, prev, tok) bigram pre-aggregate — the one wide explode
    bi_tf = (
        toks.select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(slice(_t, 2, size(_t) - 1),"
                    " (x, i) -> struct(element_at(_t, i + 1) AS prev,"
                    " x AS tok))"
                )
            ).alias("_z"),
        )
        .select(id_col, F.col("_z.prev").alias("prev"), F.col("_z.tok").alias("tok"))
        .groupBy(id_col, "prev", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf2"))
    )
    # corpus counts derived from the SAME pre-aggregate (shared exchange)
    c2 = bi_tf.groupBy("prev", "tok").agg(F.sum("tf2").cast("bigint").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").cast("bigint").alias("c1"))
    p_bi = c2.join(c1, "prev").select(
        "prev",
        "tok",
        (F.col("c2").cast("double") / F.col("c1").cast("double")).alias("_pbi"),
    )
    # smoothed unigram probabilities over ALL token occurrences
    ucnt = (
        toks.select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    totals = ucnt.agg(
        F.sum("cnt").cast("double").alias("_n"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    p_uni = ucnt.crossJoin(broadcast(totals)).select(
        "tok",
        (
            (F.col("cnt").cast("double") + F.lit(float(alpha)))
            / (F.col("_n") + F.lit(float(alpha)) * (F.col("_v") + F.lit(1.0)))
        ).alias("_puni"),
    )
    lam_c = F.lit(float(lam))
    bi_bits = (
        bi_tf.join(p_bi, ["prev", "tok"])
        .join(p_uni, "tok")
        .groupBy(id_col)
        .agg(
            F.sum(
                -F.log2(lam_c * F.col("_pbi") + (F.lit(1.0) - lam_c) * F.col("_puni"))
                * F.col("tf2")
            ).alias("_bi_bits")
        )
    )
    firsts = (
        toks.select(F.col(id_col), F.element_at("_t", 1).alias("tok"))
        .join(p_uni, "tok")
        .select(id_col, (-F.log2(F.col("_puni"))).alias("_first_bits"))
    )
    scored = (
        toks.select(F.col(id_col), F.size("_t").cast("bigint").alias("n_tokens"))
        .join(firsts, id_col)
        .join(bi_bits, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (
                (F.col("_first_bits") + F.coalesce(F.col("_bi_bits"), F.lit(0.0)))
                / F.col("n_tokens").cast("double")
            ).alias("bits_per_token"),
        )
    )
    out = (
        df.select(id_col)
        .join(scored, id_col, "left")
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)))
        .withColumn("ppl", F.pow(F.lit(2.0), F.col("bits_per_token")))
    )
    if round_to is not None:
        out = out.withColumn(
            "bits_per_token", F.round("bits_per_token", round_to)
        ).withColumn("ppl", F.round("ppl", round_to))
    return out


# ---------------------------------------------------------------------------
# fastText-style hashed linear quality classifier
# ---------------------------------------------------------------------------

def _gram_hash32(gram: Column) -> Column:
    """Engine-portable 32-bit gram hash: first 8 hex chars of ``md5``,
    base-16 — DuckDB reproduces it as the nibble-fold
    ``sum((instr('0123456789abcdef', substr(md5(g), j, 1)) - 1) * 16^(8-j))``
    (the q23/q61 oracle convention)."""
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("bigint")


def hashed_linear_score(
    col: str | Column,
    weights: list[float] | None = None,
    include_bigrams: bool = True,
    score_round: int | None = None,
) -> Column:
    """fastText-shaped quality classifier score in (0, 1): mean hashed
    uni+bigram weight through a sigmoid — the model family behind the
    public fastText quality filters (Joulin et al. 2016; the
    CCNet/DCLM-style "does this look like good text" gate), re-expressed
    as pure Column algebra.

    Every gram (lowercase whitespace unigrams + adjacent bigrams, THE
    shared :func:`whitespace_tokens` tokenization) hashes to a bucket
    weight; the doc score is ``sigmoid(mean(weight))``.  With
    ``weights`` (a trained table, one float per bucket) the lookup is
    ``element_at(lit_array, pmod(hash, len(weights)) + 1)``; with
    ``weights=None`` the weight derives directly from the hash
    (``(h % 2001 - 1000)/1000`` ~ U[-1, 1]) — hash-random synthetic
    weights that keep the full plumbing real and engine-portable while
    no trained model ships in this environment (same honesty pattern as
    ``RandomProjectionEmbeddingProvider``).

    Scale shape: zero Python, zero shuffle — one whole-stage-codegen map
    over higher-order array functions (transform/aggregate), so it runs
    at scan speed next to the other quality columns.  Null/empty text →
    NULL score.
    """
    c = _c(col)
    toks = whitespace_tokens(c)
    grams = toks
    if include_bigrams:
        n = F.size(toks)
        bigrams = F.when(
            n >= 2,
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = F.concat(toks, bigrams)

    cnt = F.size(grams)
    if weights is None:
        # integer fold (each weight is an int in [-1000, 1000]), ONE
        # division at the end: the mean is bit-identical across engines —
        # the only remaining libm call is the sigmoid's exp
        total = F.aggregate(
            grams,
            F.lit(0).cast("bigint"),
            lambda acc, g: acc
            + (F.pmod(_gram_hash32(g), F.lit(2001)) - F.lit(1000)),
        )
        mean = total.cast("double") / (cnt.cast("double") * F.lit(1000.0))
    else:
        if not weights:
            raise ValueError("weights must be non-empty when given")
        lit_table = F.array(*[F.lit(float(x)) for x in weights])
        total = F.aggregate(
            grams,
            F.lit(0.0),
            lambda acc, g: acc
            + F.element_at(
                lit_table,
                (F.pmod(_gram_hash32(g), F.lit(len(weights))) + 1).cast(
                    "int"
                ),
            ),
        )
        mean = total / cnt.cast("double")
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-mean))
    out = F.when(
        c.isNull() | (cnt == 0), F.lit(None).cast("double")
    ).otherwise(score)
    if score_round is not None:
        out = F.round(out, score_round)
    return out


# ---------------------------------------------------------------------------
# Unicode script profiling — multilingual corpus routing
# ---------------------------------------------------------------------------

# Explicit code-point RANGES, not \p{script=...} names: script-name
# classes depend on each engine's Unicode table version; literal ranges
# count identically in Java regex, RE2, and DuckDB forever.
SCRIPT_RANGES = (
    ("latin", "[A-Za-z\\u00C0-\\u024F]"),
    ("cyrillic", "[\\u0400-\\u04FF]"),
    ("greek", "[\\u0370-\\u03FF]"),
    ("arabic", "[\\u0600-\\u06FF]"),
    ("hebrew", "[\\u0590-\\u05FF]"),
    ("devanagari", "[\\u0900-\\u097F]"),
    ("cjk", "[\\u4E00-\\u9FFF\\u3040-\\u30FF]"),  # Han + kana
    ("hangul", "[\\uAC00-\\uD7AF\\u1100-\\u11FF]"),
    ("digit", "[0-9]"),
)


def script_counts(col: str | Column) -> dict:
    """Per-script character counts (``n_latin`` … ``n_digit``) — pure
    codegen ``regexp_count`` over literal ranges, zero shuffle/Python.
    The routing signal a multilingual web pipeline branches on before
    language-ID proper (lang-ID models are per-script; CJK segmentation
    and RTL handling change the whole downstream plan).  Null text
    propagates null counts."""
    c = _c(col)
    return {
        f"n_{name}": F.regexp_count(c, F.lit(pat)).alias(f"n_{name}")
        for name, pat in SCRIPT_RANGES
    }


def with_script_profile(df, col: str | Column, dominant_col: str = "script"):
    """Annotate rows with per-script counts plus the ``dominant`` script:
    the first script (in ``SCRIPT_RANGES`` order — a documented, fixed
    precedence) whose count equals the maximum, or NULL when no script
    character occurs at all (or the text is NULL).  Pure Column algebra;
    the CASE chain replays verbatim in ANSI SQL."""
    counts = script_counts(col)
    out = df
    for name, expr in counts.items():
        out = out.withColumn(name, expr)
    names = [f"n_{n}" for n, _ in SCRIPT_RANGES]
    top = F.greatest(*[F.col(n) for n in names])
    dominant = F.lit(None).cast("string")
    for n, _ in reversed(SCRIPT_RANGES):
        dominant = F.when(
            F.col(f"n_{n}") == top, F.lit(n)
        ).otherwise(dominant)
    dominant = F.when(top.isNull() | (top == 0), F.lit(None).cast("string")).otherwise(
        dominant
    )
    return out.withColumn(dominant_col, dominant)


# ---------------------------------------------------------------------------
# Sentence segmentation
# ---------------------------------------------------------------------------

SENTENCE_SENTINEL = "\x01"


def split_sentences(col: str | Column) -> Column:
    """Split text into sentences: a sentence ends at ``[.!?]`` followed
    by whitespace; trailing text without a terminator is the final
    sentence.  The unit of sentence-level dedup, per-sentence quality
    stats, and boundary-aware chunking (token-window chunking — q41 —
    cuts mid-sentence; this doesn't).

    Lookaround-free by construction: RE2 (and therefore the DuckDB twin)
    has no lookbehind, so instead of splitting on ``(?<=[.!?])\\s+`` the
    terminator+whitespace is REWRITTEN to ``terminator + \\x01`` with a
    capture-group backreference, then split on the literal sentinel —
    identical semantics in Java regex and RE2 (only the backref spelling
    differs: ``$1`` vs ``\\1``).  ``\\x01`` never occurs in text that
    survived the C0-control quality gates; a corpus that legitimately
    contains it should strip controls first (the NFC/normalize step
    does).

    Empty/whitespace-only fragments are dropped; every sentence is
    trimmed.  NULL text yields NULL.  Pure codegen — zero shuffle/Python.
    """
    c = _c(col)
    marked = F.regexp_replace(c, r"([.!?])\s+", "$1" + SENTENCE_SENTINEL)
    parts = F.split(marked, SENTENCE_SENTINEL)
    trimmed = F.transform(parts, lambda x: F.trim(x))
    return F.array_remove(trimmed, "")
