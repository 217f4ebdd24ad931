"""Deterministic synthetic webpages + gold pairs (FIXTURES.md §1-2).

Two generators:

* ``synth_webpages`` — driver-side, seeded (numpy RandomState), small scale:
  N base entities, 1-5 near-duplicate variants each (token swaps, casing,
  abbreviation substitutions — mirroring the reference's LOINC example
  "Blood sugar, fasting" vs "FBS - Fasting Blood Glucose", reference
  README.md:18-33), plus hot-key boilerplate rows (skew exercise) and
  null/empty-text rows (NaN-skip exercise).  Gold pairs are derived from the
  variant process: positives = same-entity variant pairs, hard negatives =
  different entities sharing a block-ish prefix.

* ``synth_webpages_distributed`` — generated in Spark (mapInPandas, no
  driver-side list) at web scale: near-duplicate variants of hashed-vocabulary
  base texts, entity recoverable from the url — used by the benchmarks so
  throughput numbers aren't bound by a driver loop.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WEBPAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

GOLD_PAIRS_SCHEMA = StructType(
    [
        StructField("url_a", StringType(), False),
        StructField("url_b", StringType(), False),
        StructField("label", IntegerType(), False),
        StructField("block_key", StringType(), True),
    ]
)

_WORDS = (
    "blood sugar fasting glucose serum plasma panel culture rapid test level "
    "antibody screen urine specimen bacteria count presence absence total "
    "hemoglobin platelet cell white red mean volume concentration ratio "
    "creatinine sodium potassium chloride calcium protein albumin lipid "
    "cholesterol triglyceride measurement method automated manual qualitative "
    "quantitative reference range units result report clinical laboratory"
).split()

_ABBREVIATIONS = {
    "fasting": "fstg",
    "glucose": "glu",
    "hemoglobin": "hgb",
    "platelet": "plt",
    "potassium": "k+",
    "measurement": "meas",
    "laboratory": "lab",
    "quantitative": "quant",
    "concentration": "conc",
}

_LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]


@dataclass(frozen=True)
class SynthConfig:
    n_entities: int = 100
    seed: int = 42
    hot_boilerplate_rows: int = 0   # identical-text rows under many urls
    null_text_rows: int = 0         # null/empty text (skip-path exercise)
    base_words: int = 8


def _base_text(rng: np.random.RandomState, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS, size=n_words, replace=True))


def _variant(rng: np.random.RandomState, text: str) -> str:
    """One near-duplicate: smallish, similarity-preserving edits."""
    words = text.split()
    op = rng.randint(4)
    if op == 0 and len(words) >= 2:  # adjacent token swap
        i = rng.randint(len(words) - 1)
        words[i], words[i + 1] = words[i + 1], words[i]
    elif op == 1:  # casing change
        i = rng.randint(len(words))
        words[i] = words[i].upper() if rng.rand() < 0.5 else words[i].capitalize()
    elif op == 2:  # abbreviation substitution
        for i, w in enumerate(words):
            if w.lower() in _ABBREVIATIONS and rng.rand() < 0.8:
                words[i] = _ABBREVIATIONS[w.lower()]
                break
    else:  # small append
        words.append(str(rng.choice(_WORDS)))
    return " ".join(words)


def synth_webpages(
    spark: SparkSession, config: SynthConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """-> (webpages, gold_pairs), both deterministic for a given seed."""
    cfg = config or SynthConfig()
    rng = np.random.RandomState(cfg.seed)
    epoch = datetime.datetime(2024, 1, 1)

    pages: list[tuple] = []
    gold: list[tuple] = []
    entity_urls: list[list[str]] = []

    for ent in range(cfg.n_entities):
        base = _base_text(rng, cfg.base_words)
        n_variants = rng.randint(1, 6)  # 1-5 variants + the base page
        texts = [base]
        cur = base
        for _ in range(n_variants):
            cur = _variant(rng, cur)
            texts.append(cur)
        urls = []
        for vi, text in enumerate(texts):
            url = f"https://example.org/e{ent:05d}/v{vi}"
            ts = epoch + datetime.timedelta(seconds=int(rng.randint(0, 86400 * 365)))
            lang = str(rng.choice(_LANGS))
            html = f"<html><body><p>{text}</p></body></html>".encode()
            pages.append((url, ts, html, text, lang))
            urls.append(url)
        entity_urls.append(urls)
        # positive gold pairs: all same-entity pairs, canonical order
        for i in range(len(urls)):
            for j in range(i + 1, len(urls)):
                a, b = sorted((urls[i], urls[j]))
                gold.append((a, b, 1, f"entity:{ent:05d}"))

    # hard negatives: adjacent-entity base pages (different entities)
    for ent in range(cfg.n_entities - 1):
        a, b = sorted((entity_urls[ent][0], entity_urls[ent + 1][0]))
        gold.append((a, b, 0, f"neg:{ent:05d}"))

    boiler = "copyright example site all rights reserved terms privacy cookie notice"
    for i in range(cfg.hot_boilerplate_rows):
        url = f"https://example.org/boilerplate/{i:06d}"
        pages.append((url, epoch, b"<html></html>", boiler, "en"))

    for i in range(cfg.null_text_rows):
        url = f"https://example.org/empty/{i:06d}"
        text = None if i % 2 == 0 else "   "
        pages.append((url, epoch, b"", text, "en"))

    return (
        spark.createDataFrame(pages, WEBPAGES_SCHEMA),
        spark.createDataFrame(gold, GOLD_PAIRS_SCHEMA),
    )


def synth_webpages_distributed(
    spark: SparkSession,
    n_pages: int = 100_000,
    words_per_page: int = 300,
    vocab_size: int = 30_000,
    variants_per_entity: int = 3,
    seed: int = 42,
    partitions: int | None = None,
) -> DataFrame:
    """Web-scale synthetic corpus, generated IN Spark (no driver-side list).

    Page ``id`` belongs to entity ``id // variants_per_entity``; all pages
    of one entity are near-duplicate variants of the same base text, so the
    duplicate structure is recoverable from the url
    (``https://e<entity>.example.org/v<k>``) without a driver-side gold
    list.  A ``vocab_size``-word hashed vocabulary makes unrelated pages
    genuinely dissimilar (unlike the tiny fixture vocabulary, where every
    long page contains the whole vocab and token-set blocking saturates).

    Deterministic per page id regardless of partitioning: the per-entity
    RNG is seeded from (seed, entity).  Generation is a mapInPandas over
    ``spark.range`` — scales with cores/executors like any other stage.
    """
    import numpy as np
    import pandas as pd

    epoch = datetime.datetime(2024, 1, 1)

    def _vocab() -> np.ndarray:
        # letter-based words (4-9 chars): realistic char-ngram diversity —
        # a "w<hex>" scheme collapses the 3-gram space and makes every long
        # page look identical to n-gram features
        rng = np.random.RandomState(seed ^ 0x5EED)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        lens = rng.randint(4, 10, size=vocab_size)
        flat = rng.randint(0, 26, size=int(lens.sum()))
        out, pos = [], 0
        for ln in lens:
            out.append("".join(letters[flat[pos : pos + ln]]))
            pos += ln
        return np.array(out, dtype=object)

    def gen(batches):
        vocab = _vocab()
        for batch in batches:
            urls, tss, htmls, texts, langs = [], [], [], [], []
            cache: dict[int, np.ndarray] = {}
            for pid in batch["id"].to_numpy():
                ent, v = divmod(int(pid), variants_per_entity)
                base = cache.get(ent)
                if base is None:
                    rng = np.random.RandomState((seed * 1_000_003 + ent) % (2**31 - 1))
                    base = rng.randint(0, vocab_size, size=words_per_page)
                    if len(cache) > 4096:
                        cache.clear()
                    cache[ent] = base
                words = base.copy()
                if v == 1 and words_per_page >= 2:   # adjacent swap
                    words[0], words[1] = words[1], words[0]
                elif v >= 2:                          # tail tweak
                    words[-1] = (words[-1] + v) % vocab_size
                text = " ".join(list(vocab[words]))
                urls.append(f"https://e{ent:08d}.example.org/v{v}")
                tss.append(epoch + datetime.timedelta(seconds=int(pid) % 86_400))
                htmls.append(b"")
                texts.append(text)
                langs.append("en")
            yield pd.DataFrame(
                {"url": urls, "warc_ts": tss, "html": htmls, "text": texts,
                 "lang": langs}
            )

    parts = partitions or max(spark.sparkContext.defaultParallelism * 2, 8)
    return spark.range(0, n_pages, numPartitions=parts).mapInPandas(
        gen, schema=WEBPAGES_SCHEMA
    )
