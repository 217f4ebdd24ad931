"""Blocking-key generation: MinHash/LSH band keys + sorted-neighborhood keys.

This replaces the reference's HNSW ANN index (reference lib/setup_opensearch.py:10-19,
lib/opensearch/entities/index.py:48-62) with blocking keys materialized as
columns — candidate generation then becomes a plain (salted) equi-join that
Catalyst/AQE can plan, instead of a service call.

Output contract: ``block_keys(df) -> DataFrame(id, block_key)`` — one row per
(record, key).  Keys are strings namespaced by scheme ("mh:<band>:<hash>",
"sn:<bucket>") so schemes can be unioned and audited independently.

Scale notes (100 TB):
* MinHash runs in one ``mapInPandas`` pass — no shuffle.  The only shuffles
  in candidate generation are the explode->join on block_key (hash
  partitioned) and the final pair dedup.
* Sorted-neighborhood avoids a global sort/row_number (single-partition
  bottleneck): records are bucketed by a deterministic key prefix, ranked
  per bucket (Window partitioned by bucket — parallel), and windows overlap
  within buckets.  Cross-bucket boundary pairs are additionally covered by
  the prefix key itself being a block key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 64-bit universal hashing over a Mersenne prime
_MERSENNE = np.uint64((1 << 61) - 1)
_MAXHASH = np.uint64((1 << 61) - 1)


def _permutations(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, (1 << 61) - 1, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, (1 << 61) - 1, size=num_perm, dtype=np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Byte k-shingles of the normalized text -> stable 64-bit FNV-1a hashes.

    Fully vectorized: the utf-8 bytes become a sliding-window matrix
    (n_shingles, k) and FNV folds across the k columns — k numpy ops total,
    no per-byte Python (PYTHONHASHSEED-independent, unlike hash())."""
    if text is None:
        return np.empty(0, dtype=np.uint64)
    t = " ".join(str(text).lower().split())  # normalize whitespace + case
    raw = t.encode("utf-8")
    if not raw:
        return np.empty(0, dtype=np.uint64)
    data = np.frombuffer(raw, dtype=np.uint8)
    if data.size <= k:
        windows = data[None, :]
    else:
        windows = np.lib.stride_tricks.sliding_window_view(data, k)
    h = np.full(windows.shape[0], 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for col in range(windows.shape[1]):
        h = (h ^ windows[:, col].astype(np.uint64)) * prime  # uint64 wraps mod 2^64
    return np.unique(h)


def _oph_signature(hashes: np.ndarray, num_perm: int, a0: np.uint64, b0: np.uint64) -> np.ndarray:
    """One-permutation-hashing MinHash signature (Shrivastava & Li,
    ICML'14) with circular rotation densification.

    Classic MinHash evaluates num_perm universal hashes over EVERY shingle
    (an (n, 128) matrix — measured 66.7 ms/row on 1,200-word pages).  OPH
    hashes each shingle ONCE (seed-mixed), buckets it into num_perm bins,
    and takes the per-bin min — O(n) total, measured 0.4 ms/row (165×),
    with the same per-bin collision probability ≈ Jaccard.  Empty bins
    (only short texts have any) borrow the nearest filled bin to the right,
    circularly — the standard densification that keeps the estimator
    consistent."""
    mixed = (hashes * a0 + b0) % _MERSENNE  # seed-dependent permutation
    bins = (mixed % np.uint64(num_perm)).astype(np.int64)
    sig = np.full(num_perm, _MAXHASH, dtype=np.uint64)
    np.minimum.at(sig, bins, mixed)
    empty = sig == _MAXHASH
    if empty.any():
        filled_idx = np.flatnonzero(~empty)
        if filled_idx.size == 0:
            return sig
        pos = np.searchsorted(filled_idx, np.arange(num_perm)) % filled_idx.size
        sig = np.where(empty, sig[filled_idx[pos]], sig)
    return sig


# OPH needs the bins well-filled: with few items most bins are empty and
# rotation densification repeats ONE borrowed value across whole bands —
# band collision probability degrades from jaccard^r toward jaccard^1, and
# unrelated short documents flood into mega-blocks (measured: a 3,885-doc
# block at sf0.1, 11.9M candidate pairs).  Small sets therefore use the
# classic matrix (cheap exactly when sets are small); large sets use OPH.
#
# A HARD per-document cutover would make two near-duplicates straddling the
# boundary emit incomparable signatures (no shared band key at all).  So
# there are two thresholds a factor 2 apart, and documents in the gray zone
# emit BOTH schemes' keys (distinct "o" namespace): Jaccard >= 0.5 bounds a
# pair's set-size ratio to <= 2, so any such pair always shares at least
# one scheme.  Large documents (the expensive ones) still emit OPH only.
OPH_MIN_ITEMS_PER_BIN = 4  # size >= 4*num_perm  -> emit OPH keys
CLASSIC_MAX_ITEMS_PER_BIN = 8  # size < 8*num_perm -> emit classic keys


def _classic_signature(
    hashes: np.ndarray, num_perm: int, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    vals = (hashes[:, None] * a[None, :] + b[None, :]) % _MERSENNE
    return vals.min(axis=0).astype(np.uint64)


def minhash_signature(text: str, num_perm: int, shingle_k: int, seed: int) -> np.ndarray:
    """Pure-Python/numpy oracle for one text (shared with tests): the
    classic signature below the gray zone, OPH above it — matching the
    primary scheme minhash_block_keys emits for that document size."""
    a, b = _permutations(num_perm, seed)
    hashes = _shingle_hashes(text, shingle_k)
    if hashes.size == 0:
        return np.full(num_perm, _MAXHASH, dtype=np.uint64)
    if hashes.size >= CLASSIC_MAX_ITEMS_PER_BIN * num_perm:
        return _oph_signature(hashes, num_perm, a[0], b[0])
    return _classic_signature(hashes, num_perm, a, b)


def _word_hashes(text: str) -> np.ndarray:
    """Word-unigram token set -> stable 64-bit hashes (Broder-style document
    MinHash).  Order-insensitive: token swaps leave the set unchanged."""
    import zlib

    if text is None:
        return np.empty(0, dtype=np.uint64)
    tokens = set(str(text).lower().split())
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    return np.unique(
        np.array(
            [zlib.crc32(t.encode("utf-8")) for t in tokens], dtype=np.uint64
        )
        * np.uint64(0x9E3779B97F4A7C15)  # golden-ratio mix spreads crc32 range
    )


@dataclass(frozen=True)
class LSHConfig:
    """b bands x r rows per family; similarity threshold ~ (1/b)^(1/r).

    Default 16x8 (num_perm=128) => threshold ~0.70 Jaccard — tuned for
    near-duplicate web pages (the reference's HNSW ef_search=512 plays the
    same recall-vs-cost role, lib/setup_opensearch.py:10-19).

    Two complementary families, both always keyed (each pair only needs
    ONE shared key):
    * char byte-shingles ("mh:")  — robust to word substitutions/abbrevs,
      weak to token reordering near the text head;
    * word unigrams ("mhw:")      — invariant under reordering, weaker to
      heavy in-word edits.
    """

    num_bands: int = 16
    rows_per_band: int = 8
    shingle_k: int = 5
    seed: int = 42

    @property
    def num_perm(self) -> int:
        return self.num_bands * self.rows_per_band


def minhash_block_keys(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    config: LSHConfig | None = None,
) -> DataFrame:
    """(id, block_key) rows: one key per LSH band, 'mh:<band>:<bandhash>'.

    Single mapInPandas pass (no shuffle); rows with null/empty text emit no
    keys (reference skips NaN/empty rows, lib/evaluate.py:97-107).
    """
    cfg = config or LSHConfig()
    perms = {
        "mh": _permutations(cfg.num_perm, cfg.seed),
        "mhw": _permutations(cfg.num_perm, cfg.seed + 101),
    }
    families = (
        ("mh", lambda t: _shingle_hashes(t, cfg.shingle_k)),
        ("mhw", _word_hashes),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            # Per-document Python does ONLY the signature math; the band
            # fold runs once per batch on a stacked (n_sigs, bands, rows)
            # matrix and the key STRING never exists in Python at all —
            # the old formulation appended 2 × 16 f-strings per document
            # (hex-formatted, list-appended row by row), which profiled as
            # a third of this stage.  Emitting (prefix, band, hash) typed
            # columns moves the formatting into JVM codegen (guide §4.2).
            ids: list = []
            pfxs: list[str] = []
            sig_rows: list[np.ndarray] = []
            for rid, text in zip(batch[id_col], batch[text_col]):
                if text is None or (isinstance(text, float) and pd.isna(text)):
                    continue
                if not str(text).strip():
                    continue
                for prefix, hasher in families:
                    hashes = hasher(text)
                    if hashes.size == 0:
                        continue
                    a, b = perms[prefix]
                    # scheme selection with a 2× gray zone (see thresholds
                    # above): small -> classic, large -> OPH, gray -> both
                    if hashes.size < CLASSIC_MAX_ITEMS_PER_BIN * cfg.num_perm:
                        ids.append(rid)
                        pfxs.append(prefix)
                        sig_rows.append(_classic_signature(hashes, cfg.num_perm, a, b))
                    if hashes.size >= OPH_MIN_ITEMS_PER_BIN * cfg.num_perm:
                        ids.append(rid)
                        pfxs.append(prefix + "o")
                        sig_rows.append(_oph_signature(hashes, cfg.num_perm, a[0], b[0]))
            if sig_rows:
                # stable band hash: fold band rows with FNV mixing — same
                # uint64 element-wise arithmetic as the per-doc loop, just
                # batched (bit-identical keys)
                mat = np.vstack(sig_rows).reshape(
                    len(sig_rows), cfg.num_bands, cfg.rows_per_band
                )
                band_hash = mat[:, :, 0].copy()
                for r in range(1, cfg.rows_per_band):
                    band_hash = (
                        band_hash * np.uint64(1099511628211) + mat[:, :, r]
                    ) % _MERSENNE
                yield pd.DataFrame(
                    {
                        id_col: pd.Series(
                            np.repeat(np.asarray(ids, dtype=object), cfg.num_bands),
                            dtype=batch[id_col].dtype,
                        ),
                        "_pfx": np.repeat(
                            np.asarray(pfxs, dtype=object), cfg.num_bands
                        ),
                        "_band": np.tile(
                            np.arange(cfg.num_bands, dtype=np.int32), len(sig_rows)
                        ),
                        # < 2^61 (mod Mersenne), so the int64 cast is lossless
                        "_bh": band_hash.reshape(-1).astype(np.int64),
                    }
                )
            else:
                yield pd.DataFrame(
                    {
                        id_col: pd.Series([], dtype=batch[id_col].dtype),
                        "_pfx": pd.Series([], dtype=object),
                        "_band": pd.Series([], dtype="int32"),
                        "_bh": pd.Series([], dtype="int64"),
                    }
                )

    schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()},"
        " _pfx string, _band int, _bh bigint"
    )
    raw = df.select(id_col, text_col).mapInPandas(gen, schema=schema)
    # 'pfx:band:hex' assembled in whole-stage codegen; lower(hex(bigint))
    # equals Python's f"{v:x}" for the 0 <= v < 2^61 band hashes (no
    # leading zeros, lowercase), pinned by the signature-oracle pytest.
    return raw.select(
        F.col(id_col),
        F.concat_ws(
            ":",
            F.col("_pfx"),
            F.col("_band").cast("string"),
            F.lower(F.hex(F.col("_bh"))),
        ).alias("block_key"),
    )


def _sn_key(text_col: str, prefix_len: int, key_scan_chars: int) -> Column:
    """The sorted-neighborhood key: the first ``prefix_len`` [a-z0-9] chars
    of the lowercased first ``key_scan_chars`` chars of the text."""
    return F.substring(
        F.regexp_replace(
            F.lower(F.substring(F.col(text_col), 1, key_scan_chars)),
            "[^a-z0-9]",
            "",
        ),
        1,
        prefix_len,
    )


def sorted_neighborhood_keys(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    prefix_len: int = 12,
    window: int = 10,
    bucket_chars: int = 2,
    key_scan_chars: int = 1024,
) -> DataFrame:
    """(id, block_key) for sorted-neighborhood blocking, scale-safe.

    key  = first ``prefix_len`` alphanumeric chars of lowercased text
    Rows are ranked per ``bucket`` (= first ``bucket_chars`` of the key) by
    (key, id) — Window.partitionBy(bucket) keeps ranking parallel — and each
    row emits two overlapping neighborhood keys of width ``window`` so any
    two rows within window/2 positions share a key.  The raw prefix is also
    emitted ('snp:'), which covers cross-bucket/identical-prefix pairs.
    """
    # the key needs only the first prefix_len ALPHANUMERIC chars — run the
    # regex over a bounded head of the text (``key_scan_chars``), not the
    # whole page (measured ~7× on 7.5 KB pages at 1024).  A doc whose
    # first kilobyte contains fewer than 12 [a-z0-9] chars keys shorter or
    # not at all — that is a non-Latin-script page, for which an SN key
    # built from Latin fragments buried later in the page was never a
    # meaningful sort order; such pages remain fully covered by the
    # MinHash char/word families (script-agnostic byte shingles).  Raise
    # ``key_scan_chars`` to restore the full-page scan where that trade
    # is wrong.
    key = _sn_key(text_col, prefix_len, key_scan_chars)
    base = (
        df.select(id_col, text_col)
        .where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
        .withColumn("_snkey", key)
        .where(F.length("_snkey") > 0)
        .withColumn("_bucket", F.substring("_snkey", 1, bucket_chars))
        # narrow rows only through the window shuffle: the page text is NOT
        # part of the output and must not ride the exchange
        .select(id_col, "_snkey", "_bucket")
    )
    w = Window.partitionBy("_bucket").orderBy("_snkey", id_col)
    ranked = base.withColumn("_rn", F.row_number().over(w))
    half = max(window // 2, 1)
    return (
        ranked.select(
            F.col(id_col),
            F.array(
                F.concat(F.lit("sn:"), F.col("_bucket"), F.lit(":"),
                         F.floor(F.col("_rn") / window).cast("string")),
                F.concat(F.lit("sn:"), F.col("_bucket"), F.lit(":"),
                         F.floor((F.col("_rn") + half) / window).cast("string"), F.lit("~")),
                F.concat(F.lit("snp:"), F.col("_snkey")),
            ).alias("_keys"),
        )
        .select(id_col, F.explode("_keys").alias("block_key"))
    )


def all_block_keys(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    lsh: LSHConfig | None = None,
    sn_window: int = 10,
    sn_key_scan_chars: int = 1024,
) -> DataFrame:
    """Union of both schemes (SURVEY §2.7: unionByName + dedup).

    ``sn_key_scan_chars`` bounds the text head the sorted-neighborhood key
    regex scans (surfaced up to :class:`plans.pipeline.MatchConfig` so the
    recall trade for markup-/non-Latin-headed pages is a visible knob, not
    a buried constant; :func:`sn_short_key_audit` measures its effect).

    NO dedup shuffle here — (id, block_key) duplicates are structurally
    impossible: every MinHash key embeds its family prefix AND band index
    ('mh:<band>:<hash>', one key per band), and the three SN keys per row
    are distinguished by prefix/suffix ('sn:...', 'sn:...~', 'snp:...').
    The invariant is pinned by pytest (test_blocking_pairs); downstream
    pair generation dedups (id_a, id_b) anyway.  Removing the old
    ``dropDuplicates`` drops a full exchange of the biggest narrow table
    of the pipeline (35 keys/doc — 2.1M rows at the 60k bench, 3.5×10^13
    at 10^12 docs)."""
    mh = minhash_block_keys(df, id_col, text_col, lsh)
    sn = sorted_neighborhood_keys(
        df, id_col, text_col, window=sn_window,
        key_scan_chars=sn_key_scan_chars,
    )
    return mh.unionByName(sn)


def sn_short_key(
    text_col: str = "text", prefix_len: int = 12, key_scan_chars: int = 1024
) -> Column:
    """True for a non-blank text whose bounded-head SN key comes out
    SHORTER than ``prefix_len`` (including empty) — the rows whose
    sorted-neighborhood coverage the ``key_scan_chars`` bound reduces
    relative to a full-page scan (they stay covered by the MinHash
    families).  False for null and blank texts, which get no SN key at
    any scan length.  ``run_pipeline`` counts it on the records cut's own
    job (``audit_sn_keys``); :func:`sn_short_key_audit` lists the rows."""
    text = F.col(text_col)
    return (
        text.isNotNull()
        & (F.trim(text) != "")
        & (F.length(_sn_key(text_col, prefix_len, key_scan_chars)) < prefix_len)
    )


def sn_short_key_audit(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    prefix_len: int = 12,
    key_scan_chars: int = 1024,
) -> DataFrame:
    """The :func:`sn_short_key` rows of ``df`` -> (id, sn_key_len)."""
    return df.where(sn_short_key(text_col, prefix_len, key_scan_chars)).select(
        F.col(id_col),
        F.length(_sn_key(text_col, prefix_len, key_scan_chars)).alias("sn_key_len"),
    )
