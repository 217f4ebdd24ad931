"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives the
same rows in the same order, and :func:`write_parquet` turns them into the
same bytes.  The engine never sees these functions, only the parquet files
they produce, so an engine change cannot change the inputs.

Words are pseudo-words spelled from consonant-vowel syllables, all lowercase
ASCII letters, so the engine's whitespace (``\\s+``) and word (``\\W+``)
tokenizers split them identically.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
_LANGS = ("en", "de", "fr")
# linkage: every entity is published as this many edited variants
LINKAGE_VARIANTS = 3
# linkage: identical boilerplate pages per group; a group becomes one hot
# block above PairGenConfig.hot_block_threshold (20) and within
# max_block_size (50), so the salted path runs and no block is dropped
BOILERPLATE_GROUP_SIZES = (25, 45)
LINKAGE_WORDS = 120  # words per linkage page
VOCAB_SIZE = 30_000
# near-dup: pages per family, distinct words per page, and the most words a
# member replaces with words no other page of its family uses
FAMILY_SIZE = 10
FAMILY_WORDS = 100
FAMILY_MAX_REPLACED = 2
# search: catalog entries per group; a title is TITLE_SHARED words shared by
# the group followed by TITLE_OWN words of the entry's own
SIBLINGS = 4
TITLE_SHARED = 3
TITLE_OWN = 2
# search: every AMBIGUOUS_EVERY-th query loses all of its own title words
AMBIGUOUS_EVERY = 4


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct pseudo-words of two to four syllables."""
    n = len(_SYLLABLES)
    codes = rng.choice(np.arange(n, n**4, dtype=np.int64), size=size, replace=False)
    words = []
    for code in codes.tolist():
        parts = []
        while code:
            code, digit = divmod(code, n)
            parts.append(_SYLLABLES[digit])
        words.append("".join(reversed(parts)))
    return np.array(words, dtype=object)


def _head_edit(rng: np.random.Generator, words: list[str], kind: int) -> list[str]:
    """One edit among the first ten words: swap, casing, drop or abbreviation."""
    out = list(words)
    i = int(rng.integers(0, 9))
    if kind == 0:
        out[i], out[i + 1] = out[i + 1], out[i]
    elif kind == 1:
        out[i] = out[i].upper() if rng.random() < 0.5 else out[i].capitalize()
    elif kind == 2:
        del out[i]
    else:
        out[i] = out[i][:3] + "."
    return out


def linkage_pages(
    seed: int, n_entities: int, boilerplate_groups: int
) -> dict[str, list]:
    """Web pages for ``run_pipeline``: columns ``url``, ``text``, ``lang`` and
    the ground truth ``entity`` (not given to the engine).

    Each entity is a random text published as ``LINKAGE_VARIANTS`` pages,
    each with one head edit; each boilerplate group is a run of identical
    pages.  Two pages are the same entity exactly when their ``entity``
    labels are equal."""
    rng = _rng(seed, 1)
    vocab = vocabulary(rng, VOCAB_SIZE)
    urls: list[str] = []
    texts: list[str] = []
    entities: list[str] = []
    for e in range(n_entities):
        base = vocab[rng.integers(0, VOCAB_SIZE, size=LINKAGE_WORDS)].tolist()
        kinds = rng.permutation(4)[:LINKAGE_VARIANTS]
        for v, kind in enumerate(kinds.tolist()):
            urls.append(f"https://site{e % 97}.example/e{e:06d}/v{v}")
            texts.append(" ".join(_head_edit(rng, base, kind)))
            entities.append(f"e{e}")
    lo, hi = BOILERPLATE_GROUP_SIZES
    for g in range(boilerplate_groups):
        text = " ".join(vocab[rng.integers(0, VOCAB_SIZE, size=LINKAGE_WORDS)])
        for i in range(int(rng.integers(lo, hi + 1))):
            urls.append(f"https://boiler{g}.example/p{i:03d}")
            texts.append(text)
            entities.append(f"b{g}")
    langs = [_LANGS[i] for i in rng.integers(0, len(_LANGS), size=len(urls))]
    order = rng.permutation(len(urls)).tolist()
    return {
        "url": [urls[i] for i in order],
        "text": [texts[i] for i in order],
        "lang": [langs[i] for i in order],
        "entity": [entities[i] for i in order],
    }


def family_pages(seed: int, n_families: int) -> dict[str, list]:
    """Near-duplicate families for the ``jaccard >= 0.9`` operators: columns
    ``doc_id``, ``text`` and the ground truth ``family``.

    A family is ``FAMILY_WORDS`` distinct words; each member replaces up to
    ``FAMILY_MAX_REPLACED`` of them with words no other page of the family
    uses.  Two members therefore share at least ``n - 2r`` of ``n + 2r``
    distinct tokens (96/104 = 0.923), while pages of different families
    draw independent word sets from a large vocabulary and share almost
    nothing."""
    n, r = FAMILY_WORDS, FAMILY_MAX_REPLACED
    rng = _rng(seed, 2)
    vocab = vocabulary(rng, VOCAB_SIZE)
    texts: list[str] = []
    families: list[int] = []
    for f in range(n_families):
        pick = rng.choice(VOCAB_SIZE, size=n + FAMILY_SIZE * r, replace=False)
        base, extra = pick[:n], pick[n:]
        for m in range(FAMILY_SIZE):
            words = base.copy()
            k = int(rng.integers(0, r + 1))
            pos = rng.choice(n, size=k, replace=False)
            words[pos] = extra[m * r : m * r + k]
            texts.append(" ".join(vocab[words]))
            families.append(f)
    order = rng.permutation(len(texts)).tolist()
    return {
        "doc_id": list(range(len(texts))),
        "text": [texts[i] for i in order],
        "family": [families[i] for i in order],
    }


def search_catalog(seed: int, n_groups: int) -> dict[str, list]:
    """Catalog entries (``candidate_id``, ``title``, ``text``) in groups of
    ``SIBLINGS`` near-identical entries.  A title is ``TITLE_SHARED`` words
    shared by the group followed by ``TITLE_OWN`` of the entry's own; the
    text is the title followed by 30 shared and 5 own body words in random
    order."""
    shared_body, own_body = 30, 5
    n_shared, n_own = TITLE_SHARED + shared_body, TITLE_OWN + own_body
    rng = _rng(seed, 3)
    vocab = vocabulary(rng, VOCAB_SIZE)
    titles: list[str] = []
    texts: list[str] = []
    for _ in range(n_groups):
        pick = vocab[
            rng.choice(VOCAB_SIZE, size=n_shared + SIBLINGS * n_own, replace=False)
        ]
        shared_title = list(pick[:TITLE_SHARED])
        shared = list(pick[TITLE_SHARED:n_shared])
        for s in range(SIBLINGS):
            own = list(pick[n_shared + n_own * s : n_shared + n_own * (s + 1)])
            title = shared_title + own[:TITLE_OWN]
            body = shared + own[TITLE_OWN:]
            order = rng.permutation(len(body)).tolist()
            titles.append(" ".join(title))
            texts.append(" ".join(title + [body[i] for i in order]))
    return {"candidate_id": list(range(len(texts))), "title": titles, "text": texts}


def search_queries(
    seed: int, catalog_titles: list[str], n_queries: int
) -> dict[str, list]:
    """Noisy title queries (``query_id``, ``query_text``, ``gold_id``) over a
    :func:`search_catalog`.

    Every ``AMBIGUOUS_EVERY``-th query has all of the gold entry's own title
    words replaced by random words, so nothing in it tells the siblings
    apart and top-1 accuracy stays below 1; every other query has one
    random title word replaced.  The ambiguous queries' golds cycle through
    the sibling positions, so accuracy does not swing with how the seed
    happens to place them."""
    rng = _rng(seed, 4)
    # the catalog's own vocabulary (search_catalog draws it first from
    # stream 3), so a noise word looks like any other catalog word
    vocab = vocabulary(_rng(seed, 3), VOCAB_SIZE)
    n_groups = len(catalog_titles) // SIBLINGS
    title_len = TITLE_SHARED + TITLE_OWN
    own_words = list(range(TITLE_SHARED, title_len))
    queries: list[str] = []
    golds: list[int] = []
    for q in range(n_queries):
        group = int(rng.integers(0, n_groups))
        if q % AMBIGUOUS_EVERY == 0:
            gold = group * SIBLINGS + (q // AMBIGUOUS_EVERY) % SIBLINGS
            replace = own_words
        else:
            gold = group * SIBLINGS + int(rng.integers(0, SIBLINGS))
            replace = [int(rng.integers(0, title_len))]
        title = catalog_titles[gold].split()
        for i in replace:
            title[i] = vocab[int(rng.integers(0, VOCAB_SIZE))]
        queries.append(" ".join(title))
        golds.append(gold)
    return {"query_id": list(range(n_queries)), "query_text": queries, "gold_id": golds}


def write_parquet(columns: dict[str, list], path: str, n_files: int) -> None:
    """Write ``columns`` as ``n_files`` parquet parts of consecutive rows.
    The files carry no timestamps, so equal inputs give equal bytes."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            compression="snappy",
        )
