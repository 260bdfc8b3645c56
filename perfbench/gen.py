"""Seeded corpus generators with planted ground truth.

Every corpus is a pure function of ``(seed, size)``: the same seed gives the
same rows, in the same order. The program under test only ever sees the
document columns (``url, warc_ts, text, lang``); the truth column
``group`` (planted group id, ``-1`` for docs planted in no group) is kept by
the benchmark and never handed to the program.

* ``planted`` follows the shape of the package's own fixture corpus (and the
  reference's ``script/wm.py`` test data): per base page a base doc and two
  near-dup variants with K inserted 8-word phrases, an exact copy for 20 %
  of the bases, per-site header/footer boilerplate, and ``n_base // 2``
  singleton distractors with their own vocabulary.
* ``hotband`` is a low-vocabulary corpus (31 words, 10-100 words per doc,
  like the ``documents`` test table) with a small planted share of
  near-dup pairs. Band collisions between unrelated docs are frequent, so
  the candidates layer dominates and precision of candidates is tiny.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd

VOCAB_SIZE = 5000
N_PHRASES = 16
PHRASE_LEN = 8
K_EDITS = 4
EXACT_DUP_FRACTION = 0.2
SITE_SIZE = 50
BOILER_LEN = 12
EPOCH = pd.Timestamp(datetime(2024, 1, 1, tzinfo=timezone.utc))

HOT_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
HOT_PLANTED_FRACTION = 0.05
LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _frame(texts: list[str], sites: list[int], groups: list[int],
           rng: np.random.Generator) -> tuple[pd.DataFrame, np.ndarray]:
    n = len(texts)
    # page numbers are a seeded permutation, so url order carries no truth
    pages = rng.permutation(n)
    docs = pd.DataFrame({
        "url": [f"https://site{s:04d}.example/page/{p:07d}" for s, p in zip(sites, pages)],
        "warc_ts": EPOCH + pd.to_timedelta(pages * 37, unit="s"),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), n)],
    })
    return docs, np.asarray(groups, dtype=np.int64)


def planted(seed: int, n_base: int) -> tuple[pd.DataFrame, np.ndarray]:
    """``n_base`` variant groups (3 or 4 docs each) + ``n_base // 2``
    singleton distractors."""
    rng = np.random.default_rng([seed, 1])
    n_sites = n_base // SITE_SIZE + 1
    boiler = [
        ([f"hdr{s}_{w}" for w in rng.integers(0, VOCAB_SIZE, BOILER_LEN)],
         [f"ftr{s}_{w}" for w in rng.integers(0, VOCAB_SIZE, BOILER_LEN)])
        for s in range(n_sites)
    ]
    phrases = [[f"wm{j}_{chr(97 + i)}" for i in range(PHRASE_LEN)] for j in range(N_PHRASES)]
    texts, sites, groups = [], [], []

    def emit(words: list[str], site: int, group: int) -> None:
        hdr, ftr = boiler[site]
        texts.append(" ".join(hdr + words + ftr))
        sites.append(site)
        groups.append(group)

    for b in range(n_base):
        site = b % n_sites
        n_words = int(rng.integers(50, 401))
        # Zipf-ish: quadratic skew toward small word ids
        body = [f"w{i}" for i in (VOCAB_SIZE * rng.random(n_words) ** 2).astype(np.int64)]
        emit(body, site, b)
        for _ in range(2):
            out = list(body)
            offs = np.sort(rng.choice(len(body) + 1, K_EDITS, replace=False))[::-1]
            for off in offs:
                out[off:off] = phrases[int(rng.integers(N_PHRASES))]
            emit(out, site, b)
        if rng.random() < EXACT_DUP_FRACTION:
            emit(body, site, b)
    for d in range(n_base // 2):
        n_words = int(rng.integers(50, 201))
        emit([f"d{d}_w{w}" for w in rng.integers(0, VOCAB_SIZE, n_words)],
             int(rng.integers(n_sites)), -1)
    return _frame(texts, sites, groups, rng)


def hotband(seed: int, n_docs: int) -> tuple[pd.DataFrame, np.ndarray]:
    """``n_docs`` short docs over ``HOT_WORDS``; a ``HOT_PLANTED_FRACTION``
    share of them are one-word edits of another doc (planted pairs)."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(HOT_WORDS)
    n_pairs = int(n_docs * HOT_PLANTED_FRACTION / 2)
    texts, groups = [], []
    for i in range(n_docs - n_pairs):
        toks = words[rng.integers(0, len(words), int(rng.integers(10, 101)))]
        texts.append(" ".join(toks))
        groups.append(i if i < n_pairs else -1)
        if i < n_pairs:
            edit = toks.copy()
            edit[int(rng.integers(len(edit)))] = words[int(rng.integers(len(words)))]
            texts.append(" ".join(edit))
            groups.append(i)
    sites = list(rng.integers(0, 100, len(texts)))
    return _frame(texts, sites, groups, rng)


def stream_batches(seed: int, urls: pd.Series, n_batches: int) -> np.ndarray:
    """Micro-batch index per doc: a seeded hash of the url."""
    salt = pd.util.hash_pandas_object(pd.Series([str(seed)]), index=False).iloc[0]
    h = pd.util.hash_pandas_object(urls, index=False).to_numpy() ^ np.uint64(salt)
    return (h % np.uint64(n_batches)).astype(np.int64)


def planted_pairs(groups: np.ndarray) -> int:
    """Number of unordered doc pairs sharing a planted group."""
    _, sizes = np.unique(groups[groups >= 0], return_counts=True)
    return int((sizes * (sizes - 1) // 2).sum())


def write_parquet(docs: pd.DataFrame, path: str) -> None:
    """Spark reads microsecond timestamps only."""
    docs.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
