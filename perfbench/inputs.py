"""Seeded benchmark inputs, generated in-process and cached as Parquet
under the checkout's gitignored ``.bench_data/perfbench/inputs``.

The pages corpus is the engine's own deterministic ``sources/pages.py``
corpus, so it is keyed by size only; request batches and export documents
are keyed by seed and size. Every expected count the correctness checks
use is derived here, from the planted inputs, never from engine output.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from scrape_spark.sources.pages import ensure_pages, page_url

CORPUS = (20, 500)      # hosts x pages per host: 10,880 corpus rows with /amp copies
CRAWL_CORPUS = (8, 60)  # small enough that per-epoch fixed cost dominates
EXPORT_DOCS = 1000

N_INVALID = 50
N_ABSENT = 100
WARM_PERCENT = 80


def _cached_table(path: str, make) -> str:
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(make(), tmp)
        os.replace(tmp, path)
    return path


def corpus(spark, root: str, size: tuple[int, int] = CORPUS):
    n_hosts, per_host = size
    return ensure_pages(spark, os.path.join(root, f"pages_{n_hosts}x{per_host}"), n_hosts, per_host)


def warm_urls(urls) -> list[str]:
    """The corpus URLs a store is warmed with: a fixed ~4 in 5 by URL hash,
    the same for every seed, so the warmed store is built once per corpus
    size and every run restores the identical state."""
    return [u for u in urls if zlib.crc32(u.encode()) % 100 < WARM_PERCENT]


@dataclass
class RequestBatch:
    path: str            # parquet of the request rows (column ``url``)
    n_requests: int
    expect: dict         # rows, err_404, err_415, err_invalid
    warm_path: str       # parquet of the URLs a store is warmed with
    expect_hits: int     # distinct requests a store warmed with warm_path answers


def request_batch(root: str, seed: int, size: tuple[int, int] = CORPUS) -> RequestBatch:
    """One request per corpus URL, plus planted exact duplicates,
    utm-tainted variants (same canonical key), malformed URLs and URLs
    absent from the corpus; shuffled by seed."""
    n_hosts, per_host = size
    tbl = pq.read_table(os.path.join(root, f"pages_{n_hosts}x{per_host}"), columns=["url", "ctype"])
    urls = np.array(tbl.column("url").to_pylist(), dtype=object)
    is_pdf = np.array([c == "application/pdf" for c in tbl.column("ctype").to_pylist()])
    rng = np.random.default_rng(seed)
    n = len(urls)
    dups = list(rng.choice(urls, size=n // 30))
    utm = [f"{u}?utm_source=perfbench&utm_medium=s{seed}" for u in rng.choice(urls, size=n // 30)]
    invalid = [f"not a url {seed}-{i}" for i in range(N_INVALID)]
    js = rng.choice(np.arange(per_host, 4 * per_host), size=N_ABSENT, replace=False)
    absent = [page_url(int(h), int(j)) for h, j in zip(rng.integers(0, n_hosts, N_ABSENT), js)]
    batch = np.array(list(urls) + dups + utm + invalid + absent, dtype=object)
    batch = batch[rng.permutation(len(batch))]

    warm = warm_urls(urls)
    warm_set = set(warm)
    # a stored page answers its own URL and, through the alias map, the
    # /amp copy it was fetched as; a /amp request hits only if it was warmed
    hits = sum(
        1
        for u, pdf in zip(urls, is_pdf)
        if not pdf and (u in warm_set or (not u.endswith("/amp") and f"{u}/amp" in warm_set))
    )
    tag = f"{n_hosts}x{per_host}_s{seed}"
    path = _cached_table(
        os.path.join(root, f"requests_{tag}.parquet"), lambda: pa.table({"url": list(batch)})
    )
    warm_path = _cached_table(
        os.path.join(root, f"warm_{n_hosts}x{per_host}.parquet"), lambda: pa.table({"url": list(warm)})
    )
    expect = {
        "rows": n + N_ABSENT + N_INVALID,
        "err_404": N_ABSENT,
        "err_415": int(is_pdf.sum()),
        "err_invalid": N_INVALID,
    }
    return RequestBatch(path, len(batch), expect, warm_path, hits)


# ---- export documents ---------------------------------------------------------

ORIGINAL, EXACT_COPY, NEAR_COPY = 0, 1, 2


def _vocab(n: int = 5000) -> np.ndarray:
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(
        ["".join(rng.choice(letters, size=k)) for k in rng.integers(3, 9, size=n)], dtype=object
    )


def export_docs(root: str, seed: int, n_docs: int = EXPORT_DOCS) -> str:
    """(key, content_text, role) documents over a Zipf(1.1) vocabulary.
    8% are exact copies (half verbatim, half re-cased and re-punctuated, the
    same fingerprint), 8% near copies with one word replaced (3-shingle
    Jaccard >= 0.92). Copies take keys above every original, so the min-id
    representative is always the original."""

    def make():
        rng = np.random.default_rng(seed)
        vocab = _vocab()
        p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
        p /= p.sum()
        n_exact = n_near = n_docs * 8 // 100
        n_orig = n_docs - n_exact - n_near
        lens = rng.integers(80, 200, size=n_orig)
        toks = np.split(rng.choice(len(vocab), size=int(lens.sum()), p=p), np.cumsum(lens)[:-1])
        texts = [" ".join(vocab[t]) for t in toks]
        roles = [ORIGINAL] * n_orig
        for i, s in enumerate(rng.integers(0, n_orig, size=n_exact)):
            texts.append(texts[s] if i % 2 else texts[s].upper() + "!")
            roles.append(EXACT_COPY)
        for s in rng.integers(0, n_orig, size=n_near):
            t = toks[s].copy()
            pos = rng.integers(0, len(t))
            t[pos] = (t[pos] + 1 + rng.integers(0, len(vocab) - 1)) % len(vocab)
            texts.append(" ".join(vocab[t]))
            roles.append(NEAR_COPY)
        keys = np.concatenate([rng.permutation(n_orig), np.arange(n_orig, n_docs)]) + 1
        return pa.table({"key": keys.astype(np.int64), "content_text": texts, "role": roles})

    return _cached_table(os.path.join(root, f"docs_{n_docs}_s{seed}.parquet"), make)


def crawl_seeds(seed: int, n_hosts: int) -> list[str]:
    """One seed page per host, at a seeded shallow position in its tree."""
    rng = np.random.default_rng(seed)
    return [page_url(h, int(j)) for h, j in zip(range(n_hosts), rng.integers(0, 3, n_hosts))]
