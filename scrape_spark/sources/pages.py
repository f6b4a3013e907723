"""Deterministic synthetic Common-Crawl-style pages (BASELINE.json input_hint:
``url:string, warc_ts:timestamp, html:binary, text:string, lang:string``).

No external network anywhere in the engine: the HTTP fetch stage of the
reference (fetch/client.go:56-85) is modeled at all test/bench scales as an
equi-join against this table (SURVEY.md §2.1 S1). Everything here is a pure
function of (host_id, page_id) — independent of partitioning, parallelism, or
time — so goldens and crawl-order tests are stable.

Page graph (drives the BFS crawl):
- within-host tree: page j links to 2j+1 and 2j+2 → BFS depth = ⌊log2(j+1)⌋
- one cross-host link per page → frontier growth across hosts
- one utm-tainted duplicate link → exercises canonicalization + dedupe
- pages with j % ALIAS_MOD == 0 also exist at ``<url>/amp`` with og:url
  pointing at the clean URL → exercises the id_map alias path (SURVEY §1.5)
- paths with j % PRIVATE_MOD == PRIVATE_REM live under /private/ → robots
  disallow targets (never fetched by a polite crawl)
- pages with j % PDF_MOD == 0 are binary non-HTML → 415 error rows (F2)

Generation is distributed (mapInPandas over spark.range) so bench-scale
corpora are built in parallel and written once to Parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scrape_spark.schemas import PAGES_FETCH_SCHEMA, ROBOTS_SCHEMA

ALIAS_MOD = 11
PRIVATE_MOD = 29
PRIVATE_REM = 3
PDF_MOD = 37
EPOCH_2026 = pd.Timestamp("2026-01-01", tz=None)

_VOCAB = {
    "en": "the data web page crawl fetch index link host text article news today value".split(),
    "fr": "le la page web donnée analyse lien hôte texte article nouvelles valeur jour".split(),
    "de": "die daten seite netz analyse verweis rechner text artikel nachricht wert tag".split(),
    "es": "el la página web dato enlace servidor texto artículo noticia valor día red".split(),
    "zh": "数据 网页 抓取 索引 链接 主机 文本 文章 新闻 今天 价值 网络 分析".split(),
}
_LANGS = list(_VOCAB)


def host_name(h: int) -> str:
    return f"h{h:05d}.ex{h % 7}.test"


def page_path(j: int) -> str:
    if j % PRIVATE_MOD == PRIVATE_REM:
        return f"/private/{j:06d}"
    return f"/art/{j:06d}"


def page_url(h: int, j: int) -> str:
    return f"https://{host_name(h)}{page_path(j)}"


def _words(h: np.ndarray, j: np.ndarray, k: int, lang_idx: np.ndarray) -> pd.Series:
    """Deterministic word at slot k for each (h, j) — vectorized LCG pick."""
    out = pd.Series([""] * len(h), dtype=object)
    idx = (h.astype(np.int64) * 131 + j.astype(np.int64) * 31 + k * 17 + 5) % 997
    for li, lang in enumerate(_LANGS):
        m = lang_idx == li
        if m.any():
            vocab = _VOCAB[lang]
            out[m] = pd.Series(idx[m] % len(vocab)).map(lambda t, v=vocab: v[t]).to_numpy()
    return out


def _paragraph(h: np.ndarray, j: np.ndarray, p: int, lang_idx: np.ndarray, n_words: int = 14) -> pd.Series:
    parts = [_words(h, j, p * 100 + k, lang_idx) for k in range(n_words)]
    s = parts[0]
    for nxt in parts[1:]:
        s = s + " " + nxt
    # sentence-case + period so extraction has realistic shape
    return s.str.slice(0, 1).str.upper() + s.str.slice(1) + "."


def _gen_batch(pdf: pd.DataFrame, n_hosts: int, per_host: int) -> pd.DataFrame:
    ids = pdf["id"].to_numpy()
    h = (ids % n_hosts).astype(np.int64)
    j = (ids // n_hosts).astype(np.int64)
    lang_idx = (h % len(_LANGS)).astype(np.int64)
    lang = pd.Series([_LANGS[i] for i in lang_idx], dtype=object)

    host = pd.Series([host_name(x) for x in h], dtype=object)
    url = pd.Series([page_url(a, b) for a, b in zip(h, j)], dtype=object)

    title = _paragraph(h, j, 0, lang_idx, n_words=5).str.rstrip(".")
    desc = _paragraph(h, j, 1, lang_idx, n_words=10)
    paras = [_paragraph(h, j, 2 + p, lang_idx, n_words=14) for p in range(4)]
    body_text = paras[0]
    for p in paras[1:]:
        body_text = body_text + "\n" + p

    two_auth = (j % 3) == 0
    a1 = "Author " + pd.Series((h * 7 + j) % 50).astype(str)
    a2 = "Author " + pd.Series((h * 7 + j + 17) % 50).astype(str)
    authors = a1.where(~two_auth, a1 + "; " + a2)

    pub_day = (h * 11 + j) % 365
    date_iso = pd.Series(
        (EPOCH_2026 + pd.to_timedelta(pub_day, unit="D")).strftime("%Y-%m-%dT%H:%M:%SZ")
    ).astype(object)
    warc_ts = EPOCH_2026 + pd.to_timedelta(pub_day + 30, unit="D")

    sitename = "Site " + host
    category = pd.Series(np.where(j % 2 == 0, "news", "tech"), dtype=object)
    tags = pd.Series(
        np.where(j % 2 == 0, "alpha,beta", "beta,gamma"), dtype=object
    )
    image = url + "/lead.jpg"
    license_url = "https://creativecommons.org/licenses/by/4.0/"

    # outlinks
    c1 = np.minimum(2 * j + 1, per_host - 1)
    c2 = np.minimum(2 * j + 2, per_host - 1)
    xh = (h + j + 1) % n_hosts
    xj = (j * 3) % per_host
    link1 = pd.Series([page_url(a, b) for a, b in zip(h, c1)], dtype=object)
    link2 = pd.Series([page_url(a, b) for a, b in zip(h, c2)], dtype=object)
    link3 = pd.Series([page_url(a, b) for a, b in zip(xh, xj)], dtype=object)
    dirty = link1 + "?utm_source=feed&utm_medium=synth"

    html = (
        '<!DOCTYPE html>\n<html lang="' + lang + '">\n<head>\n<meta charset="utf-8">\n'
        "<title>" + title + " &amp; more</title>\n"
        '<meta name="description" content="' + desc + '">\n'
        '<meta name="author" content="' + authors + '">\n'
        '<meta property="og:site_name" content="' + sitename + '">\n'
        '<meta property="og:url" content="' + url + '">\n'
        '<meta property="og:image" content="' + image + '">\n'
        '<meta property="og:type" content="article">\n'
        '<meta property="article:published_time" content="' + date_iso + '">\n'
        '<meta name="keywords" content="' + tags + '">\n'
        '<meta property="article:section" content="' + category + '">\n'
        '<link rel="license" href="' + license_url + '">\n'
        "</head>\n<body>\n"
        '<nav><a href="/">Home</a> <a href="/about">About</a></nav>\n'
        "<script>var tracking = 1;</script>\n"
        "<style>.x{color:red}</style>\n"
        "<article>\n<h1>" + title + "</h1>\n"
        "<p>" + paras[0] + "</p>\n<p>" + paras[1] + "</p>\n"
        '<p>See <a href="' + link1 + '">one</a>, <a href="' + link2 + '">two</a>, '
        '<a href="' + link3 + '">three</a> &amp; <a href="' + dirty + '">again</a>.</p>\n'
        "<p>" + paras[2] + "</p>\n<p>" + paras[3] + "</p>\n"
        "</article>\n"
        "<aside>Related content block</aside>\n"
        "<footer>&copy; 2026 " + sitename + "</footer>\n"
        "</body>\n</html>\n"
    )

    out = pd.DataFrame(
        {
            "url": url,
            "warc_ts": warc_ts,
            "html": [s.encode("utf-8") for s in html],
            "text": title + "\n" + body_text,
            "lang": lang,
            "ctype": pd.Series(["text/html"] * len(url), dtype=object),
            "status": np.full(len(url), 200, dtype=np.int32),
            "redirect_to": pd.Series([None] * len(url), dtype=object),
        }
    )

    # binary non-HTML pages (415 error-row targets via the Content-Type
    # header gate, fetcher.go:73-88; the byte-sniff is the header-less
    # fallback)
    is_pdf = (j % PDF_MOD == 0) & (j > 0)
    if is_pdf.any():
        pdfs = pd.Series(
            [b"%PDF-1.4 synthetic-binary-object " + str(x).encode() for x in j[is_pdf]]
        )
        out.loc[is_pdf, "html"] = pdfs.to_numpy()
        out.loc[is_pdf, "text"] = None
        out.loc[is_pdf, "ctype"] = "application/pdf"

    # alias pages: <url>/amp duplicates whose og:url stays the clean URL
    is_alias = (j % ALIAS_MOD == 0) & (j > 0) & ~is_pdf
    if is_alias.any():
        amp = out[is_alias].copy()
        amp["url"] = amp["url"] + "/amp"
        out = pd.concat([out, amp], ignore_index=True)
    return out


def synth_pages(
    spark: SparkSession, n_hosts: int, per_host: int, partitions: int | None = None
) -> DataFrame:
    n = n_hosts * per_host
    rng = spark.range(0, n, 1, partitions or max(4, spark.sparkContext.defaultParallelism))

    def gen(it):
        for pdf in it:
            yield _gen_batch(pdf, n_hosts, per_host)

    return rng.mapInPandas(gen, schema=PAGES_FETCH_SCHEMA)


def ensure_pages(
    spark: SparkSession, path: str, n_hosts: int, per_host: int
) -> DataFrame:
    """Materialize the corpus once; re-reads from Parquet afterwards."""
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        synth_pages(spark, n_hosts, per_host).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def robots_table(spark: SparkSession, n_hosts: int) -> DataFrame:
    """Synthetic RFC 9309-style rules: every host disallows /private/;
    crawl_delay varies by host (host 0 is the hot, fast one)."""
    delays = [0.2, 0.5, 1.0, 2.0]
    rows = [
        (host_name(h), ["/private/"], delays[h % len(delays)] if h else 0.1)
        for h in range(n_hosts)
    ]
    return spark.createDataFrame(rows, schema=ROBOTS_SCHEMA)


def seed_urls(n_hosts: int, seeds_per_host: int = 1) -> list[str]:
    """Deterministic seed list: page 0 of each host (optionally more)."""
    return [page_url(h, j) for h in range(n_hosts) for j in range(seeds_per_host)]
