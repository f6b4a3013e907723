"""Sitemap ingestion (sitemaps.org protocol) → crawl seeds.

Real crawlers bootstrap a host's URL inventory from its sitemaps, not just
link discovery: robots.txt advertises them (``Sitemap:`` lines — a
non-group field of the de facto robots standard), a sitemap is either a
``<urlset>`` of page URLs (with optional lastmod/changefreq/priority
hints) or a ``<sitemapindex>`` pointing at more sitemaps, and files may be
gzip-compressed. The reference has no sitemap path (it fetches explicit
URL lists); this source exists because the north rule is a crawl-tier
frontier — sitemap entries are the highest-quality seed rows a frontier
can get (host-curated, with freshness hints).

Pipeline shape (everything is a DataFrame; nothing round-trips the driver):

    robots_txt ─ sitemap_urls_from_robots ─┐          (JVM line split)
                                           ├─ fetch → parse_sitemaps ─┐
    known sitemap URLs ────────────────────┘     (mapInPandas, regex)  │
                 ┌─────────────────────────────────────────────────────┘
                 ├─ kind='sitemap' rows → fetch again (index recursion,
                 │                        driver loops on COUNTS only)
                 └─ kind='url' rows → hint_priority_rows → frontier_rows

Parsing is the same vectorized discipline as feed.py/extract.py: one
``.str.findall`` pass splits entry blocks, flattened positionally
(np.repeat rowids), then each field is ONE vectorized ``.str.extract``
over the flat block Series — no per-entry Python.
"""

from __future__ import annotations

import gzip
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SITEMAP_ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("sitemap_url", T.StringType(), False),
        # 'url' = page entry (urlset), 'sitemap' = nested sitemap (index)
        T.StructField("kind", T.StringType(), False),
        T.StructField("loc", T.StringType(), False),
        T.StructField("lastmod", T.TimestampType(), True),
        T.StructField("changefreq", T.StringType(), True),
        T.StructField("priority", T.DoubleType(), True),
    ]
)

# minimal XML entity set (sitemaps.org requires escaping exactly these)
_XML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                 ("&apos;", "'"), ("&amp;", "&")]  # &amp; LAST


def _unescape(s: pd.Series) -> pd.Series:
    mask = s.str.contains("&", regex=False).eq(True)
    if not mask.any():
        return s
    sub = s[mask]
    for ent, ch in _XML_ENTITIES:
        sub = sub.str.replace(ent, ch, regex=False)
    out = s.copy()
    out[mask] = sub
    return out


def sitemap_urls_from_robots(
    robots_txt: DataFrame, host_col: str = "host", txt_col: str = "robots_txt"
) -> DataFrame:
    """``Sitemap:`` lines from raw robots.txt → (host, sitemap_url).
    Pure JVM (split + regexp) — the robots table is host-dimension but this
    keeps even a 10^8-host sweep shuffle-free and codegen'd. Sitemap is a
    non-group field: every line counts regardless of user-agent groups."""
    return (
        robots_txt.select(
            F.col(host_col).alias("host"),
            F.explode(F.split(F.coalesce(F.col(txt_col), F.lit("")), "\n")).alias("__l"),
        )
        .select(
            "host",
            F.regexp_extract(F.col("__l"), r"(?i)^\s*sitemap\s*:\s*(\S+)", 1).alias(
                "sitemap_url"
            ),
        )
        .where(F.col("sitemap_url") != "")
        .dropDuplicates(["host", "sitemap_url"])
    )


def _decode_blob(b) -> str:
    """bytes (possibly gzipped) | str | None → text. A truncated/corrupt
    gzip body yields '' (no entries) instead of failing the whole Spark
    stage — one bad host must not kill a crawl over millions."""
    if isinstance(b, str):
        return b
    if b is None:
        return ""
    if isinstance(b, (bytes, bytearray)) and b[:2] == b"\x1f\x8b":
        try:
            b = gzip.decompress(b)
        except (OSError, EOFError):
            return ""
    return bytes(b).decode("utf-8", errors="replace")


def _parse_batch(urls: pd.Series, blobs: pd.Series) -> pd.DataFrame:
    txt = blobs.map(_decode_blob).astype(object)

    out_frames = []
    for kind, block_re in (
        ("url", r"(?is)<url[\s>].*?</url>"),
        ("sitemap", r"(?is)<sitemap[\s>].*?</sitemap>"),
    ):
        found = txt.str.findall(block_re)
        lens = np.fromiter(
            (len(x) if isinstance(x, list) else 0 for x in found),
            dtype=np.int64,
            count=len(found),
        )
        if lens.sum() == 0:
            continue
        rowid = np.repeat(np.arange(len(found)), lens)
        flat = pd.Series(
            [b for x in found if isinstance(x, list) for b in x], dtype=object
        )
        loc = _unescape(
            flat.str.extract(r"(?is)<loc>\s*(.*?)\s*</loc>", expand=False).astype(object)
        )
        lastmod = flat.str.extract(
            r"(?is)<lastmod>\s*(.*?)\s*</lastmod>", expand=False
        )
        changefreq = flat.str.extract(
            r"(?is)<changefreq>\s*(\w+)\s*</changefreq>", expand=False
        ).astype(object)
        priority = pd.to_numeric(
            flat.str.extract(r"(?is)<priority>\s*([\d.]+)\s*</priority>", expand=False),
            errors="coerce",
        )
        keep = loc.notna().to_numpy(dtype=bool)
        out_frames.append(
            pd.DataFrame(
                {
                    "sitemap_url": urls.to_numpy(dtype=object)[rowid][keep],
                    "kind": kind,
                    "loc": loc[keep].to_numpy(dtype=object),
                    "lastmod": pd.to_datetime(
                        lastmod[keep], errors="coerce", utc=True, format="mixed"
                    ).dt.tz_localize(None),
                    "changefreq": changefreq[keep]
                    .str.lower()
                    .to_numpy(dtype=object),
                    "priority": priority[keep].to_numpy(),
                }
            )
        )
    cols = [f.name for f in SITEMAP_ENTRY_SCHEMA.fields]
    if not out_frames:
        return pd.DataFrame(columns=cols)
    return pd.concat(out_frames, ignore_index=True)[cols]


def parse_sitemaps(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Sitemap XML pages (possibly gzipped bytes) → SITEMAP_ENTRY_SCHEMA.
    ``kind='url'`` rows are page entries; ``kind='sitemap'`` rows are the
    nested references of an index file — the caller fetches those and
    parses again (index recursion stays in the caller, where the fetch
    lives)."""
    src = pages.select(F.col(url_col).alias("__u"), F.col(html_col).alias("__b"))

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = _parse_batch(pdf["__u"], pdf["__b"])
            if len(out):
                yield out

    return src.mapInPandas(run, schema=SITEMAP_ENTRY_SCHEMA)


def expand_sitemap_entries(
    entries: DataFrame, fetch_fn, max_levels: int = 5, caches: list | None = None
) -> DataFrame:
    """Recurse through ``<sitemapindex>`` references: ``kind='sitemap'``
    rows are fetched (``fetch_fn(urls_df) -> (url, html)``, a
    ``sources.live.body_fetcher`` over a corpus or the network, which
    returns no row for a sitemap that does not answer 200) and parsed again
    until a level yields nothing new. The driver loop sees only a per-level
    existence probe (``limit(1).count()``); entry rows stay distributed.
    Already-visited sitemap URLs are anti-joined out, so reference cycles
    terminate; ``max_levels`` bounds pathological chains (the protocol
    itself allows only one index level).

    Per-level frames are persisted (a live ``fetch_fn`` is non-idempotent
    network I/O — it must evaluate once) and registered in ``caches`` so
    the CALLER unpersists them after materializing the result (the crawl
    passes its epoch-cache list; without a registry the persists are
    released only at session end)."""
    registry = caches if caches is not None else []
    out = entries.where(F.col("kind") == "url")
    visited = entries.select(F.col("sitemap_url").alias("u")).distinct()
    pending = (
        entries.where(F.col("kind") == "sitemap")
        .select(F.col("loc").alias("u"))
        .distinct()
    )
    for _ in range(max_levels):
        targets = pending.join(visited, "u", "left_anti").persist()
        registry.append(targets)
        if targets.limit(1).count() == 0:
            break
        parsed = parse_sitemaps(fetch_fn(targets.select(F.col("u").alias("url")))).persist()
        registry.append(parsed)
        out = out.unionByName(parsed.where(F.col("kind") == "url"))
        pending = (
            parsed.where(F.col("kind") == "sitemap")
            .select(F.col("loc").alias("u"))
            .distinct()
        )
        visited = visited.unionByName(targets.select("u"))
    return out


def hint_priority_rows(entries: DataFrame, depth: int, discovered_epoch: int) -> DataFrame:
    """``kind='url'`` sitemap entries → frontier input rows (raw, depth,
    priority, discovered_epoch) for ``operators.frontier.frontier_rows``.
    The priority orders by sitemap hints: higher <priority> first (default
    0.5 per spec, scaled to integer steps), then fresher lastmod within a
    band — the frontier ranks ascending, so both are negated."""
    hint = -F.round(F.coalesce(F.col("priority"), F.lit(0.5)) * 10).cast("long")
    fresh = F.coalesce(-F.unix_timestamp(F.col("lastmod")), F.lit(0))
    return entries.where(F.col("kind") == "url").select(
        F.col("loc").alias("raw"),
        F.lit(depth).alias("depth"),
        (hint * 10_000_000_000 + fresh).cast("long").alias("priority"),
        F.lit(discovered_epoch).alias("discovered_epoch"),
    )
