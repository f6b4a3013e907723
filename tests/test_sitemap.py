"""Sitemap ingestion: sitemaps.org urlset/sitemapindex parsing (plain and
gzipped), robots.txt Sitemap: discovery, and sitemap-derived frontier
seeding through a real crawl epoch."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from scrape_spark.operators.frontier import frontier_rows
from scrape_spark.sources.sitemap import (
    hint_priority_rows,
    parse_sitemaps,
    sitemap_urls_from_robots,
)

URLSET = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://sm.test/a?x=1&amp;y=2</loc>
    <lastmod>2026-02-01</lastmod>
    <changefreq>Daily</changefreq>
    <priority>0.9</priority>
  </url>
  <url><loc> https://sm.test/b </loc><lastmod>2026-02-03T04:05:06+00:00</lastmod></url>
  <url><loc>https://sm.test/c</loc></url>
</urlset>"""

INDEX = b"""<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <sitemap><loc>https://sm.test/sitemap-a.xml</loc><lastmod>2026-01-15</lastmod></sitemap>
  <sitemap><loc>https://sm.test/sitemap-b.xml.gz</loc></sitemap>
</sitemapindex>"""


def test_parse_urlset_and_index(spark):
    df = spark.createDataFrame(
        [
            ("https://sm.test/sitemap.xml", URLSET),
            ("https://sm.test/sitemap_index.xml", INDEX),
            ("https://sm.test/sitemap.xml.gz", gzip.compress(URLSET)),
        ],
        ["url", "html"],
    )
    rows = parse_sitemaps(df).collect()
    by = {}
    for r in rows:
        by.setdefault((r.sitemap_url, r.kind), []).append(r)

    urls = {r.loc: r for r in by[("https://sm.test/sitemap.xml", "url")]}
    assert set(urls) == {"https://sm.test/a?x=1&y=2", "https://sm.test/b", "https://sm.test/c"}
    a = urls["https://sm.test/a?x=1&y=2"]
    assert str(a.lastmod) == "2026-02-01 00:00:00"
    assert a.changefreq == "daily" and a.priority == 0.9
    assert str(urls["https://sm.test/b"].lastmod) == "2026-02-03 04:05:06"
    assert urls["https://sm.test/c"].priority is None

    idx = {r.loc for r in by[("https://sm.test/sitemap_index.xml", "sitemap")]}
    assert idx == {"https://sm.test/sitemap-a.xml", "https://sm.test/sitemap-b.xml.gz"}
    # gzipped urlset parses identically
    gz = {r.loc for r in by[("https://sm.test/sitemap.xml.gz", "url")]}
    assert len(gz) == 3


def test_sitemap_urls_from_robots(spark):
    txt = (
        "User-agent: *\nDisallow: /private/\n"
        "Sitemap: https://rb.test/sitemap.xml\n"
        "sitemap:https://rb.test/sm2.xml.gz\n"
        "# Sitemap: https://rb.test/commented.xml\n"  # comment line: ignored
    )
    df = spark.createDataFrame(
        [("rb.test", txt), ("empty.test", None)], ["host", "robots_txt"]
    )
    got = {(r.host, r.sitemap_url) for r in sitemap_urls_from_robots(df).collect()}
    assert got == {
        ("rb.test", "https://rb.test/sitemap.xml"),
        ("rb.test", "https://rb.test/sm2.xml.gz"),
    }


def test_sitemap_frontier_rows_rank_by_hints(spark):
    df = spark.createDataFrame(
        [
            ("s", "url", "https://sm.test/low", None, None, 0.1),
            ("s", "url", "https://sm.test/high", None, None, 1.0),
            ("s", "url", "https://sm.test/high", None, None, 0.2),  # dup, min wins
            ("s", "sitemap", "https://sm.test/nested.xml", None, None, None),
        ],
        "sitemap_url string, kind string, loc string, lastmod timestamp, "
        "changefreq string, priority double",
    )
    seeds = frontier_rows(hint_priority_rows(df, depth=0, discovered_epoch=0))
    rows = {r.url: r for r in seeds.collect()}
    assert set(rows) == {"https://sm.test/low", "https://sm.test/high"}  # no 'sitemap' rows
    assert rows["https://sm.test/high"].priority < rows["https://sm.test/low"].priority
    assert all(r.depth == 0 for r in rows.values())


def test_sitemap_seed_drives_a_crawl_epoch(spark, tmp_path):
    """Sitemap-seeded crawl: seed(sitemaps=...) writes epoch 0's frontier
    from the sitemap pages, and run_epoch fetches exactly those pages
    (robots still applies)."""
    from scrape_spark.operators.frontier import Crawl, CrawlConfig
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.sources.pages import page_url, robots_table, synth_pages

    pages = synth_pages(spark, 2, 10)
    sm = "<urlset>" + "".join(
        f"<url><loc>{page_url(h, i)}</loc></url>" for h in range(2) for i in range(3)
    ) + "</urlset>"
    sitemaps = spark.createDataFrame(
        [("https://s.test/sm.xml", sm.encode())], ["url", "html"]
    )
    crawl = Crawl(
        spark,
        str(tmp_path / "state"),
        UrlStore(spark, str(tmp_path / "store"), n_buckets=8),
        pages,
        robots_table(spark, 2),
        CrawlConfig(epoch_seconds=4.0),
    )
    crawl.seed([], sitemaps=sitemaps)
    stats = crawl.run_epoch(0)
    assert stats["selected"] > 0
    fetched = {r.parsed_url for r in crawl.store.urls.read().collect()}
    assert fetched <= {page_url(h, i) for h in range(2) for i in range(3)}
    assert len(fetched) == stats["selected"]


def test_expand_sitemap_index_recursion(spark):
    """sitemapindex → nested urlsets resolve from a pages corpus, across
    two index levels; a self-referencing cycle terminates."""
    from scrape_spark.sources.live import body_fetcher
    from scrape_spark.sources.sitemap import expand_sitemap_entries

    top = (b"<sitemapindex>"
           b"<sitemap><loc>https://sm.test/l1.xml</loc></sitemap>"
           b"<sitemap><loc>https://sm.test/cycle.xml</loc></sitemap>"
           b"</sitemapindex>")
    l1 = (b"<sitemapindex>"
          b"<sitemap><loc>https://sm.test/l2.xml</loc></sitemap>"
          b"</sitemapindex>")
    l2 = b"<urlset><url><loc>https://sm.test/deep</loc></url></urlset>"
    cyc = (b"<sitemapindex>"
           b"<sitemap><loc>https://sm.test/cycle.xml</loc></sitemap>"
           b"<sitemap><loc>https://sm.test/top.xml</loc></sitemap>"
           b"</sitemapindex>")
    corpus = spark.createDataFrame(
        [("https://sm.test/top.xml", bytearray(top)),
         ("https://sm.test/l1.xml", bytearray(l1)),
         ("https://sm.test/l2.xml", bytearray(l2)),
         ("https://sm.test/cycle.xml", bytearray(cyc))],
        "url string, html binary",
    )
    entries = parse_sitemaps(corpus.where(F.col("url").endswith("top.xml")))
    out = expand_sitemap_entries(entries, body_fetcher(corpus))
    assert {r.loc for r in out.collect()} == {"https://sm.test/deep"}
    assert all(r.kind == "url" for r in out.collect())


def test_expand_missing_nested_sitemap_is_skipped(spark):
    """An index entry whose sitemap is absent from the corpus contributes
    nothing (and doesn't error) — the body fetcher just returns no row."""
    from scrape_spark.sources.live import body_fetcher
    from scrape_spark.sources.sitemap import expand_sitemap_entries

    corpus = spark.createDataFrame(
        [("https://sm.test/top.xml", INDEX),
         ("https://sm.test/sitemap-a.xml",
          b"<urlset><url><loc>https://sm.test/a1</loc></url></urlset>")],
        "url string, html binary",
    )
    entries = parse_sitemaps(corpus.where(F.col("url").endswith("top.xml")))
    out = expand_sitemap_entries(entries, body_fetcher(corpus))
    # sitemap-b.xml.gz referenced by INDEX is not in the corpus → only a1
    assert {r.loc for r in out.collect()} == {"https://sm.test/a1"}


def test_crawl_discovers_sitemaps_from_robots(spark, tmp_path):
    """cfg.discover_sitemaps + discovered-robots mode: a host's robots.txt
    advertises a sitemap whose URLs are NOT linked from any page; the crawl
    fetches them anyway (epoch 1, depth 1), while a run without the flag
    never finds them."""
    from pyspark.sql import functions as F

    from scrape_spark.operators.frontier import Crawl, CrawlConfig
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.schemas import PAGES_FETCH_SCHEMA
    from scrape_spark.sources.pages import host_name, page_url, synth_pages

    host = host_name(0)
    # pages 900.. are sitemap-only: no outlink reaches that range.
    # 902 % 29 == 3 → a /private/ path: robots must deny it even though the
    # sitemap advertises it (exclusion applies to every discovery source).
    sm_all = [page_url(0, 900 + i) for i in range(4)]
    sm_only = [u for u in sm_all if "/private/" not in u]
    sm_denied = [u for u in sm_all if "/private/" in u]
    assert len(sm_denied) == 1
    sm_xml = "<urlset>" + "".join(
        f"<url><loc>{u}</loc><priority>0.9</priority></url>" for u in sm_all
    ) + "</urlset>"
    robots_txt = (
        "User-agent: *\nDisallow: /private/\n"
        f"Sitemap: https://{host}/sitemap.xml\n"
    )
    extra = spark.createDataFrame(
        [
            (f"https://{host}/robots.txt", None, robots_txt.encode(), robots_txt,
             "en", "text/plain", 200, None),
            (f"https://{host}/sitemap.xml", None, sm_xml.encode(), sm_xml,
             "en", "application/xml", 200, None),
        ],
        schema=PAGES_FETCH_SCHEMA,
    )
    pages = synth_pages(spark, 1, 1000).unionByName(extra)

    def run(flag, sub):
        crawl = Crawl(
            spark,
            str(tmp_path / f"state{sub}"),
            UrlStore(spark, str(tmp_path / f"store{sub}"), n_buckets=8),
            pages,
            None,  # discovered-robots mode
            CrawlConfig(epoch_seconds=8.0,
                        discover_sitemaps=flag),
        )
        crawl.run(2, seeds=[page_url(0, 0)])
        return {r.parsed_url for r in crawl.store.urls.read().collect()}

    with_sm = run(True, "a")
    without = run(False, "b")
    assert set(sm_only) <= with_sm
    assert not (set(sm_denied) & with_sm)  # robots gates sitemap URLs too
    assert not (set(sm_only) & without)
    # everything else the two crawls fetched is identical
    assert with_sm - set(sm_only) == without


def test_corrupt_gzip_sitemap_yields_no_entries(spark):
    """A truncated gzip body (starts with the magic but is incomplete)
    parses to zero entries instead of failing the Spark stage — one bad
    host must not kill a crawl."""
    truncated = gzip.compress(URLSET)[:20]
    df = spark.createDataFrame(
        [("https://sm.test/bad.xml.gz", bytearray(truncated)),
         ("https://sm.test/ok.xml", URLSET)],
        "url string, html binary",
    )
    rows = parse_sitemaps(df).collect()
    assert {r.sitemap_url for r in rows} == {"https://sm.test/ok.xml"}
    assert len(rows) == 3
