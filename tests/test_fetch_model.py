"""HTTP-response model tests — mirror the reference fetcher's httptest
tables through the full batch plan:

- status errors   fetch/trafilatura/fetcher_test.go:19-66
- redirects       fetcher_test.go:68-111 (Go http.Client follows 3xx)
- content types   fetcher_test.go:180-247 (whitelist fetcher.go:73-88)
- client timeout  fetcher_test.go:249-272 → 504 class (fetch/client.go:70-81)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scrape_spark.plans.batch_extract import batch_extract
from tests.helpers import FIXTURE_HOST, fetch_fixture_pages

BASE = f"https://{FIXTURE_HOST}"


@pytest.fixture(scope="module")
def fixture_pages(spark):
    df = fetch_fixture_pages(spark).cache()
    df.count()
    return df


def _run(spark, pages, urls):
    req = spark.createDataFrame([(u,) for u in urls], ["url"])
    out = batch_extract(spark, req, pages, store=None)
    return {r.original_url: r for r in out.collect()}


def test_error_status_codes_become_error_rows(spark, fixture_pages):
    urls = [f"{BASE}/status/{sc}" for sc in (400, 401, 403, 404, 429, 500, 503)]
    rows = _run(spark, fixture_pages, urls)
    assert len(rows) == len(urls)
    for sc in (400, 401, 403, 404, 429, 500, 503):
        r = rows[f"{BASE}/status/{sc}"]
        assert r.status_code == sc
        assert r.error == f"HTTP error: status code {sc}"
        # partial data only: no extracted metadata on error rows
        assert r.title is None and r.content_text is None
        # requested URL echoed, never a canonical
        assert r.url == f"{BASE}/status/{sc}"


def test_redirects_are_followed_to_content(spark, fixture_pages):
    urls = [f"{BASE}/redirect/{sc}" for sc in (301, 302, 303, 307, 308)]
    rows = _run(spark, fixture_pages, urls)
    assert len(rows) == len(urls)
    for sc in (301, 302, 303, 307, 308):
        r = rows[f"{BASE}/redirect/{sc}"]
        assert r.error is None, (sc, r.error)
        assert r.status_code == 200
        assert r.content_text == "OK page\nOK body text."
        # canonical comes from the TARGET page's og:url
        assert r.url == f"{BASE}/200"
        # requested URL still echoed
        assert r.original_url == f"{BASE}/redirect/{sc}"


def test_redirect_chain_within_hop_budget(spark, fixture_pages):
    rows = _run(spark, fixture_pages, [f"{BASE}/redirect/chain1"])
    r = rows[f"{BASE}/redirect/chain1"]
    assert r.error is None and r.url == f"{BASE}/200"


def test_redirect_loop_exhausts_hop_budget(spark):
    # two pages redirecting at each other: must terminate as an error row
    from scrape_spark.schemas import PAGES_FETCH_SCHEMA

    loop = spark.createDataFrame(
        [
            (f"{BASE}/a", None, b"", None, None, "text/html", 301, f"{BASE}/b"),
            (f"{BASE}/b", None, b"", None, None, "text/html", 302, f"{BASE}/a"),
        ],
        schema=PAGES_FETCH_SCHEMA,
    )
    rows = _run(spark, loop, [f"{BASE}/a"])
    r = rows[f"{BASE}/a"]
    assert r.error == "stopped after 4 redirects"
    assert r.status_code in (301, 302)


def test_content_type_whitelist(spark, fixture_pages):
    rows = _run(
        spark,
        fixture_pages,
        [f"{BASE}/ctype/{n}" for n in ("html", "xhtml", "text", "xml", "json", "unsupported")],
    )
    for name in ("html", "xhtml"):
        r = rows[f"{BASE}/ctype/{name}"]
        assert r.error is None, (name, r.error)
        assert r.content_text == "OK page\nOK body text."
    # text/plain allowed; the body is the content verbatim
    r = rows[f"{BASE}/ctype/text"]
    assert r.error is None and r.content_text == "OK"
    for name, ctype in (
        ("xml", "application/xml"),
        ("json", "application/json"),
        ("unsupported", "application/unsupported"),
    ):
        r = rows[f"{BASE}/ctype/{name}"]
        assert r.error == f"unsupported content type: {ctype}", name
        assert r.status_code == 200  # the response itself was a 200


def test_timeout_is_the_504_error_class(spark, fixture_pages):
    rows = _run(spark, fixture_pages, [f"{BASE}/timeout"])
    r = rows[f"{BASE}/timeout"]
    assert r.status_code == 504
    assert r.error == "HTTP error: status code 504 (did not reply within 30 seconds)"


def test_errors_and_redirect_aliases_interact_with_store(spark, fixture_pages, tmp_path):
    """Error rows never stored; a redirect stores under the target's
    canonical key with an alias from the requested URL."""
    from scrape_spark.operators.store import UrlStore

    store = UrlStore(spark, str(tmp_path / "s"), n_buckets=4)
    batch_extract(
        spark,
        spark.createDataFrame(
            [(f"{BASE}/redirect/301",), (f"{BASE}/status/503",), (f"{BASE}/timeout",)],
            ["url"],
        ),
        fixture_pages,
        store,
    ).count()
    stored = store.urls.read().collect()
    assert [r.url for r in stored] == [f"{BASE}/200"]
    # the redirect's requested URL resolves to the stored canonical row
    got = store.fetch([f"{BASE}/redirect/301"]).collect()
    assert len(got) == 1 and got[0].url == f"{BASE}/200"


# Side inputs (robots.txt, sitemaps, feeds) read a body only when the URL
# answers 200, like the batch path: each host or feed below has a 200 control
# and a 404 twin whose body would change the outcome if it were read.
_PAGE = b"<html><body><p>side input fixture page</p></body></html>"
_DENY_ALL = b"User-agent: *\nDisallow: /\n"
_FEED_OK, _FEED_GONE = "https://feeds.test/ok.rss", "https://feeds.test/gone.rss"


def _rss(link: str) -> bytes:
    return f"<rss><channel><item><link>{link}</link></item></channel></rss>".encode()


def _urlset(loc: str) -> bytes:
    return f"<urlset><url><loc>{loc}</loc></url></urlset>".encode()


@pytest.fixture(scope="module")
def side_input_corpus(spark, tmp_path_factory):
    from scrape_spark.schemas import PAGES_FETCH_SCHEMA

    maps_robots = (
        b"User-agent: *\nAllow: /\n"
        b"Sitemap: https://maps.test/ok.xml\nSitemap: https://maps.test/gone.xml\n"
    )
    bodies = [
        ("https://gone.test/robots.txt", _DENY_ALL, "text/plain", 404),
        ("https://denied.test/robots.txt", _DENY_ALL, "text/plain", 200),
        ("https://maps.test/robots.txt", maps_robots, "text/plain", 200),
        ("https://maps.test/ok.xml", _urlset("https://maps.test/listed-ok"), "text/xml", 200),
        ("https://maps.test/gone.xml", _urlset("https://maps.test/listed-gone"), "text/xml", 404),
        (_FEED_OK, _rss("https://feeds.test/item-ok"), "application/rss+xml", 200),
        (_FEED_GONE, _rss("https://feeds.test/item-gone"), "application/rss+xml", 404),
    ] + [
        (f"https://{h}.test/a", _PAGE, "text/html", 200) for h in ("gone", "denied", "maps")
    ]
    path = str(tmp_path_factory.mktemp("side_inputs") / "pages")
    spark.createDataFrame(
        [(u, None, b, None, None, ct, st, None) for u, b, ct, st in bodies],
        schema=PAGES_FETCH_SCHEMA,
    ).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def side_input_crawl(spark, side_input_corpus, tmp_path_factory):
    """One discovered-robots epoch with sitemap discovery over the corpus."""
    from scrape_spark.operators.frontier import Crawl, CrawlConfig
    from scrape_spark.operators.store import UrlStore

    tmp = tmp_path_factory.mktemp("side_input_crawl")
    crawl = Crawl(
        spark, str(tmp / "state"), UrlStore(spark, str(tmp / "store"), n_buckets=8),
        spark.read.parquet(side_input_corpus), None,
        CrawlConfig(epoch_seconds=4.0, discover_sitemaps=True),
    )
    seeds = [f"https://{h}.test/a" for h in ("gone", "denied", "maps")]
    (stats,) = crawl.run(1, seeds=seeds)
    frontier = spark.read.parquet(f"{crawl.state_dir}/epochs/e00001/frontier.parquet")
    return stats, {r.url for r in frontier.collect()}


@pytest.mark.parametrize("side_input", ["robots", "sitemap", "feed"])
def test_side_input_not_answering_200_is_absent(
    spark, side_input_corpus, side_input, request, capsys
):
    """A robots.txt, sitemap or feed whose corpus row has status 404 counts
    as absent, whatever its body says: the 404 robots.txt allows its host
    (RFC 9309 §2.3.1.3), the 404 sitemap adds no frontier entries and the
    404 feed prints no links. Each 200 twin still takes effect."""
    if side_input == "feed":
        from scrape_spark.cli import main

        assert main(["feed", "--pages", side_input_corpus, _FEED_OK, _FEED_GONE]) == 0
        assert capsys.readouterr().out.splitlines() == ["https://feeds.test/item-ok"]
        return
    stats, next_frontier = request.getfixturevalue("side_input_crawl")
    if side_input == "robots":
        # gone.test and maps.test are crawled; only denied.test's 200 blocks
        assert (stats["selected"], stats["robots_denied"]) == (2, 1)
    else:
        assert "https://maps.test/listed-ok" in next_frontier
        assert "https://maps.test/listed-gone" not in next_frontier
