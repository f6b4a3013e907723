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
