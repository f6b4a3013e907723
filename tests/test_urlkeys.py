"""Parity tests for URL canonicalization + 63-bit keying.

The CleanURL vectors are the reference's own table (resource/url_test.go:8-33),
reused verbatim. Key tests mirror internal/storage/key_test.go plus known-value
vectors computed from the published FNV-1a spec + key.go:44-57 bit layout.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from scrape_spark.functions.urlkeys import (
    clean_url_py,
    fnv1a64_np,
    hostname_py,
    url_key_np,
    url_key_py,
)

CLEAN_URL_VECTORS = [
    ("https://example.com", "https://example.com"),
    ("https://example.com?utm_source=foo", "https://example.com"),
    ("https://example.com?utm_brand=foo", "https://example.com"),
    ("https://example.com?utm_source=foo&utm_medium=bar", "https://example.com"),
    ("https://example.com?utm_source=foo&utm_medium=bar&utm_campaign=baz", "https://example.com"),
    (
        "https://example.com?utm_source=foo&utm_medium=bar&utm_campaign=baz&utm_term=quux",
        "https://example.com",
    ),
    (
        "https://example.com?utm_source=foo&utm_medium=bar&utm_campaign=baz&utm_term=quux&utm_content=xyzzy",
        "https://example.com",
    ),
    (
        "https://example.com?utm_source=foo&utm_medium=bar&utm_campaign=baz&utm_term=quux&utm_content=xyzzy&foo=bar",
        "https://example.com?foo=bar",
    ),
    (
        "https://example.com?utm_source=foo&utm_medium=bar&utm_campaign=baz&utm_term=quux&utm_content=xyzzy&foo=bar&baz=quux",
        "https://example.com?baz=quux&foo=bar",
    ),
    (
        "https://example.com?utm_source=foo&utm_medium=bar&utm_campaign=baz&utm_term=quux&utm_content=xyzzy&foo=bar&baz=quux#fragment",
        "https://example.com?baz=quux&foo=bar",
    ),
]


@pytest.mark.parametrize("url,expected", CLEAN_URL_VECTORS)
def test_clean_url_reference_vectors(url, expected):
    assert clean_url_py(url) == expected


def test_clean_url_preserves_multivalue_and_blank():
    assert clean_url_py("https://a.com/p?b=2&a=1&a=0") == "https://a.com/p?a=1&a=0&b=2"
    assert clean_url_py("https://a.com/p?flag") == "https://a.com/p?flag="
    assert clean_url_py("https://a.com/p?x=a+b") == "https://a.com/p?x=a+b"
    assert clean_url_py("https://a.com/p?x=a%20b") == "https://a.com/p?x=a+b"


def test_fnv1a64_known_vectors():
    # Published FNV-1a 64-bit test vectors.
    vecs = {
        "": 0xCBF29CE484222325,
        "a": 0xAF63DC4C8601EC8C,
        "foobar": 0x85944171F73967E8,
    }
    out = fnv1a64_np(pd.Series(list(vecs)))
    for got, want in zip(out, vecs.values()):
        assert int(got) == want


def test_key_top_bit_always_zero():
    # Mirrors key_test.go:7-15 (0xFF hostname byte) + broad sweep.
    url = "http://\xff/foo/bar"
    assert url_key_py(url) >> 63 == 0
    urls = [f"https://host{i}.example.com/p/{i}?q={i}" for i in range(1000)]
    keys = url_key_np(pd.Series(urls))
    assert (keys >= 0).all()


def test_key_bit_layout():
    url = "https://example.com/page"
    k = url_key_py(url)
    host_sum = sum(b for b in b"example.com") & 0x7F
    assert (k >> 56) & 0x7F == host_sum
    assert hostname_py(url) == "example.com"
    assert hostname_py("https://example.com:8080/x") == "example.com:8080"
    assert hostname_py("ftp://example.com/x") == ""


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=120), min_size=1, max_size=50))
def test_vectorized_key_matches_scalar(urls):
    got = url_key_np(pd.Series(urls))
    want = [url_key_py(u) for u in urls]
    assert list(got) == want


def test_spark_udfs_match_python(spark):
    import pyspark.sql.functions as F

    from scrape_spark.functions.urlkeys import clean_url, hostname_col, url_key

    urls = [u for u, _ in CLEAN_URL_VECTORS] + [
        "https://news.site.org/a/b?z=1&y=2#frag",
        "http://example.com:8080/q?utm_source=x&k=v",
        "https://plain.example.com/path",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    rows = (
        df.select(
            "url",
            clean_url("url").alias("cleaned"),
            url_key("url").alias("key"),
            hostname_col("url").alias("host"),
        )
        .orderBy("url")
        .collect()
    )
    for r in rows:
        assert r.cleaned == clean_url_py(r.url), r.url
        assert r.key == url_key_py(r.url), r.url
        assert r.host == hostname_py(r.url), r.url


def test_large_string_input_keys_match_scalar():
    """A large_string column (int64 offsets) must pack the same bytes as a
    string one: reading its offsets as int32 gave wrong lengths and wrong
    keys with no error."""
    import pyarrow as pa

    from scrape_spark.functions.urlkeys import _pack_bytes

    urls = ["https://a.test/x123456789ab", "https://b.test/xy123456789ab"]
    arr = pa.array(urls, type=pa.large_string())
    assert list(_pack_bytes(arr)[1]) == [len(u) for u in urls]
    assert list(_pack_bytes(arr.slice(1))[1]) == [len(urls[1])]
    series = pd.Series(urls, dtype=pd.ArrowDtype(pa.large_string()))
    assert list(url_key_np(series)) == [url_key_py(u) for u in urls]


def test_kernels_accept_non_string_values():
    """clean_url_np cleans a non-string value as its string form (as the
    regex path did) and url_key_np degrades it to the empty-URL key,
    instead of either raising ArrowTypeError."""
    from scrape_spark.functions.urlkeys import clean_url_np

    mixed = pd.Series(["https://a.test/?b=1&a=2", 5, None, "https://x.test/p#f"])
    got = clean_url_np(mixed)
    assert got[0] == "https://a.test/?a=2&b=1"
    assert got[1] == "5"
    assert pd.isna(got[2])
    assert got[3] == "https://x.test/p"
    keys = url_key_np(pd.Series(["https://a.test/x", 5, None]))
    assert list(keys) == [url_key_py("https://a.test/x"), url_key_py(""), url_key_py("")]
