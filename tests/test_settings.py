"""Domain-settings store — mirrors internal/settings/domain_test.go semantics:
case folding, validation on save, REPLACE upsert, point fetch, wildcard
range queries with LIMIT/OFFSET cap, delete, broadcast fetch-config join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scrape_spark.operators.settings import DomainSettingsStore


@pytest.fixture()
def store(spark, tmp_path):
    s = DomainSettingsStore(spark, str(tmp_path / "settings"))
    rows = [
        ("Example.COM", "Example", "direct", ":chrome:", {"x-test": "1"}),
        ("news.site.org", "News", "chromium-headless", "custom-ua", None),
        ("bad--domain.com", None, None, None, None),   # invalid → dropped
        ("a.example.net", "A", None, None, None),
        ("b.example.net", "B", None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "domain string, sitename string, fetch_client string, "
        "user_agent string, headers map<string,string>",
    )
    s.upsert(df)
    return s


def test_case_folding_and_validation(store):
    domains = {r.domain for r in store.read().collect()}
    assert domains == {"example.com", "news.site.org", "a.example.net", "b.example.net"}


def test_point_fetch_normalizes(store):
    r = store.fetch("EXAMPLE.com").collect()
    assert len(r) == 1
    assert r[0].user_agent.startswith("Mozilla/5.0")       # :chrome: expanded
    assert r[0].headers == {"X-Test": "1"}                 # K10 canonicalized


def test_replace_upsert(spark, store):
    df = spark.createDataFrame(
        [("example.com", "New Name", None, None, None)],
        "domain string, sitename string, fetch_client string, "
        "user_agent string, headers map<string,string>",
    )
    store.upsert(df)
    r = store.fetch("example.com").collect()
    assert len(r) == 1 and r[0].sitename == "New Name"


def test_upsert_appends_a_generation_and_newest_wins(spark, tmp_path):
    """Upserts are merge-on-read: each one appends a delta generation, and a
    read resolves to the newer commit's row."""
    s = DomainSettingsStore(spark, str(tmp_path / "gen"))
    schema = (
        "domain string, sitename string, fetch_client string, "
        "user_agent string, headers map<string,string>"
    )
    s.upsert(spark.createDataFrame([("gen.test", "Old", "direct", None, None)], schema))
    s.upsert(spark.createDataFrame([("GEN.test", "New", None, None, None)], schema))
    assert s.table.delta_generations() == 2
    r = s.fetch("gen.test").collect()
    assert len(r) == 1 and r[0].sitename == "New" and r[0].fetch_client is None


def test_wildcard_range(store):
    got = [r.domain for r in store.fetch_range(query="*.example.net").collect()]
    assert got == ["a.example.net", "b.example.net"]
    got = [r.domain for r in store.fetch_range(query="example").collect()]
    assert got == ["a.example.net", "b.example.net", "example.com"]
    page = [r.domain for r in store.fetch_range(offset=1, limit=1, query="example").collect()]
    assert page == ["b.example.net"]


def test_delete(store):
    store.delete(["EXAMPLE.COM"])
    assert store.fetch("example.com").count() == 0
    assert store.read().count() == 3


def test_fetch_config_join(spark, store):
    reqs = spark.createDataFrame(
        [("https://Example.com/a", "Example.com"), ("https://nowhere.test/b", "nowhere.test")],
        ["url", "hostname"],
    )
    out = {r.hostname: r for r in store.join_fetch_config(reqs).collect()}
    assert out["Example.com"].fetch_client == "direct"
    assert out["nowhere.test"].fetch_client is None  # defaults
