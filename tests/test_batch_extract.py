"""End-to-end flagship plan tests — analog of internal/scrape_test.go:
batch fetch+extract through the store: utm-strip, alias resolution, dedupe,
error rows, cache hits with stable fetch_time, errors never stored."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from scrape_spark.operators.store import UrlStore
from scrape_spark.plans.batch_extract import batch_extract
from scrape_spark.sources.pages import page_url, synth_pages
from tests.helpers import FIXTURE_HOST, fetch_fixture_pages

BASE = f"https://{FIXTURE_HOST}"


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages(spark, n_hosts=5, per_host=60).cache()
    df.count()
    return df


def _req_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], ["url"])


def test_batch_end_to_end(spark, pages, tmp_path):
    store = UrlStore(spark, str(tmp_path / "s"), n_buckets=8)
    urls = [
        page_url(0, 1),
        page_url(0, 1) + "?utm_source=feed",       # dupes to the same key
        page_url(1, 2),
        page_url(2, 11) + "/amp",                  # alias page → canonical
        page_url(3, 5),
        "https://missing.test/nope",               # 404 error row
        "not a url",                               # invalid → error row
        page_url(0, 37),                           # binary page → 415-class row
    ]
    out = batch_extract(spark, _req_df(spark, urls), pages, store).cache()
    rows = {r.original_url: r for r in out.collect()}

    # utm dupe collapsed in-flight: only one of the two forms present
    assert len(rows) == len(urls) - 1

    ok = rows[page_url(1, 2)]
    assert ok.error is None and ok.status_code == 200
    assert ok.content_text and ok.title
    assert ok.hostname == "h00001.ex1.test"
    assert ok.authors and all(a.strip() for a in ok.authors)

    amp = rows[page_url(2, 11) + "/amp"]
    assert amp.error is None
    assert amp.url == page_url(2, 11)  # canonical from og:url

    missing = rows["https://missing.test/nope"]
    assert missing.error == "HTTP error: status code 404"
    assert missing.status_code == 404

    bad = rows["not a url"]
    assert bad.error.startswith("invalid url")

    pdf = rows[page_url(0, 37)]
    # header gate fires first now that the corpus models Content-Type
    # (fetcher.go:73-88: the error message is the offending media type)
    assert pdf.error == "unsupported content type: application/pdf"

    # errors never stored; good rows are
    stored = store.urls.read()
    assert stored.filter(F.col("error").isNotNull()).count() == 0
    n_good = sum(1 for r in rows.values() if r.error is None)
    assert stored.count() == n_good


def test_multiple_invalid_urls_each_get_an_error_row(spark, pages, tmp_path):
    """One error row PER malformed input (internal/scrape.go:170-177,
    api/payloads.go:27-49) — null keys must not collapse in the dedupe."""
    store = UrlStore(spark, str(tmp_path / "s5"), n_buckets=8)
    urls = ["not a url", "also::not::a::url", "ftp://wrong-scheme.test/x", page_url(0, 1)]
    out = batch_extract(spark, _req_df(spark, urls), pages, store).collect()
    assert len(out) == 4
    errs = {r.original_url: r.error for r in out if r.error is not None}
    assert set(errs) == {"not a url", "also::not::a::url", "ftp://wrong-scheme.test/x"}
    assert all(e.startswith("invalid url") for e in errs.values())
    # identical invalid URLs still dedupe like identical valid ones do
    out2 = batch_extract(
        spark, _req_df(spark, ["not a url", "not a url"]), pages, store
    ).collect()
    assert len(out2) == 1


def test_cache_hit_keeps_fetch_time_and_skips_fetch(spark, pages, tmp_path):
    store = UrlStore(spark, str(tmp_path / "s2"), n_buckets=8)
    url = page_url(1, 3)
    first = batch_extract(spark, _req_df(spark, [url]), pages, store).collect()[0]
    again = batch_extract(
        spark, _req_df(spark, [url + "?utm_source=x"]), pages, store
    ).collect()[0]
    # cache hit: fetch_time unchanged (scrape_test.go fetch-time stability)
    assert again.fetch_time == first.fetch_time
    assert again.content_text == first.content_text
    # requested URL echoed even on hit
    assert again.original_url == url + "?utm_source=x"


def test_alias_lookup_after_store(spark, pages, tmp_path):
    store = UrlStore(spark, str(tmp_path / "s3"), n_buckets=8)
    amp_url = page_url(2, 22) + "/amp"
    batch_extract(spark, _req_df(spark, [amp_url]), pages, store).collect()
    # a later point fetch by the amp URL resolves through id_map
    got = store.fetch([amp_url]).collect()
    assert len(got) == 1 and got[0].url == page_url(2, 22)


def test_cache_split_is_bucket_pruned(spark, pages, tmp_path):
    """A batch probes only the store buckets its keys hash to — never a
    full-table scan (at 100 TB the unpruned read is the whole store)."""
    store = UrlStore(spark, str(tmp_path / "s6"), n_buckets=8)
    warm = [page_url(0, i) for i in range(1, 9)]  # spread across buckets
    batch_extract(spark, _req_df(spark, warm), pages, store).count()

    seen_buckets = []
    orig_read = store.urls.read

    def spy_read(snapshot=None, buckets=None):
        seen_buckets.append(buckets)
        return orig_read(snapshot=snapshot, buckets=buckets)

    store.urls.read = spy_read
    out = batch_extract(
        spark, _req_df(spark, [page_url(0, 1)]), pages, store, save=False
    )
    assert out.count() == 1
    probe_reads = [b for b in seen_buckets if b is not None]
    assert probe_reads and all(len(b) == 1 for b in probe_reads)
    assert None not in seen_buckets  # no unpruned full read anywhere


def test_fetch_client_routing(spark, pages, tmp_path):
    """S3: batch-level headless (the /extract/headless surface) and
    per-domain settings override (fetch_client='chromium-headless') both
    stamp fetch_method on the results; everything else stays direct."""
    from scrape_spark.operators.settings import DomainSettingsStore
    from scrape_spark.schemas import FETCH_METHOD_DIRECT, FETCH_METHOD_HEADLESS

    # whole batch forced headless
    out = batch_extract(
        spark, _req_df(spark, [page_url(0, 1)]), pages, store=None,
        fetch_method=FETCH_METHOD_HEADLESS,
    ).collect()
    assert out[0].fetch_method == FETCH_METHOD_HEADLESS

    # per-domain override: host 1 configured headless, host 0 not
    settings = DomainSettingsStore(spark, str(tmp_path / "ds"))
    from scrape_spark.schemas import DOMAIN_SETTINGS_SCHEMA

    settings.upsert(
        spark.createDataFrame(
            [("h00001.ex1.test", None, "chromium-headless", None, None)],
            schema=DOMAIN_SETTINGS_SCHEMA,
        )
    )
    rows = {
        r.original_url: r
        for r in batch_extract(
            spark, _req_df(spark, [page_url(0, 1), page_url(1, 2)]), pages,
            store=None, settings=settings,
        ).collect()
    }
    assert rows[page_url(1, 2)].fetch_method == FETCH_METHOD_HEADLESS
    assert rows[page_url(0, 1)].fetch_method == FETCH_METHOD_DIRECT


def test_settings_provenance_on_results(spark, pages, tmp_path):
    """The RESOLVED per-domain user_agent + headers land on result rows
    (settings/domain.go:43-49 hands them to the fetch client; the engine
    records what was handed). Hosts without settings carry NULLs (engine
    defaults), and the provenance survives the store round-trip."""
    from scrape_spark.operators.settings import DomainSettingsStore
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.schemas import DOMAIN_SETTINGS_SCHEMA

    settings = DomainSettingsStore(spark, str(tmp_path / "ds2"))
    settings.upsert(
        spark.createDataFrame(
            [("h00001.ex1.test", None, None, ":chrome:", {"x-test": "1"})],
            schema=DOMAIN_SETTINGS_SCHEMA,
        )
    )
    store = UrlStore(spark, str(tmp_path / "s2"), n_buckets=8)
    rows = {
        r.original_url: r
        for r in batch_extract(
            spark, _req_df(spark, [page_url(0, 1), page_url(1, 2)]), pages,
            store=store, settings=settings,
        ).collect()
    }
    assert rows[page_url(1, 2)].user_agent.startswith("Mozilla/5.0")  # expanded alias
    assert rows[page_url(1, 2)].headers == {"X-Test": "1"}            # canonicalized
    assert rows[page_url(0, 1)].user_agent is None
    assert rows[page_url(0, 1)].headers is None
    # cache hit keeps the stored provenance
    hit = batch_extract(
        spark, _req_df(spark, [page_url(1, 2)]), pages, store=store, settings=settings,
    ).collect()[0]
    assert hit.user_agent.startswith("Mozilla/5.0")


def test_unordered_union_has_all_columns(spark, pages, tmp_path):
    from scrape_spark.schemas import RESULT_SCHEMA

    store = UrlStore(spark, str(tmp_path / "s4"), n_buckets=8)
    out = batch_extract(spark, _req_df(spark, [page_url(0, 2), page_url(0, 4)]), pages, store)
    assert out.schema.fieldNames() == RESULT_SCHEMA.fieldNames()


@pytest.fixture(scope="module")
def redirect_corpus(spark, tmp_path_factory):
    """The HTTP-behaviour fixture corpus as parquet, so plans show its scan."""
    path = str(tmp_path_factory.mktemp("redirects") / "pages")
    fetch_fixture_pages(spark).write.parquet(path)
    return spark.read.parquet(path)


def _fetch_redirect_batch(spark, corpus):
    from scrape_spark.plans.batch_extract import fetch_join, prepare_requests

    req = prepare_requests(
        _req_df(spark, [f"{BASE}/redirect/chain1", f"{BASE}/redirect/301", f"{BASE}/absent"])
    )
    return fetch_join(req, corpus).select("original_url", "__page_url", "title")


def test_redirect_hops_reuse_the_corpus_shuffle(spark, redirect_corpus):
    """With broadcasts off, the request batch and every redirect hop
    left-join one corpus shuffle: the executed plan has no
    BroadcastExchange and scans the corpus's html column once (the hop
    joins read a ReusedExchange of it)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = _fetch_redirect_batch(spark, redirect_corpus)
        rows = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString().split(
            "== Initial Plan =="
        )[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan, plan
    schemas = re.findall(r"FileScan parquet .*?ReadSchema: (\S*)", plan)
    assert sum("html:" in s for s in schemas) == 1, plan
    assert "ReusedExchange" in plan, plan
    assert {u: page for u, page, _ in rows} == {
        f"{BASE}/redirect/chain1": f"{BASE}/200",
        f"{BASE}/redirect/301": f"{BASE}/200",
        f"{BASE}/absent": None,
    }


def test_fetch_join_is_sized_by_spark(spark, redirect_corpus, monkeypatch):
    """fetch_join passes no broadcast hint: F.broadcast is never called, and
    the rows are the same whether Spark broadcasts the corpus (the session
    default threshold) or shuffles it (threshold -1)."""
    import scrape_spark.plans.batch_extract as bx

    hinted = []
    real_broadcast = F.broadcast
    monkeypatch.setattr(
        bx.F, "broadcast", lambda df: hinted.append(df) or real_broadcast(df)
    )

    def fetched(threshold: str):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        return set(_fetch_redirect_batch(spark, redirect_corpus).collect())

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        on_rows = fetched(prev)
        off_rows = fetched("-1")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert hinted == []
    assert on_rows == off_rows
    assert len(on_rows) == 3


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_store_call_leaves_no_cache_and_refetches(spark, pages, tmp_path):
    """A store call's only surviving cache is the frame it returns: once the
    caller unpersists it the session is back at its pre-call persisted-RDD
    count. Two identical calls against identical stores each run the fetch
    stage — a leaked cache with the same plan would be reused silently and
    hand the second call the first call's rows."""
    import shutil
    import time

    pristine = tmp_path / "pristine"
    hits = [page_url(0, i) for i in range(1, 5)]
    batch_extract(
        spark, _req_df(spark, hits), pages, UrlStore(spark, str(pristine), n_buckets=8)
    ).unpersist()
    misses = [page_url(1, i) for i in range(1, 5)]
    req = _req_df(spark, hits + misses)
    before = _persisted_rdds(spark)
    miss_times = []
    for i in range(2):
        live = tmp_path / f"live{i}"
        shutil.copytree(pristine, live)
        out = batch_extract(spark, req, pages, UrlStore(spark, str(live), n_buckets=8))
        rows = {r.original_url: r for r in out.collect()}
        out.unpersist()
        assert _persisted_rdds(spark) == before
        assert set(rows) == set(hits + misses)
        miss_times.append({u: rows[u].fetch_time for u in misses})
        time.sleep(1.1)  # fetch_time has one-second resolution
    assert all(miss_times[1][u] > miss_times[0][u] for u in misses)


def _snapshots(store):
    return store.urls.current_snapshot(), store.id_map.current_snapshot()


def test_all_hit_rerequest_commits_nothing(spark, pages, tmp_path):
    """Hits bypass the MERGE (the reference saves only after a miss is
    fetched, internal/scrape.go:86-93): an all-hit batch — direct, utm and
    alias forms — commits no snapshot to either table and returns the
    stored fetch_time and content."""
    store = UrlStore(spark, str(tmp_path / "s"), n_buckets=8)
    urls = [page_url(0, 1), page_url(2, 11) + "/amp", page_url(3, 5)]
    first = batch_extract(spark, _req_df(spark, urls), pages, store)
    stored = {r.original_url: r for r in first.collect()}
    first.unpersist()
    snaps = _snapshots(store)

    # requested form → the stored row it must come back as
    again = {
        page_url(0, 1) + "?utm_source=x": page_url(0, 1),
        page_url(2, 11) + "/amp": page_url(2, 11) + "/amp",
        page_url(2, 11): page_url(2, 11) + "/amp",  # canonical of the alias
        page_url(3, 5): page_url(3, 5),
    }
    out = batch_extract(spark, _req_df(spark, list(again)), pages, store)
    rows = {r.original_url: r for r in out.collect()}
    out.unpersist()
    assert _snapshots(store) == snaps
    assert set(rows) == set(again)
    for u, s in again.items():
        assert rows[u].fetch_time == stored[s].fetch_time
        assert rows[u].content_text == stored[s].content_text


def test_reopened_store_keeps_its_bucket_count(spark, pages, tmp_path):
    """The manifest owns the table layout: a store created with 8 buckets
    and reopened with the constructor default (as every CLI subcommand
    opens it) still finds every stored URL, fetches nothing on an all-hit
    batch, and keeps one row per key."""
    root = str(tmp_path / "s")
    urls = [page_url(h, i) for h in range(4) for i in range(1, 11)]
    created = UrlStore(spark, root, n_buckets=8)
    first = batch_extract(spark, _req_df(spark, urls), pages, created)
    stored = {r.original_url: r.fetch_time for r in first.collect() if r.error is None}
    first.unpersist()
    assert len(stored) == 40

    store = UrlStore(spark, root)
    assert store.urls.n_buckets == store.id_map.n_buckets == 8
    assert store.fetch(urls).count() == 40
    snaps = _snapshots(store)
    out = batch_extract(spark, _req_df(spark, urls), pages, store)
    rows = {r.original_url: r.fetch_time for r in out.collect()}
    out.unpersist()
    assert _snapshots(store) == snaps
    assert rows == stored
    keys = store.urls.read().select("key")
    assert keys.count() == keys.distinct().count() == 40


def test_mixed_batch_delta_holds_only_misses(spark, pages, tmp_path):
    """A mixed batch's urls delta holds exactly the miss rows, and its
    id_map delta exactly their aliases."""
    from scrape_spark.functions.urlkeys import url_key_py

    store = UrlStore(spark, str(tmp_path / "s"), n_buckets=8)
    hits = [page_url(0, i) for i in range(1, 6)]
    batch_extract(spark, _req_df(spark, hits), pages, store).unpersist()
    pre_urls, pre_ids = _snapshots(store)

    misses = [page_url(1, 3), page_url(2, 11) + "/amp"]
    out = batch_extract(spark, _req_df(spark, hits + misses), pages, store)
    assert out.count() == len(hits + misses)
    out.unpersist()
    delta = store.urls.read_since(pre_urls)
    assert {r.parsed_url for r in delta.select("parsed_url").collect()} == set(misses)
    aliases = store.id_map.read_since(pre_ids)
    assert {(r.requested_id, r.canonical_id) for r in aliases.collect()} == {
        (url_key_py(page_url(1, 3)), url_key_py(page_url(1, 3))),
        (url_key_py(page_url(2, 11) + "/amp"), url_key_py(page_url(2, 11))),
    }


def test_carried_and_derived_request_keys_write_identical_id_map(spark, pages, tmp_path):
    """merge takes the alias's requested key from REQUESTED_KEY when the
    results carry it, else derives url_key(parsed_url): both must write the
    same id_map rows (utm variants, /amp aliases, self-aliases, errors)."""
    from scrape_spark.operators.store import REQUESTED_KEY
    from scrape_spark.plans.batch_extract import (
        fetch_join,
        finalize_results,
        prepare_requests,
    )

    urls = [
        page_url(0, 1), page_url(0, 2) + "?utm_source=feed",
        page_url(2, 11) + "/amp", page_url(3, 5) + "#frag",
        "https://missing.test/nope", "not a url",
    ]
    req = prepare_requests(_req_df(spark, urls))
    results = finalize_results(
        fetch_join(req, pages), 3600, keep_requested_key=True
    ).cache()
    carried = UrlStore(spark, str(tmp_path / "carried"), n_buckets=8)
    derived = UrlStore(spark, str(tmp_path / "derived"), n_buckets=8)
    carried.merge(results)
    derived.merge(results.drop(REQUESTED_KEY))
    results.unpersist()

    def id_map(store):
        return sorted(tuple(r) for r in store.id_map.read().collect())

    assert id_map(carried) == id_map(derived)
    assert len(id_map(carried)) == 4


def test_extraction_pass_key_matches_the_url_key_oracle(spark, pages, tmp_path):
    """Every row's key and url equal the ones finalize used to compute from
    the raw extraction columns, ``when(ok, url_key(coalesce(canonical_url,
    parsed_url))).otherwise(key)`` with the url_key UDF and ``when(ok,
    coalesce(canonical_url, parsed_url)).otherwise(parsed_url)``, across the
    HTTP fixture (redirect hops, text/plain, 404/415/5xx/504), utm variants,
    /amp aliases, odd canonicals and malformed URLs; and a store merged from
    the batch writes the same urls and id_map rows under either pair."""
    from scrape_spark.functions.urlkeys import clean_url_py, url_key
    from scrape_spark.operators.store import REQUESTED_KEY
    from scrape_spark.plans.batch_extract import (
        fetch_join,
        finalize_results,
        prepare_requests,
    )
    from scrape_spark.schemas import PAGES_FETCH_SCHEMA

    def page(path, og_url):
        html = (
            '<html><head><meta property="og:url" content="' + og_url + '"></head>'
            "<body><article><p>odd canonical</p></article></body></html>"
        )
        return (f"{BASE}/canon/{path}", None, html.encode(), None, None, "text/html", 200, None)

    odd = spark.createDataFrame(
        [
            page("relative", "/relative/path"),
            page("empty", ""),
            page("bad", "not a url"),
            page("unicode", "https://unicode.test/ä?q=ü"),
        ],
        PAGES_FETCH_SCHEMA,
    )
    fixture = fetch_fixture_pages(spark)
    corpus = pages.unionByName(fixture).unionByName(odd)
    urls = [r.url for r in fixture.unionByName(odd).select("url").collect()] + [
        page_url(0, 1),
        page_url(0, 2) + "?utm_source=feed&utm_medium=x",
        page_url(1, 3) + "?b=2&a=1&utm_campaign=c",
        page_url(2, 11) + "/amp",
        page_url(3, 22) + "/amp?utm_term=t#frag",
        page_url(0, 37),
        "https://missing.test/nope",
        "https://missing.test/ä",
        "not a url",
        "ftp://files.test/x",
        "http://",
    ]
    ext = fetch_join(prepare_requests(_req_df(spark, urls)), corpus).cache()
    results = finalize_results(ext, 3600, keep_requested_key=True)
    canonical = F.coalesce(F.col("canonical_url"), F.col("parsed_url"))
    raw = ext.select(
        "original_url",
        F.col("parsed_url").alias("requested_url"),
        canonical.alias("canonical"),
        url_key(canonical).alias("canonical_key"),
    )
    ok = F.col("error").isNull()
    results = (
        results.join(raw, "original_url")
        .withColumn("oracle_key", F.when(ok, F.col("canonical_key")).otherwise(F.col(REQUESTED_KEY)))
        .withColumn("oracle_url", F.when(ok, F.col("canonical")).otherwise(F.col("requested_url")))
        .drop("requested_url", "canonical", "canonical_key")
        .cache()
    )
    rows = results.select(
        "original_url", "url", "error", "key", "oracle_key", "oracle_url"
    ).collect()
    assert len(rows) == len(urls)
    assert [r for r in rows if (r.key, r.url) != (r.oracle_key, r.oracle_url)] == []
    # the batch reaches each class the oracle must agree on
    assert any(r.error is None and r.url != clean_url_py(r.original_url) for r in rows)
    errors = {r.error.split(":")[0] for r in rows if r.error}
    assert {"HTTP error", "unsupported content type", "invalid url"} <= errors

    stores = {}
    oracle_cols = ["oracle_key", "oracle_url"]
    for name, frame in (
        ("extraction_key", results.drop(*oracle_cols)),
        (
            "url_key_udf",
            results.withColumns(
                {"key": F.col("oracle_key"), "url": F.col("oracle_url")}
            ).drop(*oracle_cols),
        ),
    ):
        store = UrlStore(spark, str(tmp_path / name), n_buckets=8)
        store.merge(frame)
        stores[name] = {
            t: sorted(str(r) for r in getattr(store, t).read().collect())
            for t in ("urls", "id_map")
        }
    results.unpersist()
    ext.unpersist()
    assert stores["extraction_key"] == stores["url_key_udf"]
    assert stores["extraction_key"]["urls"] and stores["extraction_key"]["id_map"]


def _plan_node_names(plan) -> list[str]:
    """Physical operator names of a plan tree. InMemoryTableScan is a leaf
    here: the plan that built a cache is not re-run by its readers."""
    names = [plan.nodeName()]
    children = plan.children()
    for i in range(children.size()):
        names += _plan_node_names(children.apply(i))
    return names


def test_id_map_write_runs_no_python_udf(spark, pages, tmp_path):
    """The id_map delta write from batch_extract takes the request key from
    request prep: no ArrowEvalPython/BatchEvalPython pass in its plan."""
    store = UrlStore(spark, str(tmp_path / "s"), n_buckets=8)
    plans = []
    append = store.id_map.append_buckets

    def spy(df, *args, **kwargs):
        plans.append(_plan_node_names(df._jdf.queryExecution().sparkPlan()))
        return append(df, *args, **kwargs)

    store.id_map.append_buckets = spy
    urls = [page_url(0, 1), page_url(2, 11) + "/amp", page_url(1, 4) + "?utm_source=x"]
    batch_extract(spark, _req_df(spark, urls), pages, store).unpersist()
    assert len(plans) == 1
    assert "InMemoryTableScan" in plans[0]
    assert not {"ArrowEvalPython", "BatchEvalPython"} & set(plans[0]), plans[0]
