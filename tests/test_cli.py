"""CLI parity tests — invoke scrape_spark.cli main() in-process (shares the
session fixture's JVM) and check the reference-shaped outputs:
JSON array on stdout (cmd/scrape/main.go:119-139), -notext, -csv with
1-based column, feed → item links (cmd/scrape-feed/main.go:22-52)."""

from __future__ import annotations

import json

import pytest

from scrape_spark.cli import build_parser, main
from scrape_spark.sources.pages import page_url, synth_pages


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "pages")
    synth_pages(spark, n_hosts=3, per_host=20).write.mode("overwrite").parquet(p)
    return p


def test_extract_json_array(spark, corpus_path, capsys):
    rc = main(["extract", "--pages", corpus_path, page_url(0, 1), "not a url"])
    assert rc == 0
    rows = json.loads(capsys.readouterr().out)
    assert isinstance(rows, list) and len(rows) == 2
    by_url = {r["original_url"]: r for r in rows}
    assert by_url[page_url(0, 1)]["content_text"]
    assert by_url["not a url"]["error"].startswith("invalid url")
    # omit-empty parity: no null-valued keys in the JSON
    assert all(v is not None for r in rows for v in r.values())


def test_extract_notext_and_headless(spark, corpus_path, capsys):
    rc = main(["extract", "--pages", corpus_path, "--notext", "--headless", page_url(1, 2)])
    assert rc == 0
    rows = json.loads(capsys.readouterr().out)
    assert "content_text" not in rows[0]
    assert rows[0]["fetch_method"] == 2  # chromium-headless


def test_extract_csv_column(spark, corpus_path, capsys, tmp_path):
    csv = tmp_path / "urls.csv"
    csv.write_text(f"ignored,{page_url(0, 2)}\nignored,{page_url(1, 3)}\n")
    rc = main(["extract", "--pages", corpus_path, "--csv", str(csv), "--csv-column", "2"])
    assert rc == 0
    rows = json.loads(capsys.readouterr().out)
    assert {r["original_url"] for r in rows} == {page_url(0, 2), page_url(1, 3)}


def test_extract_with_store_memoizes(spark, corpus_path, capsys, tmp_path):
    store = str(tmp_path / "s")
    for _ in range(2):
        rc = main(["extract", "--pages", corpus_path, "--store", store, page_url(0, 4)])
        assert rc == 0
        out1 = json.loads(capsys.readouterr().out)
    assert out1[0]["url"] == page_url(0, 4)
    rc = main(["maintain", "--store", store])
    assert rc == 0


def test_feed_links(spark, corpus_path, capsys, tmp_path):
    # plant a feed page whose items point at corpus URLs
    import pandas as pd

    from scrape_spark.schemas import PAGES_FETCH_SCHEMA

    feed_url = "https://feeds.test/rss"
    xml = (
        "<rss><channel><title>F</title>"
        f"<item><title>a</title><link>{page_url(0, 1)}</link></item>"
        f"<item><title>b</title><link>{page_url(0, 2)}</link></item>"
        "</channel></rss>"
    )
    fp = str(tmp_path / "feedpages")
    spark.createDataFrame(
        [(feed_url, None, xml.encode(), None, None, "application/rss+xml", 200, None)],
        schema=PAGES_FETCH_SCHEMA,
    ).write.mode("overwrite").parquet(fp)
    rc = main(["feed", "--pages", fp, feed_url])
    assert rc == 0
    assert capsys.readouterr().out.splitlines() == [page_url(0, 1), page_url(0, 2)]


def test_feed_extract_journey(spark, corpus_path, capsys, tmp_path):
    """`feed --extract`: the reference's /feed → /batch journey as one
    command (api/server.go:330-333) — feed XML in the corpus → item links →
    fetch+extract pipeline → JSON array, memoized into --store."""
    import pandas as pd  # noqa: F401

    from scrape_spark.operators.store import UrlStore

    feed_url = "https://feeds.test/rss"
    xml = (
        "<rss><channel><title>F</title>"
        f"<item><title>a</title><link>{page_url(0, 1)}</link></item>"
        f"<item><title>b</title><link>{page_url(0, 2)}</link></item>"
        "</channel></rss>"
    )
    corpus = spark.read.parquet(corpus_path)
    feed_row = spark.createDataFrame(
        [(feed_url, xml.encode())], "url string, html binary"
    )
    merged = str(tmp_path / "feedcorpus")
    corpus.select("url", "html").unionByName(feed_row).write.mode(
        "overwrite"
    ).parquet(merged)

    store = str(tmp_path / "feedstore")
    rc = main(["feed", "--pages", merged, "--extract", "--store", store, feed_url])
    assert rc == 0
    rows = {r["original_url"]: r for r in json.loads(capsys.readouterr().out)}
    assert set(rows) == {page_url(0, 1), page_url(0, 2)}
    for r in rows.values():
        assert r.get("error") is None and r["title"]
    # the journey memoized the item pages into the store
    assert UrlStore(spark, store).urls.read().count() == 2


def test_crawl_subcommand_runs_and_resumes(spark, corpus_path, capsys, tmp_path):
    """`cli crawl`: seeds → epochs → store, JSON-lines stats on stdout;
    robots given as raw robots.txt (RFC 9309 parse path); a second
    invocation with the same --state resumes instead of restarting."""
    from scrape_spark.sources.pages import host_name

    robots_pq = str(tmp_path / "robots")
    spark.createDataFrame(
        [(host_name(h), "User-agent: *\nDisallow: /private/\nCrawl-delay: 0.5\n")
         for h in range(3)],
        "host string, robots_txt string",
    ).write.mode("overwrite").parquet(robots_pq)
    argv = [
        "crawl", "--pages", corpus_path,
        "--state", str(tmp_path / "state"), "--store", str(tmp_path / "store"),
        "--robots-txt", robots_pq, "--epochs", "2", "--epoch-seconds", "4",
        "--seen-filter", "cuckoo",
        page_url(0, 0), page_url(1, 0),
    ]
    assert main(argv) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    stats = [json.loads(l) for l in lines]
    assert [s["epoch"] for s in stats] == [0, 1]
    assert stats[0]["selected"] > 0
    # resume: same state dir, higher epoch target → continues at epoch 2
    argv[argv.index("--epochs") + 1] = "3"
    assert main(argv) == 0
    more = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert [s["epoch"] for s in more] == [2]


def test_crawl_discovers_robots_without_flags(spark, capsys, tmp_path):
    """No --robots/--robots-txt flag: the crawl must fetch /robots.txt pages
    from the corpus itself and obey them (VERDICT r3 #8 — RFC 9309 story
    end-to-end from the command line)."""
    from tests.helpers import robots_txt_pages

    corpus = str(tmp_path / "pages_with_robots")
    synth_pages(spark, n_hosts=3, per_host=20).unionByName(
        robots_txt_pages(spark, 3)
    ).write.mode("overwrite").parquet(corpus)
    argv = [
        "crawl", "--pages", corpus,
        "--state", str(tmp_path / "state"), "--store", str(tmp_path / "store"),
        "--epochs", "3", "--epoch-seconds", "4",
        page_url(0, 0), page_url(1, 0), page_url(2, 0),
    ]
    assert main(argv) == 0
    stats = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert sum(s["robots_denied"] for s in stats) > 0  # /private/ rules obeyed
    # nothing under /private/ was ever fetched into the store
    from scrape_spark.operators.store import UrlStore
    from pyspark.sql import functions as F

    store = UrlStore(spark, str(tmp_path / "store"))
    assert store.urls.read().filter(F.col("parsed_url").contains("/private/")).count() == 0


def test_delete_and_ping_subcommands(spark, corpus_path, capsys, tmp_path):
    """CLI surface for the reference's DELETE /extract and -ping/healthcheck
    journeys: delete drops the canonical row (aliases survive, S10); ping
    reports row counts + snapshot as JSON and exits 0."""
    store = str(tmp_path / "dp")
    assert main(["extract", "--pages", corpus_path, "--store", store,
                 page_url(0, 5), page_url(0, 6)]) == 0
    capsys.readouterr()
    assert main(["ping", "--store", store]) == 0
    health = json.loads(capsys.readouterr().out)
    assert health["ok"] is True and health["total_rows"] == 2

    assert main(["delete", "--store", store, page_url(0, 5)]) == 0
    capsys.readouterr()
    assert main(["ping", "--store", store]) == 0
    health = json.loads(capsys.readouterr().out)
    assert health["total_rows"] == 1


def test_settings_argument_validation(capsys, tmp_path):
    """Round-4 ADVICE: get/put/delete without a domain must exit cleanly
    (not upsert/query a NULL-domain row), and a --header without ':' must
    be a clear error, not a ValueError traceback."""
    sdir = str(tmp_path / "sv")
    for action in ("get", "put", "delete"):
        assert main(["settings", "--store", sdir, action]) == 2
        assert "domain argument is required" in capsys.readouterr().err
    assert main(["settings", "--store", sdir, "put", "d.test",
                 "--header", "noseparator"]) == 2
    assert "must be 'Key:Value'" in capsys.readouterr().err


def test_settings_subcommand_crud(spark, corpus_path, capsys, tmp_path):
    """/settings/domain parity from the CLI: put → get → wildcard search →
    delete, plus per-host routing into extract via --settings (the
    chromium-headless fetch_client forces fetch_method 2 for that host)."""
    sdir = str(tmp_path / "settings")
    assert main(["settings", "--store", sdir, "put", "H00000.ex0.test",
                 "--sitename", "Host Zero", "--fetch-client", "chromium-headless",
                 "--user-agent", ":chrome:", "--header", "X-Tok:abc"]) == 0
    row = json.loads(capsys.readouterr().out)[0]
    assert row["domain"] == "h00000.ex0.test"  # case-folded (F9)
    assert row["fetch_client"] == "chromium-headless"
    assert row["headers"] == {"X-Tok": "abc"}
    assert row["user_agent"].startswith("Mozilla/")  # UA alias expanded (K12)

    assert main(["settings", "--store", sdir, "search", "h0000*"]) == 0
    assert len(json.loads(capsys.readouterr().out)) == 1

    # routing: host with chromium-headless settings gets fetch_method 2
    assert main(["extract", "--pages", corpus_path, "--settings", sdir,
                 page_url(0, 1), page_url(1, 1)]) == 0
    rows = {r["original_url"]: r for r in json.loads(capsys.readouterr().out)}
    assert rows[page_url(0, 1)]["fetch_method"] == 2
    assert rows[page_url(1, 1)]["fetch_method"] == 1

    assert main(["settings", "--store", sdir, "delete", "h00000.ex0.test"]) == 0
    capsys.readouterr()
    assert main(["settings", "--store", sdir, "get", "h00000.ex0.test"]) == 0
    assert json.loads(capsys.readouterr().out) == []


def test_crawl_sitemap_seeding(spark, corpus_path, capsys, tmp_path):
    """`crawl --sitemaps`: epoch 0's frontier comes from sitemap XML pages
    (urlset entries, DataFrame end-to-end — no driver round-trip) plus any
    positional seeds; the crawl then fetches exactly those pages."""
    sm = "<urlset>" + "".join(
        f"<url><loc>{page_url(0, i)}</loc><priority>0.9</priority></url>"
        for i in range(3)
    ) + "</urlset>"
    sm_pq = str(tmp_path / "sitemaps")
    spark.createDataFrame(
        [("https://s.test/sm.xml", bytearray(sm.encode()))], "url string, html binary"
    ).write.mode("overwrite").parquet(sm_pq)
    assert main([
        "crawl", "--pages", corpus_path,
        "--state", str(tmp_path / "state"), "--store", str(tmp_path / "store"),
        "--allow-all", "--epochs", "1", "--epoch-seconds", "4",
        "--sitemaps", sm_pq, page_url(1, 0),
    ]) == 0
    stats = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert [s["epoch"] for s in stats] == [0]
    from scrape_spark.operators.store import UrlStore

    fetched = {
        r.parsed_url
        for r in UrlStore(spark, str(tmp_path / "store")).urls.read().collect()
    }
    # all sitemap entries plus the positional seed were fetched at epoch 0
    assert {page_url(0, i) for i in range(3)} | {page_url(1, 0)} <= fetched


def test_crawl_sitemap_entry_and_seed_keep_one_row(spark, corpus_path, capsys, tmp_path):
    """A positional seed that the sitemap also lists becomes exactly one
    epoch-0 frontier row, carrying the sitemap's lower hint priority —
    never a partition-order pick between the two."""
    url = page_url(0, 1)
    sm = f"<urlset><url><loc>{url}</loc><priority>0.9</priority></url></urlset>"
    sm_pq = str(tmp_path / "sitemaps")
    spark.createDataFrame(
        [("https://s.test/sm.xml", bytearray(sm.encode()))], "url string, html binary"
    ).write.mode("overwrite").parquet(sm_pq)
    state = str(tmp_path / "state")
    assert main([
        "crawl", "--pages", corpus_path, "--state", state,
        "--store", str(tmp_path / "store"), "--allow-all", "--epochs", "0",
        "--sitemaps", sm_pq, url, page_url(1, 0),
    ]) == 0
    rows = spark.read.parquet(f"{state}/epochs/e00000/frontier.parquet").collect()
    assert sorted(r.url for r in rows) == sorted([url, page_url(1, 0)])
    by_url = {r.url: r for r in rows}
    assert by_url[url].priority == -9 * 10_000_000_000  # hint 0.9, no lastmod
    assert by_url[page_url(1, 0)].priority == 0


def test_export_subcommand(spark, corpus_path, capsys, tmp_path):
    """`export`: crawl/extract store → deduplicated annotated corpus
    parquet, one JSON stats line on stdout."""
    store = str(tmp_path / "store")
    assert main(["extract", "--pages", corpus_path, "--store", store,
                 page_url(0, 0), page_url(0, 1), page_url(1, 0)]) == 0
    capsys.readouterr()
    out = str(tmp_path / "corpus")
    assert main(["export", "--store", store, "--out", out, "--notext"]) == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["rows"] >= 1
    got = spark.read.parquet(out)
    cols = set(got.columns)
    assert {"key", "lang", "quality", "n_tokens", "parsed_url"} <= cols
    assert "content_text" not in cols
    assert got.count() == stats["rows"]


def test_warc_dump_to_corpus_journey(spark, capsys, tmp_path):
    """The Common-Crawl journey in two commands: `extract --warc` ingests
    the segments (whole dump = request set), stores + writes result
    parquet; `export` turns the store into the training corpus."""
    from tests.test_warc import _segment

    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    (seg_dir / "part-0.warc").write_bytes(_segment())
    store, results = str(tmp_path / "store"), str(tmp_path / "results")
    assert main(["extract", "--warc", f"{seg_dir}/*.warc", "--store", store,
                 "--out", results, "--notext"]) == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["rows"] == 4  # a, b (gzip), c (chunked), old (redirect 404)
    got = spark.read.parquet(results)
    assert "content_text" not in got.columns
    urls = {r.original_url for r in got.collect()}
    assert {"https://wa.test/a", "https://wa.test/b", "https://wa.test/c"} <= urls

    out = str(tmp_path / "corpus")
    assert main(["export", "--store", store, "--out", out]) == 0
    exp = json.loads(capsys.readouterr().out)
    assert exp["rows"] >= 1


def test_corpus_source_flags_are_exclusive(capsys, tmp_path):
    """Every fetching command takes at most one of --pages/--warc/--live
    (feed has no --warc); --discover-sitemaps needs discovered-robots mode.
    All argument-level: exit 2 naming the flags, no 0-page 'success' and no
    silently preferred source."""
    assert main(["extract", "--pages", "x", "--warc", "y", "u"]) == 2
    assert "--warc" in capsys.readouterr().err
    assert main(["extract", "--live", "--warc", "y"]) == 2
    capsys.readouterr()
    assert main(["crawl", "--pages", "x", "--state", "s", "--store", "st",
                 "--allow-all", "--discover-sitemaps", "u"]) == 2
    assert "--discover-sitemaps" in capsys.readouterr().err

    sources = {"--pages": [str(tmp_path / "p")], "--warc": [str(tmp_path / "w")],
               "--live": []}
    crawl_args = ["--state", str(tmp_path / "s"), "--store", str(tmp_path / "st")]
    pairs = [("--pages", "--warc"), ("--pages", "--live"), ("--warc", "--live")]
    cases = [("extract", [], p) for p in pairs] + [
        ("crawl", crawl_args, p) for p in pairs
    ] + [("feed", [], ("--pages", "--live"))]
    for command, extra, (a, b) in cases:
        # a loopback URL: a regression that reaches a live fetch stays local
        argv = [command, *extra, a, *sources[a], b, *sources[b], "http://127.0.0.1:9/"]
        assert main(argv) == 2, argv
        err = capsys.readouterr().err
        assert a in err and b in err, (argv, err)


# Each fetching command's flags: dest -> (option strings, default, type).
# The source flags come from one parser helper shared by the three
# commands; sharing them must not add, drop or re-default any flag.
_FETCH_COMMAND_FLAGS = {
    "extract": {
        "csv": (("--csv",), None, None),
        "csv_column": (("--csv-column",), 1, int),
        "headless": (("--headless",), False, None),
        "headless_endpoint": (("--headless-endpoint",), None, None),
        "live": (("--live",), False, None),
        "max_concurrent": (("--max-concurrent",), 6, int),
        "notext": (("--notext",), False, None),
        "out": (("--out",), None, None),
        "pages": (("--pages",), None, None),
        "settings": (("--settings",), None, None),
        "store": (("--store",), None, None),
        "timeout": (("--timeout",), 30.0, float),
        "urls": ((), None, None),
        "user_agent": (("--user-agent",), None, None),
        "warc": (("--warc",), None, None),
    },
    "feed": {
        "extract": (("--extract",), False, None),
        "live": (("--live",), False, None),
        "max_concurrent": (("--max-concurrent",), 6, int),
        "notext": (("--notext",), False, None),
        "pages": (("--pages",), None, None),
        "store": (("--store",), None, None),
        "timeout": (("--timeout",), 30.0, float),
        "urls": ((), None, None),
    },
    "crawl": {
        "allow_all": (("--allow-all",), False, None),
        "discover_sitemaps": (("--discover-sitemaps",), False, None),
        "epoch_seconds": (("--epoch-seconds",), 10.0, float),
        "epochs": (("--epochs",), 4, int),
        "keep_snapshots": (("--keep-snapshots",), False, None),
        "live": (("--live",), False, None),
        "max_concurrent": (("--max-concurrent",), 6, int),
        "max_depth": (("--max-depth",), 6, int),
        "pages": (("--pages",), None, None),
        "robots": (("--robots",), None, None),
        "robots_ttl_epochs": (("--robots-ttl-epochs",), None, int),
        "robots_txt": (("--robots-txt",), None, None),
        "seeds": ((), None, None),
        "seen_filter": (("--seen-filter",), "none", None),
        "sitemaps": (("--sitemaps",), None, None),
        "state": (("--state",), None, None),
        "store": (("--store",), None, None),
        "timeout": (("--timeout",), 30.0, float),
        "user_agent": (("--user-agent",), "scrape-spark", None),
        "warc": (("--warc",), None, None),
    },
}


@pytest.mark.parametrize("command", sorted(_FETCH_COMMAND_FLAGS))
def test_fetch_command_flags_are_pinned(command):
    sub = next(a for a in build_parser()._actions if a.dest == "command")
    got = {
        a.dest: (tuple(a.option_strings), a.default, a.type)
        for a in sub.choices[command]._actions
        if a.dest != "help"
    }
    assert got == _FETCH_COMMAND_FLAGS[command]


def test_crawl_empty_sitemaps_seed_fails_loudly(spark, corpus_path, capsys, tmp_path):
    sm_pq = str(tmp_path / "sm")
    spark.createDataFrame(
        [("https://s.test/sm.xml", bytearray(b"<notasitemap/>"))],
        "url string, html binary",
    ).write.mode("overwrite").parquet(sm_pq)
    rc = main(["crawl", "--pages", corpus_path,
               "--state", str(tmp_path / "state"), "--store", str(tmp_path / "store"),
               "--allow-all", "--epochs", "1", "--sitemaps", sm_pq])
    assert rc == 2
    assert "no seed URLs" in capsys.readouterr().err


def test_export_incremental_since_snapshot(spark, corpus_path, capsys, tmp_path):
    """`export --since-snapshot`: the second export sees only pages stored
    after the first run's reported snapshot — a fresh page requested again
    is a cache hit, not rewritten, so it is not re-emitted."""
    store = str(tmp_path / "store")
    assert main(["extract", "--pages", corpus_path, "--store", store,
                 page_url(0, 0), page_url(0, 1)]) == 0
    capsys.readouterr()
    out1 = str(tmp_path / "c1")
    assert main(["export", "--store", store, "--out", out1, "--notext"]) == 0
    s1 = json.loads(capsys.readouterr().out)
    assert s1["rows"] == 2 and isinstance(s1["snapshot"], int)

    assert main(["extract", "--pages", corpus_path, "--store", store,
                 page_url(1, 0), page_url(0, 1)]) == 0
    capsys.readouterr()
    out2 = str(tmp_path / "c2")
    assert main(["export", "--store", store, "--out", out2, "--notext",
                 "--since-snapshot", str(s1["snapshot"])]) == 0
    s2 = json.loads(capsys.readouterr().out)
    assert s2["rows"] == 1
    assert {r.parsed_url for r in spark.read.parquet(out2).collect()} == {page_url(1, 0)}


def test_export_docs_mode(spark, capsys, tmp_path):
    """`export --docs`: raw (id, text) parquet through the same plan —
    the sf testdata documents shape works directly."""
    docs = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        50
    ).write.parquet(docs)
    out = str(tmp_path / "corpus")
    assert main(["export", "--docs", docs, "--out", out, "--notext"]) == 0
    stats = json.loads(capsys.readouterr().out)
    assert 0 < stats["rows"] <= 50 and "snapshot" not in stats
    got = spark.read.parquet(out)
    assert {"doc_id", "lang", "quality", "n_tokens"} <= set(got.columns)
    assert "text" not in got.columns
    # exactly one of --store/--docs
    assert main(["export", "--out", out]) == 2
    assert main(["export", "--docs", docs, "--store", "s", "--out", out]) == 2


def test_watch_subcommand_streams_exactly_once(spark, corpus_path, capsys, tmp_path):
    """`watch`: drains pending request files through the pipeline
    (store-memoized), and a second drain after a new file arrives
    processes ONLY that file (checkpointed exactly-once)."""
    req = tmp_path / "req"
    req.mkdir()
    (req / "r1.json").write_text(
        "\n".join(json.dumps({"url": page_url(0, i)}) for i in range(2))
    )
    argv = ["watch", "--pages", corpus_path,
            "--store", str(tmp_path / "store"),
            "--requests", str(req),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--out", str(tmp_path / "out")]
    assert main(argv) == 0
    assert json.loads(capsys.readouterr().out)["rows_total"] == 2
    # second drain with one new file: only its row is appended
    (req / "r2.json").write_text(json.dumps({"url": page_url(1, 0)}))
    assert main(argv) == 0
    assert json.loads(capsys.readouterr().out)["rows_total"] == 3
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.filter(got.original_url == page_url(0, 0)).count() == 1  # not reprocessed


def test_watch_empty_drain_reports_zero(spark, corpus_path, capsys, tmp_path):
    """A drain with no pending request files exits 0 and reports
    rows_total 0 (the recurring/cron case must not traceback on a missing
    output dir)."""
    req = tmp_path / "req"
    req.mkdir()
    assert main(["watch", "--pages", corpus_path,
                 "--store", str(tmp_path / "store"),
                 "--requests", str(req),
                 "--checkpoint", str(tmp_path / "ckpt"),
                 "--out", str(tmp_path / "out")]) == 0
    assert json.loads(capsys.readouterr().out)["rows_total"] == 0


def test_export_docs_bad_column_exits_cleanly(spark, capsys, tmp_path):
    docs = str(tmp_path / "docs")
    spark.createDataFrame([(1, "x")], "id long, body string").write.parquet(docs)
    assert main(["export", "--docs", docs, "--out", str(tmp_path / "o")]) == 2
    err = capsys.readouterr().err
    assert "doc_id" in err and "--id-col" in err


def test_export_partition_by_lang(spark, capsys, tmp_path):
    docs = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        80
    ).write.parquet(docs)
    out = str(tmp_path / "corpus")
    assert main(["export", "--docs", docs, "--out", out, "--notext",
                 "--partition-by", "lang"]) == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["partition_by"] == ["lang"] and stats["rows"] > 0
    import os

    parts = [d for d in os.listdir(out) if d.startswith("lang=")]
    assert len(parts) >= 2  # hive layout, one dir per detected language
    assert main(["export", "--docs", docs, "--out", out,
                 "--partition-by", "nope"]) == 2


def test_export_partition_by_empty_result_and_dupes(spark, capsys, tmp_path):
    """A gate that filters every row still prints rows:0 with a partitioned
    output (no schema-inference crash on the _SUCCESS-only dir); repeated
    --partition-by flags dedupe instead of dying in Spark."""
    docs = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(
        20
    ).write.parquet(docs)
    out = str(tmp_path / "empty")
    assert main(["export", "--docs", docs, "--out", out, "--notext",
                 "--partition-by", "lang", "--lang", "zz"]) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 0
    out2 = str(tmp_path / "dup")
    assert main(["export", "--docs", docs, "--out", out2, "--notext",
                 "--partition-by", "lang", "--partition-by", "lang"]) == 0
    assert json.loads(capsys.readouterr().out)["partition_by"] == ["lang"]


def test_robots_ttl_argument_bounds(capsys):
    assert main(["crawl", "--pages", "x", "--state", "s", "--store", "t",
                 "--robots-ttl-epochs", "0", "u"]) == 2
    assert ">= 1" in capsys.readouterr().err


_CRAWL_ARGS = ["crawl", "--pages", "x", "--state", "s", "--store", "t"]


def test_crawl_seen_filter_defaults_to_exact():
    assert build_parser().parse_args(_CRAWL_ARGS + ["u"]).seen_filter == "none"


@pytest.mark.parametrize("seen_filter", ["none", "cuckoo"])
def test_crawl_seen_filter_choices(seen_filter):
    args = build_parser().parse_args(_CRAWL_ARGS + ["--seen-filter", seen_filter, "u"])
    assert args.seen_filter == seen_filter


def test_crawl_seen_filter_rejects_bloom(capsys):
    with pytest.raises(SystemExit) as exc:
        main(_CRAWL_ARGS + ["--seen-filter", "bloom", "u"])
    assert exc.value.code == 2
    assert "invalid choice: 'bloom'" in capsys.readouterr().err
