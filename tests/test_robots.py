"""RFC 9309 robots.txt parsing + longest-match precedence tests, and the
parsed-rules crawl path vs the reference model."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from scrape_spark.schemas import ROBOTS_SCHEMA
from scrape_spark.sources.robots import (
    ROBOTS_RULES_SCHEMA,
    _to_like,
    as_rules,
    denied_expr,
    parse_robots,
    parse_robots_text,
)


# ---- text parser (pure python) ----------------------------------------------


def test_group_selection_specific_beats_star():
    txt = """
User-agent: *
Disallow: /all/

User-agent: scrape-spark
Disallow: /mine/
Crawl-delay: 2.5
"""
    d, a, c = parse_robots_text(txt, "scrape-spark/1.0")
    assert d == ["/mine/"] and a == [] and c == 2.5
    d2, _, c2 = parse_robots_text(txt, "otherbot")
    assert d2 == ["/all/"] and c2 is None


def test_longest_agent_token_wins():
    txt = """
User-agent: scrape
Disallow: /short/

User-agent: scrape-spark
Disallow: /long/
"""
    d, _, _ = parse_robots_text(txt, "scrape-spark/1.0")
    assert d == ["/long/"]


def test_same_agent_groups_merge_and_agent_runs():
    txt = """
User-agent: a
User-agent: scrape-spark
Disallow: /one/

user-AGENT: scrape-spark
disallow: /two/   # trailing comment
Allow: /two/ok
"""
    d, a, _ = parse_robots_text(txt, "scrape-spark")
    assert sorted(d) == ["/one/", "/two/"]
    assert a == ["/two/ok"]


def test_rules_before_any_group_are_ignored_and_empty_disallow():
    txt = "Disallow: /orphan/\nUser-agent: *\nDisallow:\nDisallow: /x/\n"
    d, _, _ = parse_robots_text(txt, "bot")
    assert d == ["/x/"]


def test_no_matching_group_allows_all():
    d, a, c = parse_robots_text("User-agent: othercrawler\nDisallow: /\n", "me")
    assert d == [] and a == [] and c is None


def test_to_like_translation():
    assert _to_like("/a/*") == "/a/%%"
    assert _to_like("/a*b$") == "/a%b"
    assert _to_like("/p") == "/p%"
    assert _to_like("/100%_x") == "/100\\%\\_x%"


# ---- JVM-side longest-match precedence --------------------------------------


@pytest.fixture(scope="module")
def rules_df(spark):
    txt = """
User-agent: *
Disallow: /p
Allow: /page
Disallow: /private/
Allow: /private/pub*
Disallow: /*.pdf$
Crawl-delay: 1.5
"""
    df = spark.createDataFrame([("h.test", txt)], ["host", "robots_txt"])
    return parse_robots(df, "scrape-spark").cache()


@pytest.mark.parametrize(
    "path,denied",
    [
        ("/pottery", True),  # /p disallow, no allow matches
        ("/page/1", False),  # allow /page (5) beats disallow /p (2)
        ("/private/x", True),
        ("/private/pubfile", False),  # allow wildcard longer than disallow
        ("/doc/file.pdf", True),  # $-anchored wildcard
        ("/doc/file.pdfx", False),  # anchor must hold
        ("/other", False),  # no rule matches
    ],
)
def test_denied_longest_match(spark, rules_df, path, denied):
    row = (
        spark.createDataFrame([(path,)], ["path"])
        .crossJoin(rules_df)
        .select(denied_expr(F.col("path"), F.col("disallow"), F.col("allow")).alias("d"))
        .collect()[0]
    )
    assert row.d == denied, path


def test_allow_wins_exact_tie(spark):
    txt = "User-agent: *\nDisallow: /dir/\nAllow: /dir/\n"
    df = parse_robots(
        spark.createDataFrame([("h.test", txt)], ["host", "robots_txt"]), "x"
    )
    row = (
        spark.createDataFrame([("/dir/a",)], ["path"])
        .crossJoin(df)
        .select(denied_expr(F.col("path"), F.col("disallow"), F.col("allow")).alias("d"))
        .collect()[0]
    )
    assert row.d is False


def test_crawl_delay_and_null_txt(spark, rules_df):
    assert rules_df.collect()[0].crawl_delay == 1.5
    df = parse_robots(
        spark.createDataFrame(
            [("empty.test", None)], "host string, robots_txt string"
        ),
        "x",
    ).collect()[0]
    assert df.disallow == [] and df.allow == []


def test_crawl_delay_edge_values_budget(spark):
    """A zero delay takes the default, as the reference model's
    ``delay or DEFAULT_CRAWL_DELAY`` does, instead of failing the epoch on
    an ANSI divide-by-zero; a negative delay gives 1; a tiny, NaN or
    infinite delay gives a budget of at least 1 without failing."""
    from scrape_spark.operators.frontier import DEFAULT_CRAWL_DELAY, CrawlConfig

    cfg = CrawlConfig(epoch_seconds=8.0)
    delays = [None, 0.0, -1.0, 1e-300, float("nan"), float("inf")]
    rows = spark.createDataFrame(
        [(i, d) for i, d in enumerate(delays)], "i int, crawl_delay double"
    ).select("i", cfg.budget_expr().alias("budget"))
    got = {r.i: r.budget for r in rows.collect()}
    assert dict(rows.dtypes)["budget"] == "bigint"
    null_budget = int(8.0 // DEFAULT_CRAWL_DELAY)
    assert got[0] == null_budget
    assert got[1] == null_budget
    assert got[2] == 1
    assert all(got[i] >= 1 for i in (3, 4, 5))


# ---- plain-prefix tables ------------------------------------------------------


def test_plain_prefixes_convert_to_literal_rules(spark):
    """as_rules turns each plain prefix into a literal-prefix rule: LIKE
    metacharacters (%, _, \\) are escaped, robots wildcards (*, $) stay
    literal, "" matches every path, and a null prefix matches nothing — so
    denied_expr agrees with str.startswith on every path."""
    prefixes = {
        "pct": ["/100%"], "und": ["/a_b"], "bsl": ["/back\\slash"],
        "star": ["/star*"], "dollar": ["/end$"], "empty": [""],
        "null": [None, "/private/"], "none": None,
    }
    paths = [
        "/private/x", "/privatex", "/100%off", "/100x", "/a_b/c", "/aXb",
        "/back\\slash/1", "/backXslash", "/star*/x", "/starx", "/end$", "/end", "/",
    ]
    table = spark.createDataFrame(
        [(h, p, None) for h, p in prefixes.items()], schema=ROBOTS_SCHEMA
    )
    rules = as_rules(table)
    assert rules.columns == ROBOTS_RULES_SCHEMA.fieldNames()
    got = {
        (r.host, r.path): r.d
        for r in spark.createDataFrame([(p,) for p in paths], ["path"])
        .crossJoin(rules)
        .select("host", "path", denied_expr(F.col("path"), F.col("disallow"),
                                            F.col("allow")).alias("d"))
        .collect()
    }
    for host, prefs in prefixes.items():
        for path in paths:
            want = any(p is not None and path.startswith(p) for p in prefs or [])
            assert got[(host, path)] is want, (host, path)


def test_null_rule_in_supplied_table_is_skipped(spark, tmp_path):
    """A null element in a supplied plain-prefix table is skipped: the
    host's URLs are still selected. (Under three-valued logic it used to
    make every URL of that host neither allowed nor denied — never
    fetched, deferred or counted.)"""
    from scrape_spark.operators.frontier import Crawl, CrawlConfig
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.sources.pages import host_name, seed_urls, synth_pages

    robots = spark.createDataFrame(
        [(host_name(0), [None, "/private/"], 0.1), (host_name(1), ["/private/"], 0.5)],
        schema=ROBOTS_SCHEMA,
    )
    crawl = Crawl(
        spark, str(tmp_path / "state"),
        UrlStore(spark, str(tmp_path / "store"), n_buckets=8),
        synth_pages(spark, 2, 10), robots,
        CrawlConfig(epoch_seconds=4.0),
    )
    crawl.seed(seed_urls(2))
    stats = crawl.run_epoch(0)
    selected = spark.read.parquet(f"{crawl.state_dir}/epochs/e00000/selected.parquet")
    assert {r.host for r in selected.collect()} == {host_name(0), host_name(1)}
    assert stats["selected"] == 2 and stats["robots_denied"] == 0


# ---- parsed-rules crawl equals the reference model --------------------------


def test_crawl_with_parsed_robots_matches_model(spark, tmp_path_factory):
    """Feed the crawl raw robots.txt (parsed via RFC 9309 path) that encodes
    exactly the rules robots_table() synthesizes — the crawl must reproduce
    the reference model byte-for-byte like the table-driven path does."""
    from scrape_spark.operators.frontier import Crawl, CrawlConfig
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.sources.pages import host_name, seed_urls, synth_pages
    from tests.reference_model import build_corpus, run_model

    n_hosts, per_host, epoch_s, n_epochs = 4, 30, 4.0, 3
    delays = [0.2, 0.5, 1.0, 2.0]
    txts = [
        (
            host_name(h),
            "User-agent: unrelatedbot\nDisallow: /\n\n"
            "User-agent: *\nDisallow: /private/\n"
            f"Crawl-delay: {delays[h % len(delays)] if h else 0.1}\n",
        )
        for h in range(n_hosts)
    ]
    robots = parse_robots(
        spark.createDataFrame(txts, ["host", "robots_txt"]), "scrape-spark"
    )
    pages = synth_pages(spark, n_hosts, per_host)
    tmpdir = str(tmp_path_factory.mktemp("crawl_robots"))
    crawl = Crawl(
        spark,
        f"{tmpdir}/state",
        UrlStore(spark, f"{tmpdir}/store", n_buckets=8),
        pages,
        robots,
        CrawlConfig(epoch_seconds=epoch_s, max_depth=6),
    )
    crawl.run(n_epochs, seeds=seed_urls(n_hosts))
    corpus = build_corpus(n_hosts, per_host)
    model_robots = {
        host_name(h): (["/private/"], delays[h % len(delays)] if h else 0.1)
        for h in range(n_hosts)
    }
    model = run_model(
        corpus, seed_urls(n_hosts), model_robots, epoch_s, n_epochs, max_depth=6
    )
    got = {r.key for r in crawl.store.urls.read().select("key").collect()}
    assert got == model.store_keys
    for epoch in range(n_epochs):
        df = spark.read.parquet(f"{crawl.state_dir}/epochs/e{epoch:05d}/selected.parquet")
        got_sel = sorted(
            (r.key, r.url, r.host, r.depth, r.priority, r.rank) for r in df.collect()
        )
        assert got_sel == [tuple(t) for t in model.selected_per_epoch[epoch]]
    shutil.rmtree(tmpdir, ignore_errors=True)
