"""Test-only helpers: corpus fixtures, a naive oracle and small adapters
that no engine path calls.

- ``fetch_fixture_pages``: one corpus row per HTTP behaviour class of the
  reference fetcher's httptest servers.
- ``robots_txt_pages``: ``pages.robots_table``'s policy as /robots.txt pages,
  so crawls given the rules table and crawls that discover the rules in the
  corpus meet one policy.
- ``embedding_neardup_pairs_naive``: the all-pairs oracle for
  ``similarity.embedding_neardup_pairs``.
- ``parse_warc_segment``: a whole WARC segment as one pandas frame.
- ``record_request`` / ``record_refresh``: the feed_refresh table's request
  upsert and refresh write, driving ``feed_refresh.due_feeds``.
- ``python_udf_names``: the Python UDF calls a physical plan evaluates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scrape_spark.operators.similarity import _dot, normalized
from scrape_spark.schemas import PAGES_FETCH_SCHEMA
from scrape_spark.sources.feed_refresh import (
    DEFAULT_IDLE_TIMEOUT,
    DEFAULT_REFRESH_INTERVAL,
    FEED_REFRESH_SCHEMA,
)
from scrape_spark.sources.pages import robots_table
from scrape_spark.sources.warc import _rows_frame, parse_warc_frames

FIXTURE_HOST = "fixture.ex0.test"


def fetch_fixture_pages(spark: SparkSession) -> DataFrame:
    """Corpus fixture mirroring the reference fetcher's httptest servers —
    one URL per behavior class:

    - /status/{400,401,403,404,429,500,503}: error statuses
      (fetcher_test.go:19-66)
    - /redirect/{301,302,303,307,308} → /200: followed transparently
      (fetcher_test.go:68-111; Go http.Client default)
    - /ctype/{html,xhtml,text}: allowed; /ctype/{xml,json,unsupported}: 415
      (fetcher_test.go:180-247; whitelist fetcher.go:73-88)
    - /timeout: client timeout ⇒ 504 error class (client.go:70-81,
      fetcher_test.go:249-272)
    - /redirect/chain{1,2}: a 2-hop chain (hop limit exercise)
    """
    base = f"https://{FIXTURE_HOST}"
    ok_html = (
        '<!DOCTYPE html>\n<html lang="en">\n<head>\n<title>OK page</title>\n'
        f'<meta property="og:url" content="{base}/200">\n'
        "</head>\n<body>\n<article>\n<h1>OK page</h1>\n<p>OK body text.</p>\n"
        "</article>\n</body>\n</html>\n"
    ).encode()
    rows: list[tuple] = [(f"{base}/200", None, ok_html, "OK body text.", "en", "text/html", 200, None)]
    for sc in (400, 401, 403, 404, 429, 500, 503):
        rows.append((f"{base}/status/{sc}", None, f"Err: {sc}".encode(), None, None, "text/html", sc, None))
    for sc in (301, 302, 303, 307, 308):
        rows.append((f"{base}/redirect/{sc}", None, b"", None, None, "text/html", sc, f"{base}/200"))
    for name, ctype in (
        ("html", "text/html"),
        ("xhtml", "application/xhtml+xml"),
        ("text", "text/plain"),
        ("xml", "application/xml"),
        ("json", "application/json"),
        ("unsupported", "application/unsupported"),
    ):
        body = ok_html if name in ("html", "xhtml") else b"OK"
        rows.append((f"{base}/ctype/{name}", None, body, None, "en", ctype + "; charset=utf-8", 200, None))
    rows.append((f"{base}/timeout", None, b"", None, None, "text/html", 504, None))
    rows.append((f"{base}/redirect/chain1", None, b"", None, None, "text/html", 301, f"{base}/redirect/chain2"))
    rows.append((f"{base}/redirect/chain2", None, b"", None, None, "text/html", 302, f"{base}/200"))
    return spark.createDataFrame(rows, schema=PAGES_FETCH_SCHEMA)


def robots_txt_pages(spark: SparkSession, n_hosts: int) -> DataFrame:
    """/robots.txt pages for every synthetic host, writing each
    ``robots_table`` row as RFC 9309 text — the corpus-discovery crawl (no
    pre-supplied rules table) must reach identical behavior by fetching +
    parsing these."""
    rows = []
    for r in robots_table(spark, n_hosts).collect():
        txt = (
            "# synthetic policy\n"
            "User-agent: *\n"
            + "".join(f"Disallow: {path}\n" for path in r.disallow)
            + f"Crawl-delay: {r.crawl_delay}\n"
        )
        rows.append(
            (f"https://{r.host}/robots.txt", None, txt.encode("utf-8"), txt,
             "en", "text/plain", 200, None)
        )
    return spark.createDataFrame(rows, schema=PAGES_FETCH_SCHEMA)


def embedding_neardup_pairs_naive(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (i < j) with cosine > threshold — row-pair crossJoin with a
    per-pair Catalyst fold. Exact but slow: the oracle for the blocked
    version."""
    base = df.select(
        F.col(id_col).alias("__id"), normalized(F.col(vec_col)).alias("__vn")
    ).cache()
    a = base.select(F.col("__id").alias("i"), F.col("__vn").alias("va"))
    b = base.select(F.col("__id").alias("j"), F.col("__vn").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("i") < F.col("j"))
        .withColumn("sim", _dot(F.col("va"), F.col("vb")))
        .filter(F.col("sim") > threshold)
        .select("i", "j", F.round("sim", 6).alias("sim_r"))
    )


def parse_warc_segment(raw: bytes) -> pd.DataFrame:
    """One WARC segment's bytes → one pandas frame of PAGES_FETCH_SCHEMA
    columns (response records only): ``parse_warc_frames`` in one chunk."""
    frames = list(parse_warc_frames(raw, chunk_records=1 << 62))
    return frames[0] if frames else _rows_frame([])


_FEED_COLS = FEED_REFRESH_SCHEMA.fieldNames()


def record_request(feeds: DataFrame, requests: DataFrame, now: int) -> DataFrame:
    """Client requested these feed urls: upsert (PK REPLACE shape). Existing
    rows keep their cadence state with `last_request` bumped; new rows enter
    with the schema defaults."""
    inc = requests.select("url").distinct()
    touched = inc.join(feeds, "url", "left").select(
        "url",
        F.lit(int(now)).alias("last_request"),
        F.coalesce("refresh_interval", F.lit(DEFAULT_REFRESH_INTERVAL)).alias(
            "refresh_interval"
        ),
        F.coalesce("last_refresh", F.lit(0)).cast("long").alias("last_refresh"),
        F.coalesce("idle_timeout", F.lit(DEFAULT_IDLE_TIMEOUT)).alias("idle_timeout"),
    )
    return feeds.join(inc, "url", "left_anti").select(*_FEED_COLS).unionByName(touched)


def record_refresh(feeds: DataFrame, refreshed: DataFrame, now: int) -> DataFrame:
    """A refresh pass completed for these urls: set last_refresh = now."""
    done = refreshed.select("url").distinct().withColumn("__now", F.lit(int(now)))
    return (
        feeds.join(done, "url", "left")
        .select(
            "url",
            "last_request",
            "refresh_interval",
            F.coalesce("__now", F.col("last_refresh")).cast("long").alias("last_refresh"),
            "idle_timeout",
        )
    )


def python_udf_names(plan) -> list[str]:
    """Names of the Python UDF calls, nested ones included, that a physical
    plan's ArrowEvalPython nodes evaluate. The walk enters inner plans too
    (a cached relation's plan, an adaptive plan's current plan), and each
    cache once: a cache evaluates its UDFs once however often it is read."""
    names: list[str] = []
    seen_caches: list = []

    def walk(node) -> None:
        if node.nodeName() == "InMemoryRelation":
            builder = node.cacheBuilder()
            if any(builder.equals(b) for b in seen_caches):
                return
            seen_caches.append(builder)
        if node.nodeName() == "ArrowEvalPython":
            stack = [node.udfs().apply(i) for i in range(node.udfs().size())]
            while stack:
                expr = stack.pop()
                if expr.getClass().getSimpleName() == "PythonUDF":
                    names.append(expr.name())
                kids = expr.children()
                stack += [kids.apply(i) for i in range(kids.size())]
        kids = node.children()
        inner = [kids.apply(i) for i in range(kids.size())]
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            inner.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            inner.append(node.plan())
        elif cls == "InMemoryTableScanExec":
            inner.append(node.relation())
        elif cls == "InMemoryRelation":
            inner.append(node.cachedPlan())
        for kid in inner:
            walk(kid)

    walk(plan)
    return names
