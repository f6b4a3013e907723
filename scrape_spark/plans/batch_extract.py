"""The flagship end-to-end plan (SURVEY.md §3.1, M4): batch fetch+extract
with memoization — the Spark re-expression of StorageBackedFetcher.Batch
(internal/scrape.go:100-124).

One declarative job per batch:

    requests → validate (malformed ⇒ error row, F10)
             → canonicalize (F1) → key (K1) → in-flight dedupe (J4)
             → fetch-client routing (S3: batch headless / per-domain settings)
             → alias-resolve (J1) → cache split vs fresh store (J2: one left
               join consumed twice — semi ≙ hits, anti ≙ misses; both the
               id_map and the store reads are bucket-pruned to the batch)
             → misses ⋈ pages table (the network-free fetch stage, S1;
               3xx redirect chains followed by per-hop equi-joins)
             → extract (M3) → error taxonomy (F10 / 404 / status incl. 504
               timeout / Content-Type whitelist F2 / byte-sniff fallback)
             → MERGE INTO store (S9) of the FETCHED rows only → hits ∪
               fetched (U1) → results

Hits bypass the MERGE, as in the reference (StorageBackedFetcher saves only
after a miss is fetched, internal/scrape.go:86-93): a hit row is returned
with its stored fetch_time and payload but never rewritten, so a commit's
bytes — and the delta generations it adds — scale with the rows the batch
fetched, and ``export --since-snapshot`` never re-emits an unchanged page.
The id_map aliases of fetched rows take the request key computed in
request prep (carried past finalize as REQUESTED_KEY) instead of re-hashing
``parsed_url`` in a second Python pass.

Scale notes: the deduped batch is spread over ``defaultParallelism``
partitions before the fetch (as in the crawl epoch and the live fetch), so
the fetch join and the extraction run on every core instead of in the one
task AQE coalesces a small dedupe shuffle to (on ``local[4]``, batches
up to ~23k requests ran in 1 task, ~47k in 2); the extraction pass also
computes the canonical URL and key, so each running task holds one Python
worker.
The cache-split join is key-equi on `key long` (never URL
strings, O1); the pages join prunes to (url, html, ctype, status,
redirect_to) at the scan and skips the redirect-hop plan branches entirely
for redirect-free corpora; it is one unhinted left join that Spark sizes (a
small corpus broadcasts; a large one shuffles once, and the redirect hops
reuse that shuffle); the store read is bucket-manifest-backed so only
fresh files of touched buckets are opened. Output order is not guaranteed
(parity: internal/scrape.go:98-99) — consumers that need determinism sort
by (key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scrape_spark.functions.textfns import (
    author_split,
    content_type_error,
    expires_at,
    mime_type,
    stamp_fetch_time,
    status_error,
)
from scrape_spark.functions.urlkeys import clean_and_key, hostname_col
from scrape_spark.operators.extract import (
    CANONICAL_KEY,
    CANONICAL_URL,
    extract_pages,
)
from scrape_spark.operators.store import REQUESTED_KEY, UrlStore
from scrape_spark.schemas import (
    FETCH_METHOD_DIRECT,
    FETCH_METHOD_HEADLESS,
    RESULT_SCHEMA,
)

_VALID_URL = r"^https?://[^/?#]+"

RESULT_COLS = RESULT_SCHEMA.fieldNames()

# 3xx hops followed per request before the redirect surfaces as an error
# (the Go http.Client follows up to 10; fetcher_test.go:68-111).
MAX_REDIRECT_HOPS = 4


def prepare_requests(requests: DataFrame, url_col: str = "url") -> DataFrame:
    """Validate + canonicalize + key a batch of requested URLs.
    Malformed URLs never kill the job — they become error rows (F10,
    reference: internal/scrape.go:170-177, api/payloads.go:27-49).

    clean_url + url_key run as ONE fused pandas UDF (clean_and_key): the
    chained form was two ArrowEvalPython nodes with the URL strings crossing
    the JVM↔Python boundary three times per batch (guide §4.1)."""
    req = requests.select(F.col(url_col).alias("original_url"))
    req = req.withColumn("__valid", F.col("original_url").rlike(_VALID_URL))
    req = req.withColumn("__ck", clean_and_key("original_url"))
    req = req.withColumn(
        "parsed_url",
        F.when(F.col("__valid"), F.col("__ck.parsed_url")),
    ).withColumn(
        "key", F.when(F.col("__valid"), F.col("__ck.key"))
    ).withColumn(
        "request_error",
        F.when(~F.col("__valid"), F.concat(F.lit("invalid url: "), F.col("original_url"))),
    ).drop("__valid", "__ck")
    return req


def _as_result(df: DataFrame) -> DataFrame:
    return df.select(*[F.col(c) for c in RESULT_COLS])


def _join_corpus(df: DataFrame, corpus: DataFrame, url_col: str) -> DataFrame:
    """df LEFT JOIN the pruned corpus projection on ``url_col``; a URL the
    corpus lacks keeps null page columns (⇒ 404 in finalize). No hint:
    Spark sizes the join, as it does the store's and the robots joins."""
    return df.join(corpus, df[url_col] == corpus["__page_url"], "left")


def fetch_join(misses: DataFrame, pages: DataFrame) -> DataFrame:
    """The 'network' stage: equi-join against the pages corpus (absent ⇒
    404 later), then one vectorized extraction pass. Keeps the extract's
    raw columns (incl. `links`) so callers can derive both result rows and
    outlink discovery from a single cached extraction. The pass also emits
    CANONICAL_URL and CANONICAL_KEY, the URL and key ``finalize_results``
    gives an ok row.

    HTTP-response model: the corpus may carry `ctype` (Content-Type header),
    `status`, and `redirect_to` columns (PAGES_FETCH_SCHEMA); a bare
    5-column pages table degrades to header-unknown / 200-if-present /
    no-redirect. 3xx rows with a redirect target are followed transparently
    up to ``MAX_REDIRECT_HOPS`` — each hop is one more equi-join over only
    the still-redirecting subset, so the common no-redirect case pays a
    single join. Rows still redirecting after the hop budget surface the
    redirect status as an HTTP error (parity: Go returns 'stopped after 10
    redirects' as an error).

    The request batch and every redirect hop left-join the corpus one way
    (``_join_corpus``) and Spark picks the strategy: a small corpus is
    broadcast (BuildRight), a large one is shuffled once and the hop joins
    reuse that shuffle."""
    cols = set(pages.columns)
    corpus = pages.select(
        F.col("url").alias("__page_url"),
        "html",
        (F.col("ctype") if "ctype" in cols else F.lit(None).cast("string")).alias("__ctype"),
        (F.col("status") if "status" in cols else F.lit(None).cast("int")).alias("__status"),
        (F.col("redirect_to") if "redirect_to" in cols else F.lit(None).cast("string")).alias(
            "__redirect_to"
        ),
    )
    joined = _join_corpus(misses, corpus, "parsed_url")
    # The hop machinery multiplies plan branches (each union arm re-scans the
    # fetch join) — pay for it ONLY when the corpus actually contains
    # redirects. One column-pruned probe scan, run only when the corpus has
    # a redirect_to column and memoized per pages DataFrame; a redirect-free
    # corpus (the common crawl epoch) keeps the single-join hot path.
    redirects = getattr(pages, "_scrape_has_redirects", None)
    if redirects is None:
        has_target = F.max(F.col("redirect_to").isNotNull().cast("int"))
        redirects = "redirect_to" in cols and bool(pages.agg(has_target).collect()[0][0])
        try:
            pages._scrape_has_redirects = redirects
        except AttributeError:  # pragma: no cover
            pass

    if redirects:
        joined = _follow_redirects(joined, corpus, misses.columns)
    joined = joined.withColumn("__plain_text", _plain_text_col())
    return extract_pages(joined, html_col="html")


def _follow_redirects(joined: DataFrame, corpus: DataFrame, req_cols: list[str]) -> DataFrame:
    """Follow 3xx rows through up to MAX_REDIRECT_HOPS corpus re-probes."""
    # never-null predicate: False when redirect_to is null (False AND NULL ≡
    # False), defined when it isn't (coalesce guards a null status)
    is_redirect = F.col("__redirect_to").isNotNull() & F.coalesce(
        F.col("__status").between(300, 399), F.lit(True)
    )
    done = joined.filter(~is_redirect)
    pending = joined.filter(is_redirect)
    for _hop in range(MAX_REDIRECT_HOPS):
        # follow one hop: re-probe the corpus with the redirect target; the
        # requested columns ride along unchanged (parsed_url stays the
        # requested URL — the reference echoes RequestedURL on redirects)
        hop = pending.select(*req_cols, F.col("__redirect_to").alias("__target"))
        hopped = _join_corpus(hop, corpus, "__target").drop("__target")
        done = done.unionByName(hopped.filter(~is_redirect))
        pending = hopped.filter(is_redirect)
    # hop budget exhausted: surface as an error row (Go http.Client:
    # "stopped after 10 redirects"); 3xx itself is not an error status
    exhausted = pending.withColumn(
        "request_error",
        F.coalesce(
            F.col("request_error"),
            F.lit(f"stopped after {MAX_REDIRECT_HOPS} redirects"),
        ),
    )
    return done.unionByName(exhausted)


def _plain_text_col():
    """text/plain bodies ARE the content (no markup to extract) — captured
    before extract_pages drops the raw bytes; null on every other row, and
    on every row of a corpus with no ``ctype``. User parquet read via the
    CLI may carry a string-typed html column: the cast to binary makes one
    decode serve both types (and is dropped from the plan when html is
    already binary)."""
    body = F.decode(F.col("html").cast("binary"), "UTF-8")
    return F.when(mime_type(F.col("__ctype")) == "text/plain", body)


_EXTRACTED_FIELDS = (
    "title", "description", "sitename", "authors", "date", "categories",
    "tags", "language", "image", "page_type", "license", "content_text",
)


def finalize_results(
    extracted: DataFrame, ttl_seconds: int, keep_requested_key: bool = False
) -> DataFrame:
    """Map one extraction pass to RESULT_SCHEMA rows with the full error
    taxonomy, gate order as in the reference fetcher (fetcher.go:52-95):
    invalid-url → 404 absent → HTTP status (<200/≥400, incl. the 504
    timeout class) → Content-Type header whitelist (415) → byte-sniff 415
    fallback when no header is modeled. Error rows carry fetch provenance
    only — the reference never extracts after a gate fires, so extracted
    metadata is nulled (resource partial-data semantics, fetcher.go:55-72).

    Built as two projections (gates, then the RESULT_SCHEMA select): a
    chain of per-column ``withColumn`` calls re-analyses the whole batch
    plan once per column, analysis time paid on every batch before any job
    runs.

    An ok row takes the CANONICAL_URL and CANONICAL_KEY that
    ``fetch_join``'s extraction pass computed; an error row keeps the
    requested URL and the request key. Finalize itself runs no Python UDF:
    a second Python operator in the extraction's task would hold a second
    Python worker per running task.

    ``keep_requested_key`` appends REQUESTED_KEY — the input ``key`` (the
    request key, ``url_key(parsed_url)``) before it is replaced by the
    canonical key — so ``UrlStore.merge`` writes id_map aliases without
    hashing ``parsed_url`` again."""
    found = F.col("__page_url").isNotNull()
    status = F.coalesce(
        F.col("__status"), F.when(found, F.lit(200)).otherwise(F.lit(404))
    ).cast("int")
    error = F.coalesce(
        F.col("request_error"),
        F.when(~found, status_error(F.lit(404))),
        status_error(status),
        # Header gate when the corpus models one, but a whitelisted type does
        # NOT swallow a downstream extraction failure — the reference still
        # returns trafilatura errors after the Content-Type gate passes
        # (fetcher.go:89-105). text/plain is the one exemption: its
        # extract_error is expected (no markup) and the body is delivered
        # verbatim via __plain_text below. Byte-sniff 415 when no header.
        F.when(
            F.col("__ctype").isNotNull(),
            F.coalesce(
                content_type_error(F.col("__ctype")),
                F.when(
                    mime_type(F.col("__ctype")) != "text/plain",
                    F.col("extract_error"),
                ),
            ),
        ).otherwise(F.col("extract_error")),
    )
    out = extracted.withColumns({"status_code": status, "error": error})
    ok = F.col("error").isNull()
    # error rows echo the requested URL (reference: RequestedURL, no canonical)
    canonical = F.when(ok, F.col(CANONICAL_URL)).otherwise(F.col("parsed_url"))
    fetch_time = stamp_fetch_time()
    cols = {c: F.when(ok, F.col(c)) for c in _EXTRACTED_FIELDS}
    cols.update(
        key=F.when(ok, F.col(CANONICAL_KEY)).otherwise(F.col("key")),
        url=canonical,
        hostname=hostname_col(canonical),
        fetch_time=fetch_time,
        fetch_method=(
            F.coalesce(F.col("__fetch_method"), F.lit(FETCH_METHOD_DIRECT))
            if "__fetch_method" in extracted.columns
            else F.lit(FETCH_METHOD_DIRECT)
        ),
        user_agent=(
            F.col("__user_agent")
            if "__user_agent" in extracted.columns
            else F.lit(None).cast("string")
        ),
        headers=(
            F.col("__headers")
            if "__headers" in extracted.columns
            else F.lit(None).cast("map<string,string>")
        ),
        expires=expires_at(fetch_time, ttl_seconds),
        authors=F.when(ok, author_split("author")),
        # text/plain is whitelisted but carries no markup — the content IS
        # the body (trafilatura extracts it verbatim; fetcher_test.go:203-207)
        content_text=F.when(
            ok, F.coalesce(F.col("content_text"), F.col("__plain_text"))
        ),
    )
    projection = [cols.get(c, F.col(c)).alias(c) for c in RESULT_COLS]
    if keep_requested_key:
        projection.append(F.col("key").alias(REQUESTED_KEY))
    return out.select(*projection)


def _live_pages(misses: DataFrame, live) -> DataFrame:
    """Materialize the fetch stage from the real network (S1/S3 live path):
    only MISS rows are fetched, each routed per-row to the direct or
    headless client with its settings-resolved UA/headers riding along
    (settings/domain.go:43-49). Cached — the network is not idempotent, so
    recomputes must not refetch."""
    from scrape_spark.sources.live import fetch_pages

    routed = misses.filter(F.col("parsed_url").isNotNull()).select(
        F.col("parsed_url").alias("url"),
        F.when(
            F.col("__fetch_method") == FETCH_METHOD_HEADLESS,
            F.lit("chromium-headless"),
        )
        .otherwise(F.lit("direct"))
        .alias("fetch_client"),
        F.col("__user_agent").alias("user_agent"),
        F.col("__headers").alias("headers"),
    )
    return fetch_pages(routed, live).cache()


def batch_extract(
    spark: SparkSession,
    requests: DataFrame,
    pages: DataFrame | None = None,
    store: UrlStore | None = None,
    save: bool = True,
    settings=None,
    fetch_method: int = FETCH_METHOD_DIRECT,
    live=None,
) -> DataFrame:
    """Full batch pipeline. With a store: memoized (hits skip the fetch stage
    and the MERGE, and keep their stored fetch_time — parity with
    internal/scrape_test.go's cache-hit stability assertion); without:
    straight fetch+extract. With ``save`` the returned frame is the one
    cache the call leaves behind: ``unpersist()`` it when done.

    Fetch-client routing (S3): ``fetch_method`` is the batch-level client —
    FETCH_METHOD_HEADLESS reproduces the reference's /extract/headless
    surface (internal/server/routes.go:41-42), which forces the headless
    client for the whole batch. A ``settings`` DomainSettingsStore overrides
    per host: a domain whose fetch_client is 'chromium-headless' routes its
    requests through the headless client (internal/scrape.go:54-58,
    settings/domain.go:43-49). In this engine both clients resolve to the
    same corpus equi-join (there is no browser in the sandbox) — the routing
    decision, the broadcast settings join, and the fetch_method provenance
    on every result row are the real, tested surface. With ``live`` (a
    :class:`scrape_spark.sources.live.LiveFetchConfig`) the corpus join is
    replaced by REAL network fetches of the miss rows — direct urllib or a
    headless-Chrome CDP endpoint per the same routing — and ``pages`` may
    be None."""
    if pages is None and live is None:
        raise ValueError("batch_extract needs a pages corpus or live=LiveFetchConfig")
    req = prepare_requests(requests)
    req = req.withColumn("__fetch_method", F.lit(fetch_method))
    if settings is not None:
        # Per-domain routing AND provenance: the resolved user_agent/headers
        # ride the request (and land on the result row) — parity with the
        # reference handing them to the fetch client (settings/domain.go:43-49).
        req = (
            settings.join_fetch_config(
                req.withColumn("__host", hostname_col(F.col("parsed_url"))), "__host"
            )
            .withColumn(
                "__fetch_method",
                F.when(
                    F.col("fetch_client") == "chromium-headless",
                    F.lit(FETCH_METHOD_HEADLESS),
                ).otherwise(F.col("__fetch_method")),
            )
            .withColumnRenamed("user_agent", "__user_agent")
            .withColumnRenamed("headers", "__headers")
            .drop("__host", "sitename", "fetch_client")
        )
    else:
        req = req.withColumn("__user_agent", F.lit(None).cast("string")).withColumn(
            "__headers", F.lit(None).cast("map<string,string>")
        )
    # In-flight dedupe by requested key — strictly stronger than the
    # reference's REPLACE-race (SURVEY §2.8), same observable store state.
    # Invalid URLs have key = NULL; dropDuplicates treats NULLs as equal, so
    # dedupe on coalesce(key, hash(original_url)) — the reference emits one
    # error row per malformed input (internal/scrape.go:170-177).
    # The deduped batch is then spread over every core, as the crawl epoch
    # and the live fetch do: the dedupe's shuffle is small enough that AQE
    # coalesces it to one partition, which would run the fetch join and the
    # extraction in one task. A REPARTITION_BY_NUM exchange is never
    # coalesced; it hashes an expression of the key, since a bare-key
    # repartition matches the aggregate's own partitioning and can be
    # dropped as redundant.
    req = (
        req.withColumn(
            "__dedupe_key", F.coalesce(F.col("key"), F.xxhash64("original_url"))
        )
        .dropDuplicates(["__dedupe_key"])
        .repartition(
            spark.sparkContext.defaultParallelism, F.xxhash64("__dedupe_key")
        )
        .drop("__dedupe_key")
    )

    if store is None:
        if pages is None:
            pages = _live_pages(req, live)
        return finalize_results(fetch_join(req, pages), ttl_seconds=30 * 24 * 3600)

    req = req.cache()  # consumed by the bucket-prune pass, hits, and misses
    # Bucket-pruned cache probe: the store is hash-bucketed by key, so a batch
    # only opens the buckets its canonical keys hash to — at 100 TB a batch
    # never pays a full-table scan (same pattern as UrlStore.fetch). One
    # pass over the batch discovers the buckets for BOTH tables (r6).
    resolved, probe_buckets = store.resolve_keys_pruned(req)
    fresh = store.urls.read(buckets=probe_buckets).filter(
        F.col("expires") > F.current_timestamp()
    )
    fresh = fresh.select([F.col(c).alias(f"s_{c}") for c in fresh.columns])
    # NOT cached (r6): the hit branch needs the store payload once, and the
    # miss branch's s_key-null filter prunes the store side to a
    # (key, expires) column scan — materializing the full hit payload to
    # block storage cost more than the second pruned scan at every
    # measured size (req stays cached; Spark broadcasts the pruned id_map
    # side when its estimate is under autoBroadcastJoinThreshold).
    joined = resolved.join(
        fresh, resolved["canonical_key"] == fresh["s_key"], "left"
    )

    hits = joined.filter(F.col("s_key").isNotNull())
    # URL_STORE_SCHEMA is RESULT_SCHEMA minus original_url: every other
    # result column comes from its s_-prefixed store column
    hit_results = hits.select(
        *[
            F.col(c) if c == "original_url" else F.col(f"s_{c}").alias(c)
            for c in RESULT_COLS
        ]
    )

    misses = joined.filter(F.col("s_key").isNull()).select(
        "original_url", "parsed_url", "key", "request_error",
        "__fetch_method", "__user_agent", "__headers",
    )
    own_pages = None
    if pages is None:
        # live path: fetch ONLY the misses
        own_pages = pages = _live_pages(misses, live)
    fetched = finalize_results(
        fetch_join(misses, pages), store.ttl_seconds, keep_requested_key=save
    )
    if not save:
        return hit_results.unionByName(fetched)

    # Commit only what this batch fetched (StorageBackedFetcher saves after
    # a miss, internal/scrape.go:86-93): hits are already stored as-is, so
    # re-merging them would write ~the whole hit payload again and add a
    # delta generation to every bucket for nothing.
    fetched = fetched.cache()
    store.merge(fetched)  # materializes the fetched cache
    results = hit_results.unionByName(_as_result(fetched)).cache()
    results.count()
    # the returned frame now reads its own cache — the upstream caches are
    # dead weight (leaking one per batch degrades long sessions / crawl
    # loops, and a leaked plan would be silently reused by the next
    # identical batch)
    fetched.unpersist()
    req.unpersist()
    if own_pages is not None:
        own_pages.unpersist()
    return results


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Adapter: wrap the driver's `documents` table as a pages corpus
    (vectorized column concat — used by entry() so the flagship plan runs
    directly over /root/testdata parquet)."""
    url = F.concat(
        F.lit("https://doc"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".test/d/"),
        F.col("doc_id").cast("string"),
    )
    html = F.concat(
        F.lit('<!DOCTYPE html>\n<html lang="'), F.col("lang"),
        F.lit('">\n<head>\n<title>Document '), F.col("doc_id").cast("string"),
        F.lit('</title>\n<meta name="description" content="doc from '), F.col("source"),
        F.lit('">\n<meta name="author" content="Gen '), F.col("source"),
        F.lit('">\n<meta property="og:site_name" content="'), F.col("source"),
        F.lit('">\n<meta property="og:url" content="'), url,
        F.lit('">\n<meta property="og:type" content="article">\n</head>\n<body>\n<article>\n<h1>Document '),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\n<p>"), F.col("text"), F.lit("</p>\n</article>\n</body>\n</html>\n"),
    )
    return docs.select(
        url.alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(html, "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
