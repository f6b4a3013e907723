"""Live fetch source (S1/S3 real-network path): materialize a
``PAGES_FETCH_SCHEMA``-shaped DataFrame by actually fetching URLs from the
executors — direct HTTP via urllib, or rendered HTML via a headless Chrome
DevTools Protocol endpoint.

The engine models fetch as a join against "the web" table; everything
downstream (status taxonomy, Content-Type gate, charset tier, extraction,
store merge) consumes a pages table and never knows where it came from. This
module produces that table from the real network, so the same
``batch_extract`` plan runs against a parquet corpus in tests and against
live sites in production:

    pages = fetch_pages(urls_df, LiveFetchConfig(...))
    batch_extract(spark, urls_df, pages, store=...)

``fetch_pages`` takes one request shape: a ``url`` column plus, optionally,
per-row ``fetch_client`` ('chromium-headless' routes through the CDP
endpoint, anything else is direct), ``user_agent`` and ``headers``
(map<string,string>) columns, which override the config's User-Agent and
add to its headers. The per-domain settings routing (J3/S3) fills them.

Side inputs (robots.txt, sitemaps, feeds) need only the bodies of the URLs
that answer 200: :func:`body_fetcher` returns that, from the network or
from a pages corpus, and is the one place those callers fork on the mode.

Reference parity:

- Direct client ≙ the trafilatura fetcher's http.Client
  (fetch/trafilatura/fetcher.go:89-95): follows redirects like Go's
  http.Client (urllib's 10-hop cap matches), maps client timeouts to 504
  (fetch/client.go:70-81), keeps the Content-Type header verbatim for the
  F2 gate.
- Headless client ≙ internal/headless/fetch_client.go:26-53, which drives
  Chrome through github.com/efixler/headless over the DevTools Protocol.
  Here the CDP session is spoken directly (public protocol: /json
  discovery + WebSocket per tab): Network/Page enable, optional
  Network.setUserAgentOverride / Network.setExtraHTTPHeaders (≙ the
  reference's UserAgentIfNotEmpty option and tab.Get(url, headers)),
  Page.navigate, wait for Page.loadEventFired, main-document status +
  MIME from Network.responseReceived, then Runtime.evaluate of
  document.documentElement.outerHTML — the rendered DOM, which is the
  point of the headless path. MaxTabs ≙ ``max_concurrent`` (the reference
  uses 6 server-side, 1 in the CLI).

Scale notes (100 TB / 10^9-URL batch): URLs are repartitioned by salted
host hash before the fetch (O2) so one hot host cannot skew an executor and
per-host connection reuse/politeness stays partition-local; each partition
runs a bounded thread pool (``max_concurrent`` live connections per task,
so cluster-wide concurrency = tasks × max_concurrent, a first-class knob);
failures never kill the stage — they degrade to the same status taxonomy
the corpus model uses (timeout ⇒ 504, unreachable ⇒ 599, HTTP errors keep
their code). The output is non-deterministic across recomputes (the network
is not idempotent) — persist it (cache/checkpoint/parquet) before fan-out,
as ``batch_extract(live=...)`` does.
"""

from __future__ import annotations

import json
import socket
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Iterable, Iterator
from urllib.parse import quote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scrape_spark.functions.urlkeys import hostname_col, salted_host_hash
from scrape_spark.sources.ws import WebSocket, WebSocketClosed

# Network-unreachable (DNS failure, connection refused, reset): no HTTP
# status exists. 599 is the de facto "network connect error" convention and
# keeps such rows inside the pipeline's status taxonomy (F4 turns any
# non-2xx into an HTTP error row) instead of needing a side channel.
STATUS_UNREACHABLE = 599
# Client-side timeout ≙ the reference mapping context.DeadlineExceeded →
# 504 Gateway Timeout (fetch/client.go:70-81).
STATUS_TIMEOUT = 504

DEFAULT_UA = "Mozilla/5.0 (compatible; scrape-spark/1.0)"


@dataclass(frozen=True)
class LiveFetchConfig:
    """Picklable fetch-stage configuration shipped to executors."""

    user_agent: str = DEFAULT_UA
    timeout: float = 30.0
    max_concurrent: int = 6  # per-task live connections (MaxTabs parity)
    headless_endpoint: str | None = None  # http://host:port of a CDP browser
    headers: dict[str, str] | None = None


# ---- direct HTTP client ------------------------------------------------------


class DirectClient:
    """urllib-backed fetch.Client (identifier: 'direct').

    Returns ``(status, content_type, body_bytes)``. Redirects are followed
    transparently (the stored row keys on the REQUESTED url — parity with
    the reference keying on the request and taking the canonical from
    og:url). Body bytes are raw — charset decode happens downstream in the
    extraction tier.
    """

    identifier = "direct"

    def __init__(self, cfg: LiveFetchConfig):
        self.cfg = cfg
        # build_opener installs urllib's HTTPRedirectHandler: 10 hops, the
        # same cap as Go's http.Client
        self._opener = urllib.request.build_opener()

    def get(
        self,
        url: str,
        headers: dict[str, str] | None = None,
        user_agent: str | None = None,
    ):
        req = urllib.request.Request(url)
        req.add_header("User-Agent", user_agent or self.cfg.user_agent)
        for k, v in (self.cfg.headers or {}).items():
            req.add_header(k, v)
        for k, v in (headers or {}).items():
            req.add_header(k, v)
        try:
            with self._opener.open(req, timeout=self.cfg.timeout) as resp:
                body = resp.read()
                ctype = resp.headers.get("Content-Type")
                return resp.status, ctype, body
        except urllib.error.HTTPError as e:
            # Final non-2xx response (incl. "too many redirects" surfaced
            # with the last 3xx code): a real HTTP answer — keep it.
            try:
                body = e.read()
            except OSError:
                body = None
            return e.code, e.headers.get("Content-Type") if e.headers else None, body
        except (TimeoutError, socket.timeout):
            return STATUS_TIMEOUT, None, None
        except urllib.error.URLError as e:
            if isinstance(e.reason, (TimeoutError, socket.timeout)):
                return STATUS_TIMEOUT, None, None
            return STATUS_UNREACHABLE, None, None
        except OSError:
            return STATUS_UNREACHABLE, None, None

    def close(self) -> None:  # symmetry with CdpClient
        pass


# ---- CDP (headless Chrome) client --------------------------------------------


class CdpError(OSError):
    pass


class CdpClient:
    """Chrome DevTools Protocol fetch.Client (identifier:
    'chromium-headless'). One tab per ``get`` — acquire, drive, close —
    mirroring the reference's AcquireTab/Get per request
    (internal/headless/fetch_client.go:47-53)."""

    identifier = "chromium-headless"

    def __init__(self, cfg: LiveFetchConfig):
        if not cfg.headless_endpoint:
            raise CdpError("headless fetch requested but no endpoint configured")
        self.cfg = cfg
        self.endpoint = cfg.headless_endpoint.rstrip("/")

    # /json tab management: PUT on modern Chrome (≥111 rejects GET for
    # state-changing /json verbs), GET fallback for older builds.
    def _json_call(self, path: str) -> dict | None:
        last: Exception | None = None
        for method in ("PUT", "GET"):
            try:
                req = urllib.request.Request(self.endpoint + path, method=method)
                with urllib.request.urlopen(req, timeout=self.cfg.timeout) as r:
                    raw = r.read()
                    return json.loads(raw) if raw.strip() else None
            except urllib.error.HTTPError as e:
                last = e
                continue
            except (OSError, ValueError) as e:
                raise CdpError(f"CDP endpoint {path}: {e}") from e
        raise CdpError(f"CDP endpoint {path}: {last}")

    def get(
        self,
        url: str,
        headers: dict[str, str] | None = None,
        user_agent: str | None = None,
    ):
        tab = self._json_call("/json/new?" + quote(url, safe=""))
        if not tab or "webSocketDebuggerUrl" not in tab:
            raise CdpError(f"/json/new returned no tab: {tab!r}")
        tab_id = tab.get("id", "")
        try:
            return self._drive(tab["webSocketDebuggerUrl"], url, headers, user_agent)
        finally:
            try:
                self._json_call("/json/close/" + tab_id)
            except CdpError:
                pass  # tab leak is the browser's GC problem, not fatal

    def _drive(
        self,
        ws_url: str,
        url: str,
        headers: dict[str, str] | None,
        user_agent: str | None = None,
    ):
        deadline_budget = self.cfg.timeout
        with WebSocket.connect(ws_url, timeout=deadline_budget) as ws:
            next_id = 1
            pending: dict[int, None] = {}
            events: list[dict] = []

            def call(method: str, params: dict | None = None) -> dict:
                nonlocal next_id
                mid = next_id
                next_id += 1
                ws.send_text(
                    json.dumps({"id": mid, "method": method, "params": params or {}})
                )
                while True:
                    msg = json.loads(ws.recv_text(timeout=deadline_budget))
                    if msg.get("id") == mid:
                        if "error" in msg:
                            raise CdpError(f"{method}: {msg['error']}")
                        return msg.get("result", {})
                    if "method" in msg:
                        events.append(msg)

            call("Network.enable")
            ua = user_agent or self.cfg.user_agent
            if ua:
                call("Network.setUserAgentOverride", {"userAgent": ua})
            merged = {**(self.cfg.headers or {}), **(headers or {})}
            if merged:
                call("Network.setExtraHTTPHeaders", {"headers": merged})
            call("Page.enable")
            nav = call("Page.navigate", {"url": url})
            if nav.get("errorText"):
                return STATUS_UNREACHABLE, None, None

            status: int | None = None
            mime: str | None = None
            loaded = any(e.get("method") == "Page.loadEventFired" for e in events)
            for e in events:
                if (
                    e.get("method") == "Network.responseReceived"
                    and e.get("params", {}).get("type") == "Document"
                    and status is None
                ):
                    r = e["params"]["response"]
                    status, mime = int(r.get("status", 0)), r.get("mimeType")
            try:
                while not loaded:
                    msg = json.loads(ws.recv_text(timeout=deadline_budget))
                    m = msg.get("method")
                    if (
                        m == "Network.responseReceived"
                        and msg.get("params", {}).get("type") == "Document"
                        and status is None
                    ):
                        r = msg["params"]["response"]
                        status, mime = int(r.get("status", 0)), r.get("mimeType")
                    elif m == "Page.loadEventFired":
                        loaded = True
            except (TimeoutError, socket.timeout):
                return STATUS_TIMEOUT, None, None
            except WebSocketClosed:
                return STATUS_UNREACHABLE, None, None

            dom = call(
                "Runtime.evaluate",
                {
                    "expression": "document.documentElement.outerHTML",
                    "returnByValue": True,
                },
            )
            html = dom.get("result", {}).get("value")
            body = html.encode("utf-8") if isinstance(html, str) else None
            # The DOM serialization is unicode re-encoded as UTF-8 whatever
            # the wire charset was — say so in the ctype, or the downstream
            # charset tier would trust a stale wire charset param.
            ctype = (mime or "text/html") + "; charset=utf-8"
            return status if status is not None else 200, ctype, body


# ---- the Spark source --------------------------------------------------------

_FETCH_OUT_SCHEMA = (
    "url string, html binary, ctype string, status int, fetch_client string"
)


def _fetch_partition_factory(cfg: LiveFetchConfig):
    """Build the mapInPandas function. Runs on executors: one client pair
    per partition (connection/browser reuse), a bounded thread pool, and
    per-row client choice on the ``fetch_client`` column."""
    import pandas as pd

    def run(batches: Iterable["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        direct = DirectClient(cfg)
        cdp: CdpClient | None = None

        def one(url: str, client: str | None, ua, headers):
            nonlocal cdp
            # Arrow hands a map<string,string> cell over as a dict or a
            # list of (k, v) pairs; absent = None/NaN.
            if headers is None or isinstance(headers, float):
                hdrs = None
            else:
                hdrs = dict(headers) or None
            ua = ua if isinstance(ua, str) and ua else None
            try:
                if client == "chromium-headless":
                    if cdp is None:
                        cdp = CdpClient(cfg)
                    return cdp.get(url, headers=hdrs, user_agent=ua)
                return direct.get(url, headers=hdrs, user_agent=ua)
            except Exception:
                return STATUS_UNREACHABLE, None, None

        with ThreadPoolExecutor(max_workers=max(1, cfg.max_concurrent)) as pool:
            for pdf in batches:
                urls = pdf["url"].tolist()
                n = len(urls)
                clients = (
                    pdf["fetch_client"].tolist()
                    if "fetch_client" in pdf.columns
                    else [None] * n
                )
                uas = (
                    pdf["user_agent"].tolist()
                    if "user_agent" in pdf.columns
                    else [None] * n
                )
                hdr = (
                    pdf["headers"].tolist()
                    if "headers" in pdf.columns
                    else [None] * n
                )
                results = list(pool.map(one, urls, clients, uas, hdr))
                yield pd.DataFrame(
                    {
                        "url": urls,
                        "html": [r[2] for r in results],
                        "ctype": [r[1] for r in results],
                        "status": pd.array(
                            [r[0] for r in results], dtype="Int32"
                        ),
                        "fetch_client": [
                            c if c == "chromium-headless" else "direct"
                            for c in clients
                        ],
                    }
                )

    return run


def fetch_pages(urls_df: DataFrame, cfg: LiveFetchConfig | None = None) -> DataFrame:
    """Fetch every URL in ``urls_df`` over the real network and return a
    pages table (PAGES_FETCH_SCHEMA shape: url/html/ctype/status, plus
    fetch_client provenance; redirect_to is absent — the HTTP clients
    follow redirects themselves, so the corpus-model hop machinery is
    skipped, exactly like the reference's http.Client).

    ``urls_df`` has the request shape in the module docstring: ``url`` and
    any of ``fetch_client``, ``user_agent`` and ``headers``; other columns
    are dropped.

    The result is network-non-deterministic: persist before branching on
    it. ``batch_extract(live=...)`` caches it; a crawl epoch writes it to
    the epoch directory.
    """
    cfg = cfg or LiveFetchConfig()
    cols = ("url", "fetch_client", "user_agent", "headers")
    df = urls_df.select(*[c for c in cols if c in urls_df.columns])
    df = df.dropDuplicates(["url"])
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism,
        salted_host_hash(hostname_col(F.col("url"))),
    )
    return df.mapInPandas(_fetch_partition_factory(cfg), _FETCH_OUT_SCHEMA)


def body_fetcher(pages: DataFrame | None = None, cfg: LiveFetchConfig | None = None):
    """``urls_df(url) -> (url, html)`` for side inputs (robots.txt,
    sitemaps, feeds): one row, ``html`` binary, for each URL that answers
    200 and no row for any other URL, so every caller treats an error
    status like an absent page. This is the status gate the batch path
    applies before it reads a body (``finalize_results``; reference
    fetcher.go:52-95).

    Without ``pages`` the URLs are fetched over the network with ``cfg``.
    With ``pages`` they are read from that corpus, where a missing or null
    ``status`` counts as 200. The corpus is the streamed side of a
    left-semi join and the URL set its build side, so a small URL set
    broadcasts and the corpus is read in place."""
    if pages is None:
        return lambda urls: (
            fetch_pages(urls, cfg).where(F.col("status") == 200).select("url", "html")
        )
    status = F.col("status") if "status" in pages.columns else F.lit(None)
    ok = pages.where(F.coalesce(status, F.lit(200)) == 200).select(
        "url", F.col("html").cast("binary").alias("html")
    )
    return lambda urls: ok.join(urls.select("url"), "url", "left_semi")
