"""Live fetch layer (S1/S3 real-network path): the RFC 6455 WebSocket
client, the direct urllib client, the CDP headless client, and the
``fetch_pages`` Spark source — all against in-process stub servers (a stub
website and a stub Chrome /json + DevTools endpoint), no browser and no
external network.

Reference parity targets: fetch/client.go (timeout→504), the Go
http.Client's 10-hop redirect follow (fetcher_test.go:68-111),
internal/headless/fetch_client.go:26-53 (tab-per-get CDP drive, UA
override, per-request headers).
"""

from __future__ import annotations

import base64
import hashlib
import json
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

import pytest
from pyspark.sql import functions as F

from scrape_spark.sources.live import (
    STATUS_TIMEOUT,
    STATUS_UNREACHABLE,
    CdpClient,
    DirectClient,
    LiveFetchConfig,
    fetch_pages,
)
from scrape_spark.sources.ws import WebSocket, WebSocketClosed

# ---- stub website ------------------------------------------------------------

ARTICLE = (
    "<!DOCTYPE html><html><head><title>Live Page</title>"
    '<meta name="description" content="a live page">'
    '<meta name="author" content="Live Author">'
    '<meta property="og:type" content="article">'
    "</head><body><article><h1>Live Page</h1>"
    "<p>Content fetched over a real socket.</p></article></body></html>"
).encode()

LATIN = (
    b"<!DOCTYPE html><html><head><title>Caf\xe9</title></head>"
    b"<body><article><p>R\xe9sum\xe9 text.</p></article></body></html>"
)


# a small interlinked site for the live-crawl test: root links (relative,
# single-quoted, absolute-path mix — the spec-v4 resolver forms) to a, b and
# a robots-disallowed page; a links to c; c is a leaf
def _site_page(title: str, links: list[str]) -> bytes:
    anchors = "".join(
        f"<a href={q}{h}{q}>x</a>"
        for h, q in zip(links, ["'", '"'] * len(links))
    )
    return (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        '<meta property="og:type" content="article"></head>'
        f"<body><article><h1>{title}</h1><p>Body of {title}.</p>"
        f"{anchors}</article></body></html>"
    ).encode()


MINI_SITE = {
    "/site/": _site_page("Home", ["a", "/site/b", "/site/private/x"]),
    "/site/a": _site_page("Page A", ["c"]),
    "/site/b": _site_page("Page B", ["/site/a"]),
    "/site/c": _site_page("Page C", []),
    "/site/private/x": _site_page("Secret", []),
}

ROBOTS_TXT = b"User-agent: *\nDisallow: /site/private\n"


def _feed_xml(base: str) -> bytes:
    return (
        '<?xml version="1.0"?><rss version="2.0"><channel>'
        "<title>Live Feed</title>"
        f"<item><title>A</title><link>{base}/site/a</link></item>"
        f"<item><title>B</title><link>{base}/site/b</link></item>"
        "</channel></rss>"
    ).encode()


class _SiteHandler(BaseHTTPRequestHandler):
    seen: list[tuple[str, str | None]] = []  # (path, user-agent)

    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):
        type(self).seen.append((self.path, self.headers.get("User-Agent")))
        if self.path in MINI_SITE:
            self._page(200, "text/html; charset=utf-8", MINI_SITE[self.path])
        elif self.path == "/robots.txt":
            self._page(200, "text/plain", ROBOTS_TXT)
        elif self.path == "/feed.xml":
            base = f"http://{self.headers.get('Host')}"
            self._page(200, "application/rss+xml", _feed_xml(base))
        elif self.path == "/":
            self._page(200, "text/html; charset=utf-8", ARTICLE)
        elif self.path == "/latin":
            self._page(200, "text/html; charset=iso-8859-1", LATIN)
        elif self.path == "/redir":
            self.send_response(301)
            self.send_header("Location", "/")
            self.end_headers()
        elif self.path == "/loop":
            self.send_response(302)
            self.send_header("Location", "/loop")
            self.end_headers()
        elif self.path == "/slow":
            time.sleep(3)
            self._page(200, "text/html", ARTICLE)
        else:
            self._page(404, "text/html", b"<html><body>gone</body></html>")

    def _page(self, status, ctype, body):
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def site():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


# ---- stub CDP browser (HTTP /json discovery + DevTools WebSocket) ------------

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def _server_handshake(conn: socket.socket) -> WebSocket:
    """Accept an RFC 6455 client handshake and wrap the socket. The client
    tolerates masked server frames, so the stub reuses the client
    WebSocket class for frame I/O."""
    data = b""
    while b"\r\n\r\n" not in data:
        chunk = conn.recv(4096)
        if not chunk:
            raise OSError("client hung up during handshake")
        data += chunk
    head, rest = data.split(b"\r\n\r\n", 1)
    key = ""
    for line in head.decode("latin-1").split("\r\n"):
        if line.lower().startswith("sec-websocket-key:"):
            key = line.split(":", 1)[1].strip()
    accept = base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()
    ).decode()
    conn.sendall(
        (
            "HTTP/1.1 101 Switching Protocols\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Accept: {accept}\r\n\r\n"
        ).encode()
    )
    ws = WebSocket(conn)
    ws._buf = rest
    return ws


def rendered_for(url: str) -> str:
    return (
        f"<html><head><title>Rendered {url}</title>"
        '<meta property="og:type" content="article"></head>'
        "<body><article><h1>Rendered</h1>"
        "<p>DOM content only a browser would see.</p></article></body></html>"
    )


class StubCdp:
    """Emulates Chrome's /json discovery surface and a per-tab DevTools
    WebSocket: answers the Network/Page/Runtime methods the client drives,
    emits Network.responseReceived + Page.loadEventFired on navigate, and
    serves a 'rendered' DOM via Runtime.evaluate."""

    def __init__(self):
        self.calls: list[dict] = []  # every CDP method call, recorded
        self.json_reqs: list[tuple[str, str]] = []  # (method, path)
        self.pages = {}  # url -> (status, mime) override; default (200, text/html)

        self.ws_listener = socket.socket()
        self.ws_listener.bind(("127.0.0.1", 0))
        self.ws_listener.listen(16)
        self.ws_port = self.ws_listener.getsockname()[1]
        threading.Thread(target=self._ws_loop, daemon=True).start()

        stub = self

        class H(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _handle(self):
                stub.json_reqs.append((self.command, self.path))
                if self.path.startswith("/json/new"):
                    body = json.dumps(
                        {
                            "id": "TAB1",
                            "webSocketDebuggerUrl": f"ws://127.0.0.1:{stub.ws_port}/devtools/page/TAB1",
                        }
                    ).encode()
                elif self.path.startswith("/json/close"):
                    body = b""
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            do_GET = do_PUT = _handle

        self.http = ThreadingHTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=self.http.serve_forever, daemon=True).start()
        self.endpoint = f"http://127.0.0.1:{self.http.server_address[1]}"

    def _ws_loop(self):
        while True:
            try:
                conn, _ = self.ws_listener.accept()
            except OSError:
                return
            threading.Thread(
                target=self._session, args=(conn,), daemon=True
            ).start()

    def _session(self, conn):
        try:
            ws = _server_handshake(conn)
            nav_url = None
            while True:
                msg = json.loads(ws.recv_text(timeout=10))
                self.calls.append(msg)
                mid, method = msg.get("id"), msg.get("method")
                if method == "Page.navigate":
                    nav_url = msg["params"]["url"]
                    status, mime = self.pages.get(nav_url, (200, "text/html"))
                    ws.send_text(json.dumps({"id": mid, "result": {"frameId": "F1"}}))
                    ws.send_text(
                        json.dumps(
                            {
                                "method": "Network.responseReceived",
                                "params": {
                                    "type": "Document",
                                    "response": {"status": status, "mimeType": mime},
                                },
                            }
                        )
                    )
                    ws.send_text(
                        json.dumps({"method": "Page.loadEventFired", "params": {}})
                    )
                elif method == "Runtime.evaluate":
                    ws.send_text(
                        json.dumps(
                            {
                                "id": mid,
                                "result": {
                                    "result": {
                                        "type": "string",
                                        "value": rendered_for(nav_url),
                                    }
                                },
                            }
                        )
                    )
                else:
                    ws.send_text(json.dumps({"id": mid, "result": {}}))
        except (WebSocketClosed, OSError, ValueError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def shutdown(self):
        self.http.shutdown()
        self.ws_listener.close()


@pytest.fixture(scope="module")
def cdp():
    stub = StubCdp()
    yield stub
    stub.shutdown()


# ---- WebSocket unit ----------------------------------------------------------

class TestWebSocket:
    @pytest.fixture()
    def echo(self):
        """Raw echo WS server: handshake, then echo every text message;
        first sends one unsolicited ping to exercise transparent pong."""
        lst = socket.socket()
        lst.bind(("127.0.0.1", 0))
        lst.listen(1)
        got_pong = threading.Event()

        def serve():
            conn, _ = lst.accept()
            ws = _server_handshake(conn)
            from scrape_spark.sources.ws import OP_PING

            ws._send_frame(OP_PING, b"hb")
            try:
                while True:
                    # echo; the client's pong is consumed inside recv paths
                    ws.send_text(ws.recv_text(timeout=10))
            except (WebSocketClosed, OSError):
                pass
            # inspect whether a pong arrived in the buffer is covered by
            # protocol conformance below; the event stays best-effort
            got_pong.set()

        threading.Thread(target=serve, daemon=True).start()
        yield f"ws://127.0.0.1:{lst.getsockname()[1]}/echo"
        lst.close()

    def test_roundtrip_small_and_large(self, echo):
        with WebSocket.connect(echo) as ws:
            ws.send_text("hello")
            assert ws.recv_text(timeout=5) == "hello"
            big = "x" * 200_000  # 64-bit length frames both directions
            ws.send_text(big)
            assert ws.recv_text(timeout=5) == big
            mid = "y" * 1000  # 16-bit length path
            ws.send_text(mid)
            assert ws.recv_text(timeout=5) == mid

    def test_close_raises(self, echo):
        ws = WebSocket.connect(echo)
        ws.close()
        with pytest.raises((WebSocketClosed, OSError)):
            ws.send_text("after close")

    def test_bad_scheme(self):
        with pytest.raises(OSError):
            WebSocket.connect("wss://127.0.0.1:1/x")


# ---- DirectClient ------------------------------------------------------------

class TestDirectClient:
    def test_ok_page(self, site):
        c = DirectClient(LiveFetchConfig(timeout=5))
        status, ctype, body = c.get(site + "/")
        assert status == 200 and body == ARTICLE
        assert "text/html" in ctype

    def test_charset_passthrough(self, site):
        status, ctype, body = DirectClient(LiveFetchConfig()).get(site + "/latin")
        assert status == 200 and "iso-8859-1" in ctype and body == LATIN

    def test_redirect_followed_keyed_on_request(self, site):
        status, _, body = DirectClient(LiveFetchConfig()).get(site + "/redir")
        assert status == 200 and body == ARTICLE  # final hop's body

    def test_redirect_loop_caps_like_go(self, site):
        status, _, _ = DirectClient(LiveFetchConfig(timeout=5)).get(site + "/loop")
        assert status in (302, STATUS_UNREACHABLE)  # surfaced, never hangs

    def test_404(self, site):
        status, _, _ = DirectClient(LiveFetchConfig()).get(site + "/nope")
        assert status == 404

    def test_timeout_is_504(self, site):
        status, _, body = DirectClient(LiveFetchConfig(timeout=0.3)).get(
            site + "/slow"
        )
        assert status == STATUS_TIMEOUT and body is None

    def test_unreachable_is_599(self):
        # a port nothing listens on
        status, _, _ = DirectClient(LiveFetchConfig(timeout=2)).get(
            "http://127.0.0.1:1/x"
        )
        assert status == STATUS_UNREACHABLE

    def test_ua_and_headers_sent(self, site):
        _SiteHandler.seen.clear()
        c = DirectClient(LiveFetchConfig(user_agent="ua-test/9"))
        c.get(site + "/", user_agent="ua-override/1")
        assert _SiteHandler.seen[-1][1] == "ua-override/1"
        c.get(site + "/")
        assert _SiteHandler.seen[-1][1] == "ua-test/9"


# ---- CdpClient ---------------------------------------------------------------

class TestCdpClient:
    def test_rendered_dom(self, cdp, site):
        c = CdpClient(LiveFetchConfig(headless_endpoint=cdp.endpoint, timeout=5))
        url = site + "/"
        status, ctype, body = c.get(url)
        assert status == 200
        assert ctype.startswith("text/html") and "charset=utf-8" in ctype
        assert body == rendered_for(url).encode()

    def test_tab_lifecycle_and_ua(self, cdp, site):
        cdp.calls.clear()
        cdp.json_reqs.clear()
        c = CdpClient(
            LiveFetchConfig(
                headless_endpoint=cdp.endpoint,
                user_agent="headless-ua/2",
                headers={"X-Extra": "1"},
                timeout=5,
            )
        )
        c.get(site + "/page", headers={"X-Req": "2"})
        methods = [m.get("method") for m in cdp.calls]
        assert "Network.enable" in methods and "Page.enable" in methods
        ua = next(m for m in cdp.calls if m.get("method") == "Network.setUserAgentOverride")
        assert ua["params"]["userAgent"] == "headless-ua/2"
        hdr = next(m for m in cdp.calls if m.get("method") == "Network.setExtraHTTPHeaders")
        assert hdr["params"]["headers"] == {"X-Extra": "1", "X-Req": "2"}
        # tab opened and closed via /json (PUT-first parity with Chrome ≥111)
        assert any(p.startswith("/json/new") for _, p in cdp.json_reqs)
        assert any(p.startswith("/json/close") for _, p in cdp.json_reqs)
        assert cdp.json_reqs[0][0] == "PUT"

    def test_non_200_document_status(self, cdp, site):
        url = site + "/missing-js-page"
        cdp.pages[url] = (404, "text/html")
        c = CdpClient(LiveFetchConfig(headless_endpoint=cdp.endpoint, timeout=5))
        status, _, _ = c.get(url)
        assert status == 404

    def test_no_endpoint_configured(self):
        with pytest.raises(OSError):
            CdpClient(LiveFetchConfig())


# ---- fetch_pages on Spark ----------------------------------------------------

class TestFetchPages:
    def test_mixed_clients_end_to_end(self, spark, site, cdp):
        urls = [
            (site + "/", "direct"),
            (site + "/gone", "direct"),
            (site + "/latin", "direct"),
            (site + "/js-app", "chromium-headless"),
        ]
        df = spark.createDataFrame(urls, "url string, fetch_client string")
        cfg = LiveFetchConfig(headless_endpoint=cdp.endpoint, timeout=10)
        out = fetch_pages(df, cfg)
        rows = {r["url"]: r for r in out.collect()}
        assert rows[site + "/"]["status"] == 200
        assert bytes(rows[site + "/"]["html"]) == ARTICLE
        assert rows[site + "/"]["fetch_client"] == "direct"
        assert rows[site + "/gone"]["status"] == 404
        assert bytes(rows[site + "/latin"]["html"]) == LATIN
        assert "iso-8859-1" in rows[site + "/latin"]["ctype"]
        js = rows[site + "/js-app"]
        assert js["fetch_client"] == "chromium-headless"
        assert bytes(js["html"]) == rendered_for(site + "/js-app").encode()

    def test_batch_extract_live_no_store(self, spark, site):
        from scrape_spark.plans.batch_extract import batch_extract

        reqs = spark.createDataFrame(
            [(site + "/",), (site + "/gone",), ("not a url",)], "url string"
        )
        res = batch_extract(
            spark, reqs, pages=None, live=LiveFetchConfig(timeout=10)
        )
        by_orig = {r["original_url"]: r for r in res.collect()}
        ok = by_orig[site + "/"]
        assert ok["title"] == "Live Page" and ok["status_code"] == 200
        assert ok["error"] is None
        assert "real socket" in ok["content_text"]
        gone = by_orig[site + "/gone"]
        assert gone["status_code"] == 404 and gone["error"] is not None
        assert by_orig["not a url"]["error"] is not None

    def test_batch_extract_live_charset_tier(self, spark, site):
        from scrape_spark.plans.batch_extract import batch_extract

        reqs = spark.createDataFrame([(site + "/latin",)], "url string")
        res = batch_extract(spark, reqs, live=LiveFetchConfig(timeout=10))
        row = res.collect()[0]
        # the wire bytes are iso-8859-1; the charset tier must decode é
        assert row["title"] == "Café"
        assert "Résumé" in row["content_text"]

    def test_cli_extract_live(self, spark, site, capsys):
        from scrape_spark.cli import main

        rc = main(["extract", "--live", "--timeout", "10", site + "/"])
        assert rc == 0
        rows = json.loads(capsys.readouterr().out)
        assert rows[0]["title"] == "Live Page" and rows[0]["fetch_method"] == 1

    def test_cli_extract_live_headless(self, spark, site, cdp, capsys):
        from scrape_spark.cli import main

        url = site + "/js-only"
        rc = main(
            [
                "extract", "--live", "--headless",
                "--headless-endpoint", cdp.endpoint,
                "--timeout", "10", url,
            ]
        )
        assert rc == 0
        rows = json.loads(capsys.readouterr().out)
        assert rows[0]["title"] == f"Rendered {url}"
        assert rows[0]["fetch_method"] == 2

    def test_cli_live_headless_needs_endpoint(self, site, capsys):
        from scrape_spark.cli import main

        assert main(["extract", "--live", "--headless", site + "/"]) == 2

    def test_cli_needs_pages_or_live(self, capsys):
        from scrape_spark.cli import main

        assert main(["extract", "http://x.test/"]) == 2

    def test_cli_feed_live_extract(self, spark, site, capsys):
        """/feed → /batch journey fully over the wire: the feed XML is
        fetched live, item links fan out through the live batch pipeline."""
        from scrape_spark.cli import main

        rc = main(["feed", "--live", "--timeout", "10", "--extract", "--notext",
                   site + "/feed.xml"])
        assert rc == 0
        rows = json.loads(capsys.readouterr().out)
        assert {r["title"] for r in rows} == {"Page A", "Page B"}
        assert all(r["status_code"] == 200 for r in rows)

    def test_live_crawl_bfs_with_robots(self, spark, site, tmp_path):
        """A real BFS crawl over the wire: seeds the mini-site root,
        discovers outlinks from fetched HTML (relative + single-quoted +
        absolute-path forms through the spec-v4 resolver), discovers and
        obeys robots.txt live, memoizes into the store, and checkpoints
        each epoch's fetched bytes for refetch-free recomputes/resume."""
        import os

        from scrape_spark.operators.frontier import Crawl, CrawlConfig
        from scrape_spark.operators.store import UrlStore

        store = UrlStore(spark, str(tmp_path / "store"), n_buckets=4)
        crawl = Crawl(
            spark,
            str(tmp_path / "state"),
            store,
            pages=None,
            robots=None,  # discover /robots.txt over the network
            config=CrawlConfig(
                epoch_seconds=10.0, max_depth=4,
                user_agent="scrape-spark",
            ),
            live=LiveFetchConfig(timeout=10),
        )
        _SiteHandler.seen.clear()
        stats = crawl.run(3, seeds=[site + "/site/"])
        fetched = store.urls.read().select("url").toPandas()["url"].tolist()
        want = {site + p for p in ["/site/", "/site/a", "/site/b", "/site/c"]}
        assert want <= set(fetched)
        # robots obeyed: the disallowed page was never requested on the wire
        assert not any(p.startswith("/site/private") for p, _ in _SiteHandler.seen)
        assert site + "/site/private/x" not in fetched
        # robots.txt fetched exactly once (one host, state accumulated)
        assert sum(1 for p, _ in _SiteHandler.seen if p == "/robots.txt") == 1
        # every page fetched exactly once (seen-set + store memoization)
        site_hits = [p for p, _ in _SiteHandler.seen if p.startswith("/site/")]
        assert sorted(site_hits) == sorted(set(site_hits))
        # epoch checkpoints carry the fetched bytes (refetch-free resume)
        e0 = str(tmp_path / "state" / "epochs" / "e00000" / "fetched_pages.parquet")
        assert os.path.exists(os.path.join(e0, "_SUCCESS"))
        assert stats[0]["selected"] >= 1

    def test_batch_extract_live_store_memoizes(self, spark, site, tmp_path):
        from scrape_spark.operators.store import UrlStore
        from scrape_spark.plans.batch_extract import batch_extract

        store = UrlStore(spark, str(tmp_path / "live_store"), n_buckets=4)
        reqs = spark.createDataFrame([(site + "/",)], "url string")
        _SiteHandler.seen.clear()
        r1 = batch_extract(spark, reqs, store=store, live=LiveFetchConfig(timeout=10))
        r1.collect()
        fetched_once = [p for p, _ in _SiteHandler.seen if p == "/"]
        assert len(fetched_once) >= 1
        _SiteHandler.seen.clear()
        r2 = batch_extract(spark, reqs, store=store, live=LiveFetchConfig(timeout=10))
        rows = r2.collect()
        assert rows[0]["title"] == "Live Page"
        # cache hit: no network traffic at all on the second batch
        assert not any(p == "/" for p, _ in _SiteHandler.seen)
