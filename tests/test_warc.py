"""WARC ingestion: ISO 28500 segments (Common Crawl's distribution format)
→ PAGES_FETCH_SCHEMA, including the gzip member-per-record layout, chunked
transfer decoding, Content-Encoding decompression, redirect capture, and a
full segment → extract pipeline round trip."""

from __future__ import annotations

import gzip

import pytest

from scrape_spark.sources.warc import warc_pages
from tests.helpers import parse_warc_segment


def _http_response(
    body: bytes,
    status: bytes = b"200 OK",
    ctype: bytes = b"text/html",
    extra: bytes = b"",
) -> bytes:
    return (
        b"HTTP/1.1 " + status + b"\r\n"
        b"Content-Type: " + ctype + b"\r\n" + extra +
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )


def _record(rtype: bytes, uri: bytes, date: bytes, block: bytes) -> bytes:
    head = (
        b"WARC/1.1\r\n"
        b"WARC-Type: " + rtype + b"\r\n"
        b"WARC-Target-URI: " + uri + b"\r\n"
        b"WARC-Date: " + date + b"\r\n"
        b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-000000000001>\r\n"
        b"Content-Length: " + str(len(block)).encode() + b"\r\n\r\n"
    )
    return head + block + b"\r\n\r\n"


HTML_A = b"<html><head><title>A</title></head><body><article><p>alpha text</p></article></body></html>"
HTML_B = b"<html><head><title>B</title></head><body><article><p>beta text</p></article></body></html>"


def _segment() -> bytes:
    recs = [
        _record(  # warcinfo: skipped
            b"warcinfo", b"", b"2026-03-01T00:00:00Z", b"software: test\r\n"
        ),
        _record(  # request record: skipped
            b"request",
            b"https://wa.test/a",
            b"2026-03-01T00:00:01Z",
            b"GET /a HTTP/1.1\r\nHost: wa.test\r\n\r\n",
        ),
        _record(
            b"response",
            b"https://wa.test/a",
            b"2026-03-01T00:00:01Z",
            _http_response(HTML_A),
        ),
        _record(  # angle-bracketed URI form + gzip content-encoding
            b"response",
            b"<https://wa.test/b>",
            b"2026-03-01T00:00:02Z",
            _http_response(
                gzip.compress(HTML_B), extra=b"Content-Encoding: gzip\r\n"
            ),
        ),
        _record(  # chunked transfer encoding
            b"response",
            b"https://wa.test/c",
            b"2026-03-01T00:00:03Z",
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n"
            b"5\r\n<p>ch\r\n4\r\nunk!\r\n0\r\n\r\n",
        ),
        _record(  # redirect with Location
            b"response",
            b"https://wa.test/old",
            b"2026-03-01T00:00:04Z",
            b"HTTP/1.1 301 Moved\r\nLocation: https://wa.test/new\r\n"
            b"Content-Length: 0\r\n\r\n",
        ),
        _record(  # revisit record: skipped
            b"revisit",
            b"https://wa.test/a",
            b"2026-03-01T00:00:05Z",
            b"",
        ),
    ]
    return b"".join(recs)


def test_parse_warc_segment_uncompressed():
    pdf = parse_warc_segment(_segment())
    assert list(pdf["url"]) == [
        "https://wa.test/a",
        "https://wa.test/b",
        "https://wa.test/c",
        "https://wa.test/old",
    ]
    assert bytes(pdf["html"][0]) == HTML_A
    assert bytes(pdf["html"][1]) == HTML_B  # gzip content-encoding undone
    assert bytes(pdf["html"][2]) == b"<p>chunk!"  # de-chunked
    assert pdf["status"].tolist() == [200, 200, 200, 301]
    assert pdf["redirect_to"][3] == "https://wa.test/new"
    assert pdf["ctype"][0] == "text/html"
    assert str(pdf["warc_ts"][0]) == "2026-03-01 00:00:01"


def test_parse_warc_member_per_record_gzip():
    # Common Crawl layout: each record its own gzip member, concatenated
    recs = _segment()
    idx = [i for i in range(len(recs)) if recs.startswith(b"WARC/", i)]
    members = [recs[a:b] for a, b in zip(idx, idx[1:] + [len(recs)])]
    raw = b"".join(gzip.compress(m) for m in members)
    pdf = parse_warc_segment(raw)
    assert len(pdf) == 4
    assert bytes(pdf["html"][1]) == HTML_B


def test_warc_pages_to_extract_pipeline(spark, tmp_path):
    seg_dir = tmp_path / "segs"
    seg_dir.mkdir()
    (seg_dir / "part-0.warc").write_bytes(_segment())
    (seg_dir / "part-1.warc.gz").write_bytes(gzip.compress(_segment()))

    df = warc_pages(spark, str(seg_dir))
    rows = df.collect()
    assert len(rows) == 8  # 4 responses × 2 segment files
    by_url = {}
    for r in rows:
        by_url.setdefault(r.url, r)
    assert bytes(by_url["https://wa.test/a"].html) == HTML_A
    assert by_url["https://wa.test/old"].redirect_to == "https://wa.test/new"

    from scrape_spark.operators.extract import extract_pages

    ext = {
        r.url: r
        for r in extract_pages(
            df.where("status = 200").dropDuplicates(["url"])
        ).collect()
    }
    assert ext["https://wa.test/a"].title == "A"
    assert ext["https://wa.test/a"].content_text == "alpha text"
    assert ext["https://wa.test/b"].content_text == "beta text"


def test_latest_captures_collapses_recrawls(spark):
    """Recrawl duplicates collapse to the newest capture per URL (warc_ts
    order, content-hash tiebreak) — a CC dump's segments overlap."""
    import datetime as dt

    from scrape_spark.sources.warc import latest_captures

    df = spark.createDataFrame(
        [
            ("https://wa.test/a", dt.datetime(2026, 1, 1), b"old", "old", "en"),
            ("https://wa.test/a", dt.datetime(2026, 2, 1), b"new", "new", "en"),
            ("https://wa.test/b", None, b"only", "only", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    got = {r.url: bytes(r.html) for r in latest_captures(df).collect()}
    assert got == {"https://wa.test/a": b"new", "https://wa.test/b": b"only"}


def test_bare_lf_warc_frames_correctly():
    """ADVICE r5: a WARC whose header/body separator is bare LF (not CRLF)
    must frame records at the LFLF boundary — previously the tolerance only
    existed in header parsing, so framing scanned past the record."""
    from scrape_spark.sources.warc import iter_warc_records

    body = b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n<html>hi</html>"
    rec = (
        b"WARC/1.0\n"
        b"WARC-Type: response\n"
        b"WARC-Target-URI: https://lf.test/a\n"
        b"Content-Length: " + str(len(body)).encode() + b"\n"
        b"\n" + body + b"\n\n"
    )
    out = list(iter_warc_records(rec + rec))
    assert len(out) == 2
    for wh, block in out:
        assert wh[b"warc-target-uri"] == b"https://lf.test/a"
        assert block == body


def test_parse_warc_frames_chunks_match_whole_segment(tmp_path):
    """The chunked streaming parse must concatenate to exactly the
    whole-segment parse (r6: bounded task memory, same rows)."""
    import pandas as pd

    from scrape_spark.sources.warc import parse_warc_frames

    recs = []
    for i in range(7):
        b = f"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>{i}</html>".encode()
        recs.append(
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: https://c.test/{i}\r\n".encode()
            + f"Content-Length: {len(b)}\r\n".encode()
            + b"\r\n" + b + b"\r\n\r\n"
        )
    raw = b"".join(recs)
    whole = parse_warc_segment(raw)
    chunked = pd.concat(list(parse_warc_frames(raw, chunk_records=3)), ignore_index=True)
    assert len(whole) == 7
    pd.testing.assert_frame_equal(whole, chunked)
