"""WARC ingestion source — read Common-Crawl-style WARC segments into the
engine's pages table (``PAGES_FETCH_SCHEMA``).

Common Crawl distributes page captures as WARC files (ISO 28500: WARC/1.0
and 1.1), gzip-compressed with one gzip *member per record* so readers can
split on member boundaries. The reference has no WARC path (it fetches
live); this source exists because the north rule targets a Common-Crawl-
style corpus — `warc_pages` turns raw `*.warc`/`*.warc.gz` segments into
exactly the table every other operator consumes (fetch join, extraction,
crawl seeding, dedupe).

Distribution model: `spark.read.format("binaryFile")` yields one row per
segment file, and a `mapInPandas` pass parses each segment's records on the
executor that holds it. Parallelism is file-granular — a Common Crawl
monthly crawl is ~64-90k segments of ~1 GiB (gz), far more splits than any
cluster has cores, so file granularity is the RIGHT partitioning at 100 TB
(finer intra-file splitting would re-read the gzip stream anyway: gzip
members must be scanned sequentially). The inner record loop is per-record
Python over binary blobs — a parser, not a row kernel; the expensive
vectorized work (extraction, keying) happens downstream on the resulting
table.

Record semantics (WARC 1.1 §6; matched against the published Common Crawl
segment layout):
- only ``WARC-Type: response`` records become pages (request/metadata/
  warcinfo/revisit records are skipped);
- ``WARC-Target-URI`` → ``url`` (angle-bracket wrapped form accepted),
  ``WARC-Date`` (ISO 8601, always UTC ``Z``) → ``warc_ts``;
- the record block is an HTTP/1.x response: status line → ``status``,
  ``Content-Type`` header → ``ctype``, body bytes → ``html`` (undecoded —
  charset handling stays in the extraction tier where it already lives);
- chunked transfer encoding is de-chunked; gzip/deflate content encodings
  are decompressed (stdlib zlib) so ``html`` always holds page bytes.
"""

from __future__ import annotations

import gzip
import io
import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from scrape_spark.schemas import PAGES_FETCH_SCHEMA

_CRLF2 = b"\r\n\r\n"


def _split_headers(block: bytes) -> tuple[dict[bytes, bytes], bytes]:
    """Parse an RFC 822-style header block → ({lowercased-name: value}, rest
    after the blank line). Tolerates bare-LF line endings (seen in the wild
    on hand-rolled WARCs)."""
    sep = block.find(_CRLF2)
    if sep >= 0:
        head, rest = block[:sep], block[sep + 4:]
    else:
        sep = block.find(b"\n\n")
        if sep < 0:
            return {}, block
        head, rest = block[:sep], block[sep + 2:]
    headers: dict[bytes, bytes] = {}
    for line in head.replace(b"\r\n", b"\n").split(b"\n")[1:]:  # [0] is the start line
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower()] = v.strip()
    return headers, rest


def _start_line(block: bytes) -> bytes:
    eol = block.find(b"\n")
    return (block if eol < 0 else block[:eol]).rstrip(b"\r")


def _dechunk(body: bytes) -> bytes:
    out = []
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            break
        try:
            n = int(body[pos:eol].split(b";")[0], 16)
        except ValueError:
            break
        if n == 0:
            break
        out.append(body[eol + 2 : eol + 2 + n])
        pos = eol + 2 + n + 2  # skip chunk + its trailing CRLF
    return b"".join(out) if out else body


def _decode_body(body: bytes, headers: dict[bytes, bytes]) -> bytes:
    if headers.get(b"transfer-encoding", b"").lower() == b"chunked":
        body = _dechunk(body)
    enc = headers.get(b"content-encoding", b"").lower()
    try:
        if enc == b"gzip":
            return gzip.decompress(body)
        if enc == b"deflate":
            try:
                return zlib.decompress(body)
            except zlib.error:  # raw-deflate servers (no zlib wrapper)
                return zlib.decompress(body, -zlib.MAX_WBITS)
    except (OSError, zlib.error):
        pass  # keep raw bytes; extraction will surface the error row
    return body


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict[bytes, bytes], bytes]]:
    """Yield (warc-headers, record-block) from one segment's bytes.
    Handles the gzip member-per-record layout (a GzipFile over the whole
    stream reads members back-to-back), whole-file gzip, and uncompressed
    WARCs. Walks records by Content-Length (the spec's framing), falling
    back to the ``\\r\\n\\r\\nWARC/`` boundary scan on a malformed length."""
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
    pos = 0
    n = len(raw)
    while pos < n:
        nxt = raw.find(b"WARC/", pos)
        if nxt < 0:
            return
        headers, _ = _split_headers(raw[nxt : nxt + 65536])
        try:
            clen = int(headers[b"content-length"])
        except (KeyError, ValueError):
            clen = None
        # header/body boundary: CRLFCRLF per spec, bare LFLF tolerated at
        # the framing layer too (matching _split_headers — previously the
        # tolerance only applied to header parsing, so a bare-LF WARC
        # misframed); whichever separator occurs first wins
        crlf_end = raw.find(_CRLF2, nxt)
        lf_end = raw.find(b"\n\n", nxt)
        if crlf_end < 0 and lf_end < 0:
            return
        if lf_end < 0 or (0 <= crlf_end <= lf_end):
            hdr_end, body_start = crlf_end, crlf_end + 4
        else:
            hdr_end, body_start = lf_end, lf_end + 2
        if clen is not None and body_start + clen <= n:
            yield headers, raw[body_start : body_start + clen]
            pos = body_start + clen
        else:  # malformed length: resync on the next record marker
            after = raw.find(b"\r\n\r\nWARC/", body_start)
            yield headers, raw[body_start : after if after >= 0 else n]
            pos = body_start if after < 0 else after + 4
            if after < 0:
                return


_STATUS_RE = re.compile(rb"^HTTP/\d\.\d\s+(\d{3})")


def parse_warc_frames(
    raw: bytes, chunk_records: int = 2000
) -> Iterator[pd.DataFrame]:
    """Yield PAGES_FETCH_SCHEMA frames of at most ``chunk_records`` response
    records each (guide §5: a ~1 GiB gz segment inflates to several GiB —
    accumulating every record's decoded body in one Python list before
    framing doubled the task's peak memory; chunked yields bound the
    decoded-row buffer while the Arrow writer drains each chunk)."""
    rows: list[dict] = []
    for wh, block in iter_warc_records(raw):
        if wh.get(b"warc-type", b"").lower() != b"response":
            continue
        uri = wh.get(b"warc-target-uri", b"").decode("utf-8", "replace").strip("<>")
        if not uri:
            continue
        hh, body = _split_headers(block)
        m = _STATUS_RE.match(_start_line(block))
        status = int(m.group(1)) if m else None
        ctype = hh.get(b"content-type")
        rows.append(
            {
                "url": uri,
                "warc_ts": wh.get(b"warc-date", b"").decode("ascii", "replace") or None,
                "html": _decode_body(body, hh) if m else block,
                "text": None,
                "lang": None,
                "ctype": ctype.decode("latin-1") if ctype else None,
                "status": status,
                "redirect_to": (
                    hh.get(b"location", b"").decode("latin-1") or None
                    if status in (301, 302, 303, 307, 308)
                    else None
                ),
            }
        )
        if len(rows) >= chunk_records:
            yield _rows_frame(rows)
            rows = []
    if rows:
        yield _rows_frame(rows)


def _rows_frame(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(
        rows,
        columns=[
            "url", "warc_ts", "html", "text", "lang",
            "ctype", "status", "redirect_to",
        ],
    )
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], errors="coerce", utc=True
                                   ).dt.tz_localize(None)
    df["status"] = df["status"].astype("Int32")
    return df


def warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read WARC segment files at ``path`` (glob ok: ``.../*.warc.gz``) into
    the pages table. One file = one task (see module docstring for why that
    is the right granularity at Common Crawl scale)."""
    seg = spark.read.format("binaryFile").load(path).select("content")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for raw in pdf["content"]:
                # stream bounded chunks instead of one whole-segment frame:
                # peak task memory is the decompressed segment + one chunk,
                # not the segment + every decoded body at once (guide §5)
                for out in parse_warc_frames(bytes(raw)):
                    if len(out):
                        yield out

    return seg.mapInPandas(run, schema=PAGES_FETCH_SCHEMA)


def latest_captures(pages: DataFrame) -> DataFrame:
    """Collapse recrawl duplicates to one row per URL — the NEWEST capture
    by ``warc_ts`` (ties broken by a content hash so the pick is
    deterministic across partitionings). A Common Crawl dump routinely
    carries multiple captures of a URL across segments; feeding them
    straight into the fetch equi-join would emit one result row per
    capture. One shuffle over the dump (``first_per_key``, with a map-side
    partial limit) — run it once at ingest, cost ∝ dump rows, no skew
    sensitivity beyond the per-URL group (bounded by recrawl count)."""
    from pyspark.sql import functions as F

    from scrape_spark.operators.dedupe import first_per_key

    return first_per_key(pages, ["url"], [
        F.coalesce(F.col("warc_ts"), F.lit("1970-01-01").cast("timestamp")).desc(),
        F.xxhash64(F.coalesce(F.col("html"), F.lit(b""))).desc(),
    ])
