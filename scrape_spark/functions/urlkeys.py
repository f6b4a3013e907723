"""URL canonicalization and the 63-bit URL key — the engine's load-bearing
scalar kernel (SURVEY.md §1.4-1.5, §2.4 K1/K2, §2.2 F1).

Parity contracts with the reference:
- ``clean_url``: deletes exactly the six utm_* params, re-encodes the
  remaining query sorted by key, drops the fragment
  (reference: resource/url.go:10-32; vectors pinned by resource/url_test.go:8-33).
- ``url_key``: FNV-1a-64 over the full URL string, folded to 56 bits by
  ``(h >> 56) ^ (h & MASK_56)``, OR'd with a 7-bit hostname byte-sum
  checksum shifted into bits 56-62; bit 63 always 0
  (reference: internal/storage/key.go:24-57; design internal/storage/README.md:5-23).

Both are Arrow-vectorized pandas UDFs. The key hash is pure numpy uint64
arithmetic — the FNV loop runs over *byte positions* (≤ max URL length per
batch) with the whole batch processed per step, so cost is
O(max_len × simd-batch), not per-row Python. ``clean_url`` takes a
vectorized fast path for URLs without a query string (the overwhelming
majority in crawl workloads) and only maps Python per-element on the
query-bearing minority — required for exact Go ``url.Values.Encode()``
parity (sort-by-key, application/x-www-form-urlencoded escaping).

Built-in ``xxhash64``/``crc32`` can NOT substitute for the key itself:
seen-set parity with the reference requires bit-identical FNV keys. We do
use ``F.xxhash64`` for *physical* placement (salted host bucketing), where
only distribution matters (SURVEY.md §4 O2).
"""

from __future__ import annotations

from urllib.parse import parse_qsl, quote_plus

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

FNV_OFFSET = 0xCBF29CE484222325
FNV_PRIME = 0x100000001B3
MASK_56 = 0xFFFFFFFFFFFFFF
_U64 = np.uint64

# The six illegal params — exact set from resource/url.go:10-17.
ILLEGAL_PARAMS = frozenset(
    {"utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content", "utm_brand"}
)


# ---------------------------------------------------------------------------
# Pure-Python reference implementations (used in tests and the single-threaded
# crawl reference model; the Spark path must match these bit-for-bit).
# ---------------------------------------------------------------------------

def clean_url_py(url: str) -> str:
    """CleanURL semantics: strip utm_* params, sort+re-encode query, drop fragment."""
    base = url.split("#", 1)[0]
    if "?" not in base:
        return base
    base, query = base.split("?", 1)
    pairs = [
        (k, v)
        for k, v in parse_qsl(query, keep_blank_values=True)
        if k not in ILLEGAL_PARAMS
    ]
    if not pairs:
        return base
    # Go's url.Values.Encode(): keys sorted bytewise; values keep insertion
    # order per key; application/x-www-form-urlencoded escaping (space → '+').
    pairs.sort(key=lambda kv: kv[0])
    enc = "&".join(f"{quote_plus(k, safe='')}={quote_plus(v, safe='')}" for k, v in pairs)
    return f"{base}?{enc}"


def hostname_py(url: str) -> str:
    """Hostname as the reference's URLString.Hostname(): ^https?://([^/]+)
    (internal/storage/key.go:24-32). Includes port/userinfo if present —
    that is the reference behavior for key derivation."""
    for scheme in ("https://", "http://"):
        if url.startswith(scheme):
            rest = url[len(scheme):]
            return rest.split("/", 1)[0]
    return ""


def url_key_py(url: str) -> int:
    """63-bit key, bit-identical to internal/storage/key.go:44-57."""
    host = hostname_py(url)
    chk = sum(host.encode("utf-8")) & 0x7F
    h = FNV_OFFSET
    for b in url.encode("utf-8"):
        h = ((h ^ b) * FNV_PRIME) & 0xFFFFFFFFFFFFFFFF
    folded = (h >> 56) ^ (h & MASK_56)
    return (chk << 56) | folded


# ---------------------------------------------------------------------------
# Vectorized numpy kernels
# ---------------------------------------------------------------------------

def _arrow_strings(values):
    """An Arrow string array of ``values`` (a Series, list or Arrow array);
    values Arrow cannot take as strings (ints, bytes, mixed objects) become
    null, so the kernels degrade them to "" instead of raising."""
    import pyarrow as pa

    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        return values
    try:
        return pa.array(values, type=pa.string(), from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return pa.array(
            [v if isinstance(v, str) else None for v in values], type=pa.string()
        )


def _pack_bytes(values) -> tuple[np.ndarray, np.ndarray]:
    """Encode a string Series (or Arrow string array) into one flat uint8
    array + per-row lengths.

    The flat bytes come straight out of the Arrow string array's value
    buffer (offsets buffer → lengths) — zero-copy, no per-row Python
    ``.encode`` (the previous listcomp measured 0.43 s per 1.3M URLs,
    this path 0.11 s). Nulls/non-strings degrade to b"" (``fill_null``
    also rebuilds any null slots whose offset ranges are not empty, so
    lengths stay correct). ``large_string`` arrays (a pandas
    ``ArrowDtype(pa.large_string())`` Series converts to one) carry int64
    offsets, ``string`` arrays int32."""
    import pyarrow as pa

    arr = _arrow_strings(values)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    if arr.null_count:
        arr = arr.fill_null("")
    n = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=off_dtype)
    offs = offs[arr.offset : arr.offset + n + 1].astype(np.int64)
    buf = arr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8) if buf is not None else np.empty(0, np.uint8)
    )
    lens = np.diff(offs)
    flat = data[offs[0] : offs[-1]]
    return flat, lens


def fnv1a64_np(values: pd.Series) -> np.ndarray:
    """Batch FNV-1a-64. Sequential over byte positions, vectorized over rows."""
    n = len(values)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    flat, lens = _pack_bytes(values)
    max_len = int(lens.max()) if n else 0
    h = np.full(n, FNV_OFFSET, dtype=_U64)
    if max_len == 0:
        return h
    offsets = np.zeros(n, dtype=np.int64)
    offsets[1:] = np.cumsum(lens)[:-1]
    prime = _U64(FNV_PRIME)
    # Column sweep: at step j, xor-multiply rows whose length > j.
    active_rows = np.arange(n)
    pos = offsets.copy()
    for j in range(max_len):
        live = lens[active_rows] > j
        active_rows = active_rows[live]
        if active_rows.size == 0:
            break
        pos = offsets[active_rows] + j
        col = flat[pos].astype(_U64)
        h[active_rows] = (h[active_rows] ^ col) * prime
    return h


def _host_checksum_np(urls: pd.Series) -> np.ndarray:
    """7-bit byte-sum checksum of the regex-extracted hostname, vectorized.
    The extraction runs in Arrow's RE2 (non-matches → "", like the old
    fillna) and the byte sums come from the resulting array's value buffer
    (1.49 → 0.36 s per 1.3M URLs, identical checksums)."""
    import pyarrow.compute as pc

    st = pc.extract_regex(_arrow_strings(urls), pattern=r"^https?://(?P<h>[^/]+)")
    hosts = pc.if_else(st.is_valid(), pc.struct_field(st, "h"), "")
    flat, lens = _pack_bytes(hosts)
    n = len(hosts)
    sums = np.zeros(n, dtype=np.int64)
    if flat.size:
        offsets = np.zeros(n, dtype=np.int64)
        offsets[1:] = np.cumsum(lens)[:-1]
        nonempty = lens > 0
        if nonempty.any():
            # reduceat needs strictly valid segment starts; compute on the
            # nonempty subset then scatter back.
            starts = offsets[nonempty]
            seg = np.add.reduceat(flat.astype(np.int64), starts)
            sums[nonempty] = seg
    return (sums & 0x7F).astype(_U64)


def url_key_np(urls: pd.Series) -> np.ndarray:
    """Batch 63-bit keys as int64 (bit 63 is 0 by construction)."""
    h = fnv1a64_np(urls)
    folded = (h >> _U64(56)) ^ (h & _U64(MASK_56))
    seg = _host_checksum_np(urls) << _U64(56)
    return (seg | folded).astype(np.int64)


# ---------------------------------------------------------------------------
# Spark surfaces
# ---------------------------------------------------------------------------

@F.pandas_udf(T.LongType())
def url_key(urls: pd.Series) -> pd.Series:
    return pd.Series(url_key_np(urls), dtype="int64")


def clean_url_np(urls: pd.Series) -> pd.Series:
    """Vectorized clean_url over a pandas Series (the body of the clean_url
    UDF, callable in-process so fused kernels pay ONE Arrow boundary)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    s = urls.astype("string")
    # trivial ⇔ contains neither '?' nor '#' (≡ the old `^[^?#]*$` match —
    # `$` tolerates only a trailing newline, which [^?#]* already consumes);
    # two memchr substring scans instead of a per-row regex (0.60 → 0.28 s
    # per 1.3M URLs). Nulls → non-trivial, like the old fillna(False).
    try:
        arr = pa.array(urls, type=pa.string(), from_pandas=True)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        # non-string values are cleaned as their string form (what the
        # regex path did), not rejected
        arr = pa.array(s, type=pa.string(), from_pandas=True)
    has_qf = pc.or_(pc.match_substring(arr, "?"), pc.match_substring(arr, "#"))
    trivial = pd.Series(
        pc.invert(has_qf).fill_null(False).to_numpy(zero_copy_only=False),
        index=urls.index,
    )
    out = s.copy()
    slow = ~trivial
    if slow.any():
        out[slow] = s[slow].map(clean_url_py, na_action="ignore")
    return out.astype(object)


_CLEAN_AND_KEY_TYPE = T.StructType(
    [
        T.StructField("parsed_url", T.StringType()),
        T.StructField("key", T.LongType()),
    ]
)


@F.pandas_udf(_CLEAN_AND_KEY_TYPE)
def clean_and_key(urls: pd.Series) -> pd.DataFrame:
    """clean_url + url_key fused into ONE vectorized UDF: the request-prep
    hot path previously evaluated two chained pandas UDFs (clean_url, then
    url_key over its output), paying two JVM↔Python Arrow round-trips per
    batch with the URL strings crossing three times. Fusing them halves the
    boundary crossings (guide §4.1: you control how many columns cross and
    how often). Bit-identical by construction — same kernels, same order."""
    cleaned = clean_url_np(urls)
    return pd.DataFrame(
        {"parsed_url": cleaned, "key": pd.Series(url_key_np(cleaned), dtype="int64")}
    )


_FAST_NO_QUERY = r"^[^?#]*$"


@F.pandas_udf(T.StringType())
def clean_url(urls: pd.Series) -> pd.Series:
    # Fast path: no query and no fragment → identity (vectorized check);
    # the query-bearing minority maps through clean_url_py.
    return clean_url_np(urls)


def hostname_col(url_col: str | Column) -> Column:
    """JVM-side hostname extraction matching URLString.Hostname()."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_extract(c, r"^https?://([^/]+)", 1)


def salted_host_hash(host_col: str | Column, salt: int = 0x5CA1E) -> Column:
    """Full-width salted host hash — the fetch-stage partitioning column
    (SURVEY.md §4 O2): hot domains land deterministically, and adversarial
    or hot hostnames can be re-salted without touching logical keys.

    Deliberately NOT pre-reduced to a bucket id: Spark's HashPartitioning
    re-hashes the expression value mod n, so handing ``repartition(n, ...)``
    a value already in [0, n) double-hashes n distinct values into n
    partitions — a balls-in-bins collision that leaves ~1/e of the
    partitions empty and others carrying 2-3 buckets (measured 2.2x
    max/mean load). A 64-bit hash keeps the partitioner's modulo the only
    reduction."""
    c = F.col(host_col) if isinstance(host_col, str) else host_col
    return F.xxhash64(c, F.lit(salt))
