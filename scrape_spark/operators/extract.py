"""Main-text + metadata extraction (SURVEY.md §2.9, M3).

The reference delegates this to go-trafilatura with fixed options
(fetch/trafilatura/fetcher.go:89-95) and pins the *output of its chosen
library version* with committed golden files (fetch/trafilatura/smoker.html,
internal/test_support/ars-2003724.json). We do the same with our own
extractor: a deterministic, versioned extraction spec (EXTRACT_SPEC_VERSION)
whose output is pinned byte-for-byte by committed goldens in
tests/goldens/ — the per-row invariant required by BASELINE.json.

Implementation is an Arrow-batched ``mapInPandas`` where every step is a
vectorized pandas ``.str`` regex operation (C-level, no per-row Python):
sniff → scope (<article> else <body>) → strip boilerplate blocks → block
tags to newlines → strip tags → unescape entities → collapse whitespace.
Metadata comes from <meta>/<title>/<link rel=license> via vectorized
``.str.extract``. Field mapping mirrors applyExtractResult
(fetch/trafilatura/fetcher.go:108-135): authors split on ';' (K7), og:url
becomes the canonical URL, missing canonical falls back to the fetch URL.

Error rows are data (F2/F4): non-HTML bytes yield a 415-class error string
and null metadata — the row always flows on.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from scrape_spark.functions.urlkeys import url_key_np

# v2: readability-style fallback for article-less pages
# v3: attribute-order/quote-insensitive <meta> parsing; <time datetime> and
#     JSON-LD datePublished date fallbacks (go-trafilatura tolerance,
#     fetch/trafilatura/fetcher.go:108-135). v2 outputs are byte-stable —
#     v3 only widens what real-world-messy pages yield.
# v4: link harvest accepts single-quoted/unquoted hrefs and RESOLVES
#     relative references against the page URL (the reference resolves via
#     trafilatura's OriginalURL option, fetch/trafilatura/fetcher.go:89-95).
#     A real site's intra-site links are overwhelmingly relative — without
#     this a BFS crawl over real HTML discovers almost nothing. Text and
#     metadata outputs are byte-stable under v3.
EXTRACT_SPEC_VERSION = 4

# Output columns appended by the extractor.
EXTRACT_FIELDS = [
    T.StructField("canonical_url", T.StringType(), True),
    T.StructField("title", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("sitename", T.StringType(), True),
    T.StructField("author", T.StringType(), True),  # raw; split via author_split
    T.StructField("date", T.TimestampType(), True),
    T.StructField("categories", T.ArrayType(T.StringType()), True),
    T.StructField("tags", T.ArrayType(T.StringType()), True),
    T.StructField("language", T.StringType(), True),
    T.StructField("image", T.StringType(), True),
    T.StructField("page_type", T.StringType(), True),
    T.StructField("license", T.StringType(), True),
    T.StructField("content_text", T.StringType(), True),
    T.StructField("links", T.ArrayType(T.StringType()), True),
    T.StructField("extract_error", T.StringType(), True),
]

# What an ok fetch row is stored under, appended by ``extract_pages`` when
# its input carries the requested ``parsed_url`` (the fetch join's input):
# the canonical URL, ``coalesce(canonical_url, parsed_url)``, and its key.
# ``finalize_results`` reads both; this module owns the rule.
CANONICAL_URL = "__canonical_url"
CANONICAL_KEY = "__canonical_key"

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
             ("&nbsp;", " "), ("&copy;", "©"), ("&amp;", "&")]  # &amp; LAST

# One alternation pass replaces the 7 sequential literal sweeps (measured
# 2.5× on the corpus, byte-identical): no entity is a substring of another
# and no replacement CHARACTER re-forms an entity, so "sequential passes
# with &amp; last" ≡ "single left-to-right pass" on every input. (&amp;
# last in the sequential form only mattered so that e.g. "&amp;lt;" yields
# "&lt;" rather than double-unescaping — the single pass consumes "&amp;"
# atomically and never rescans its output, giving the same result.)
_ENTITY_RE = re.compile("|".join(re.escape(e) for e, _ in _ENTITIES))
_ENTITY_MAP = dict(_ENTITIES)


def _unescape(s: pd.Series) -> pd.Series:
    # only rows containing '&' can hold entities — skip the rest entirely
    mask = s.str.contains("&", regex=False).eq(True)  # NaN → False, no downcast
    if not mask.any():
        return s
    out = s.copy()
    out[mask] = s[mask].str.replace(
        _ENTITY_RE, lambda m: _ENTITY_MAP[m.group(0)], regex=True
    )
    return out


def _extract2(h: pd.Series, pattern: str) -> pd.Series:
    """Extract from a pattern whose value is captured by ONE of two groups
    (double- vs single-quoted alternative); coalesce them. ``where`` (not
    fillna) keeps object dtype — fillna downcasts an all-NaN object column
    to float64, which breaks downstream ``.str`` ops."""
    df = h.str.extract(pattern, expand=True)
    return df[0].where(df[0].notna(), df[1]).astype(object)


def _link_href(h: pd.Series, rel: str) -> pd.Series:
    """<link rel="{rel}" href="..."> tolerant of quotes/case/extra attrs and
    of href preceding rel (the reversed pattern runs only on misses)."""
    v = _extract2(
        h,
        rf'(?is)<link\b[^>]*?\brel\s*=\s*["\']{rel}["\']'
        rf'[^>]*?\bhref\s*=\s*(?:"([^"]*)"|\'([^\']*)\')',
    )
    miss = v.isna()
    if miss.any():
        v = v.copy()
        v[miss] = _extract2(
            h[miss],
            rf'(?is)<link\b[^>]*?\bhref\s*=\s*(?:"([^"]*)"|\'([^\']*)\')'
            rf'[^>]*?\brel\s*=\s*["\']{rel}["\']',
        )
    return v


def _meta(h: pd.Series, attr: str, key: str) -> pd.Series:
    """<meta {attr}="{key}" ... content="...">, tolerant the way real pages
    demand (go-trafilatura uses a DOM walk, fetcher.go:108-135; this regex
    pass accepts the same inputs): attributes in EITHER order (content may
    precede name/property), single or double quotes, other attributes
    between, any case.

    Tiered for throughput — this kernel is the pipeline's hot path and
    DRAM-bound at high parallelism, so the well-formed majority must pay
    exactly the one rigid anchored pattern (measured: the tolerant lazy
    patterns alone are ~2x the whole kernel). Rows the fast tier misses
    (absent key, or messy markup) fall through to the tolerant
    either-quote pattern, then the reversed-attribute-order pattern."""
    k = re.escape(key)
    fast = rf'<meta\s+{attr}="{k}"\s+content="([^"]*)"'
    v = h.str.extract(fast, expand=False).astype(object)
    need = v.isna()
    if need.any():
        sub = h[need]
        t = _extract2(
            sub,
            rf'(?is)<meta\b[^>]*?\b{attr}\s*=\s*["\']{k}["\']'
            rf'[^>]*?\bcontent\s*=\s*(?:"([^"]*)"|\'([^\']*)\')',
        )
        miss = t.isna()
        if miss.any():
            t = t.copy()
            t[miss] = _extract2(
                sub[miss],
                rf'(?is)<meta\b[^>]*?\bcontent\s*=\s*(?:"([^"]*)"|\'([^\']*)\')'
                rf'[^>]*?\b{attr}\s*=\s*["\']{k}["\']',
            )
        v = v.copy()
        v[need] = t
    return _unescape(v)


# href in EITHER quote style or unquoted (spec v4); groups coalesced in
# harvest. Lazy [^>]*? + one alternation measured at parity with the old
# rigid double-quote pattern on the synthetic corpus (~0.07 s / 20k pages).
_HREF_RE = r"""(?i)<a\s[^>]*?href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^"'\s>][^\s>]*))"""

# link classification (subset of RFC 3986 reference forms). Absolute needs
# at least one authority char: a bare "https://" href is link noise, not a
# fetchable URL (the pre-v4 pattern rejected it too; without the guard it
# would flow through clean_url/url_key as an empty-host frontier row).
# Anchored RE2 form — evaluated by pyarrow's match_substring_regex, which
# searches anywhere (pandas .str.match anchored implicitly).
_ABS_RE = r"(?i)^https?://."
_SCHEME_RE = r"(?i)^[a-z][a-z0-9+.\-]*:"


def _resolve_links(lists: pd.Series, base: pd.Series | None) -> pd.Series:
    """Resolve each row's harvested hrefs against that row's page URL —
    fully positional numpy over the flattened link multiset (no per-row
    Python in the hot shapes; index alignment is never used because the
    flattened frame has duplicate row labels by construction).

    Forms resolved: absolute http(s) (kept as-is), protocol-relative
    (``//host/p`` → base scheme), root-relative (``/p``), query-only
    (``?q``), and plain relative incl. ``./``/``../`` dot segments
    (normalized RFC 3986-style). Dropped: other schemes (mailto:,
    javascript:), bare fragments (self-references), empty hrefs, and
    relative forms when no base URL is available."""
    lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
    flat_np = np.array([v for x in lists for v in x], dtype=object)
    return _resolve_flat(flat_np, lens, base, lists.index)


def _resolve_flat(
    flat_np: np.ndarray, lens: np.ndarray, base: pd.Series | None, index
) -> pd.Series:
    """Core of _resolve_links over the pre-flattened href array (``lens``
    gives each row's link count; ``index`` is the output row index)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(lens)
    total = len(flat_np)
    if total == 0:
        return pd.Series([[] for _ in range(n)], index=index, dtype=object)
    rowid = np.repeat(np.arange(n), lens)
    # Form classification runs on Arrow buffers: the pandas .str accessor
    # evaluates these masks as per-element Python calls (measured 0.1-0.2 s
    # per mask over 318k hrefs), the Arrow kernels in ~5 ms. The href array
    # is null-free by construction (re.findall groups yield '' not None).
    flat_pa = pa.array(flat_np, type=pa.string())
    keep = np.full(total, None, dtype=object)
    # pandas .str.match anchors at the start — mirror with an explicit ^
    # fill_null(True) mirrors the pandas path's NaN→True bool cast: a null
    # href rides the is_abs branch as a None value and is dropped by the
    # final notna filter (and the rest-side arrays stay null-free).
    is_abs = (
        pc.match_substring_regex(flat_pa, _ABS_RE)
        .fill_null(True)
        .to_numpy(zero_copy_only=False)
    )
    keep[is_abs] = flat_np[is_abs]
    rest_mask = ~is_abs
    if base is not None and rest_mask.any():
        b = pd.Series(base.to_numpy(dtype=object))
        nofq = b.str.replace(r"[?#].*$", "", regex=True)
        comp = nofq.str.extract(
            r"(?i)^(?P<scheme>[a-z][a-z0-9+.\-]*)://(?P<auth>[^/?#]*)(?P<path>[^?#]*)$"
        )
        scheme = comp["scheme"].to_numpy(dtype=object)
        origin = (comp["scheme"] + "://" + comp["auth"]).to_numpy(dtype=object)
        pdir = comp["path"].str.replace(r"[^/]*$", "", regex=True)
        pdir = pdir.where(pdir.str.len() > 0, "/").to_numpy(dtype=object)
        pfull = comp["path"].where(comp["path"].str.len() > 0, "/").to_numpy(dtype=object)

        rid = rowid[rest_mask]
        rest_np = flat_np[rest_mask]
        rest_pa = pc.filter(flat_pa, pa.array(rest_mask))

        def _np(mask_arr):
            return mask_arr.to_numpy(zero_copy_only=False)

        starts_slash = _np(pc.starts_with(rest_pa, pattern="/"))
        proto_rel = _np(pc.starts_with(rest_pa, pattern="//"))
        root_rel = starts_slash & ~proto_rel
        frag = _np(pc.starts_with(rest_pa, pattern="#"))
        query = _np(pc.starts_with(rest_pa, pattern="?"))
        empty = _np(pc.equal(rest_pa, ""))
        other_scheme = (
            _np(pc.match_substring_regex(rest_pa, _SCHEME_RE))
            & ~starts_slash & ~frag & ~query & ~empty
        )
        plain = ~(starts_slash | frag | query | other_scheme | empty)
        ok = pd.notna(origin[rid])  # parseable base

        sub = np.full(len(rest_np), None, dtype=object)
        m = proto_rel & ok
        if m.any():
            sub[m] = scheme[rid][m] + np.array(":", dtype=object) + rest_np[m]
        pth = np.full(len(rest_np), None, dtype=object)
        m = root_rel & ok
        if m.any():
            pth[m] = rest_np[m]
        m = plain & ok
        if m.any():
            pth[m] = pdir[rid][m] + rest_np[m]
        pmask = (root_rel | plain) & ok
        if pmask.any():
            ser = pd.Series(pth[pmask], dtype=object)
            need = ser.str.contains("/.", regex=False).to_numpy(dtype=bool)
            if need.any():  # dot-segment normalization, minority pass
                nv = ser[need]
                for _ in range(10):
                    before = nv
                    nv = nv.str.replace(r"/\./", "/", regex=True)
                    nv = nv.str.replace(r"/\.$", "/", regex=True)
                    nv = nv.str.replace(r"/(?!\.\./)[^/]+/\.\.(?:/|$)", "/", regex=True)
                    nv = nv.str.replace(r"^(?:/\.\.)+(?:/|$)", "/", regex=True)
                    if nv.equals(before):
                        break
                ser2 = ser.to_numpy(dtype=object)
                ser2[need] = nv.to_numpy(dtype=object)
                pth[pmask] = ser2
            sub[pmask] = origin[rid][pmask] + pth[pmask]
        m = query & ok
        if m.any():
            sub[m] = origin[rid][m] + pfull[rid][m] + rest_np[m]
        keep[rest_mask] = sub
    final = pd.Series(keep).notna().to_numpy(dtype=bool)
    kept_rows = rowid[final]
    kept_vals = keep[final]
    cuts = np.searchsorted(kept_rows, np.arange(n + 1))
    return pd.Series(
        [kept_vals[cuts[i]:cuts[i + 1]].tolist() for i in range(n)],
        index=index,
        dtype=object,
    )


_CHARSET_HDR_RE = r"(?i)charset\s*=\s*\"?([\w.\-]+)"
_CHARSET_META_RE = r"(?i)<meta\s+charset\s*=\s*[\"']?([\w.\-]+)"
_CHARSET_HTTPEQ_RE = (
    r"(?i)<meta\b[^>]*?http-equiv\s*=\s*[\"']content-type[\"']"
    r"[^>]*?charset\s*=\s*[\"']?([\w.\-]+)"
)


def _charset_redecode(
    bts: pd.Series, txt: pd.Series, ctype: pd.Series | None
) -> pd.Series:
    """Re-decode rows whose UTF-8 decode produced replacement characters
    using a sniffed charset (spec v4; go-trafilatura sniffs charset before
    parsing, the reference inherits that). Runs ONLY on the flagged minority
    (tiering discipline: the UTF-8 majority pays nothing). Sniff priority
    mirrors browsers: Content-Type header param, then <meta charset>, then
    <meta http-equiv=content-type>; the markup region is ASCII-compatible in
    every legacy charset this targets, so sniffing the replace-decoded text
    is sound. A re-decode is kept only if it strictly reduces replacement
    characters — a wrong or utf-8-aliased sniff leaves the row unchanged."""
    cs = pd.Series([None] * len(txt), index=txt.index, dtype=object)
    if ctype is not None:
        # an all-null header column arrives float64 from pandas inference;
        # the .str accessor raises on non-object dtypes — coerce first
        if ctype.dtype != object:
            ctype = ctype.astype(object).where(ctype.notna(), None)
        cs = ctype.str.extract(_CHARSET_HDR_RE, expand=False).astype(object)
    meta = txt.str.extract(_CHARSET_META_RE, expand=False).astype(object)
    cs = cs.where(cs.notna(), meta).astype(object)
    httpeq = txt.str.extract(_CHARSET_HTTPEQ_RE, expand=False).astype(object)
    cs = cs.where(cs.notna(), httpeq).astype(object)
    out = txt.copy()
    for i in txt.index[cs.notna()]:
        b = bts[i]
        if b is None:
            continue
        try:
            dec = b.decode(cs[i], errors="replace")
        except (LookupError, TypeError, ValueError):
            continue  # unknown/non-text codec name in the page
        if dec.count("�") < txt[i].count("�"):
            out[i] = dec
    return out


# The content-cleanup chain compiled for RE2 (pyarrow.compute): the
# backreference form <(script|…)[^>]*>.*?</\1> is spelled out per tag —
# RE2 has no backrefs, and at any position at most one tag alternative can
# match (distinct literal prefixes), so leftmost-first semantics are
# unchanged. Byte-identical to the pandas chain on the full bench corpus.
_BOILER_TAGS = ("script", "style", "noscript", "nav", "aside", "footer", "header", "form")
_BOILER_RE2 = "(?is)" + "|".join(
    ["<!--.*?-->"] + [rf"<{t}[^>]*>.*?</{t}>" for t in _BOILER_TAGS]
)


def _clean_content(scoped: pd.Series) -> pd.Series:
    """Markup → text cleanup over the scoped content: strip boilerplate
    blocks, block tags → newlines, strip tags, unescape entities, collapse
    whitespace, trim. Runs entirely in pyarrow.compute (RE2 + vectorized
    literal replaces): this chain is 7 full-text passes — the kernel's
    single most expensive section — and the Arrow implementation measured
    ~1.8× the pandas/``re`` one on the bench corpus with byte-identical
    output (one pandas→arrow conversion in, one out, all passes on Arrow
    buffers in between — guide §4.2: hand whole batches to vectorized
    native kernels)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(scoped, type=pa.string(), from_pandas=True)
    arr = pc.replace_substring_regex(arr, pattern=_BOILER_RE2, replacement="")
    arr = pc.replace_substring_regex(
        arr,
        pattern=r"(?i)</(?:p|h[1-6]|li|tr|div|blockquote)>|<br\s*/?>",
        replacement="\n",
    )
    arr = pc.replace_substring_regex(arr, pattern=r"(?s)<[^>]+>", replacement=" ")
    # entity unescape on every row (a no-op where no entity occurs — the
    # masked-minority trick the pandas path used buys nothing here because
    # the literal scans are memchr-fast)
    for ent, ch in _ENTITIES:
        arr = pc.replace_substring(arr, pattern=ent, replacement=ch)
    # The whitespace passes match ONLY runs that need rewriting: the naive
    # `[ \t\r\f\v]+` fires at every single space and ` ?\n ?` at every bare
    # newline, forcing a match+copy at each word boundary — the single most
    # expensive pass of this chain (measured 0.95 → 0.38 s on the 54k-page
    # corpus; byte-identical, incl. adversarial mixed-ws inputs: replacing a
    # lone space with a space is the identity, and a bare \n maps to itself).
    arr = pc.replace_substring_regex(
        arr, pattern=r"[ \t\r\f\v]{2,}|[\t\r\f\v]", replacement=" "
    )
    arr = pc.replace_substring_regex(arr, pattern=r" \n ?|\n ", replacement="\n")
    arr = pc.replace_substring_regex(arr, pattern=r"\n{2,}", replacement="\n")
    arr = pc.utf8_trim_whitespace(arr)
    return pd.Series(arr.to_pandas().to_numpy(), index=scoped.index, dtype=object)


def harvest_links(h: pd.Series, base: pd.Series | None = None) -> pd.Series:
    """Spec-v4 link harvest: all <a href> values (either quote style or
    unquoted), resolved absolute against the per-row page URL. The three
    quote-style capture groups are coalesced in the SAME pass that flattens
    rows to the positional link array (one Python sweep, not two)."""
    found = h.str.findall(_HREF_RE)
    lens = np.fromiter(
        (len(x) if isinstance(x, list) else 0 for x in found),
        dtype=np.int64,
        count=len(found),
    )
    flat_np = np.array(
        [a or b or c for x in found if isinstance(x, list) for (a, b, c) in x],
        dtype=object,
    )
    return _resolve_flat(flat_np, lens, base, h.index)


def extract_batch(
    html: pd.Series,
    base_url: pd.Series | None = None,
    ctype: pd.Series | None = None,
) -> pd.DataFrame:
    """Vectorized extraction over one Arrow batch of raw page bytes.
    ``base_url`` (positionally aligned with ``html``) enables relative-link
    resolution; without it only absolute http(s) links are harvested.
    ``ctype`` (the Content-Type header, when the caller has it) feeds the
    charset sniff for non-UTF-8 pages."""
    n = len(html)
    raw = html.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else "")
    raw = raw.astype(object)  # object dtype: no extension-array copy of the corpus
    # charset tier: rows whose UTF-8 decode lost bytes (latin-1/shift-jis
    # pages — no longer rare in a Common-Crawl-style corpus) get a sniffed
    # re-decode; everything downstream then sees correct text
    bad = raw.str.contains("�", regex=False).eq(True)
    if bad.any():
        raw = raw.copy()
        raw[bad] = _charset_redecode(
            html[bad], raw[bad], ctype[bad] if ctype is not None else None
        )

    looks_html = raw.str.match(r"\s*<").eq(True)
    err = pd.Series([None] * n, dtype=object)
    err[~looks_html] = "unsupported content type: not html"
    h = raw.where(looks_html, "")

    # metadata lives in <head>; scoping the ~10 regex passes to that substring
    # cuts total regex scanning ~3x (falls back to the whole doc when absent).
    # The span patterns here and below are the unrolled-loop form of the lazy
    # `(.*?)</tag>`: `[^<]*(?:<(?!/tag>)[^<]*)*` consumes exactly up to the
    # first `</tag>` (the (?i) flag covers the lookahead too), which Python's
    # backtracking engine runs 3-4× faster than the lazy dot-all scan
    # (measured 0.62 → 0.15 s per pattern on the 54k-page corpus,
    # byte-identical incl. adversarial nesting/case/unclosed inputs).
    head = h.str.extract(
        r"(?is)<head[^>]*>([^<]*(?:<(?!/head>)[^<]*)*)</head>", expand=False
    )
    head = head.fillna(h)

    title = _unescape(
        head.str.extract(
            r"(?s)<title[^>]*>([^<]*(?:<(?!/title>)[^<]*)*)</title>", expand=False
        )
    ).str.strip()
    canonical = _meta(head, "property", "og:url")
    # canonical fallback (spec v3): <link rel="canonical" href="..."> — the
    # other common canonical signal (go-trafilatura reads both); tolerant
    # pass only on rows og:url missed
    need_canon = canonical.isna() & looks_html
    if need_canon.any():
        canonical = canonical.copy()
        canonical[need_canon] = _link_href(head[need_canon], "canonical")
    description = _meta(head, "name", "description")
    sitename = _meta(head, "property", "og:site_name")
    author = _meta(head, "name", "author")
    image = _meta(head, "property", "og:image")
    page_type = _meta(head, "property", "og:type")
    date_raw = _meta(head, "property", "article:published_time")
    # date fallback cascade (spec v3, mirroring go-trafilatura's tolerance):
    # <time datetime="..."> then JSON-LD "datePublished" — both live in the
    # body, so they scan the full doc, masked to rows still missing a date
    # (a minority pass on real corpora; most articles carry og meta)
    need_date = date_raw.isna() & looks_html
    if need_date.any():
        tv = _extract2(
            h[need_date],
            r'(?is)<time\b[^>]*?\bdatetime\s*=\s*(?:"([^"]*)"|\'([^\']*)\')',
        )
        jl = h[need_date].str.extract(
            r'(?s)"datePublished"\s*:\s*"([^"]+)"', expand=False
        )
        date_raw = date_raw.copy()
        date_raw[need_date] = tv.where(tv.notna(), jl).astype(object)
    date = pd.to_datetime(date_raw, errors="coerce", utc=True).dt.tz_localize(None)
    keywords = _meta(head, "name", "keywords")
    section = _meta(head, "property", "article:section")
    license_url = head.str.extract(
        r'<link\s+rel="license"\s+href="([^"]*)"', expand=False
    ).astype(object)
    need_lic = license_url.isna() & looks_html
    if need_lic.any():  # tolerant tier (quotes/order/attrs-between)
        license_url = license_url.copy()
        license_url[need_lic] = _link_href(head[need_lic], "license")
    language = h.str.extract(r'<html[^>]*\slang="([^"]*)"', expand=False)

    tags = keywords.map(
        lambda s: [t.strip() for t in s.split(",") if t.strip()] if isinstance(s, str) else None
    )
    categories = section.map(lambda s: [s] if isinstance(s, str) and s else None)

    # ---- main text ----
    # scope FIRST (article, else body, else whole doc), then strip
    # boilerplate inside the scope only. The body-fallback extract runs only
    # on rows without an <article>, and comment/script/boilerplate removal is
    # ONE alternation pass — this kernel is DRAM-bandwidth-bound at high
    # parallelism, so every full-text pass removed raises the scaling ceiling.
    scoped = h.str.extract(
        r"(?is)<article[^>]*>([^<]*(?:<(?!/article>)[^<]*)*)</article>",
        expand=False,
    )
    miss = scoped.isna()
    no_article = miss & looks_html
    if miss.any():
        fallback = h[miss].str.extract(
            r"(?is)<body[^>]*>([^<]*(?:<(?!/body>)[^<]*)*)</body>", expand=False
        )
        scoped = scoped.copy()
        scoped[miss] = fallback.fillna(h[miss])
    content = _clean_content(scoped)
    content[~looks_html] = None

    # Fallback cascade (reference: trafilatura EnableFallback,
    # fetcher.go:13-14): pages with no <article> but paragraph structure get
    # a readability-style text/link-density scoring pass that locates the
    # main-content container (content buried in nested divs, nav-heavy
    # chrome). Minority path by construction — the vectorized regex path
    # above already finished every <article> page; rows where no container
    # scores keep the whole-body fallback text unchanged.
    score_rows = no_article & h.str.contains(r"(?i)<p[\s>]", regex=True).eq(True)
    if score_rows.any():
        from scrape_spark.operators.readability import score_main_content

        rescored = h[score_rows].map(score_main_content)
        hit = rescored.notna()
        if hit.any():
            content[rescored.index[hit]] = rescored[hit]

    links = harvest_links(h, base_url)

    def _nul(s: pd.Series) -> pd.Series:
        s = s.astype(object).where(s.notna(), None)
        s[~looks_html] = None
        return s

    return pd.DataFrame(
        {
            "canonical_url": _nul(canonical),
            "title": _nul(title),
            "description": _nul(description),
            "sitename": _nul(sitename),
            "author": _nul(author),
            "date": date.where(looks_html, None),
            "categories": categories.where(looks_html, None),
            "tags": tags.where(looks_html, None),
            "language": _nul(language),
            "image": _nul(image),
            "page_type": _nul(page_type),
            "license": _nul(pd.Series(license_url, dtype=object)),
            "content_text": content,
            "links": links.where(looks_html, None),
            "extract_error": err,
        }
    )


def extract_pages(
    df: DataFrame, html_col: str = "html", base_col: str | None = None
) -> DataFrame:
    """Append extraction columns; passes through every input column except
    the raw html bytes (dropped post-extraction — the reference never stores
    bodies either, SURVEY.md §1.2).

    ``base_col`` names the page-URL column relative links resolve against
    (spec v4; reference analog: trafilatura's OriginalURL resolution,
    fetch/trafilatura/fetcher.go:89-95). Auto-detected when None:
    ``__page_url`` (the URL actually served, i.e. the redirect target on
    hops) before the requested ``parsed_url``/``url``.

    When the input carries the requested ``parsed_url`` (the fetch join's
    input does), the pass also appends CANONICAL_URL, ``coalesce(
    canonical_url, parsed_url)``, and CANONICAL_KEY, its ``url_key``: the
    URL and key an ok row is stored under, computed in the same Python
    worker as the extraction so finalize runs no Python UDF of its own.
    Other inputs get no such columns."""
    if base_col is None:
        for c in ("__page_url", "parsed_url", "url"):
            if c in df.columns and c != html_col:
                base_col = c
                break
    ctype_col = next((c for c in ("__ctype", "ctype") if c in df.columns), None)
    passthrough = [f for f in df.schema.fields if f.name != html_col]
    keyed = "parsed_url" in df.columns
    out_fields = passthrough + EXTRACT_FIELDS
    if keyed:
        out_fields += [
            T.StructField(CANONICAL_URL, T.StringType(), True),
            T.StructField(CANONICAL_KEY, T.LongType(), True),
        ]
    pass_names = [f.name for f in passthrough]

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ext = extract_batch(
                pdf[html_col],
                pdf[base_col] if base_col else None,
                pdf[ctype_col] if ctype_col else None,
            )
            base = pdf[pass_names].reset_index(drop=True)
            if keyed:
                canon = ext["canonical_url"]
                canon = canon.where(canon.notna(), base["parsed_url"])
                ext[CANONICAL_URL] = canon
                ext[CANONICAL_KEY] = url_key_np(canon)
            yield pd.concat([base, ext], axis=1)

    return df.mapInPandas(run, schema=T.StructType(out_fields))
