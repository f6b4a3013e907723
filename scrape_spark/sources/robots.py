"""RFC 9309 robots.txt parsing → per-host politeness rules (north rule:
"per-host politeness scheduler (robots.txt rules + crawl-delay token
buckets)").

The reference has no robots handling (rate limiting is an acknowledged
TODO, internal/scrape.go:143); the crawl loop consumes a rules *table*
(host, disallow, allow, crawl_delay). This module is the missing front
end: raw robots.txt bytes → that table, with RFC 9309 semantics:

- line syntax `field: value`, `#` comments, case-insensitive field names;
- groups = consecutive ``User-agent`` lines followed by rules; a crawler
  obeys the group(s) whose user-agent token is the LONGEST match for its
  own product token, falling back to ``*``; multiple groups for the same
  chosen agent merge;
- ``Allow`` / ``Disallow`` precedence: the matching rule with the most
  octets in its pattern wins; on a tie, Allow wins. Empty ``Disallow:``
  means allow-all (ignored as a rule);
- ``*`` matches any octet sequence, ``$`` anchors the end; otherwise a
  rule is a path prefix;
- ``Crawl-delay`` (de-facto extension, not in the RFC) is read per chosen
  group.

Parsing runs as a vectorized-batch pandas pass (one row per HOST — a
dimension table; this is the documented minority path where per-row Python
is fine). MATCHING stays fully JVM-side: each rule is compiled at parse
time to a SQL LIKE pattern (``*`` → ``%``, ``$`` → exact-end, `%`/`_`
escaped) plus its octet length, and `denied_expr` evaluates
longest-match precedence with `F.like` inside array lambdas — no Python
in the per-URL hot path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_RULE = T.StructType(
    [
        T.StructField("plen", T.IntegerType(), False),  # pattern octets (precedence)
        T.StructField("like", T.StringType(), False),  # compiled LIKE pattern
    ]
)

ROBOTS_RULES_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(_RULE), True),
        T.StructField("allow", T.ArrayType(_RULE), True),
        T.StructField("crawl_delay", T.DoubleType(), True),
    ]
)


def _to_like(pattern: str) -> str:
    """Robots path pattern → SQL LIKE pattern (escape char '\\')."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    if not anchored:
        out.append("%")
    return "".join(out)


def as_rules(robots: DataFrame) -> DataFrame:
    """Either robots table shape → ROBOTS_RULES_SCHEMA, so the crawl has one
    matcher (:func:`denied_expr`). Parsed rules pass through. A plain-prefix
    table (``schemas.ROBOTS_SCHEMA``: ``disallow`` is array<string>) becomes
    literal-prefix rules: each prefix p is ``{plen: length(p), like: p with
    %, _ and \\ escaped, then %}`` and ``allow`` is null. A null prefix
    compiles to a null pattern, which matches no path."""
    if not isinstance(robots.schema["disallow"].dataType.elementType, T.StringType):
        return robots
    rules = F.transform(
        "disallow",
        lambda p: F.struct(
            F.length(p).alias("plen"),
            F.concat(F.regexp_replace(p, r"([%_\\])", r"\\$1"), F.lit("%")).alias("like"),
        ),
    )
    return robots.select(
        "host",
        rules.alias("disallow"),
        F.lit(None).cast(T.ArrayType(_RULE)).alias("allow"),
        "crawl_delay",
    )


def parse_robots_text(txt: str, user_agent: str) -> tuple[list[str], list[str], float | None]:
    """One robots.txt → (disallow_patterns, allow_patterns, crawl_delay)
    for `user_agent`, RFC 9309 group selection applied. Patterns are raw
    (uncompiled) robots patterns."""
    ua = user_agent.lower()
    # groups: list of (agents, disallows, allows, delay)
    groups: list[tuple[list[str], list[str], list[str], float | None]] = []
    cur_agents: list[str] = []
    cur: tuple[list[str], list[str], list[float]] | None = None
    in_agent_run = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_agent_run:
                cur_agents = []
                cur = ([], [], [])
                groups.append((cur_agents, *cur))
                in_agent_run = True
            cur_agents.append(value.lower())
        else:
            in_agent_run = False
            if cur is None:
                continue  # rules before any user-agent line: no group, ignored
            if field == "disallow" and value:
                cur[0].append(value)
            elif field == "allow" and value:
                cur[1].append(value)
            elif field == "crawl-delay":
                try:
                    cur[2].append(float(value))
                except ValueError:
                    pass

    # longest user-agent token match; '*' matches everything at length 0
    def agent_match(token: str) -> int | None:
        if token == "*":
            return 0
        return len(token) if token in ua else None

    best = -1
    for agents, *_ in groups:
        for a in agents:
            m = agent_match(a)
            if m is not None and m > best:
                best = m
    if best < 0:
        return [], [], None
    dis: list[str] = []
    allow: list[str] = []
    delay: float | None = None
    for agents, d, a, c in groups:
        matches = [agent_match(t) for t in agents]
        if any(m == best for m in matches if m is not None):
            dis.extend(d)
            allow.extend(a)
            if delay is None and c:
                delay = c[0]
    return dis, allow, delay


def parse_robots(
    robots_txt: DataFrame,
    user_agent: str = "scrape-spark",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """(host, robots_txt) → ROBOTS_RULES_SCHEMA, one pandas batch pass.
    Missing/null robots.txt ⇒ allow-all (empty rule arrays)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hosts, dis_out, allow_out, delays = [], [], [], []
            for host, txt in zip(pdf[host_col], pdf[txt_col]):
                d, a, c = parse_robots_text(txt or "", user_agent)
                hosts.append(host)
                dis_out.append([{"plen": len(p), "like": _to_like(p)} for p in d])
                allow_out.append([{"plen": len(p), "like": _to_like(p)} for p in a])
                delays.append(c)
            yield pd.DataFrame(
                {
                    "host": hosts,
                    "disallow": dis_out,
                    "allow": allow_out,
                    "crawl_delay": delays,
                }
            )

    return robots_txt.mapInPandas(run, schema=ROBOTS_RULES_SCHEMA)


def _best_len(path: Column, rules: Column) -> Column:
    """Longest matching rule's pattern-octet count, -1 if none match."""
    matched = F.filter(rules, lambda r: F.like(path, r["like"], F.lit("\\")))
    return F.coalesce(
        F.array_max(F.transform(matched, lambda r: r["plen"])), F.lit(-1)
    )


def denied_expr(path: Column, disallow: Column, allow: Column) -> Column:
    """RFC 9309 precedence: most-octets rule wins, Allow wins ties; no
    matching rule ⇒ allowed. Null rule arrays ⇒ allowed; a rule with a
    null pattern never matches."""
    dis = _best_len(path, F.coalesce(disallow, F.array().cast(T.ArrayType(_RULE))))
    al = _best_len(path, F.coalesce(allow, F.array().cast(T.ArrayType(_RULE))))
    return dis > al
