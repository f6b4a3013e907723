"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship memoized batch fetch+extract over sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per operator from SURVEY.md §2
(names match the driver-test keys in the §2 tables), DuckDB-checked at
sf0.01. Keys without an oracle entry are genuinely non-SQL-expressible
(xxhash64-based sketches, the iterative crawl loop) and get rows-only checks.

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver sorts columns by name and hashes
values). Float-valued aggregates are rounded/cast on BOTH sides so the
value-hash is engine-stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# entry: flagship query
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the memoized batch fetch+extract plan (SURVEY §3.1) over a
    pages corpus derived from sf0.001 documents — canonicalize → key →
    dedupe → fetch-join → vectorized extract → result rows."""
    from scrape_spark.plans.batch_extract import batch_extract, pages_from_documents

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    pages = pages_from_documents(docs)
    requests = pages.select("url")
    return batch_extract(spark, requests, pages, store=None)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

_Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_SQL: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        _Q[name] = fn
        if sql is not None:
            _SQL[name] = sql
        return fn
    return deco


# -- S7/W1: range scan: filter + order + limit/offset ------------------------

@_q(
    "range_scan",
    """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
       FROM customer WHERE c_mktsegment = 'BUILDING'
       ORDER BY c_custkey LIMIT 50 OFFSET 10""",
)
def range_scan(spark, sf):
    return (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .orderBy("c_custkey")
        .offset(10)
        .limit(50)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )


@_q(
    "order_limit_offset",
    """SELECT p_partkey, p_name, p_retailprice FROM part
       ORDER BY p_partkey DESC LIMIT 20 OFFSET 5""",
)
def order_limit_offset(spark, sf):
    return (
        _t(spark, sf, "part")
        .orderBy(F.col("p_partkey").desc())
        .offset(5)
        .limit(20)
        .select("p_partkey", "p_name", "p_retailprice")
    )


# -- F1/K1: URL canonicalization through the real clean_url UDF --------------

@_q(
    "clean_url_project",
    """SELECT p_partkey,
              'https://parts.test/p/' || p_partkey || '?a=' ||
                replace(p_brand, '#', '%23') || '&b=' || p_size AS cleaned
       FROM part ORDER BY p_partkey""",
)
def clean_url_project(spark, sf):
    from scrape_spark.functions.urlkeys import clean_url

    part = _t(spark, sf, "part")
    # '#' in a query value must be pre-encoded (%23) or it starts the fragment
    dirty = F.concat(
        F.lit("https://parts.test/p/"), F.col("p_partkey").cast("string"),
        F.lit("?utm_source=x&utm_campaign=y&b="), F.col("p_size").cast("string"),
        F.lit("&a="), F.regexp_replace(F.col("p_brand"), "#", "%23"), F.lit("#frag"),
    )
    return (
        part.select("p_partkey", clean_url(dirty).alias("cleaned"))
        .orderBy("p_partkey")
    )


@_q(
    "key_hash",
    # FNV-1a-64 is a per-byte fold — expressible in DuckDB as a list_reduce
    # over char codes (ASCII urls ⇒ chars == bytes) in HUGEINT arithmetic
    # mod 2^64, then the reference's 56-bit fold + 7-bit host checksum
    # (internal/storage/key.go:44-57). Bit-identical to url_key_py.
    """WITH u AS (
         SELECT p_partkey, 'https://parts.test/p/' || p_partkey AS cleaned
         FROM part
       ), h AS (
         SELECT p_partkey, cleaned,
           list_reduce(
             list_prepend(14695981039346656037::HUGEINT,
               list_transform(range(1, length(cleaned) + 1),
                 i -> ord(substr(cleaned, CAST(i AS INT), 1))::HUGEINT)),
             (acc, ch) -> (xor(CAST(acc AS UBIGINT), CAST(ch AS UBIGINT))::HUGEINT
                           * 1099511628211::HUGEINT)
                          % 18446744073709551616::HUGEINT
           ) AS fnv,
           list_sum(list_transform(
             range(1, length(regexp_extract(cleaned, '^https?://([^/]+)', 1)) + 1),
             i -> ord(substr(regexp_extract(cleaned, '^https?://([^/]+)', 1),
                             CAST(i AS INT), 1)))) AS hsum
         FROM u
       )
       SELECT p_partkey, cleaned,
         CAST(((hsum % 128)::UBIGINT << 56)
              | xor(CAST(fnv AS UBIGINT) >> 56,
                    CAST(fnv AS UBIGINT) & 72057594037927935::UBIGINT)
              AS BIGINT) AS key
       FROM h ORDER BY p_partkey""",
)
def key_hash(spark, sf):
    from scrape_spark.functions.urlkeys import clean_url, url_key

    part = _t(spark, sf, "part")
    url = F.concat(
        F.lit("https://parts.test/p/"), F.col("p_partkey").cast("string"),
        F.lit("?utm_source=x"),
    )
    return part.select(
        "p_partkey",
        clean_url(url).alias("cleaned"),
        url_key(clean_url(url)).alias("key"),
    ).orderBy("p_partkey")


# -- F3: TTL-expiry predicate -------------------------------------------------

@_q(
    "ttl_filter",
    """SELECT event_id, ts, event_type FROM events
       WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
         AND ts <  TIMESTAMP '2024-01-22 00:00:00'""",
)
def ttl_filter(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.filter(
        (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-22 00:00:00").cast("timestamp"))
    ).select("event_id", "ts", "event_type")


# -- F4: status-code error routing (conditional projection) -------------------

@_q(
    "status_split",
    """SELECT o_orderkey, o_orderstatus,
              CASE WHEN o_orderstatus = 'O' THEN NULL
                   ELSE 'order error: status ' || o_orderstatus END AS error
       FROM orders""",
)
def status_split(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderstatus") == "O", F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("order error: status "), F.col("o_orderstatus")))
        .alias("error"),
    )


# -- F5: domain validation ----------------------------------------------------

@_q(
    "domain_valid",
    """SELECT s_suppkey, candidate,
              (length(candidate) BETWEEN 4 AND 253
               AND NOT contains(candidate, '--')
               AND regexp_matches(candidate,
                   '^([a-z0-9]([a-z0-9-]*[a-z0-9])?\\.)+[a-z]{2,63}$')) AS valid
       FROM (SELECT s_suppkey,
                    CASE WHEN s_suppkey % 3 = 0 THEN 'bad--host.com'
                         WHEN s_suppkey % 3 = 1 THEN 'sup' || s_suppkey || '.example.com'
                         ELSE 'no-tld' END AS candidate
             FROM supplier)""",
)
def domain_valid(spark, sf):
    from scrape_spark.functions.textfns import is_valid_domain

    s = _t(spark, sf, "supplier")
    cand = (
        F.when(F.col("s_suppkey") % 3 == 0, F.lit("bad--host.com"))
        .when(
            F.col("s_suppkey") % 3 == 1,
            F.concat(F.lit("sup"), F.col("s_suppkey").cast("string"), F.lit(".example.com")),
        )
        .otherwise(F.lit("no-tld"))
    )
    return s.select(
        "s_suppkey", cand.alias("candidate"), is_valid_domain(cand).alias("valid")
    )


# -- J1: alias-resolution lookup join with coalesce fallback ------------------

@_q(
    "alias_join",
    """SELECT o.o_orderkey,
              coalesce(a.canonical_id, o.o_custkey) AS resolved_key
       FROM orders o
       LEFT JOIN (SELECT c_custkey AS requested_id,
                         c_custkey % 100 AS canonical_id
                  FROM customer WHERE c_custkey % 7 = 0) a
         ON o.o_custkey = a.requested_id""",
)
def alias_join(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    id_map = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("requested_id"),
            (F.col("c_custkey") % 100).alias("canonical_id"),
        )
    )
    return (
        o.join(F.broadcast(id_map), o["o_custkey"] == id_map["requested_id"], "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("canonical_id"), F.col("o_custkey")).alias("resolved_key"),
        )
    )


# -- J2: cache hit/miss split (semi / anti) ------------------------------------

@_q(
    "hit_miss_semi",
    """SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem l
       WHERE EXISTS (SELECT 1 FROM part p
                     WHERE p.p_partkey = l.l_partkey AND p.p_size > 40)""",
)
def hit_miss_semi(spark, sf):
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_size") > 40)
    return li.join(p, li["l_partkey"] == p["p_partkey"], "left_semi").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )


@_q(
    "hit_miss_anti",
    """SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM part p
                         WHERE p.p_partkey = l.l_partkey AND p.p_size > 40)""",
)
def hit_miss_anti(spark, sf):
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_size") > 40)
    return li.join(p, li["l_partkey"] == p["p_partkey"], "left_anti").select(
        "l_orderkey", "l_partkey", "l_linenumber"
    )


# -- J3: broadcast dim join + aggregation --------------------------------------

@_q(
    "dim_broadcast",
    """SELECT s.s_name, count(*) AS n_items,
              CAST(round(sum(l.l_extendedprice)) AS BIGINT) AS total_price
       FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
       GROUP BY s.s_name""",
)
def dim_broadcast(spark, sf):
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice")).cast("bigint").alias("total_price"),
        )
    )


# -- J4/A1: last-write-wins dedupe ----------------------------------------------

@_q(
    "dedupe_lastwin",
    """SELECT user_id, event_id, event_type FROM (
         SELECT user_id, event_id, event_type,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
)
def dedupe_lastwin(spark, sf):
    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@_q(
    "lastwin_agg",
    """SELECT user_id, arg_max(event_type, event_id) AS last_type,
              count(*) AS n_events
       FROM events GROUP BY user_id""",
)
def lastwin_agg(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "event_id").alias("last_type"),
        F.count(F.lit(1)).alias("n_events"),
    )


# -- A2: counts -----------------------------------------------------------------

@_q(
    "store_counts",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def store_counts(spark, sf):
    return _t(spark, sf, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# -- A3: per-host multi-aggregation ----------------------------------------------

@_q(
    "per_host_agg",
    """SELECT l_suppkey, count(*) AS n,
              CAST(round(sum(l_quantity)) AS BIGINT) AS total_qty,
              round(avg(l_discount), 4) AS avg_disc
       FROM lineitem GROUP BY l_suppkey""",
)
def per_host_agg(spark, sf):
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity")).cast("bigint").alias("total_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
    )


# -- A4/U2: seen-set anti join ----------------------------------------------------

@_q(
    "seen_anti",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')""",
)
def seen_anti(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@_q(
    "seen_anti_cuckoo",
    """SELECT c_custkey, c_name FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')""",
)
def seen_anti_cuckoo(spark, sf):
    """A4 via the cuckoo pre-filter (north rule "Bloom/cuckoo"): build the
    partitioned filter from the seen keys, probe candidates, and exact-
    confirm only the maybes — the composition is EXACT, so it shares
    seen_anti's oracle."""
    from scrape_spark.operators.cuckoo import build_cuckoo, probe_cuckoo

    c = _t(spark, sf, "customer").withColumnRenamed("c_custkey", "key")
    seen = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("key"))
    )
    ck = build_cuckoo(seen, "key", n_buckets=8)
    probed = probe_cuckoo(c.select("key", "c_name"), ck, "key", n_buckets=8)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    confirmed = (
        probed.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(seen, "key", "left_anti")
    )
    return fresh.unionByName(confirmed).select(
        F.col("key").alias("c_custkey"), "c_name"
    )


# -- A5: distinct counts ------------------------------------------------------------

@_q(
    "distinct_hosts",
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs
       FROM orders GROUP BY o_orderpriority""",
)
def distinct_hosts(spark, sf):
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_custs"))
    )


# -- W3: top-k per group --------------------------------------------------------------

@_q(
    "topk_per_group",
    """SELECT l_suppkey, l_orderkey, l_linenumber, rk FROM (
         SELECT l_suppkey, l_orderkey, l_linenumber,
                row_number() OVER (PARTITION BY l_suppkey
                                   ORDER BY l_extendedprice DESC,
                                            l_orderkey, l_linenumber) AS rk
         FROM lineitem) WHERE rk <= 3""",
)
def topk_per_group(spark, sf):
    li = _t(spark, sf, "lineitem")
    w = W.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "rk")
    )


# -- U1: union of hit + miss paths ------------------------------------------------------

@_q(
    "union_results",
    """SELECT o_orderkey, o_orderstatus, 'hit' AS path FROM orders
       WHERE o_orderstatus = 'F' AND o_totalprice > 100000
       UNION ALL
       SELECT o_orderkey, o_orderstatus, 'miss' AS path FROM orders
       WHERE o_orderpriority = '1-URGENT' AND o_orderstatus <> 'F'""",
)
def union_results(spark, sf):
    o = _t(spark, sf, "orders")
    hits = o.filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000)).select(
        "o_orderkey", "o_orderstatus", F.lit("hit").alias("path")
    )
    misses = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") != "F")
    ).select("o_orderkey", "o_orderstatus", F.lit("miss").alias("path"))
    return hits.unionByName(misses)


# -- K7: author split ---------------------------------------------------------------------

@_q(
    "author_split",
    """SELECT p_partkey,
              len(string_split(p_name, ' ')) AS n_tokens,
              string_split(p_name, ' ')[1] AS first_token,
              array_to_string(string_split(p_name, ' '), '|') AS joined
       FROM part""",
)
def author_split(spark, sf):
    p = _t(spark, sf, "part")
    toks = F.split(F.col("p_name"), " ")
    return p.select(
        "p_partkey",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_join(toks, "|").alias("joined"),
    )


# ===========================================================================
# Training-data pipeline operators (dedupe / similarity / text analysis)
# ===========================================================================

@_q(
    "token_count",
    """SELECT doc_id,
              len(string_split_regex(trim(text), '\\s+')) AS n_ws,
              len(regexp_extract_all(text, '([a-zA-Z0-9]+|[^a-zA-Z0-9\\s])')) AS n_bpe
       FROM documents""",
)
def token_count(spark, sf):
    from scrape_spark.functions.textstats import token_count_bpe, token_count_ws

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count_ws("text").alias("n_ws"),
        token_count_bpe("text").alias("n_bpe"),
    )


@_q(
    "quality_score",
    """SELECT doc_id, round(greatest(0.0, least(1.0,
         0.4 * (CASE WHEN length(text) >= 200 THEN 1.0
                     WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END)
       + 0.3 * (CASE WHEN length(text) > 0
                     THEN length(regexp_replace(text, '[^a-zA-Z一-鿿]', '', 'g'))::DOUBLE / length(text)
                     ELSE 0.0 END)
       + 0.2 * (CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 1.0 ELSE 0.5 END)
       - 0.1 * (CASE WHEN length(text) > 0
                     THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)
                     ELSE 0.0 END))), 4) AS quality
       FROM (SELECT doc_id, text,
                    CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                         THEN length(text)::DOUBLE / len(string_split_regex(trim(text), '\\s+'))
                         ELSE 0.0 END AS mean_tok
             FROM documents)""",
)
def quality_score(spark, sf):
    from scrape_spark.functions.textstats import quality_score as qs

    return _t(spark, sf, "documents").select("doc_id", qs("text").alias("quality"))


@_q(
    "lang_id",
    """SELECT doc_id, CASE
         WHEN greatest(s_en, s_fr, s_de, s_es, s_zh) <= 0 THEN 'und'
         WHEN s_de = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'de'
         WHEN s_en = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'en'
         WHEN s_es = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'es'
         WHEN s_fr = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'fr'
         ELSE 'zh' END AS lang_guess
       FROM (SELECT doc_id,
               len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS s_en,
               len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS s_fr,
               len(regexp_extract_all(lower(text), '\\b(die|der|und|das|ist)\\b')) AS s_de,
               len(regexp_extract_all(lower(text), '\\b(el|los|de|las|y)\\b')) AS s_es,
               length(lower(text)) - length(regexp_replace(lower(text), '[一-鿿]', '', 'g')) AS s_zh
             FROM documents)""",
)
def lang_id(spark, sf):
    from scrape_spark.functions.textstats import lang_id as lid

    return _t(spark, sf, "documents").select("doc_id", lid("text").alias("lang_guess"))


@_q(
    "fingerprint_dedup",
    """SELECT md5(regexp_replace(lower(text), '[^a-z0-9一-鿿]', '', 'g')) AS fp,
              count(*) AS n_docs, min(doc_id) AS keep_id
       FROM documents GROUP BY 1""",
)
def fingerprint_dedup(spark, sf):
    from scrape_spark.operators.dedupe import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf, "documents"), "doc_id", "text")


@_q(
    "jaccard_pairs_words",
    """WITH base AS (SELECT doc_id,
                            list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
                     FROM documents),
       sizes AS (SELECT doc_id, len(toks) AS n FROM base),
       inv AS (SELECT doc_id, unnest(toks) AS tok FROM base),
       inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
                 FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT i, j, c, (sa.n + sb.n - c) AS u
       FROM inter JOIN sizes sa ON inter.i = sa.doc_id
                  JOIN sizes sb ON inter.j = sb.doc_id
       WHERE c::DOUBLE / (sa.n + sb.n - c) > 0.9""",
)
def jaccard_pairs_words(spark, sf):
    from scrape_spark.operators.dedupe import jaccard_pairs

    return jaccard_pairs(_t(spark, sf, "documents"), "doc_id", "text", 0.9, ngram=1)


@_q(
    "jaccard_pairs_trigram",
    """WITH base AS (
         SELECT doc_id,
                list_distinct(
                  CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
                       ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             FOR i IN range(1, len(w) - 1)] END) AS toks
         FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
               FROM documents)),
       sizes AS (SELECT doc_id, len(toks) AS n FROM base),
       inv AS (SELECT doc_id, unnest(toks) AS tok FROM base),
       inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
                 FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT i, j, c, (sa.n + sb.n - c) AS u
       FROM inter JOIN sizes sa ON inter.i = sa.doc_id
                  JOIN sizes sb ON inter.j = sb.doc_id
       WHERE c::DOUBLE / (sa.n + sb.n - c) > 0.5""",
)
def jaccard_pairs_trigram(spark, sf):
    from scrape_spark.operators.dedupe import jaccard_pairs

    return jaccard_pairs(_t(spark, sf, "documents"), "doc_id", "text", 0.5, ngram=3)


_PAIRS_SQL = """WITH RECURSIVE base AS (SELECT doc_id,
                            list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
                     FROM documents),
       sizes AS (SELECT doc_id, len(toks) AS n FROM base),
       inv AS (SELECT doc_id, unnest(toks) AS tok FROM base),
       inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
                 FROM inv a JOIN inv b ON a.tok = b.tok AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       pairs AS (SELECT i, j
                 FROM inter JOIN sizes sa ON inter.i = sa.doc_id
                            JOIN sizes sb ON inter.j = sb.doc_id
                 WHERE c::DOUBLE / (sa.n + sb.n - c) > 0.9)"""


@_q(
    "neardup_components",
    _PAIRS_SQL
    + """,
       nodes AS (SELECT i AS node FROM pairs UNION SELECT j FROM pairs),
       edges AS (SELECT i AS a, j AS b FROM pairs UNION ALL SELECT j, i FROM pairs),
       reach(node, label) AS (
         SELECT node, node FROM nodes
         UNION
         SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
         WHERE r.label < e.b)
       SELECT CAST(node AS BIGINT) AS doc_id, CAST(min(label) AS BIGINT) AS component
       FROM reach GROUP BY node""",
)
def neardup_components(spark, sf):
    """Near-dup clustering: similar-pair edges (exact word-Jaccard > 0.9)
    → connected components via distributed min-label propagation with
    pointer jumping (dedupe.connected_components) — the step between pair
    discovery and actually dropping duplicates. Oracle: DuckDB recursive
    CTE computing label reachability closure over the same pairs."""
    from scrape_spark.operators.dedupe import connected_components, jaccard_pairs

    pairs = jaccard_pairs(_t(spark, sf, "documents"), "doc_id", "text", 0.9, ngram=1)
    return connected_components(pairs, "i", "j").select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


@_q(
    "neardup_dedup",
    _PAIRS_SQL
    + """,
       nodes AS (SELECT i AS node FROM pairs UNION SELECT j FROM pairs),
       edges AS (SELECT i AS a, j AS b FROM pairs UNION ALL SELECT j, i FROM pairs),
       reach(node, label) AS (
         SELECT node, node FROM nodes
         UNION
         SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
         WHERE r.label < e.b),
       comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
       SELECT CAST(d.doc_id AS BIGINT) AS doc_id
       FROM documents d
       WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node != component)""",
)
def neardup_dedup(spark, sf):
    """Corpus minus near-duplicates: one representative (min doc_id) per
    component survives, untouched documents pass through."""
    from scrape_spark.operators.dedupe import drop_near_duplicates, jaccard_pairs

    docs = _t(spark, sf, "documents")
    pairs = jaccard_pairs(docs, "doc_id", "text", 0.9, ngram=1)
    return drop_near_duplicates(docs, "doc_id", pairs).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


@_q("minhash_neardup")  # rows-only: LSH banding has no portable SQL analog;
def minhash_neardup(spark, sf):  # recall/precision pinned by pytest instead
    from scrape_spark.operators.dedupe import minhash_neardup_pairs

    return minhash_neardup_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", threshold=0.5, k=32, bands=8
    )


@_q("simhash_neardup")  # rows-only: same reason as minhash
def simhash_neardup(spark, sf):
    from scrape_spark.operators.dedupe import simhash_neardup_pairs

    return simhash_neardup_pairs(
        _t(spark, sf, "documents"), "doc_id", "text", max_hamming=4
    )


_COSINE_SQL = """list_sum([va[i] * vb[i] FOR i IN range(1, 65)])
    / (sqrt(list_sum([va[i] * va[i] FOR i IN range(1, 65)]))
       * sqrt(list_sum([vb[i] * vb[i] FOR i IN range(1, 65)])))"""


@_q(
    "embedding_neardup",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       n AS (SELECT vec_id,
                    [x / sqrt(list_sum([y * y FOR y IN v])) FOR x IN v] AS vn
             FROM e)
       SELECT i, j, round(sim, 6) AS sim_r FROM (
         SELECT a.vec_id AS i, b.vec_id AS j,
                list_sum([a.vn[k] * b.vn[k] FOR k IN range(1, 65)]) AS sim
         FROM n a JOIN n b ON a.vec_id < b.vec_id)
       WHERE sim > 0.4""",
)
def embedding_neardup(spark, sf):
    from scrape_spark.operators.similarity import embedding_neardup_pairs

    return embedding_neardup_pairs(_t(spark, sf, "embeddings"), threshold=0.4)


@_q(
    "ann_topk",
    f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       scored AS (
         SELECT q.q_id, c.vec_id AS n_id,
                {_COSINE_SQL.replace('va', 'q.qv').replace('vb', 'c.v')} AS sim
         FROM e c CROSS JOIN q WHERE c.vec_id != q.q_id),
       ranked AS (SELECT q_id, n_id, sim,
                         row_number() OVER (PARTITION BY q_id
                                            ORDER BY sim DESC, n_id) AS rk
                  FROM scored)
       SELECT q_id, n_id, rk, round(sim, 6) AS sim_r FROM ranked WHERE rk <= 5""",
)
def ann_topk(spark, sf):
    from scrape_spark.operators.similarity import ann_topk as topk

    e = _t(spark, sf, "embeddings")
    return topk(e, e.filter(F.col("vec_id") < 10), k=5)


@_q("ann_topk_lsh")  # rows-only: hyperplane bucketing is engine-specific;
def ann_topk_lsh_q(spark, sf):  # recall vs brute force pinned by pytest
    from scrape_spark.operators.similarity import ann_topk_lsh

    # min_corpus_rows=0 FORCES the LSH path: at driver/bench scale the size
    # gate would silently fall back to exact brute force, and the published
    # 'LSH' timing/rows would actually measure ann_topk. Forcing keeps the
    # benchmark honest about which code ran (production callers keep the
    # gate, which is measured to never lose below the crossover).
    e = _t(spark, sf, "embeddings")
    return ann_topk_lsh(e, e.filter(F.col("vec_id") < 10), k=5, min_corpus_rows=0)


@_q("ann_topk_ivf")  # rows-only: IVF list assignment is engine-specific;
def ann_topk_ivf_q(spark, sf):  # recall vs brute force pinned by pytest
    from scrape_spark.operators.similarity import ann_topk_ivf

    # min_corpus_rows=0 forces the IVF path (see ann_topk_lsh_q)
    e = _t(spark, sf, "embeddings")
    return ann_topk_ivf(e, e.filter(F.col("vec_id") < 10), k=5, min_corpus_rows=0)


# -- sessionization (gap-based) over the events stream table -------------------

@_q(
    "sessionize",
    """SELECT user_id, event_id, session_id::BIGINT AS session_id FROM (
         SELECT user_id, event_id,
                sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
         FROM (SELECT user_id, event_id, ts,
                      epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                            ORDER BY ts, event_id)) AS gap
               FROM events))""",
)
def sessionize(spark, sf):
    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    return (
        ev.withColumn("gap", gap)
        .withColumn(
            "session_id",
            F.sum(
                F.when(F.col("gap").isNull() | (F.col("gap") > 1_800_000_000), 1).otherwise(0)
            ).over(w),
        )
        .select("user_id", "event_id", "session_id")
    )


# -- collect/explode round-trip (feed → batch fan-out shape, J5) ----------------

@_q(
    "feed_explode",
    """SELECT source, doc_id, count(*) OVER (PARTITION BY source) AS n_items
       FROM documents""",
)
def feed_explode(spark, sf):
    d = _t(spark, sf, "documents")
    feeds = d.groupBy("source").agg(
        F.sort_array(F.collect_list("doc_id")).alias("items")
    )
    return feeds.select(
        "source",
        F.explode("items").alias("doc_id"),
        F.size("items").alias("n_items"),
    )


# -- feed_refresh re-crawl cadence (migrations/00003_feed_refresh.sql) ----------

@_q(
    "feed_due",
    """WITH f AS (
         SELECT 'https://' || source || '/feed.xml' AS url,
                1700000000 + (max(doc_id) % 90000) AS last_request,
                3600 * (1 + count(*) % 24) AS refresh_interval,
                1700000000 - (max(doc_id) % 50000) AS last_refresh,
                3600 * (count(*) % 30) AS idle_timeout
         FROM documents GROUP BY source)
       SELECT url,
              CAST(last_refresh + refresh_interval AS BIGINT) AS due_at,
              CAST(last_refresh AS BIGINT) AS last_refresh,
              CAST(refresh_interval AS BIGINT) AS refresh_interval
       FROM f
       WHERE last_refresh + refresh_interval <= 1700050000
         AND last_request + idle_timeout > 1700050000""",
)
def feed_due(spark, sf):
    """Re-crawl cadence scan: which feeds are due for refresh at `now`
    (overdue by refresh_interval AND requested within idle_timeout), per
    the feed_refresh table semantics. The feeds dim is synthesized
    deterministically from `documents` so the oracle can mirror it."""
    from scrape_spark.sources.feed_refresh import due_feeds

    d = _t(spark, sf, "documents")
    feeds = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("m"))
        .select(
            F.concat(F.lit("https://"), F.col("source"), F.lit("/feed.xml")).alias("url"),
            (F.lit(1700000000) + F.col("m") % 90000).cast("long").alias("last_request"),
            (F.lit(3600) * (F.lit(1) + F.col("n") % 24)).cast("long").alias(
                "refresh_interval"
            ),
            (F.lit(1700000000) - F.col("m") % 50000).cast("long").alias("last_refresh"),
            (F.lit(3600) * (F.col("n") % 30)).cast("long").alias("idle_timeout"),
        )
    )
    return due_feeds(feeds, 1700050000)


# -- training-corpus export plan (plans/export.py) ------------------------------

@_q(
    "corpus_export",
    """WITH base AS (
         SELECT doc_id, text,
                len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                     THEN length(text)::DOUBLE / len(string_split_regex(trim(text), '\\s+'))
                     ELSE 0.0 END AS mean_tok,
                len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS s_en,
                len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b')) AS s_fr,
                len(regexp_extract_all(lower(text), '\\b(die|der|und|das|ist)\\b')) AS s_de,
                len(regexp_extract_all(lower(text), '\\b(el|los|de|las|y)\\b')) AS s_es,
                length(lower(text)) - length(regexp_replace(lower(text), '[一-鿿]', '', 'g')) AS s_zh
         FROM documents
         WHERE length(coalesce(text, '')) > 0),
       ann AS (
         SELECT doc_id, text, n_tokens,
           CASE WHEN greatest(s_en, s_fr, s_de, s_es, s_zh) <= 0 THEN 'und'
                WHEN s_de = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'de'
                WHEN s_en = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'en'
                WHEN s_es = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'es'
                WHEN s_fr = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'fr'
                ELSE 'zh' END AS lang,
           round(greatest(0.0, least(1.0,
             0.4 * (CASE WHEN length(text) >= 200 THEN 1.0
                         WHEN length(text) >= 50 THEN 0.5 ELSE 0.0 END)
           + 0.3 * (CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, '[^a-zA-Z一-鿿]', '', 'g'))::DOUBLE / length(text)
                         ELSE 0.0 END)
           + 0.2 * (CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 1.0 ELSE 0.5 END)
           - 0.1 * (CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)
                         ELSE 0.0 END))), 4) AS quality
         FROM base)
       SELECT doc_id, lang, quality, n_tokens
       FROM (SELECT *, row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9一-鿿]', '', 'g'))
               ORDER BY doc_id) AS rn
             FROM ann WHERE quality >= 0.5)
       WHERE rn = 1""",
)
def corpus_export(spark, sf):
    """The full export plan (plans/export.py::export_corpus — the `export`
    CLI journey): ok-filter → annotate(lang/quality/tokens) → quality gate →
    exact fingerprint dedup, mirrored end-to-end by the oracle CTE chain."""
    from scrape_spark.plans.export import export_corpus

    d = _t(spark, sf, "documents")
    return export_corpus(
        d, id_col="doc_id", text_col="text", min_quality=0.5
    ).select("doc_id", "lang", "quality", "n_tokens")


# -- sitemap ingestion (sources/sitemap.py): urlset XML → entry rows ------------

@_q(
    "sitemap_entries",
    """SELECT 'https://' || source || '/sitemap.xml' AS sitemap_url,
              'https://' || source || '/d/' || doc_id AS loc,
              TIMESTAMP '2026-01-01' + (doc_id % 28) * INTERVAL 1 DAY AS lastmod,
              CASE doc_id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
                   ELSE 'monthly' END AS changefreq,
              (doc_id % 10) / 10.0 AS priority
       FROM documents""",
)
def sitemap_entries(spark, sf):
    """Round-trip the sitemap parser: build one urlset XML per source from
    `documents` (deterministic lastmod/changefreq/priority hints), parse it
    with the vectorized mapInPandas parser, and emit the recovered entry
    rows — the oracle reconstructs them directly from the base table."""
    from scrape_spark.sources.sitemap import parse_sitemaps

    d = _t(spark, sf, "documents")
    entry_xml = F.concat(
        F.lit("<url><loc>https://"), F.col("source"), F.lit("/d/"),
        F.col("doc_id").cast("string"),
        F.lit("</loc><lastmod>"),
        F.date_format(
            F.date_add(F.lit("2026-01-01").cast("date"), (F.col("doc_id") % 28).cast("int")),
            "yyyy-MM-dd",
        ),
        F.lit("</lastmod><changefreq>"),
        F.element_at(
            F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
        F.lit("</changefreq><priority>"),
        F.format_string("%.1f", (F.col("doc_id") % 10) / 10.0),
        F.lit("</priority></url>"),
    )
    sitemaps = (
        d.select(
            F.concat(F.lit("https://"), F.col("source"), F.lit("/sitemap.xml")).alias("url"),
            entry_xml.alias("__e"),
        )
        .groupBy("url")
        .agg(
            F.concat(
                F.lit("<urlset>"), F.concat_ws("", F.collect_list("__e")), F.lit("</urlset>")
            ).alias("html")
        )
    )
    return parse_sitemaps(sitemaps).select(
        "sitemap_url",
        "loc",
        F.col("lastmod").cast("timestamp").alias("lastmod"),
        "changefreq",
        "priority",
    )


# -- K3: md5 basename for golden-fixture naming --------------------------------

@_q(
    "md5_basename",
    """SELECT doc_id,
              md5('https://docs.test/d/' || doc_id) AS fixture_name
       FROM documents""",
)
def md5_basename(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5(F.concat(F.lit("https://docs.test/d/"), F.col("doc_id").cast("string"))).alias(
            "fixture_name"
        ),
    )


# -- F6/F9: wildcard→LIKE rewrite with case folding ------------------------------

@_q(
    "wildcard_like",
    """SELECT c_custkey, c_name FROM customer
       WHERE lower(c_name) LIKE '%er#0000001%'""",
)
def wildcard_like(spark, sf):
    from scrape_spark.functions.textfns import wildcard_to_like

    c = _t(spark, sf, "customer")
    return c.filter(F.lower(F.col("c_name")).like(wildcard_to_like("er#0000001"))).select(
        "c_custkey", "c_name"
    )


@_q(
    "metadata_json",
    # The metadata blob keeps only non-skip-list fields (lang, source here —
    # url/content_text are SKIP_IN_METADATA, resource/web_page.go:13-20).
    # Both engines emit compact {"k":"v"} JSON for flat string structs, so
    # the blob is hash-comparable; json_merge_patch drops any null fields to
    # mirror Spark's ignoreNullFields.
    """SELECT doc_id AS key,
              json_merge_patch('{}', to_json(struct_pack(
                lang := lang, source := source)))::VARCHAR AS metadata
       FROM documents""",
)
def metadata_json_q(spark, sf):
    from scrape_spark.operators.json_sink import metadata_json_col

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("key"),
        F.concat(F.lit("https://docs.test/d/"), F.col("doc_id").cast("string")).alias("url"),
        F.col("text").alias("content_text"),
        "lang",
        "source",
    )
    return d.select("key", metadata_json_col(d).alias("metadata"))


# -- the north-rule crawl itself: BFS epochs with politeness ---------------------

@_q("crawl_bfs")  # rows-only: deterministic crawl order has no SQL analog —
def crawl_bfs(spark, sf):  # equivalence vs the Python reference model is pinned in pytest
    import tempfile

    from pyspark.sql import functions as FF

    from scrape_spark.operators.frontier import Crawl, CrawlConfig
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.sources.pages import robots_table, seed_urls, synth_pages

    n_hosts, per_host, epochs = 4, 25, 2
    pages = synth_pages(spark, n_hosts, per_host)
    tmp = tempfile.mkdtemp(prefix="crawl_bfs_")
    crawl = Crawl(
        spark,
        f"{tmp}/state",
        UrlStore(spark, f"{tmp}/store", n_buckets=4),
        pages,
        robots_table(spark, n_hosts),
        CrawlConfig(epoch_seconds=4.0),
    )
    crawl.run(epochs, seeds=seed_urls(n_hosts))
    logs = [
        spark.read.parquet(f"{tmp}/state/epochs/e{e:05d}/selected.parquet")
        for e in range(epochs)
    ]
    out = logs[0]
    for df in logs[1:]:
        out = out.unionByName(df)
    return out.orderBy("epoch", "host", "rank").select(
        "epoch", FF.col("key"), "url", "host", "depth", "rank"
    )


# -- flagship pipeline, oracle-checked -------------------------------------------------
#
# The full fetch+extract plan over the synthetic pages corpus derived from
# `documents`. Because pages_from_documents builds HTML from a fixed template,
# every extracted field is a deterministic function of the documents row, so
# the WHOLE pipeline (minus the FNV key, checked separately by `key_hash` +
# pytest bit-parity, and the wall-clock fetch_time/expires, checked as a
# constant TTL delta) is DuckDB-expressible. ArrayType columns are projected
# through array_join so the driver's pandas canonicalizer can sort them.

@_q(
    "batch_pipeline",
    """SELECT 'https://doc' || (doc_id % 50) || '.test/d/' || doc_id AS url,
              'https://doc' || (doc_id % 50) || '.test/d/' || doc_id AS parsed_url,
              'https://doc' || (doc_id % 50) || '.test/d/' || doc_id AS original_url,
              1 AS fetch_method,
              200 AS status_code,
              NULL::VARCHAR AS error,
              'doc' || (doc_id % 50) || '.test' AS hostname,
              'Document ' || doc_id AS title,
              'doc from ' || source AS description,
              source AS sitename,
              'Gen ' || source AS authors,
              NULL::VARCHAR AS categories,
              NULL::VARCHAR AS tags,
              lang AS language,
              NULL::VARCHAR AS image,
              'article' AS page_type,
              NULL::VARCHAR AS license,
              'Document ' || doc_id || chr(10) || text AS content_text,
              2592000::BIGINT AS ttl_s
       FROM documents""",
)
def batch_pipeline(spark, sf):
    from scrape_spark.plans.batch_extract import batch_extract, pages_from_documents

    pages = pages_from_documents(_t(spark, sf, "documents"))
    res = batch_extract(spark, pages.select("url"), pages, store=None)
    return res.select(
        "url", "parsed_url", "original_url", "fetch_method", "status_code",
        "error", "hostname", "title", "description", "sitename",
        F.array_join("authors", "|").alias("authors"),
        F.array_join("categories", "|").alias("categories"),
        F.array_join("tags", "|").alias("tags"),
        "language", "image", "page_type", "license", "content_text",
        (F.col("expires").cast("timestamp").cast("long")
         - F.col("fetch_time").cast("timestamp").cast("long")).alias("ttl_s"),
    )


# -- spec v4: relative-link resolution (operators/extract._resolve_links) -------

@_q(
    "link_resolve",
    """WITH f AS (
         SELECT doc_id,
           'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.test/a'
             || CAST(doc_id % 7 AS VARCHAR) || '/b' || CAST(doc_id % 5 AS VARCHAR)
             || '/page.html' AS base,
           CASE doc_id % 8
             WHEN 0 THEN 'https://x' || CAST(doc_id AS VARCHAR) || '.test/p'
             WHEN 1 THEN '/r/' || CAST(doc_id AS VARCHAR)
             WHEN 2 THEN 'q' || CAST(doc_id AS VARCHAR) || '.html'
             WHEN 3 THEN './s' || CAST(doc_id AS VARCHAR)
             WHEN 4 THEN '../t' || CAST(doc_id AS VARCHAR)
             WHEN 5 THEN '//cdn' || CAST(doc_id % 9 AS VARCHAR) || '.test/u'
             WHEN 6 THEN '?page=' || CAST(doc_id AS VARCHAR)
             ELSE 'mailto:a@b.test'
           END AS href
         FROM documents
       ), parts AS (
         SELECT doc_id, href,
           regexp_extract(base, '^(https?://[^/]+)', 1) AS origin,
           regexp_replace(base, '^https?://[^/]+', '') AS path,
           regexp_replace(
             regexp_replace(base, '^https?://[^/]+', ''), '[^/]*$', ''
           ) AS dir
         FROM f
       )
       SELECT doc_id, href,
         CASE doc_id % 8
           WHEN 0 THEN href
           WHEN 1 THEN origin || href
           WHEN 2 THEN origin || dir || href
           WHEN 3 THEN origin || dir || substr(href, 3)
           WHEN 4 THEN origin || regexp_replace(dir, '[^/]+/$', '') || substr(href, 4)
           WHEN 5 THEN 'https:' || href
           WHEN 6 THEN origin || path || href
         END AS resolved
       FROM parts
       WHERE doc_id % 8 <> 7""",
)
def link_resolve(spark, sf):
    """Spec-v4 link resolution as a driver-checked operator: deterministic
    href fixtures covering every reference form (absolute, root-relative,
    plain, ./, ../, protocol-relative, query-only, dropped mailto:) resolved
    by the SAME vectorized kernel the crawl's link harvest uses
    (operators/extract._resolve_links), oracle-checked against a closed-form
    SQL restatement of RFC 3986 resolution for these shapes."""
    import pandas as pd

    d = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".test/a"), (F.col("doc_id") % 7).cast("string"),
        F.lit("/b"), (F.col("doc_id") % 5).cast("string"), F.lit("/page.html"),
    )
    sel = F.col("doc_id") % 8
    href = (
        F.when(sel == 0, F.concat(F.lit("https://x"), d, F.lit(".test/p")))
        .when(sel == 1, F.concat(F.lit("/r/"), d))
        .when(sel == 2, F.concat(F.lit("q"), d, F.lit(".html")))
        .when(sel == 3, F.concat(F.lit("./s"), d))
        .when(sel == 4, F.concat(F.lit("../t"), d))
        .when(sel == 5, F.concat(F.lit("//cdn"), (F.col("doc_id") % 9).cast("string"), F.lit(".test/u")))
        .when(sel == 6, F.concat(F.lit("?page="), d))
        .otherwise(F.lit("mailto:a@b.test"))
    )
    fixtures = _t(spark, sf, "documents").select(
        "doc_id", base.alias("base"), href.alias("href")
    )

    def run(it):
        from scrape_spark.operators.extract import _resolve_links

        for pdf in it:
            lists = pd.Series([[h] for h in pdf["href"]], dtype=object)
            res = _resolve_links(lists, pdf["base"])
            out = pdf[["doc_id", "href"]].copy()
            out["resolved"] = [x[0] if x else None for x in res]
            yield out

    return (
        fixtures.mapInPandas(run, schema="doc_id long, href string, resolved string")
        .filter(F.col("resolved").isNotNull())
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_Q)


def oracle_sql() -> dict[str, str]:
    return dict(_SQL)
