"""URL frontier + politeness scheduler + epoch-synchronous BFS crawl loop
(SURVEY.md §2.6 W3/W4, §2.8, M5/M6 — the north-rule net-new core).

The reference processes batches in input order with no pacing (rate limiting
is an acknowledged TODO, internal/scrape.go:143). This engine adds, with
public-spec semantics:

- **Robots exclusion** (RFC 9309 shape): per-host allow/disallow rules in
  one table shape (``sources.robots.ROBOTS_RULES_SCHEMA``) and one matcher
  (``denied_expr``); a supplied plain-prefix table is converted once, at
  construction. The robots join carries no broadcast hint: Spark sizes it
  (``spark.sql.autoBroadcastJoinThreshold``) from the table's real size —
  discovered rules are written to the epoch checkpoint before the join.
  Denied URLs are dropped permanently and counted in metrics.
- **Frontier rows**: seeds, sitemap entries and outlinks all become
  frontier rows through :func:`frontier_rows`, which keeps the row with
  the lowest (depth, priority, discovered_epoch) per key.
- **Crawl-delay token budget**: per epoch of `epoch_seconds`, a host with
  crawl_delay d gets ⌊epoch_seconds / d⌋ slots (min 1). Enforced as a
  rank-per-host window — stateless per epoch, state lives in the frontier.
- **Deterministic BFS ordering**: within a host, candidates rank by
  (priority, depth, key); across the crawl, order is (epoch, host, rank).
  No dependence on partition iteration order anywhere.
- **Seen-set**: fresh store keys (TTL-expired rows re-enter the frontier —
  the reference's expired⇒miss⇒refetch semantics) plus an `attempted`
  table for error URLs so failures don't loop. Two exact probes
  (``CrawlConfig.seen_filter``): the default ``"none"`` anti-joins the
  frontier against the full fresh key set, re-read from the TTL-pruned
  store every epoch (the reference's primary-key lookup; an O(store)/epoch
  term); ``"cuckoo"`` is the scale mode — a cuckoo pre-filter maintained
  *incrementally* (per-epoch inserts of the keys committed this epoch;
  exactly-once watermark-window expiry deletes found via manifest
  file-stat pruning) AND confirmed *bucket-pruned* (the exact confirm
  reads only the store/id_map buckets the maybe-keys hash to), so that
  mode's per-epoch seen-set cost is ∝ delta + candidates + touched
  buckets — no O(store) term anywhere in the loop. Alias copies are never deleted (conservative
  false positives resolved by the exact confirm); an overflowing bucket is
  flagged and rebuilt alone. The persistent filter models only rows THIS
  crawl commits: foreign store writers (CLI extract --store, external
  merges) are detected by walking the manifest parent chain between epoch
  pins, and trigger a full filter rebuild (rare, conservative, exact).
- **Checkpoint/resume**: each epoch commits {frontier, metrics, attempted,
  store snapshot ids} under epochs/e{N}/ with an atomic _COMMIT marker;
  resume re-runs from the last committed epoch. Seen-set reads pin the
  *committed* store snapshot, so a crash mid-epoch replays identically.
- **Skew**: the fetch stage repartitions by salted host hash (O2); the
  politeness quota itself caps per-host work per epoch, so a hot host
  cannot dominate a partition.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from scrape_spark.functions.urlkeys import (
    clean_and_key,
    hostname_col,
    salted_host_hash,
)
from scrape_spark.operators.cuckoo import (
    CUCKOO_FORMAT_VERSION,
    CUCKOO_SCHEMA,
    build_cuckoo,
    probe_cuckoo,
    rebuild_flagged,
    update_cuckoo,
)
from scrape_spark.operators.dedupe import first_per_key
from scrape_spark.operators.store import REQUESTED_KEY, UrlStore
from scrape_spark.plans.batch_extract import fetch_join, finalize_results
from scrape_spark.schemas import FRONTIER_SCHEMA
from scrape_spark.sources.live import body_fetcher, fetch_pages
from scrape_spark.sources.robots import (
    ROBOTS_RULES_SCHEMA,
    as_rules,
    denied_expr,
    parse_robots,
)
from scrape_spark.sources.sitemap import (
    expand_sitemap_entries,
    hint_priority_rows,
    parse_sitemaps,
    sitemap_urls_from_robots,
)

ATTEMPTED_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("epoch", T.IntegerType(), False),
    ]
)

DEFAULT_CRAWL_DELAY = 1.0

# store-commit ops this crawl itself authors; anything else in the manifest
# parent chain between two epoch pins means a foreign writer touched the
# store and the persistent seen-filter can no longer be advanced
# incrementally (its one-sidedness only models rows the crawl committed)
_CRAWL_STORE_OPS = {"crawl_merge", "crawl_compact"}

SEEN_FILTERS = ("none", "cuckoo")

# auto-compaction cadence: when any bucket of a store table accumulates this
# many delta generations, run_epoch compacts the table after its merge.
# Bounds read-side LWW resolution on long crawls — the reference analog is
# the daily maintenance ticker (database/sqlite/sqlite.go:76-80).
COMPACT_AFTER_GENERATIONS = 8

# the frontier row a key keeps: lowest (depth, priority, discovered_epoch),
# the cleaned URL as the last tie-break (ascending, nulls first)
_FRONTIER_ORDER = ["depth", "priority", "discovered_epoch", "url"]


def frontier_rows(raw: DataFrame) -> DataFrame:
    """(raw, depth, priority, discovered_epoch) rows → FRONTIER_SCHEMA: each
    URL is cleaned, keyed and hosted, and each key keeps exactly one row
    (``_FRONTIER_ORDER``), so the result never depends on partition order."""
    keyed = raw.withColumn("__ck", clean_and_key("raw")).select(
        F.col("__ck.key").alias("key"), F.col("__ck.parsed_url").alias("url"),
        "depth", "priority", "discovered_epoch",
    )
    return (
        first_per_key(keyed, ["key"], _FRONTIER_ORDER)
        .withColumn("host", hostname_col(F.col("url")))
        .select(*FRONTIER_SCHEMA.fieldNames())
    )


@dataclass
class CrawlConfig:
    epoch_seconds: float = 10.0
    max_depth: int = 6
    # snapshot GC: after each epoch's commit, expire store/id_map snapshots
    # older than this epoch's parent pins (the filter loader's manifest-walk
    # terminus and the resume read point) — disk stays ∝ live store + recent
    # deltas instead of growing with crawl history, the bound a 10^10-URL
    # frontier needs. False keeps full time-travel history.
    expire_snapshots: bool = True
    # product token for RFC 9309 user-agent group selection when the crawl
    # discovers robots.txt from the corpus itself (robots=None)
    user_agent: str = "scrape-spark"
    # in discovered-robots mode: rules older than this many epochs expire
    # and the host is refetched next time it appears in the frontier
    # (RFC 9309 permits bounded caching). None = fetch once per host.
    robots_ttl_epochs: int | None = None
    # in discovered-robots mode, also harvest `Sitemap:` lines from each NEW
    # host's robots.txt, fetch+parse the advertised sitemaps (urlset + one
    # index level) and feed their page URLs into the next frontier at
    # depth 1 — host-curated discovery beyond link-following. Cost ∝ new
    # hosts/epoch: a host's sitemaps are processed exactly once, and epochs
    # with no new hosts skip the stage entirely (no corpus scan).
    discover_sitemaps: bool = False
    # seen-set probe: "none" = exact anti-join against the full fresh key
    # set; "cuckoo" = persistent cuckoo pre-filter + bucket-pruned confirm
    seen_filter: str = "none"

    def __post_init__(self):
        if self.seen_filter not in SEEN_FILTERS:
            raise ValueError(
                f"seen_filter must be one of {SEEN_FILTERS}, got {self.seen_filter!r}"
            )
        if self.robots_ttl_epochs is not None and self.robots_ttl_epochs < 1:
            raise ValueError("robots_ttl_epochs must be >= 1 (or None)")

    def budget_expr(self):
        """Per-host fetch budget: floor(epoch_seconds / crawl_delay), at
        least 1, as a long. A NULL or zero delay takes the default (a zero
        divisor fails under ANSI mode); a negative, NaN or infinite delay
        gives 1, and a tiny one saturates instead of overflowing."""
        delay = F.col("crawl_delay")
        d = F.coalesce(F.when(delay != 0, delay), F.lit(DEFAULT_CRAWL_DELAY))
        per_epoch = F.floor(F.lit(self.epoch_seconds) / d)
        return F.greatest(F.lit(1).cast("long"), per_epoch)


class Crawl:
    """Epoch-synchronous crawl over a pages corpus (the network-free fetch
    join at every test/bench scale) or, with ``live=``, over the real
    network (executor-side HTTP fetch, checkpointed per epoch)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        store: UrlStore,
        pages: DataFrame | None,
        robots: DataFrame | None = None,
        config: CrawlConfig | None = None,
        live=None,
    ):
        """``robots`` may be a pre-supplied rules table (parsed RFC 9309
        rules, or plain disallow-prefix arrays — converted once here to the
        parsed shape by ``sources.robots.as_rules``), or None — then the crawl
        DISCOVERS robots.txt: each epoch it fetches
        ``<scheme>://<host>/robots.txt`` for hosts newly seen in the frontier
        through :meth:`_fetcher` (the side-input fetcher, which keeps only
        200 answers), parses them (RFC 9309), and accumulates the rules in
        the epoch checkpoint.

        ``live`` (a :class:`scrape_spark.sources.live.LiveFetchConfig`)
        replaces the pages corpus with the real network: each epoch's
        politeness-selected URLs are fetched by the executors
        (sources/live.py) and written to the epoch checkpoint as
        ``fetched_pages.parquet`` — the fetch join, extraction, outlink
        discovery, robots discovery, and resume semantics are otherwise
        IDENTICAL to corpus mode (the epoch re-reads its own fetched
        parquet, so recomputes and resumed runs never refetch). ``pages``
        may then be None."""
        if pages is None and live is None:
            raise ValueError("Crawl needs a pages corpus or live=LiveFetchConfig")
        self.spark = spark
        self.state_dir = state_dir
        self.store = store
        self.pages = pages
        self.live = live
        self.robots = as_rules(robots).cache() if robots is not None else None
        self.cfg = config or CrawlConfig()
        self._epoch_caches: list[DataFrame] = []
        self._robots_raw_delta = None  # (host, robots_txt) for this epoch's NEW hosts
        self._robots_prior_hosts = None  # hosts ever fetched (pre-TTL-expiry)
        os.makedirs(os.path.join(state_dir, "epochs"), exist_ok=True)

    # ---- checkpoint bookkeeping -------------------------------------------
    def _edir(self, epoch: int) -> str:
        return os.path.join(self.state_dir, "epochs", f"e{epoch:05d}")

    def last_committed_epoch(self) -> int | None:
        base = os.path.join(self.state_dir, "epochs")
        done = [
            int(d[1:])
            for d in os.listdir(base)
            if d.startswith("e") and os.path.exists(os.path.join(base, d, "_COMMIT.json"))
        ]
        return max(done) if done else None

    def _commit_info(self, epoch: int) -> dict:
        with open(os.path.join(self._edir(epoch), "_COMMIT.json")) as f:
            return json.load(f)

    # ---- seeding -----------------------------------------------------------
    def seed(self, urls: list[str], sitemaps: DataFrame | None = None) -> None:
        """Write epoch 0's frontier: each seed URL at depth 0, priority 0,
        plus — given ``sitemaps``, a (url, html) frame of sitemap XML pages —
        every sitemap page entry at depth 0 with its hint priority
        (``<sitemapindex>`` references resolve through :meth:`_fetcher`;
        in corpus mode the given pages count as fetched). Entries stay a
        DataFrame end to end, so a 10^8-URL sitemap seed never transits the
        driver. A URL listed twice keeps its lowest (depth, priority) row.
        Raises ValueError when the sitemaps yield no seed URL."""
        raw = self.spark.createDataFrame(
            [(u, 0, 0, 0) for u in urls],
            "raw string, depth int, priority long, discovered_epoch int",
        )
        edir = self._edir(0)
        caches: list[DataFrame] = []
        try:
            if sitemaps is not None:
                sm_pages = sitemaps.select(
                    "url", F.col("html").cast("binary").alias("html")
                )
                sm_rows = self._sitemap_rows(
                    sm_pages, self._fetcher(extra=sm_pages),
                    depth=0, discovered_epoch=0, max_levels=5, caches=caches,
                )
                if sm_rows.limit(1).count() == 0:
                    raise ValueError("sitemaps produced no seed URLs")
                raw = raw.unionByName(sm_rows)
            frontier_rows(raw).write.mode("overwrite").parquet(
                os.path.join(edir, "frontier.parquet")
            )
        finally:
            for df in caches:
                df.unpersist()
        self.spark.createDataFrame([], ATTEMPTED_SCHEMA).write.mode("overwrite").parquet(
            os.path.join(edir, "attempted.parquet")
        )
        with open(os.path.join(edir, "_SEED.json"), "w") as f:
            json.dump({"n_seeds": len(urls), "sitemaps": sitemaps is not None}, f)

    def _fetcher(self, extra: DataFrame | None = None):
        """``urls_df -> (url, html)`` for robots.txt and sitemap pages, one
        row per URL that answers 200 (:func:`body_fetcher`): the executors'
        HTTP fetch in live mode, else the pages corpus plus the ``extra``
        (url, html) pages, when given, which count as answering 200."""
        if self.live is not None:
            return body_fetcher(cfg=self.live)
        pages = self.pages
        if extra is not None:
            pages = extra.unionByName(
                pages.withColumn("html", F.col("html").cast("binary")),
                allowMissingColumns=True,
            )
        return body_fetcher(pages)

    def _sitemap_rows(
        self, sm_pages: DataFrame, fetch, depth: int, discovered_epoch: int,
        max_levels: int, caches: list,
    ) -> DataFrame:
        """Sitemap XML pages → frontier input rows for every page entry,
        following ``<sitemapindex>`` references through ``fetch``. The
        initial parse is persisted: it feeds three subtrees of the
        expansion and, in live mode, recomputing it would re-fetch every
        sitemap over the network. Persisted frames go to ``caches``."""
        base = parse_sitemaps(sm_pages).persist()
        caches.append(base)
        entries = expand_sitemap_entries(base, fetch, max_levels=max_levels, caches=caches)
        return hint_priority_rows(entries, depth, discovered_epoch)

    # ---- seen-set probe ----------------------------------------------------
    def _unseen(self, frontier: DataFrame, pre_filter: DataFrame | None, confirm) -> DataFrame:
        """EXACT seen-set filtering. Without a pre-filter every row goes
        through ``confirm`` (a callable maybe→still-unseen: the full-key-set
        anti-join, or the bucket-pruned probe in cuckoo mode). With the
        cuckoo pre-filter (one-sided: no false negatives) 'definitely
        unseen' rows skip the confirm and only the 'maybe seen' minority
        goes through it. ``probed`` is cached: both union arms and the eager
        bucket-discovery collect read it once instead of re-running the
        cogrouped probe per consumer (the union-arm recompute trap)."""
        if pre_filter is None:
            return confirm(frontier)
        probed = probe_cuckoo(
            frontier, pre_filter, "key", n_buckets=self.store.urls.n_buckets
        ).cache()
        self._epoch_caches.append(probed)
        definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        return definitely_new.unionByName(confirm(maybe))

    def _confirm_unseen_pruned(
        self,
        maybe: DataFrame,
        store_snap: int | None,
        idmap_snap: int | None,
        attempted: DataFrame,
    ) -> DataFrame:
        """Bucket-pruned exact confirm: reads ONLY the store/id_map buckets
        the candidate keys hash to, so the per-epoch confirm shuffles
        ∝ candidates + touched-bucket rows — never the 10^10-key store side
        (the Spark analog of the reference's O(batch) primary-key point
        probes, database/sqlite/migrations/00001_init.sql:15-17).

        A candidate key is seen iff (a) a fresh store row has that key
        (bucket-pruned: urls is hash-bucketed by key), or (b) a non-self
        id_map alias maps it to a canonical key whose store row is fresh
        (id_map is hash-bucketed by requested_id = the probe key; the
        canonical rows add a second bucket-pruned store read), or (c) it was
        attempted and errored (the attempted table is ∝ distinct error URLs,
        already rewritten per epoch — not store-sized)."""
        urls_t, idmap_t = self.store.urls, self.store.id_map
        fresh = F.col("expires") > F.current_timestamp()
        b1 = urls_t.touched_buckets(maybe.select("key"))
        if not b1:
            return maybe.join(attempted.select("key"), "key", "left_anti")
        direct = (
            urls_t.read(snapshot=store_snap, buckets=b1).filter(fresh).select("key")
        )
        alias = (
            idmap_t.read(snapshot=idmap_snap, buckets=b1)
            .filter(F.col("requested_id") != F.col("canonical_id"))
            .join(
                maybe.select(F.col("key").alias("requested_id")),
                "requested_id",
                "left_semi",
            )
            .cache()
        )
        self._epoch_caches.append(alias)
        b2 = urls_t.touched_buckets(alias.select(F.col("canonical_id").alias("key")))
        seen = direct
        if b2:
            fresh2 = (
                urls_t.read(snapshot=store_snap, buckets=b2).filter(fresh).select("key")
            )
            alias_seen = alias.join(
                fresh2, alias["canonical_id"] == fresh2["key"], "left_semi"
            ).select(F.col("requested_id").alias("key"))
            seen = seen.unionByName(alias_seen)
        seen = seen.unionByName(attempted.select("key"))
        return maybe.join(seen, "key", "left_anti")

    # ---- cuckoo filter maintenance ----------------------------------------
    def _cuckoo_multiset(self, fresh_keys: DataFrame, attempted: DataFrame) -> DataFrame:
        """The authoritative per-source key multiset the persistent filter
        models: one copy per fresh store row, one per NON-self alias row
        (requested→canonical redirects; self-aliases would double every key
        for nothing), one per attempted row. Used for the initial build and
        for rebuilding overflowed buckets."""
        id_map = self.store.id_map.read()
        alias_src = id_map.filter(
            F.col("requested_id") != F.col("canonical_id")
        ).select(F.col("requested_id").alias("key"))
        return (
            fresh_keys.select("key")
            .unionByName(alias_src)
            .unionByName(attempted.select("key"))
        )

    def _load_cuckoo(
        self,
        prev_dir: str,
        committed: dict | None,
        wm_now: float,
        fresh_keys: DataFrame,
        attempted: DataFrame,
        store_snap,
    ) -> DataFrame:
        """Load the persistent filter and advance it to this epoch: apply
        exactly-once expiry deletes over the committed watermark window,
        rebuild any overflowed bucket from the authoritative multiset. First
        epoch (no filter on disk) builds fresh.

        ``fresh_keys`` MUST be cut at the committed watermark ``wm_now``
        (``expires > wm_now``), never at query-execution time: the insert
        set and the delete windows have to partition the timeline
        consistently or deletes go unbalanced (see run_epoch)."""
        path = os.path.join(prev_dir, "seenfilter.parquet")
        n = self.store.urls.n_buckets
        wm_prev = (committed or {}).get("seen_filter_wm")
        # format guard: a filter persisted under a different slot-layout
        # version (or before versions were recorded) would probe/delete at
        # the wrong positions — rebuild instead of advancing it
        fmt_ok = (committed or {}).get("seen_filter_format") == CUCKOO_FORMAT_VERSION
        if not os.path.exists(path) or wm_prev is None or not fmt_ok:
            return build_cuckoo(
                self._cuckoo_multiset(fresh_keys, attempted), "key", n_buckets=n
            )
        # foreign-writer detection: the persistent filter models ONLY rows
        # this crawl committed. If the manifest parent chain between the
        # previous epoch's pin and this epoch's pin contains any commit the
        # crawl didn't author (CLI extract --store, external merges), those
        # rows would probe 'definitely unseen' (skipping the exact confirm)
        # and their eventual expiry would delete never-inserted copies. Fall
        # back to a full rebuild from the authoritative multiset — rare, and
        # afterwards the filter models the foreign rows too.
        for table, new_snap, old_snap in (
            (self.store.urls, store_snap, (committed or {}).get("store_parent_snapshot")),
            (
                self.store.id_map,
                (committed or {}).get("idmap_snapshot"),
                (committed or {}).get("idmap_parent_snapshot"),
            ),
        ):
            metas = table.commit_metas_between(new_snap, old_snap)
            if metas is None or any(m.get("op") not in _CRAWL_STORE_OPS for m in metas):
                return build_cuckoo(
                    self._cuckoo_multiset(fresh_keys, attempted), "key", n_buckets=n
                )
        ck = self.spark.read.schema(CUCKOO_SCHEMA).parquet(path)
        # store row versions whose TTL fell inside (wm_prev, wm_now]: delete
        # their filter copy exactly once (watermarks are committed, so a
        # crash replays the identical window). Manifest-stat pruned: only
        # files whose recorded [min,max] expires intersects the window are
        # opened — FINDING the delta is now ∝ delta files, not O(store),
        # making the filter's cost-∝-delta claim true end-to-end. The scan
        # is raw (unresolved): the filter holds one copy per committed
        # generation, so each generation's expiry is deleted on its own.
        expired_delta = (
            self.store.urls.read_in_range(
                "expires", wm_prev, wm_now, snapshot=store_snap
            )
            .filter(
                (F.col("expires") > F.timestamp_seconds(F.lit(wm_prev)))
                & (F.col("expires") <= F.timestamp_seconds(F.lit(wm_now)))
            )
            .select("key")
        )
        ck = update_cuckoo(ck, inserts=None, deletes=expired_delta, n_buckets=n)
        return rebuild_flagged(
            ck, self._cuckoo_multiset(fresh_keys, attempted), "key", n_buckets=n
        )

    # ---- discovered robots ---------------------------------------------------
    def _robots_for_epoch(self, epoch: int, frontier: DataFrame) -> DataFrame:
        """Robots discovery (robots=None mode): fetch /robots.txt for hosts
        newly seen in the frontier through :meth:`_fetcher`, parse (RFC
        9309, cfg.user_agent group selection), and accumulate one rules row
        per host in the epoch checkpoint. One path in corpus and live mode:
        the missing hosts left-join the bodies the fetcher returns, so a
        host whose robots.txt is absent or answers anything but 200 gets a
        NULL text, parsed as allow-all (RFC 9309 §2.3.1.3 for 4xx), once
        and (TTL aside) is never refetched. Per-epoch cost ∝ NEW hosts: the
        accumulated state is a host-dimension table, and the corpus is only
        the streamed side of the fetcher's left-semi join against the
        cached missing-host URLs. No join here carries a broadcast hint:
        Spark plans each from its size, so a frontier that adds millions of
        new hosts in one epoch simply gets a shuffle join.

        ``cfg.robots_ttl_epochs`` (RFC 9309 §2.4 allows caching, commonly
        bounded to ~24h): when set, rules older than that many epochs are
        dropped from the live state, so a host whose rules expired counts
        as missing again THE NEXT TIME it appears in the frontier — refetch
        cost ∝ expired-and-active hosts, still never O(corpus). Expired
        hosts absent from the frontier simply leave the state. Rows from a
        pre-TTL checkpoint have a NULL robots_epoch and refetch once."""
        state_schema = T.StructType(
            list(ROBOTS_RULES_SCHEMA.fields)
            + [T.StructField("robots_epoch", T.IntegerType(), True)]
        )
        path = os.path.join(self._edir(epoch), "robots_state.parquet")
        if os.path.exists(path):
            state = self.spark.read.schema(state_schema).parquet(path)
        else:
            state = self.spark.createDataFrame([], state_schema)
        # hosts EVER fetched, pre-expiry: the sitemap harvest keys on this so
        # a TTL refetch (rules refresh) does not re-harvest a known host's
        # sitemaps — "sitemaps once per host" survives robots_ttl_epochs
        self._robots_prior_hosts = state.select("host")
        ttl = self.cfg.robots_ttl_epochs
        if ttl is not None:
            state = state.filter(
                F.coalesce(F.col("robots_epoch"), F.lit(-(1 << 30)))
                > F.lit(epoch - ttl)
            )
        stamp = F.lit(epoch).cast("int")
        # robots.txt lives at the scheme+authority the site is actually
        # crawled under (RFC 9309 §2.3) — derive the scheme from the
        # frontier's own URLs per host (deterministic min: "http" < "https",
        # so a mixed-scheme host probes its http robots; the synthetic
        # corpora are https-only and unchanged). Same shuffle shape as the
        # old select-distinct.
        missing = (
            frontier.groupBy("host")
            .agg(
                F.min(F.regexp_extract("url", r"^(https?)://", 1)).alias("__scheme")
            )
            .join(state.select("host"), "host", "left_anti")
            .withColumn(
                "__rurl",
                F.concat(
                    F.col("__scheme"), F.lit("://"), F.col("host"),
                    F.lit("/robots.txt"),
                ),
            )
            .drop("__scheme")
            .cache()
        )
        self._epoch_caches.append(missing)
        bodies = self._fetcher()(missing.select(F.col("__rurl").alias("url")))
        # cached: parsed below and read again by the sitemap harvest, and in
        # live mode a recompute would fetch over the network again
        fetched = (
            missing.join(
                bodies.select(
                    F.col("url").alias("__rurl"),
                    F.decode("html", "UTF-8").alias("robots_txt"),
                ),
                "__rurl",
                "left",
            )
            .select("host", "robots_txt")
            .cache()
        )
        self._epoch_caches.append(fetched)
        self._robots_raw_delta = fetched
        parsed = parse_robots(
            fetched, user_agent=self.cfg.user_agent, host_col="host", txt_col="robots_txt"
        ).withColumn("robots_epoch", stamp)
        return state.unionByName(parsed)

    def _sitemap_links_for_epoch(self, epoch: int) -> DataFrame | None:
        """cfg.discover_sitemaps: harvest ``Sitemap:`` lines from THIS
        epoch's robots delta (new hosts only — each host's sitemaps are
        processed exactly once, the epoch their robots.txt is first
        fetched), fetch + parse the advertised sitemaps (index recursion
        capped at one nested level, per the protocol), and return their
        page URLs as frontier input rows at depth 1. Returns None when the
        stage has nothing to do — zero new hosts, or no Sitemap lines —
        WITHOUT touching the corpus (its one probe counts host-dimension
        rows of the cached robots delta)."""
        if self._robots_raw_delta is None:
            return None
        # genuinely-new hosts only: a robots TTL refetch puts known hosts
        # back in the raw delta, but their sitemaps were already harvested
        # the epoch they first appeared
        fresh_hosts = self._robots_raw_delta
        if self._robots_prior_hosts is not None:
            fresh_hosts = fresh_hosts.join(
                self._robots_prior_hosts, "host", "left_anti"
            )
        sm_urls = (
            sitemap_urls_from_robots(fresh_hosts)
            .select(F.col("sitemap_url").alias("url"))
            .distinct()
            .cache()
        )
        self._epoch_caches.append(sm_urls)
        if sm_urls.limit(1).count() == 0:
            return None
        fetch = self._fetcher()
        return self._sitemap_rows(
            fetch(sm_urls), fetch, depth=1, discovered_epoch=epoch + 1,
            max_levels=2, caches=self._epoch_caches,
        )

    def _live_epoch_pages(self, epoch: int, to_fetch: DataFrame) -> DataFrame:
        """Fetch this epoch's selected URLs over the network and checkpoint
        them as a pages table in the epoch dir. Idempotent on resume: an
        existing ``fetched_pages.parquet`` (from a run that died after the
        fetch but before the commit) is reused, not refetched."""
        path = os.path.join(self._edir(epoch), "fetched_pages.parquet")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            fetch_pages(
                to_fetch.select(F.col("parsed_url").alias("url")), self.live
            ).write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    # ---- one epoch -----------------------------------------------------------
    def run_epoch(self, epoch: int) -> dict:
        cfg = self.cfg
        self._epoch_caches = []
        self._robots_raw_delta = None
        self._robots_prior_hosts = None
        prev = self._edir(epoch)
        frontier = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            os.path.join(prev, "frontier.parquet")
        )
        attempted = self.spark.read.schema(ATTEMPTED_SCHEMA).parquet(
            os.path.join(prev, "attempted.parquet")
        )

        # pin the *committed* store snapshot for all reads this epoch; a
        # fresh crawl (no committed state) pins the CURRENT snapshot eagerly
        # so every read this epoch sees one concrete version and the commit
        # can record exactly which snapshot the epoch (and the seen-filter
        # build) was cut at
        committed = self._commit_info(epoch - 1) if epoch > 0 else None
        store_snap = (
            committed["store_snapshot"]
            if committed
            else self.store.urls.current_snapshot()
        )
        idmap_snap = (
            committed["idmap_snapshot"]
            if committed
            else self.store.id_map.current_snapshot()
        )
        # seen-set probe. "none": anti-join against the full fresh key set,
        # re-read from the TTL-pruned store each epoch (expiry removes
        # membership by itself). "cuckoo": a persistent filter advanced
        # incrementally (expiry removes membership via watermarked deletes —
        # O(delta)/epoch instead of O(store)/epoch) whose exact confirm reads
        # ONLY the buckets the maybe-keys hash to (∝ candidates + touched
        # buckets), so that mode never builds the full key set.
        if cfg.seen_filter == "cuckoo":
            wm_now = time.time()
            # the filter's insert multiset and its expiry-delete windows must
            # cut the timeline at the SAME clock — the committed watermark.
            # Cutting builds/rebuilds at current_timestamp() (query-execution
            # time) would admit rows whose expires falls between wm_now and
            # execution into a later delete window without ever inserting
            # them: deleting a never-inserted key can strip a colliding live
            # key's copy (false negative — the one property the crawl needs).
            # RAW (unresolved) row versions, not the resolved store view:
            # the filter's delete side scans raw generations (one expiry
            # delete per committed generation, _load_cuckoo), so rebuilds
            # must contribute one store copy PER GENERATION too. Building
            # from the resolved view (one copy per key) under-counts keys
            # holding >=2 fresh generations (e.g. a foreign writer re-merged
            # a still-fresh key), and later delete windows would strip more
            # copies than were inserted — a false negative.
            cuckoo_fresh = (
                self.store.urls.read(snapshot=store_snap, resolve=False)
                .filter(F.col("expires") > F.timestamp_seconds(F.lit(wm_now)))
                .select("key")
            )
            pre_filter = self._load_cuckoo(
                prev, committed, wm_now, cuckoo_fresh, attempted, store_snap
            ).cache()
            self._epoch_caches.append(pre_filter)

            def confirm(maybe):
                return self._confirm_unseen_pruned(
                    maybe, store_snap, idmap_snap, attempted
                )
        else:
            fresh_keys = (
                self.store.urls.read(snapshot=store_snap)
                .filter(F.col("expires") > F.current_timestamp())
                .select("key")
            )
            # alias requested-keys count as seen only while their canonical
            # row is fresh (reference: alias resolve → store probe → expired
            # ⇒ miss)
            id_map = self.store.id_map.read(snapshot=idmap_snap)
            alias_seen = (
                id_map.join(fresh_keys, id_map["canonical_id"] == fresh_keys["key"])
                .select(F.col("requested_id").alias("key"))
            )
            # NO distinct: the only consumer is a left_anti, which ignores
            # duplicates, so a distinct would only add a full key-set
            # shuffle every epoch.
            seen_keys = (
                fresh_keys.unionByName(alias_seen)
                .unionByName(attempted.select("key"))
                .cache()
            )
            self._epoch_caches.append(seen_keys)
            pre_filter = None

            def confirm(maybe):
                return maybe.join(seen_keys, "key", "left_anti")

        # 1. robots exclusion: one rules shape, one matcher. A supplied
        # table was converted at construction; with robots=None the rules
        # are DISCOVERED from the corpus's own /robots.txt pages (cost ∝ new
        # hosts/epoch) and written to the next epoch's checkpoint BEFORE the
        # join — resume replays the identical rules table, and the join
        # reads a file whose real size lets Spark pick the strategy. No
        # broadcast hint: the rules table grows with discovered hosts.
        if self.robots is None:
            robots_path = os.path.join(self._edir(epoch + 1), "robots_state.parquet")
            self._robots_for_epoch(epoch, frontier).write.mode("overwrite").parquet(
                robots_path
            )
            robots_df = self.spark.read.parquet(robots_path)
        else:
            robots_df = self.robots
        path = F.regexp_replace(F.col("url"), r"^https?://[^/]*", "")
        fr = frontier.join(robots_df, "host", "left").withColumn(
            "__denied", denied_expr(path, F.col("disallow"), F.col("allow"))
        )
        allowed = fr.filter(~F.col("__denied")).drop("__denied")

        # 2. seen-set anti-join (pre-filter + exact confirm)
        candidates = self._unseen(
            allowed.select(*FRONTIER_SCHEMA.fieldNames(), "crawl_delay"), pre_filter, confirm
        )

        # 3. politeness quota + deterministic per-host ranking. `ranked` is
        # cached ONCE and feeds selected, deferred, and the epoch stats — the
        # seen-set probe/anti-join pipeline executes a single time per epoch
        # (it used to recompute for deferred and again for stats).
        w = W.partitionBy("host").orderBy("priority", "depth", "key")
        ranked = (
            candidates.withColumn("rank", F.row_number().over(w))
            .withColumn("budget", cfg.budget_expr())
            .cache()
        )
        # one aggregate materializes the cache AND yields the epoch stats'
        # selected and deferred counts
        sel_def = ranked.agg(
            F.coalesce(
                F.sum((F.col("rank") <= F.col("budget")).cast("long")), F.lit(0)
            ).alias("sel"),
            F.coalesce(
                F.sum((F.col("rank") > F.col("budget")).cast("long")), F.lit(0)
            ).alias("defer"),
        ).collect()[0]
        selected = ranked.filter(F.col("rank") <= F.col("budget")).drop(
            "budget", "crawl_delay"
        )
        deferred = (
            ranked.filter(F.col("rank") > F.col("budget"))
            .select(*FRONTIER_SCHEMA.fieldNames())
        )

        # 4. ONE fetch join + ONE extraction pass per epoch, spread across
        # executors by salted host hash; results AND outlinks derive from it
        n_part = self.spark.sparkContext.defaultParallelism
        to_fetch = (
            selected.withColumn("request_error", F.lit(None).cast("string"))
            .withColumn("original_url", F.col("url"))
            .withColumn("parsed_url", F.col("url"))
            .repartition(n_part, salted_host_hash("host"))
        )
        if self.live is not None:
            # Live mode: THIS epoch's selected URLs fetched over the real
            # network, checkpointed to the epoch dir so every downstream
            # recompute (and a resumed run) re-reads bytes instead of
            # refetching — the network is not idempotent, parquet is.
            epoch_pages = self._live_epoch_pages(epoch, to_fetch)
        else:
            epoch_pages = self.pages
        extracted = fetch_join(
            to_fetch.select(
                "original_url", "parsed_url", "key", "request_error",
                "depth", "priority", "rank",
            ),
            epoch_pages,
        ).cache()
        # the frontier key rides along as the request key: the store's
        # id_map write and the cuckoo alias inserts reuse it, no re-hash
        results = finalize_results(
            extracted, self.store.ttl_seconds, keep_requested_key=True
        ).cache()
        errors = results.filter(F.col("error").isNotNull())

        # 5. outlink discovery from the same extraction pass — plus, in
        # discovered-robots mode, sitemap-advertised URLs for this epoch's
        # NEW hosts (host-curated discovery; their hint-derived priorities
        # are negative, so they rank ahead of depth-priority outlinks)
        raw_links = (
            extracted.filter(F.col("extract_error").isNull())
            .filter(F.col("__page_url").isNotNull())
            .select(F.explode("links").alias("raw"), (F.col("depth") + 1).alias("depth"))
            .where(F.col("raw").isNotNull())
            .withColumn("priority", F.col("depth").cast("long"))
            .withColumn("discovered_epoch", F.lit(epoch + 1))
        )
        if cfg.discover_sitemaps and self.robots is None:
            sm_rows = self._sitemap_links_for_epoch(epoch)
            if sm_rows is not None:
                raw_links = raw_links.unionByName(sm_rows)
        links = frontier_rows(raw_links)

        # 6. merges + next frontier (dedupe by key, min depth wins). The
        # crawl marks its own store commits so the seen-filter loader can
        # tell them from foreign writers when walking the manifest chain.
        self.store.merge(results, meta={"op": "crawl_merge"})
        # auto-compaction cadence: manifest-only check (zero Spark jobs when
        # below threshold); when any bucket's delta generations reach the
        # limit, fold them so long crawls never accrete unbounded read-side
        # LWW resolution. Runs BEFORE the commit records snapshot ids.
        for table in (self.store.urls, self.store.id_map):
            if table.delta_generations() >= COMPACT_AFTER_GENERATIONS:
                table.compact(meta={"op": "crawl_compact"})
        new_attempted = attempted.unionByName(
            errors.select(
                "key",
                F.col("parsed_url").alias("url"),
                "error",
                F.lit(epoch).cast("int").alias("epoch"),
            )
        ).dropDuplicates(["key"])

        # no distinct — consumed by a left_anti only (dup-insensitive)
        in_flight = selected.select("key").unionByName(deferred.select("key"))
        fresh_links = (
            self._unseen(links.join(in_flight, "key", "left_anti"), pre_filter, confirm)
            .select(*FRONTIER_SCHEMA.fieldNames())
        )
        next_frontier = first_per_key(
            deferred.unionByName(fresh_links), ["key"], _FRONTIER_ORDER
        ).filter(F.col("depth") <= cfg.max_depth)

        # 7. metrics with per-partition lineage
        host_metrics = (
            results.groupBy("hostname")
            .agg(
                F.count(F.lit(1)).alias("fetched"),
                F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
                F.sum(F.length("content_text")).alias("content_chars"),
            )
            .withColumn("epoch", F.lit(epoch))
        )
        part_lineage = (
            results.withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("epoch", F.lit(epoch))
        )

        # 8. commit epoch k: next state under e{k+1}, marker under e{k}
        nxt = self._edir(epoch + 1)
        next_frontier.write.mode("overwrite").parquet(os.path.join(nxt, "frontier.parquet"))
        new_attempted.write.mode("overwrite").parquet(os.path.join(nxt, "attempted.parquet"))
        if cfg.seen_filter == "cuckoo":
            # insert this epoch's committed keys: one store-copy per merged
            # row, one alias-copy per non-self redirect, one attempted-copy
            # per new error — mirrors _cuckoo_multiset's source structure
            ok = results.filter(F.col("error").isNull())
            inserts = (
                ok.select("key")
                .unionByName(
                    ok.select(F.col(REQUESTED_KEY).alias("key"), F.col("key").alias("__c"))
                    .filter(F.col("key").isNotNull() & (F.col("key") != F.col("__c")))
                    .select("key")
                )
                .unionByName(
                    errors.join(attempted, "key", "left_anti").select("key")
                )
            )
            update_cuckoo(
                pre_filter, inserts=inserts, n_buckets=self.store.urls.n_buckets
            ).write.mode("overwrite").parquet(os.path.join(nxt, "seenfilter.parquet"))
        edir = self._edir(epoch)
        host_metrics.write.mode("overwrite").parquet(os.path.join(edir, "metrics.parquet"))
        part_lineage.write.mode("overwrite").parquet(os.path.join(edir, "lineage.parquet"))
        selected.select("key", "url", "host", "depth", "priority", "rank").withColumn(
            "epoch", F.lit(epoch)
        ).write.mode("overwrite").parquet(os.path.join(edir, "selected.parquet"))

        # Remaining stats are cache hits or parquet row-count reads — the
        # selected/deferred aggregate already ran (before the fetch), and
        # errors / next_frontier come from artifacts this epoch wrote.
        n_denied = fr.agg(
            F.coalesce(F.sum(F.col("__denied").cast("long")), F.lit(0))
        ).collect()[0][0]
        n_errors = (
            self.spark.read.parquet(os.path.join(edir, "metrics.parquet"))
            .agg(F.coalesce(F.sum("errors"), F.lit(0)))
            .collect()[0][0]
        )
        stats = {
            "epoch": epoch,
            "selected": sel_def.sel,
            "errors": n_errors,
            "robots_denied": n_denied,
            "deferred": sel_def["defer"],
            "next_frontier": self.spark.read.parquet(
                os.path.join(nxt, "frontier.parquet")
            ).count(),
            "store_snapshot": self.store.urls.current_snapshot(),
            "idmap_snapshot": self.store.id_map.current_snapshot(),
            # the pins this epoch read at — next epoch's filter loader walks
            # the manifest chain (parent → pin) to detect foreign writers
            "store_parent_snapshot": store_snap,
            "idmap_parent_snapshot": idmap_snap,
        }
        if cfg.seen_filter == "cuckoo":
            stats["seen_filter_wm"] = wm_now
            stats["seen_filter_format"] = CUCKOO_FORMAT_VERSION
        tmp = os.path.join(edir, "_COMMIT.json.tmp")
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, os.path.join(edir, "_COMMIT.json"))
        if self.cfg.expire_snapshots:
            self._expire_store_snapshots(stats)
        for df in (results, extracted, ranked, *self._epoch_caches):
            df.unpersist()
        self._epoch_caches = []
        return stats

    def _expire_store_snapshots(self, stats: dict) -> None:
        """Reclaim store disk after the epoch commit (cfg.expire_snapshots):
        drop snapshots strictly older than this epoch's parent pins — the
        oldest state the NEXT epoch can touch (the cuckoo loader's
        foreign-writer manifest walk ends at the parent pin exclusive; the
        resume path reads the committed snapshot itself). Pure manifest walk
        + fs deletes via ManifestTable.expire_snapshots — no Spark job.
        A pin of None (fresh store, epoch 0) keeps full history: the next
        loader walk terminates only at the chain root."""
        for table, snap_key, pin_key in (
            (self.store.urls, "store_snapshot", "store_parent_snapshot"),
            (self.store.id_map, "idmap_snapshot", "idmap_parent_snapshot"),
        ):
            cur, pin = stats.get(snap_key), stats.get(pin_key)
            if cur is None or pin is None:
                continue
            floor = min(pin, cur)
            keep = len([s for s in table.snapshots() if s >= floor])
            table.expire_snapshots(keep_last=keep)

    # ---- driver loop ----------------------------------------------------------
    def run(self, n_epochs: int, seeds: list[str] | None = None) -> list[dict]:
        """Run/resume the crawl. With seeds given and no committed state,
        seeds epoch 0; otherwise resumes after the last committed epoch."""
        last = self.last_committed_epoch()
        if last is None:
            seeded = os.path.exists(os.path.join(self._edir(0), "_SEED.json"))
            if seeds is None and not seeded:
                raise ValueError("fresh crawl needs seeds (or a prior seed())")
            if seeds is not None and not seeded:
                self.seed(seeds)
            start = 0
        else:
            start = last + 1
        out = []
        for epoch in range(start, n_epochs):
            stats = self.run_epoch(epoch)
            out.append(stats)
            if stats["selected"] == 0 and stats["next_frontier"] == 0:
                break
        return out
