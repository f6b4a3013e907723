"""CLI surface — the engine's equivalent of the reference's two command-line
tools (cmd/scrape/main.go, cmd/scrape-feed/main.go), so a user of the
reference can run the same invocations against this engine:

    python -m scrape_spark.cli extract --pages corpus.parquet \
        [--notext] [--headless] [--store DIR] [--csv file.csv --csv-column 1] \
        [url ...]                        # JSON array of results on stdout

    python -m scrape_spark.cli feed --pages corpus.parquet feed_url ...
                                         # item links, one per line

    python -m scrape_spark.cli maintain --store DIR   # expire + compact

Flag names follow the reference: -notext (cmd/scrape/main.go:36), -csv /
-csv-column (:39-40), -headless (:41), -maintain (:43). Like the reference,
each fetching command (extract, feed, crawl) takes one fetch source per run
(cmd/scrape/main.go:47-93): --pages (a pages corpus parquet, the
network-free fetch model the whole engine uses, SURVEY.md §2.1 S1), --warc
(WARC segment files; not on feed) or --live (the real network). Giving two
of them exits 2.
"""

from __future__ import annotations

import argparse
import sys


def _spark(cores: str = "*"):
    import os

    from scrape_spark.session import get_spark

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        # launched via spark-submit: master/conf come from the submit
        # command line (north-rule path: --py-files dist/scrape_spark.zip
        # tools/submit_entry.py); --cores only shapes standalone local runs
        return get_spark("scrape-cli")
    return get_spark("scrape-cli", master=f"local[{cores}]")


def _corpus_source(args):
    """Resolve the run's one fetch source from --pages / --warc / --live.

    Returns ``(spark, pages, live)``: a pages corpus and no live config, or
    no corpus and the ``LiveFetchConfig`` built from --timeout,
    --max-concurrent, the command's --user-agent (``DEFAULT_UA`` where it
    has none) and extract's --headless-endpoint. A flag error is printed
    and returns None before Spark starts; the command then exits 2."""
    given = [f"--{f}" for f in ("pages", "warc", "live") if getattr(args, f, None)]
    if len(given) > 1:
        print(f"{args.command}: {' and '.join(given)} exclude each other; "
              "give one fetch source", file=sys.stderr)
        return None
    if not given:
        corpus = "--pages/--warc" if hasattr(args, "warc") else "--pages"
        print(f"{args.command} needs {corpus} (corpus) or --live", file=sys.stderr)
        return None
    endpoint = getattr(args, "headless_endpoint", None)
    if args.live and getattr(args, "headless", False) and not endpoint:
        print("--headless with --live needs --headless-endpoint", file=sys.stderr)
        return None
    spark = _spark(args.cores)
    if args.live:
        # Real-network fetch (the reference's default mode; the parquet
        # corpus is this engine's test/bench stand-in for the web). The
        # headless flag / settings routing then drive a CDP browser at
        # --headless-endpoint instead of the corpus join.
        from scrape_spark.sources.live import DEFAULT_UA, LiveFetchConfig

        return spark, None, LiveFetchConfig(
            user_agent=getattr(args, "user_agent", None) or DEFAULT_UA,
            timeout=args.timeout,
            max_concurrent=args.max_concurrent,
            headless_endpoint=endpoint,
        )
    if args.pages:
        return spark, spark.read.parquet(args.pages), None
    # WARC segment ingest (Common Crawl's distribution format).
    # latest_captures collapses recrawl duplicates (newest warc_ts wins).
    # Persisted: extract reads the frame as both the request set and the
    # corpus, and a crawl probes it every epoch; without it the per-record
    # Python WARC parse and the newest-capture shuffle would re-run on every use.
    from scrape_spark.sources.warc import latest_captures, warc_pages

    return spark, latest_captures(warc_pages(spark, args.warc)).persist(), None


def _request_df(spark, args, default_all=None) -> "DataFrame":  # noqa: F821
    from pyspark.sql import functions as F

    urls = list(args.urls)
    if args.csv:
        # reference: first column by default, -csv-column is 1-based
        # (cmd/scrape/main.go:103-116)
        df = spark.read.csv(args.csv, header=False)
        col = df.columns[max(0, args.csv_column - 1)]
        csv_urls = df.select(F.col(col).alias("url"))
        base = spark.createDataFrame([(u,) for u in urls], ["url"]) if urls else None
        return csv_urls if base is None else base.unionByName(csv_urls)
    if not urls:
        if default_all is not None:
            # whole-corpus mode (WARC ingest): extract every captured page
            return default_all.select("url")
        print("no URLs given (pass urls or --csv)", file=sys.stderr)
        sys.exit(2)
    return spark.createDataFrame([(u,) for u in urls], ["url"])


def _write_parquet_stats(spark, df, out_path: str, partition_by=None, **extra) -> None:
    """Distributed parquet sink + one JSON stats line on stdout (row count
    read from the written files' footer metadata — no second data pass)."""
    import json as _json

    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
        extra = {"partition_by": list(partition_by), **extra}
    w.parquet(out_path)
    # schema given explicitly: an all-rows-filtered partitioned write emits
    # only _SUCCESS, and a schema-less read of it cannot infer and throws
    n = spark.read.schema(df.schema).parquet(out_path).count()
    print(_json.dumps({"out": out_path, "rows": n, **extra}))


def cmd_extract(args) -> int:
    from scrape_spark.operators.json_sink import json_array_string
    from scrape_spark.operators.settings import DomainSettingsStore
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.plans.batch_extract import batch_extract
    from scrape_spark.schemas import FETCH_METHOD_DIRECT, FETCH_METHOD_HEADLESS

    src = _corpus_source(args)
    if src is None:
        return 2
    spark, pages, live = src
    store = UrlStore(spark, args.store) if args.store else None
    settings = (
        DomainSettingsStore(spark, args.settings) if getattr(args, "settings", None) else None
    )
    out = batch_extract(
        spark,
        # --warc with no explicit URLs: the whole dump is the request set —
        # the CC-to-corpus journey is `extract --warc ... --store S --out R`
        # then `export`
        _request_df(spark, args, default_all=pages if args.warc else None),
        pages,
        store=store,
        settings=settings,
        fetch_method=FETCH_METHOD_HEADLESS if args.headless else FETCH_METHOD_DIRECT,
        live=live,
    )
    if args.out:
        # distributed sink — the dump-scale path; the stdout JSON array is
        # the reference-parity small-batch surface
        _write_parquet_stats(
            spark, out.drop("content_text") if args.notext else out, args.out
        )
        return 0
    print(json_array_string(out, drop_text=args.notext))
    return 0


def cmd_settings(args) -> int:
    """Domain-settings CRUD — the reference's /settings/domain API surface
    (internal/server/routes.go:51-56; internal/settings/domain.go) from the
    command line: get/put/search/delete, wildcard search paged and capped."""
    import json as _json

    from scrape_spark.operators.settings import DomainSettingsStore

    # argument validation BEFORE any Spark work: get/put/delete need a
    # domain (the positional is optional only for `search`, where it is the
    # wildcard query), and each --header must be K:V — otherwise a missing
    # domain would silently upsert/query a NULL-domain row and a bad header
    # would die in an unhandled ValueError traceback.
    if args.action in ("get", "put", "delete") and not args.domain:
        print(f"settings {args.action}: domain argument is required", file=sys.stderr)
        return 2
    for h in args.header or []:
        if ":" not in h:
            print(f"settings: --header {h!r} must be 'Key:Value'", file=sys.stderr)
            return 2

    spark = _spark(args.cores)
    st = DomainSettingsStore(spark, args.store)

    def emit(df):
        rows = [
            {k: v for k, v in r.asDict().items() if v is not None}
            for r in df.collect()
        ]
        print(_json.dumps(rows))

    if args.action == "get":
        emit(st.fetch(args.domain))
    elif args.action == "put":
        headers = dict(h.split(":", 1) for h in args.header or [])
        df = spark.createDataFrame(
            [(args.domain, args.sitename, args.fetch_client, args.user_agent,
              headers or None)],
            schema=(
                "domain string, sitename string, fetch_client string, "
                "user_agent string, headers map<string,string>"
            ),
        )
        st.upsert(df)
        emit(st.fetch(args.domain))
    elif args.action == "search":
        emit(st.fetch_range(offset=args.offset, limit=args.limit, query=args.domain))
    elif args.action == "delete":
        st.delete([args.domain])
        print("[]")
    return 0


def cmd_feed(args) -> int:
    """Parse RSS/Atom feeds → item links; with --extract, complete the
    reference's /feed → /batch journey (api/server.go:330-333) in one
    command: item links go through the full fetch+extract pipeline (same
    path as `extract`), optionally memoized into --store, JSON array on
    stdout."""
    from pyspark.sql import functions as F

    from scrape_spark.sources.feed import feed_to_requests, parse_feeds
    from scrape_spark.sources.live import body_fetcher

    src = _corpus_source(args)
    if src is None:
        return 2
    # --live fetches the feed XML itself over the wire, then the item links
    # through the live batch pipeline
    spark, pages, live = src
    req = spark.createDataFrame([(u,) for u in args.urls], ["feed_url"])
    # a feed that does not answer 200 left-joins to a NULL xml: no items
    bodies = body_fetcher(pages, live)(req.select(F.col("feed_url").alias("url")))
    feeds_xml = req.join(
        bodies.select(
            F.col("url").alias("feed_url"), F.decode("html", "UTF-8").alias("xml")
        ),
        "feed_url",
        "left",
    )
    links = feed_to_requests(parse_feeds(feeds_xml))
    if not args.extract:
        for r in links.collect():
            print(r.url)
        return 0
    from scrape_spark.operators.json_sink import json_array_string
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.plans.batch_extract import batch_extract

    store = UrlStore(spark, args.store) if args.store else None
    out = batch_extract(spark, links.select("url"), pages, store=store, live=live)
    print(json_array_string(out, drop_text=args.notext))
    return 0


def cmd_crawl(args) -> int:
    """The north-rule crawl loop from the command line: seed → BFS epochs
    with robots + politeness → store; per-epoch stats as JSON lines on
    stdout. Re-invoking with the same --state resumes after the last
    committed epoch."""
    import json as _json

    from scrape_spark.operators.frontier import Crawl, CrawlConfig
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.schemas import ROBOTS_SCHEMA

    if args.robots_ttl_epochs is not None:
        if args.robots_ttl_epochs < 1:
            # ttl=1 already means refetch-every-epoch; 0/negative would be
            # silently-disabled or expire-everything footguns
            print("--robots-ttl-epochs must be >= 1", file=sys.stderr)
            return 2
        if args.allow_all or args.robots or args.robots_txt:
            print(
                "--robots-ttl-epochs needs discovered-robots mode "
                "(drop --allow-all/--robots/--robots-txt)",
                file=sys.stderr,
            )
            return 2
    if args.discover_sitemaps and (args.allow_all or args.robots or args.robots_txt):
        # the harvest reads Sitemap: lines out of the robots.txt the crawl
        # itself discovers — with a pre-supplied rules table (or robots
        # disabled) there is no raw robots text to harvest from
        print(
            "--discover-sitemaps needs discovered-robots mode "
            "(drop --allow-all/--robots/--robots-txt)",
            file=sys.stderr,
        )
        return 2
    src = _corpus_source(args)
    if src is None:
        return 2
    spark, pages, live = src
    if args.robots_txt:
        from scrape_spark.sources.robots import parse_robots

        robots = parse_robots(
            spark.read.parquet(args.robots_txt), user_agent=args.user_agent
        )
    elif args.robots:
        robots = spark.read.parquet(args.robots)
    elif args.allow_all:
        robots = spark.createDataFrame([], ROBOTS_SCHEMA)  # explicit opt-out
    else:
        # default: discover robots.txt from the corpus itself — per-epoch
        # fetch+parse of /robots.txt for newly-seen hosts (RFC 9309)
        robots = None
    crawl = Crawl(
        spark,
        args.state,
        UrlStore(spark, args.store),
        pages,
        robots,
        CrawlConfig(
            epoch_seconds=args.epoch_seconds,
            max_depth=args.max_depth,
            seen_filter=args.seen_filter,
            user_agent=args.user_agent,
            expire_snapshots=not args.keep_snapshots,
            discover_sitemaps=args.discover_sitemaps,
            robots_ttl_epochs=args.robots_ttl_epochs,
        ),
        live=live,
    )
    seeds = list(args.seeds) or None
    if args.sitemaps and crawl.last_committed_epoch() is None:
        # sitemap XML pages seed epoch 0, positional seeds on top; a
        # sitemaps parquet with no page entries fails loudly instead of
        # "finishing" a 0-page crawl
        try:
            crawl.seed(seeds or [], sitemaps=spark.read.parquet(args.sitemaps))
        except ValueError as e:
            print(f"--sitemaps: {e}", file=sys.stderr)
            return 2
        seeds = None
    for stats in crawl.run(args.epochs, seeds=seeds):
        print(_json.dumps(stats))
    return 0


def cmd_export(args) -> int:
    """Store (or raw documents parquet) → training corpus: annotate, gate,
    dedup, write parquet + one JSON stats line."""
    from scrape_spark.plans.export import export_corpus

    if bool(args.store) == bool(args.docs):
        print("export needs exactly one of --store / --docs", file=sys.stderr)
        return 2
    if args.docs and args.since_snapshot is not None:
        print("--since-snapshot applies only to --store exports", file=sys.stderr)
        return 2
    spark = _spark(args.cores)
    stats: dict = {}
    if args.store:
        from scrape_spark.operators.store import UrlStore

        urls = UrlStore(spark, args.store).urls
        # pin the read at one snapshot and report it, so a recurring export
        # can chain: next run passes --since-snapshot <this run's
        # "snapshot"> and reads only files added since
        # (ManifestTable.read_since — cost ∝ delta)
        snap = urls.current_snapshot()
        rows = urls.read_since(args.since_snapshot, snapshot=snap)
        id_col, text_col = "key", "content_text"
        keep = ["parsed_url", "title"]
        if snap is not None:
            # an empty store has no snapshot to chain from — omit the field
            # rather than emit null, which --since-snapshot (int) can't take
            stats["snapshot"] = snap
    else:
        # raw corpus mode: any parquet with (id, text)-shaped columns
        rows = spark.read.parquet(args.docs)
        id_col, text_col = args.id_col, args.text_col
        missing = [c for c in (id_col, text_col) if c not in rows.columns]
        if missing:
            print(
                f"export --docs: column(s) {missing} not in {args.docs} "
                f"(have: {rows.columns}); set --id-col/--text-col",
                file=sys.stderr,
            )
            return 2
        keep = [c for c in rows.columns if c not in (id_col, text_col)]
    out = export_corpus(
        rows,
        id_col=id_col,
        text_col=text_col,
        min_quality=args.min_quality,
        langs=args.lang or None,
        neardup=args.neardup or None,
        threshold=args.threshold,
        keep_cols=keep,
    )
    if args.notext:
        out = out.drop(text_col)
    pb = list(dict.fromkeys(args.partition_by))  # repeated flags dedupe
    if pb:
        bad = [c for c in pb if c not in out.columns]
        if bad:
            print(f"export: --partition-by column(s) {bad} not in output "
                  f"(have: {out.columns})", file=sys.stderr)
            return 2
    _write_parquet_stats(spark, out, args.out, partition_by=pb or None, **stats)
    return 0


def cmd_watch(args) -> int:
    """Streaming ingest (§2.8): drain newline-JSON request files
    ({"url": ...}) from --requests through the SAME batch pipeline into the
    store + an output parquet dir, exactly-once over input files via the
    Structured Streaming checkpoint. Each invocation is one drain
    (trigger(availableNow)) — re-running picks up only files that arrived
    since, which is the streaming analog of a crawl epoch."""
    import json as _json

    from scrape_spark.operators.store import UrlStore
    from scrape_spark.streaming.micro_batch import run_stream_extract

    spark = _spark(args.cores)
    pages = spark.read.parquet(args.pages)
    store = UrlStore(spark, args.store)
    run_stream_extract(
        spark,
        args.requests,
        pages,
        store,
        checkpoint_dir=args.checkpoint,
        output_dir=args.out,
    )
    import os as _os

    # nothing pending on this drain and nothing drained before → no output
    # dir exists yet; that's a clean zero, not an error
    n = spark.read.parquet(args.out).count() if _os.path.isdir(args.out) else 0
    print(_json.dumps({"out": args.out, "rows_total": n}))
    return 0


def cmd_maintain(args) -> int:
    from scrape_spark.operators.store import UrlStore

    spark = _spark(args.cores)
    snap = UrlStore(spark, args.store).maintain(expire_keep=args.expire_keep)
    print(f"maintained store at {args.store}, snapshot {snap}", file=sys.stderr)
    return 0


def cmd_delete(args) -> int:
    """Reference's DELETE /extract (internal/server routes): drop the given
    URLs' canonical rows from the store; alias rows survive (S10)."""
    from scrape_spark.operators.store import UrlStore

    spark = _spark(args.cores)
    snap = UrlStore(spark, args.store).delete(list(args.urls))
    print(f"deleted {len(args.urls)} url(s), snapshot {snap}", file=sys.stderr)
    return 0


def cmd_ping(args) -> int:
    """Reference's -ping flag + /.well-known healthcheck: verify the store
    opens and report row counts + current snapshot as one JSON object on
    stdout (exit 1 on an unreadable store)."""
    import json as _json

    from scrape_spark.operators.store import UrlStore

    spark = _spark(args.cores)
    try:
        stats = UrlStore(spark, args.store).stats()
    except Exception as e:  # unreadable/corrupt store ⇒ unhealthy
        print(_json.dumps({"ok": False, "error": str(e)}))
        return 1
    print(_json.dumps({"ok": True, **stats}))
    return 0


def _add_source_flags(parser: argparse.ArgumentParser, warc: bool = True) -> None:
    """The fetch-source flags :func:`_corpus_source` resolves."""
    parser.add_argument("--pages", default=None, help="pages corpus parquet")
    if warc:
        parser.add_argument(
            "--warc", default=None, metavar="GLOB",
            help="WARC segment files as the corpus (e.g. 'segs/*.warc.gz'); "
            "extract with no URLs extracts the whole dump",
        )
    parser.add_argument("--live", action="store_true",
                        help="fetch over the real network instead of a corpus")
    parser.add_argument("--timeout", type=float, default=30.0,
                        help="live-fetch per-request timeout seconds")
    parser.add_argument("--max-concurrent", type=int, default=6, dest="max_concurrent",
                        help="live connections per task (MaxTabs parity)")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="scrape_spark")
    p.add_argument("--cores", default="*", help="local[N] parallelism")
    sub = p.add_subparsers(dest="command", required=True)

    ex = sub.add_parser("extract", help="batch fetch+extract → JSON array")
    _add_source_flags(ex)
    ex.add_argument("--out", default=None, metavar="PARQUET",
                    help="write results to parquet instead of a stdout JSON array")
    ex.add_argument("--store", default=None, help="memoization store dir")
    ex.add_argument("--notext", action="store_true", help="omit content_text")
    ex.add_argument("--headless", action="store_true", help="headless client")
    ex.add_argument("--headless-endpoint", default=None, dest="headless_endpoint",
                    help="CDP browser http endpoint (e.g. http://127.0.0.1:9222)")
    ex.add_argument("--user-agent", default=None, dest="user_agent",
                    help="live-fetch User-Agent")
    ex.add_argument("--csv", default=None, help="CSV file of URLs")
    ex.add_argument("--csv-column", type=int, default=1, help="1-based URL column")
    ex.add_argument("--settings", default=None, help="domain-settings store dir (per-host routing)")
    ex.add_argument("urls", nargs="*")
    ex.set_defaults(fn=cmd_extract)

    se = sub.add_parser("settings", help="domain settings CRUD (/settings/domain parity)")
    se.add_argument("--store", required=True, help="settings store dir")
    se.add_argument("action", choices=["get", "put", "search", "delete"])
    se.add_argument("domain", nargs="?", default=None, help="domain (or search query)")
    se.add_argument("--sitename", default=None)
    se.add_argument("--fetch-client", default=None, dest="fetch_client")
    se.add_argument("--user-agent", default=None, dest="user_agent")
    se.add_argument("--header", action="append", help="K:V extra header (repeatable)")
    se.add_argument("--offset", type=int, default=0)
    se.add_argument("--limit", type=int, default=100)
    se.set_defaults(fn=cmd_settings)

    fe = sub.add_parser("feed", help="parse RSS/Atom feeds → item links")
    _add_source_flags(fe, warc=False)
    fe.add_argument(
        "--extract", action="store_true",
        help="run item links through the fetch+extract pipeline (/feed → /batch)",
    )
    fe.add_argument("--store", default=None, help="memoization store dir (with --extract)")
    fe.add_argument("--notext", action="store_true", help="omit content_text (with --extract)")
    fe.add_argument("urls", nargs="+")
    fe.set_defaults(fn=cmd_feed)

    ex = sub.add_parser(
        "export", help="store → deduplicated, quality-gated training corpus"
    )
    ex.add_argument("--store", default=None, help="url store dir (the crawl output)")
    ex.add_argument("--docs", default=None, metavar="PARQUET",
                    help="raw documents parquet instead of a store")
    ex.add_argument("--id-col", default="doc_id", dest="id_col",
                    help="id column for --docs (default doc_id)")
    ex.add_argument("--text-col", default="text", dest="text_col",
                    help="text column for --docs (default text)")
    ex.add_argument("--out", required=True, help="output parquet dir")
    ex.add_argument("--min-quality", type=float, default=None, dest="min_quality")
    ex.add_argument(
        "--lang", action="append", default=[],
        help="keep only these detected languages (repeatable)",
    )
    ex.add_argument(
        "--neardup", default="", choices=["", "minhash", "simhash"],
        help="near-duplicate drop after exact dedup (default: exact only)",
    )
    ex.add_argument("--threshold", type=float, default=0.7,
                    help="jaccard threshold for --neardup minhash")
    ex.add_argument("--notext", action="store_true", help="omit content_text")
    ex.add_argument(
        "--partition-by", action="append", default=[], dest="partition_by",
        metavar="COL",
        help="hive-partition the output by this column (repeatable; e.g. "
        "--partition-by lang lets a trainer read one language without "
        "scanning the corpus)",
    )
    ex.add_argument(
        "--since-snapshot", type=int, default=None, dest="since_snapshot",
        metavar="N",
        help="incremental: export only rows whose newest version arrived "
        "after store snapshot N (chain from the previous run's 'snapshot' "
        "stats field); unknown history falls back to a full export",
    )
    ex.set_defaults(fn=cmd_export)

    wa = sub.add_parser(
        "watch", help="streaming: drain request files through the pipeline"
    )
    wa.add_argument("--pages", required=True, help="pages corpus parquet")
    wa.add_argument("--store", required=True, help="url store dir")
    wa.add_argument("--requests", required=True,
                    help="dir of newline-JSON request files ({\"url\": ...})")
    wa.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (exactly-once over files)")
    wa.add_argument("--out", required=True, help="micro-batch results parquet dir")
    wa.set_defaults(fn=cmd_watch)

    ma = sub.add_parser("maintain", help="expire + compact a store")
    ma.add_argument("--store", required=True)
    ma.add_argument(
        "--expire-keep",
        type=int,
        default=None,
        metavar="N",
        help="also expire snapshots, retaining the newest N (reclaims disk; "
        "disables time travel past the retained window)",
    )
    ma.set_defaults(fn=cmd_maintain)

    de = sub.add_parser("delete", help="delete URLs from a store (canonical rows only)")
    de.add_argument("--store", required=True)
    de.add_argument("urls", nargs="+")
    de.set_defaults(fn=cmd_delete)

    pi = sub.add_parser("ping", help="store healthcheck → JSON stats")
    pi.add_argument("--store", required=True)
    pi.set_defaults(fn=cmd_ping)

    cr = sub.add_parser("crawl", help="BFS crawl epochs → store (resumable)")
    _add_source_flags(cr)
    cr.add_argument("--state", required=True, help="crawl state/checkpoint dir")
    cr.add_argument("--store", required=True, help="url store dir")
    cr.add_argument(
        "--robots", default=None,
        help="rules parquet: plain path prefixes (host, disallow array<string>, "
        "crawl_delay) or parsed rules (host, disallow, allow, crawl_delay)",
    )
    cr.add_argument(
        "--robots-txt", default=None, help="raw robots parquet (host, robots_txt) — RFC 9309 parsed"
    )
    cr.add_argument(
        "--allow-all", action="store_true",
        help="skip robots entirely (default: discover /robots.txt from the corpus)",
    )
    cr.add_argument("--user-agent", default="scrape-spark", help="UA for robots group selection")
    cr.add_argument("--epochs", type=int, default=4)
    cr.add_argument("--epoch-seconds", type=float, default=10.0)
    cr.add_argument("--max-depth", type=int, default=6)
    cr.add_argument(
        "--seen-filter", default="none", choices=["none", "cuckoo"],
        help="seen-set probe: none = exact anti-join (default), "
        "cuckoo = incremental pre-filter for very large crawls",
    )
    cr.add_argument(
        "--keep-snapshots", action="store_true",
        help="keep full store snapshot history (default: expire snapshots "
        "older than the resume/filter pins after each epoch)",
    )
    cr.add_argument(
        "--robots-ttl-epochs", type=int, default=None, dest="robots_ttl_epochs",
        metavar="N",
        help="discovered robots.txt rules expire after N epochs and the "
        "host is refetched next time it appears in the frontier (RFC 9309 "
        "bounded caching; default: fetch once per host)",
    )
    cr.add_argument(
        "--discover-sitemaps", action="store_true", dest="discover_sitemaps",
        help="harvest Sitemap: lines from each new host's discovered "
        "robots.txt and feed the advertised URLs into the frontier "
        "(discovered-robots mode only — incompatible with "
        "--allow-all/--robots/--robots-txt)",
    )
    cr.add_argument(
        "--sitemaps", default=None, metavar="PARQUET",
        help="seed epoch 0 from sitemap XML pages (url, html) parquet — "
        "sitemaps.org urlset/index, gzip ok; positional seeds add on top",
    )
    cr.add_argument("seeds", nargs="*")
    cr.set_defaults(fn=cmd_crawl)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
