"""North-rule crawl tests: the distributed epoch loop must reproduce the
single-threaded reference model's per-epoch selected sets, per-host ranks,
and final seen/store key sets under the same seeds + politeness budget;
robots disallows are honored; resume from checkpoint is identical; the
cuckoo pre-filter path equals the exact (default) path."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from scrape_spark.operators.frontier import Crawl, CrawlConfig
from scrape_spark.operators.store import UrlStore
from scrape_spark.sources.pages import robots_table, seed_urls, synth_pages
from tests.reference_model import build_corpus, run_model

N_HOSTS, PER_HOST = 6, 40
EPOCH_SECONDS = 4.0
N_EPOCHS = 4


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages(spark, N_HOSTS, PER_HOST).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def model():
    corpus = build_corpus(N_HOSTS, PER_HOST)
    robots = {
        r.host: (list(r.disallow), r.crawl_delay)
        for r in [type("R", (), dict(host=h, disallow=["/private/"], crawl_delay=d))()
                  for h, d in []]
    }
    # mirror sources.pages.robots_table exactly
    delays = [0.2, 0.5, 1.0, 2.0]
    robots = {
        f"h{h:05d}.ex{h % 7}.test": (["/private/"], delays[h % len(delays)] if h else 0.1)
        for h in range(N_HOSTS)
    }
    return run_model(
        corpus, seed_urls(N_HOSTS), robots, EPOCH_SECONDS, N_EPOCHS, max_depth=6
    )


def _mk_crawl(spark, tmpdir, pages, seen_filter="none"):
    store = UrlStore(spark, f"{tmpdir}/store", n_buckets=8)
    return Crawl(
        spark,
        f"{tmpdir}/state",
        store,
        pages,
        robots_table(spark, N_HOSTS),
        CrawlConfig(
            epoch_seconds=EPOCH_SECONDS, max_depth=6,
            seen_filter=seen_filter,
        ),
    )


@pytest.fixture(scope="module")
def crawl_run(spark, tmp_path_factory, pages):
    tmpdir = str(tmp_path_factory.mktemp("crawl"))
    crawl = _mk_crawl(spark, tmpdir, pages)
    stats = crawl.run(N_EPOCHS, seeds=seed_urls(N_HOSTS))
    return crawl, stats


def _selected_tuples(spark, crawl, epoch):
    df = spark.read.parquet(f"{crawl.state_dir}/epochs/e{epoch:05d}/selected.parquet")
    return sorted(
        (r.key, r.url, r.host, r.depth, r.priority, r.rank) for r in df.collect()
    )


def test_selected_sets_match_model(spark, crawl_run, model):
    crawl, stats = crawl_run
    assert len(stats) == len(model.selected_per_epoch) or len(stats) == N_EPOCHS
    for epoch in range(len(stats)):
        got = _selected_tuples(spark, crawl, epoch)
        want = [tuple(t) for t in model.selected_per_epoch[epoch]]
        assert got == want, f"epoch {epoch}: {len(got)} vs {len(want)}"


def test_store_keys_match_model(crawl_run, model):
    crawl, _ = crawl_run
    got = {r.key for r in crawl.store.urls.read().select("key").collect()}
    assert got == model.store_keys


def test_robots_never_fetched(crawl_run):
    crawl, stats = crawl_run
    fetched = crawl.store.urls.read().filter(F.col("parsed_url").contains("/private/"))
    assert fetched.count() == 0
    assert sum(s["robots_denied"] for s in stats) > 0


def test_politeness_budget_respected(spark, crawl_run):
    crawl, stats = crawl_run
    import math
    delays = [0.2, 0.5, 1.0, 2.0]
    for epoch in range(len(stats)):
        df = spark.read.parquet(f"{crawl.state_dir}/epochs/e{epoch:05d}/selected.parquet")
        per_host = {r.host: r.n for r in df.groupBy("host").agg(F.count("*").alias("n")).collect()}
        for host, n in per_host.items():
            h = int(host[1:6])
            d = delays[h % len(delays)] if h else 0.1
            assert n <= max(1, math.floor(EPOCH_SECONDS / d)), (epoch, host, n)


def test_error_urls_attempted_once(spark, crawl_run):
    crawl, stats = crawl_run
    last = crawl.last_committed_epoch()
    att = spark.read.parquet(f"{crawl.state_dir}/epochs/e{last+1:05d}/attempted.parquet")
    pdf = att.toPandas()
    assert len(pdf) == pdf["key"].nunique()
    assert (pdf["error"].str.len() > 0).all()


def test_epoch_metrics_and_lineage_match_commit(spark, crawl_run):
    """Each epoch's per-host metrics and per-partition lineage account for
    exactly the rows its commit record reports: every selected URL is
    fetched once and lands in one output partition."""
    import json

    crawl, stats = crawl_run
    assert len(stats) == N_EPOCHS
    for epoch in range(N_EPOCHS):
        edir = f"{crawl.state_dir}/epochs/e{epoch:05d}"
        with open(f"{edir}/_COMMIT.json") as f:
            commit = json.load(f)
        m = spark.read.parquet(f"{edir}/metrics.parquet").agg(
            F.coalesce(F.sum("fetched"), F.lit(0)).alias("fetched"),
            F.coalesce(F.sum("errors"), F.lit(0)).alias("errors"),
        ).collect()[0]
        rows = spark.read.parquet(f"{edir}/lineage.parquet").agg(
            F.coalesce(F.sum("rows"), F.lit(0))
        ).collect()[0][0]
        assert commit["selected"] > 0, epoch
        assert m.fetched == commit["selected"], (epoch, m, commit)
        assert m.errors == commit["errors"], (epoch, m, commit)
        assert rows == commit["selected"], (epoch, rows, commit)


@pytest.mark.parametrize("seen_filter", ["bloom", "", "cukoo"])
def test_unknown_seen_filter_rejected(seen_filter):
    with pytest.raises(ValueError, match="seen_filter"):
        CrawlConfig(seen_filter=seen_filter)


@pytest.mark.parametrize("ttl", [0, -1])
def test_bad_robots_ttl_rejected(ttl):
    with pytest.raises(ValueError, match="robots_ttl_epochs"):
        CrawlConfig(robots_ttl_epochs=ttl)


@pytest.mark.parametrize("seen_filter", ["none", "cuckoo"])
def test_known_seen_filter_accepted(seen_filter):
    assert CrawlConfig(seen_filter=seen_filter).seen_filter == seen_filter


def test_cuckoo_path_equals_exact_path(spark, tmp_path_factory, pages, model):
    """The incrementally-maintained cuckoo pre-filter must reproduce the
    exact path's crawl bit-for-bit: same per-epoch selected tuples, same
    final store keys. Also checks the persistent filter artifacts: one
    seenfilter.parquet per committed epoch and a monotone watermark chain."""
    import os

    tmpdir = str(tmp_path_factory.mktemp("crawl_cuckoo"))
    crawl = _mk_crawl(spark, tmpdir, pages, seen_filter="cuckoo")
    stats = crawl.run(N_EPOCHS, seeds=seed_urls(N_HOSTS))
    got = {r.key for r in crawl.store.urls.read().select("key").collect()}
    assert got == model.store_keys
    for epoch in range(N_EPOCHS):
        assert _selected_tuples(spark, crawl, epoch) == [
            tuple(t) for t in model.selected_per_epoch[epoch]
        ]
    wms = [s["seen_filter_wm"] for s in stats]
    assert wms == sorted(wms)
    for epoch in range(1, len(stats) + 1):
        assert os.path.exists(
            f"{crawl.state_dir}/epochs/e{epoch:05d}/seenfilter.parquet"
        )
    shutil.rmtree(tmpdir, ignore_errors=True)


def test_resume_from_checkpoint(spark, tmp_path_factory, pages, model, crawl_run):
    ref_crawl, _ = crawl_run
    tmpdir = str(tmp_path_factory.mktemp("crawl_resume"))
    crawl = _mk_crawl(spark, tmpdir, pages)
    crawl.run(2, seeds=seed_urls(N_HOSTS))  # stop after 2 epochs ("crash")
    # resume: a new Crawl object picks up from the checkpoint
    crawl2 = _mk_crawl(spark, tmpdir, pages)
    assert crawl2.last_committed_epoch() == 1
    crawl2.run(N_EPOCHS)
    got = {r.key for r in crawl2.store.urls.read().select("key").collect()}
    assert got == model.store_keys
    for epoch in range(N_EPOCHS):
        assert _selected_tuples(spark, crawl2, epoch) == _selected_tuples(
            spark, ref_crawl, epoch
        )
    shutil.rmtree(tmpdir, ignore_errors=True)


def test_epoch_stats_do_not_recompute_pipelines(spark, tmp_path_factory, pages):
    """Round-3 ratchet: the selected/deferred stats must come from the ONE
    cached ranked pipeline (computed before the fetch) — not from re-running
    the seen-set anti-join plan. Pinned via total Spark job count per epoch:
    the recompute shape measured ~97 jobs/epoch on this exact workload; the
    single-pass shape measured 37-43 jobs in epochs 0-1 over three runs
    (`local[4]`, 4 cores). The bound is that maximum plus 10%."""
    tmpdir = str(tmp_path_factory.mktemp("jobs"))
    crawl = _mk_crawl(spark, tmpdir, pages)
    crawl.seed(seed_urls(N_HOSTS))

    def njobs():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    for epoch in range(2):
        before = njobs()
        stats = crawl.run_epoch(epoch)
        delta = njobs() - before
        assert delta <= 47, f"epoch {epoch} ran {delta} jobs (recompute regression?)"
        assert stats["selected"] > 0


def test_pruned_confirm_reads_only_touched_buckets(spark, tmp_path_factory, pages):
    """Round-4 ratchet (VERDICT r3 #2): the cuckoo path's exact seen-set
    confirm must read ONLY the store/id_map buckets the candidate keys hash
    to — per-epoch exact work ∝ candidates + touched buckets, never an
    O(store) shuffle — and must return exactly what the naive full anti-join
    returns."""
    from scrape_spark.functions.urlkeys import url_key_py
    from scrape_spark.operators.store import ManifestTable, bucket_expr
    from scrape_spark.plans.batch_extract import batch_extract
    from scrape_spark.sources.pages import page_url

    tmpdir = str(tmp_path_factory.mktemp("pruned_confirm"))
    crawl = _mk_crawl(spark, tmpdir, pages, seen_filter="cuckoo")
    store = crawl.store
    # warm the store with a slice of the corpus (creates urls + id_map rows,
    # including /amp alias pages whose og:url differs from the request URL)
    some_urls = [page_url(h, j) for h in range(N_HOSTS) for j in range(12)]
    batch_extract(spark, spark.createDataFrame([(u,) for u in some_urls], ["url"]),
                  pages, store).count()

    # candidates: half stored URLs (seen), half novel (unseen)
    cand_urls = some_urls[::2] + [page_url(h, 30 + h) for h in range(N_HOSTS)]
    cand = spark.createDataFrame(
        [(u, url_key_py(u)) for u in cand_urls], ["url", "key"]
    )
    attempted = spark.createDataFrame([], ATTEMPTED_SCHEMA := __import__(
        "scrape_spark.operators.frontier", fromlist=["ATTEMPTED_SCHEMA"]
    ).ATTEMPTED_SCHEMA)

    reads: list = []
    orig_read = ManifestTable.read

    def recording_read(self, snapshot=None, buckets=None, resolve=True):
        reads.append((self.root.rsplit("/", 1)[-1], buckets))
        return orig_read(self, snapshot=snapshot, buckets=buckets, resolve=resolve)

    import scrape_spark.operators.store as store_mod
    old = store_mod.ManifestTable.read
    store_mod.ManifestTable.read = recording_read
    try:
        got = {r.key for r in crawl._confirm_unseen_pruned(
            cand, None, None, attempted).select("key").collect()}
    finally:
        store_mod.ManifestTable.read = old

    # every read during the confirm was bucket-pruned to the candidates' buckets
    cand_buckets = {
        r.b for r in cand.select(bucket_expr("key", store.urls.n_buckets).alias("b")).collect()
    }
    url_reads = [b for t, b in reads if t == "urls"]
    idmap_reads = [b for t, b in reads if t == "id_map"]
    assert url_reads and idmap_reads
    assert all(b is not None for b in url_reads + idmap_reads), reads
    assert set(idmap_reads[0]) <= cand_buckets
    assert set(url_reads[0]) <= cand_buckets

    # equivalence vs the naive full anti-join (fresh direct + fresh aliases)
    from pyspark.sql import functions as F
    fresh = store.urls.read().filter(F.col("expires") > F.current_timestamp()).select("key")
    alias_seen = (
        store.id_map.read()
        .join(fresh, F.col("canonical_id") == F.col("key"))
        .select(F.col("requested_id").alias("key"))
    )
    naive = {
        r.key
        for r in cand.join(fresh.unionByName(alias_seen), "key", "left_anti")
        .select("key").collect()
    }
    assert got == naive
    shutil.rmtree(tmpdir, ignore_errors=True)


def test_cuckoo_epoch_job_count_bounded(spark, tmp_path_factory, pages):
    """The cuckoo path's pruned confirm adds bucket-discovery collects; the
    total job count per epoch must stay bounded (no recompute regressions).
    Epochs 0-1 measured 51-53 jobs over three runs (`local[4]`, 4 cores);
    the bound is that maximum plus 10%."""
    tmpdir = str(tmp_path_factory.mktemp("cuckoo_jobs"))
    crawl = _mk_crawl(spark, tmpdir, pages, seen_filter="cuckoo")
    crawl.seed(seed_urls(N_HOSTS))

    def njobs():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    for epoch in range(2):
        before = njobs()
        stats = crawl.run_epoch(epoch)
        delta = njobs() - before
        assert delta <= 58, f"epoch {epoch} ran {delta} jobs"
        assert stats["selected"] > 0
    shutil.rmtree(tmpdir, ignore_errors=True)


def test_auto_compaction_bounds_delta_generations(
    spark, tmp_path_factory, pages, model, monkeypatch
):
    """run_epoch must compact once any bucket reaches the delta-generation
    limit — a long crawl's read-side LWW resolution stays bounded — without
    changing crawl semantics."""
    import scrape_spark.operators.frontier as fr

    monkeypatch.setattr(fr, "COMPACT_AFTER_GENERATIONS", 2)
    tmpdir = str(tmp_path_factory.mktemp("crawl_compact"))
    store = UrlStore(spark, f"{tmpdir}/store", n_buckets=8)
    crawl = Crawl(
        spark, f"{tmpdir}/state", store, pages, robots_table(spark, N_HOSTS),
        CrawlConfig(epoch_seconds=EPOCH_SECONDS, max_depth=6),
    )
    crawl.run(N_EPOCHS, seeds=seed_urls(N_HOSTS))
    assert store.urls.delta_generations() <= 2
    assert store.id_map.delta_generations() <= 2
    got = {r.key for r in store.urls.read().select("key").collect()}
    assert got == model.store_keys
    shutil.rmtree(tmpdir, ignore_errors=True)


def test_external_store_writer_triggers_filter_rebuild(spark, tmp_path_factory, pages, model):
    """Round-4 ADVICE: rows merged into the crawl's store by ANOTHER entry
    point (e.g. `cli extract --store`) are never inserted into the persistent
    cuckoo filter — without detection they'd probe 'definitely unseen' and be
    re-fetched. The loader must spot the foreign commit in the manifest
    parent chain and fall back to a full rebuild, keeping the cuckoo crawl
    bit-identical to the exact crawl under the same external write."""
    from scrape_spark.plans.batch_extract import batch_extract

    # a URL the unperturbed crawl selects at epoch 3 — injected as an
    # external store row between epochs 1 and 2, it must be SEEN (skipped)
    # at epoch 3 by both the exact and the cuckoo path
    victim_url = model.selected_per_epoch[3][0][1]

    import scrape_spark.operators.frontier as fr
    builds = {"n": 0}
    orig_build = fr.build_cuckoo

    def counting_build(*a, **kw):
        builds["n"] += 1
        return orig_build(*a, **kw)

    def run_with_injection(seen_filter, count_builds=False):
        tmpdir = str(tmp_path_factory.mktemp(f"ext_{seen_filter}"))
        crawl = _mk_crawl(spark, tmpdir, pages, seen_filter=seen_filter)
        crawl.seed(seed_urls(N_HOSTS))
        sel = []
        for epoch in range(N_EPOCHS):
            crawl.run_epoch(epoch)
            sel.append(_selected_tuples(spark, crawl, epoch))
            if epoch == 1:
                # foreign writer: same plan the CLI's `extract --store` runs
                batch_extract(
                    spark,
                    spark.createDataFrame([(victim_url,)], ["url"]),
                    pages,
                    crawl.store,
                ).count()
        keys = {r.key for r in crawl.store.urls.read().select("key").collect()}
        return keys, sel

    exact_keys, exact_sel = run_with_injection("none")
    fr.build_cuckoo = counting_build
    try:
        cuckoo_keys, cuckoo_sel = run_with_injection("cuckoo")
    finally:
        fr.build_cuckoo = orig_build
    assert cuckoo_keys == exact_keys
    assert cuckoo_sel == exact_sel
    # the detection actually fired: initial build + post-injection rebuild
    assert builds["n"] >= 2, builds


def test_cuckoo_format_version_mismatch_forces_rebuild(
    spark, tmp_path_factory, pages, model
):
    """Round-4 ADVICE: a persisted seenfilter.parquet written under a
    different slot-layout version (e.g. before the i1-bias fix changed the
    fingerprint→slot mapping) must NOT be advanced incrementally — probes
    and deletes would hit the wrong positions with no rebuild trigger. The
    loader records CUCKOO_FORMAT_VERSION in _COMMIT.json and falls back to
    a full rebuild on mismatch; the crawl stays bit-identical to the
    model."""
    import json
    import os

    import scrape_spark.operators.frontier as fr

    tmpdir = str(tmp_path_factory.mktemp("crawl_fmt"))
    crawl = _mk_crawl(spark, tmpdir, pages, seen_filter="cuckoo")
    crawl.seed(seed_urls(N_HOSTS))
    crawl.run_epoch(0)
    crawl.run_epoch(1)
    # simulate a checkpoint from an older filter format (run_epoch(2) reads
    # its committed state from epoch 1's _COMMIT.json)
    cpath = f"{crawl.state_dir}/epochs/e00001/_COMMIT.json"
    with open(cpath) as f:
        committed = json.load(f)
    assert committed["seen_filter_format"] == fr.CUCKOO_FORMAT_VERSION
    committed["seen_filter_format"] = fr.CUCKOO_FORMAT_VERSION - 1
    with open(cpath, "w") as f:
        json.dump(committed, f)

    builds = {"n": 0}
    orig_build = fr.build_cuckoo

    def counting_build(*a, **kw):
        builds["n"] += 1
        return orig_build(*a, **kw)

    fr.build_cuckoo = counting_build
    try:
        for epoch in range(2, N_EPOCHS):
            crawl.run_epoch(epoch)
    finally:
        fr.build_cuckoo = orig_build
    assert builds["n"] >= 1, "format mismatch did not trigger a full rebuild"
    got = {r.key for r in crawl.store.urls.read().select("key").collect()}
    assert got == model.store_keys
    for epoch in range(N_EPOCHS):
        assert _selected_tuples(spark, crawl, epoch) == [
            tuple(t) for t in model.selected_per_epoch[epoch]
        ]
    shutil.rmtree(tmpdir, ignore_errors=True)


def test_cuckoo_build_counts_store_copies_per_generation(
    spark, tmp_path_factory, pages
):
    """Round-4 ADVICE: the filter's initial build / rebuild multiset must
    hold one store copy per RAW delta generation (expiry deletes are issued
    per generation via read_in_range), not per resolved key. A key merged
    twice (2 fresh generations) must survive ONE delete with its second
    copy still probing positive — otherwise later watermark windows delete
    more copies than were inserted (false negative)."""
    import datetime as dt

    from scrape_spark.functions.urlkeys import url_key_py
    from scrape_spark.operators.cuckoo import probe_cuckoo, update_cuckoo
    from scrape_spark.schemas import RESULT_SCHEMA
    from tests.test_store import _result_row

    tmpdir = str(tmp_path_factory.mktemp("crawl_gen"))
    store = UrlStore(spark, f"{tmpdir}/store", n_buckets=8)
    victim = "https://external.test/dup"
    far = dt.datetime(2099, 1, 1)
    for title in ("gen1", "gen2"):  # two commits -> two delta generations
        store.merge(
            spark.createDataFrame(
                [_result_row(victim, title=title, expires=far)], RESULT_SCHEMA
            )
        )
    raw = store.urls.read(resolve=False)
    vkey = url_key_py(victim)
    assert raw.filter(F.col("key") == vkey).count() == 2

    crawl = Crawl(
        spark,
        f"{tmpdir}/state",
        store,
        pages,
        robots_table(spark, N_HOSTS),
        CrawlConfig(
            epoch_seconds=EPOCH_SECONDS, max_depth=6,
            seen_filter="cuckoo",
        ),
    )
    crawl.seed(seed_urls(1))
    crawl.run_epoch(0)

    from scrape_spark.operators.cuckoo import CUCKOO_SCHEMA

    ck = spark.read.schema(CUCKOO_SCHEMA).parquet(
        f"{crawl.state_dir}/epochs/e00001/seenfilter.parquet"
    )
    kdf = spark.createDataFrame([(vkey,)], "key long")
    after_one_delete = update_cuckoo(ck, inserts=None, deletes=kdf, n_buckets=8)
    probed = probe_cuckoo(kdf, after_one_delete, n_buckets=8).collect()
    assert len(probed) == 1 and probed[0].maybe_seen, (
        "second generation's filter copy was not inserted at build time"
    )
    shutil.rmtree(tmpdir, ignore_errors=True)


def _plan_children(plan) -> list:
    """A physical plan node's children, looking through adaptive plans,
    query stages, reused exchanges and cached relations."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [plan.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [plan.plan()]
    if name == "ReusedExchangeExec":
        return [plan.child()]
    if name == "InMemoryTableScanExec":
        return [plan.relation().cachedPlan()]
    kids = plan.children()
    return [kids.apply(i) for i in range(kids.size())]


def _corpus_join_sides(plan, corpus_dir, join=None, side=None) -> list:
    """(nearest join above it, the side it sits on: 0 left, 1 right) for
    every parquet scan of ``corpus_dir`` in a physical plan."""
    if plan.getClass().getSimpleName() == "FileSourceScanExec":
        roots = plan.relation().location().rootPaths()
        paths = [roots.apply(i).toString() for i in range(roots.size())]
        return [(join, side)] if any(corpus_dir in p for p in paths) else []
    is_join = "Join" in plan.nodeName()
    found = []
    for i, kid in enumerate(_plan_children(plan)):
        found += _corpus_join_sides(
            kid, corpus_dir, plan if is_join else join, i if is_join else side
        )
    return found


def test_robots_discovery_no_corpus_antijoin(spark, tmp_path_factory, pages):
    """Robots discovery reads the corpus only as the streamed side of a
    left-semi join against the missing hosts' robots.txt URLs: no join
    keyed on the URL ever has the corpus on its build side (the corpus
    cannot broadcast, and shuffling it every epoch would make discovery
    cost O(corpus) instead of ∝ new hosts). Checked on the plan Spark
    plans up front and on the adaptive plan it ran."""
    from scrape_spark.schemas import FRONTIER_SCHEMA
    from tests.helpers import robots_txt_pages

    tmpdir = str(tmp_path_factory.mktemp("robots_plan"))
    corpus_dir = f"{tmpdir}/corpus"
    pages.unionByName(robots_txt_pages(spark, N_HOSTS)).write.parquet(corpus_dir)
    store = UrlStore(spark, f"{tmpdir}/store", n_buckets=8)
    crawl = Crawl(
        spark, f"{tmpdir}/state", store, spark.read.parquet(corpus_dir), None,
        CrawlConfig(epoch_seconds=EPOCH_SECONDS, max_depth=6),
    )
    crawl.seed(seed_urls(N_HOSTS))
    crawl._epoch_caches = []
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
        f"{crawl.state_dir}/epochs/e00000/frontier.parquet"
    )
    robots_df = crawl._robots_for_epoch(0, frontier)

    def check():
        sides = _corpus_join_sides(robots_df._jdf.queryExecution().executedPlan(), corpus_dir)
        assert sides, "the corpus scan is not in the robots plan"
        for join, side in sides:
            assert join is not None and join.joinType().toString() == "LeftSemi", (
                join and join.toString()
            )
            assert side == 0, join.toString()
            if join.nodeName() != "SortMergeJoin":
                assert join.buildSide().toString() == "BuildRight", join.toString()

    check()
    rows = robots_df.collect()
    assert len(rows) == N_HOSTS and all(r.disallow for r in rows)
    check()
    for df in crawl._epoch_caches:
        df.unpersist()
    shutil.rmtree(tmpdir, ignore_errors=True)


def _record_robots_joins(spark, monkeypatch):
    """Record every F.broadcast argument's columns and every join whose
    right side is a robots rules table (it carries ``disallow``)."""
    DataFrame = type(spark.range(0))  # the session's concrete frame class
    broadcasts: list = []
    joins: list = []
    orig_broadcast, orig_join = F.broadcast, DataFrame.join

    def broadcast(df):
        broadcasts.append(set(df.columns))
        return orig_broadcast(df)

    def join(self, other, *args, **kwargs):
        out = orig_join(self, other, *args, **kwargs)
        if "disallow" in other.columns:
            joins.append(out)
        return out

    monkeypatch.setattr(F, "broadcast", broadcast)
    monkeypatch.setattr(DataFrame, "join", join)
    return broadcasts, joins


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_robots_join_is_sized_by_spark(
    spark, tmp_path_factory, pages, model, crawl_run, monkeypatch
):
    """The robots rules table grows with discovered hosts, so the crawl
    never forces it into a broadcast: Spark sizes the join under
    spark.sql.autoBroadcastJoinThreshold. With the threshold at -1, neither
    a supplied-table crawl nor a discovered-mode epoch 0 hands a
    robots-shaped frame to F.broadcast or plans a BroadcastHashJoin for the
    robots join, and both still match the model. Positive control: at the
    default threshold the tier-1 robots join IS a BroadcastHashJoin."""
    from scrape_spark.schemas import FRONTIER_SCHEMA

    def robots_shaped(cols):
        return {"host", "disallow"} <= cols

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        broadcasts, joins = _record_robots_joins(spark, monkeypatch)
        supplied_dir = str(tmp_path_factory.mktemp("robots_nobc"))
        supplied = _mk_crawl(spark, supplied_dir, pages)
        supplied.run(N_EPOCHS, seeds=seed_urls(N_HOSTS))
        discovered_dir = str(tmp_path_factory.mktemp("robots_nobc_e0"))
        discovered = Crawl(
            spark, f"{discovered_dir}/state",
            UrlStore(spark, f"{discovered_dir}/store", n_buckets=8), pages, None,
            CrawlConfig(epoch_seconds=EPOCH_SECONDS, max_depth=6),
        )
        discovered.seed(seed_urls(N_HOSTS))
        discovered.run_epoch(0)
        assert len(joins) == N_EPOCHS + 1, len(joins)
        plans = [_plan(j) for j in joins]
        monkeypatch.undo()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not any(robots_shaped(c) for c in broadcasts), broadcasts
    for plan in plans:
        assert "BroadcastHashJoin" not in plan, plan
    for epoch in range(N_EPOCHS):
        assert _selected_tuples(spark, supplied, epoch) == [
            tuple(t) for t in model.selected_per_epoch[epoch]
        ]
    got = {r.key for r in supplied.store.urls.read().select("key").collect()}
    assert got == model.store_keys
    assert _selected_tuples(spark, discovered, 0) == [
        tuple(t) for t in model.selected_per_epoch[0]
    ]

    # positive control: the same join shape over the tier-1 crawl's rules
    crawl, _ = crawl_run
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
        f"{crawl.state_dir}/epochs/e00000/frontier.parquet"
    )
    assert "BroadcastHashJoin" in _plan(frontier.join(crawl.robots, "host", "left"))
    shutil.rmtree(supplied_dir, ignore_errors=True)
    shutil.rmtree(discovered_dir, ignore_errors=True)


def test_robots_discovered_from_corpus_matches_model(spark, tmp_path_factory, pages, model):
    """robots=None: the crawl must fetch /robots.txt pages from the corpus
    itself, parse them (RFC 9309), and reach EXACTLY the behavior of the
    pre-supplied rules table — same selected tuples, same store keys — with
    the discovered rules accumulated in the checkpoint."""
    import os

    from tests.helpers import robots_txt_pages

    corpus = pages.unionByName(robots_txt_pages(spark, N_HOSTS))
    tmpdir = str(tmp_path_factory.mktemp("crawl_robots_disc"))
    store = UrlStore(spark, f"{tmpdir}/store", n_buckets=8)
    crawl = Crawl(
        spark, f"{tmpdir}/state", store, corpus, None,
        CrawlConfig(epoch_seconds=EPOCH_SECONDS, max_depth=6),
    )
    stats = crawl.run(N_EPOCHS, seeds=seed_urls(N_HOSTS))
    got = {r.key for r in store.urls.read().select("key").collect()}
    assert got == model.store_keys
    for epoch in range(N_EPOCHS):
        assert _selected_tuples(spark, crawl, epoch) == [
            tuple(t) for t in model.selected_per_epoch[epoch]
        ]
    assert sum(s["robots_denied"] for s in stats) > 0
    # discovered rules ride the checkpoint; every frontier host accumulated
    last = crawl.last_committed_epoch()
    state_path = f"{crawl.state_dir}/epochs/e{last+1:05d}/robots_state.parquet"
    assert os.path.exists(state_path)
    rules = spark.read.parquet(state_path)
    assert rules.count() > 0
    one = rules.filter(F.col("host") == "h00001.ex1.test").collect()[0]
    assert [r["like"] for r in one.disallow] == ["/private/%"]
    assert one.crawl_delay == 0.5
    shutil.rmtree(tmpdir, ignore_errors=True)


def test_crawl_discovers_relative_links(spark, tmp_path_factory):
    """Spec v4 (round-4 VERDICT top task): a BFS crawl over pages whose
    links are relative / single-quoted / unquoted / protocol-relative must
    reach EXACTLY the frontier an absolute-double-quoted corpus reaches —
    real-world intra-site links are overwhelmingly relative, and before v4
    the harvest silently discovered nothing on such pages."""
    from scrape_spark.schemas import ROBOTS_SCHEMA

    def pg(title, links):
        body = " ".join(f"<a href={l}>x</a>" for l in links)
        return (
            f"<html><head><title>{title}</title></head><body>"
            f"<article><p>Page {title} body text.</p>{body}</article>"
            "</body></html>"
        ).encode()

    # absolute targets (corpus A writes these verbatim)
    targets0 = [
        '"https://rel0.test/a/p1.html"',
        '"https://rel0.test/b/p2.html"',
        '"https://rel1.test/a/p0.html"',
        '"https://rel0.test/missing"',
    ]
    # the same targets as relative/messy forms (corpus B), resolved against
    # page url https://rel0.test/a/p0.html
    targets0_rel = ["'p1.html'", '"../b/p2.html"', "//rel1.test/a/p0.html",
                    '"/missing"']
    corpora = {}
    for name, t0, t1, t2 in (
        ("abs", targets0, ['"https://rel0.test/a/p3.html"'], ['"https://rel1.test/a/p1.html"']),
        ("rel", targets0_rel, ['"./p3.html"'], ["'p1.html'"]),
    ):
        rows = [
            ("https://rel0.test/a/p0.html", pg("p0", t0)),
            ("https://rel0.test/a/p1.html", pg("p1", t1)),
            ("https://rel0.test/b/p2.html", pg("p2", [])),
            ("https://rel1.test/a/p0.html", pg("q0", t2)),
            ("https://rel0.test/a/p3.html", pg("p3", [])),
            ("https://rel1.test/a/p1.html", pg("q1", [])),
        ]
        corpora[name] = spark.createDataFrame(rows, "url string, html binary")

    results = {}
    for name, pages_df in corpora.items():
        tmpdir = str(tmp_path_factory.mktemp(f"rel_{name}"))
        crawl = Crawl(
            spark, f"{tmpdir}/state", UrlStore(spark, f"{tmpdir}/store", n_buckets=8),
            pages_df, spark.createDataFrame([], ROBOTS_SCHEMA),
            CrawlConfig(epoch_seconds=10.0, max_depth=6),
        )
        crawl.run(4, seeds=["https://rel0.test/a/p0.html"])
        sel = [
            _selected_tuples(spark, crawl, e)
            for e in range(crawl.last_committed_epoch() + 1)
        ]
        keys = {r.key for r in crawl.store.urls.read().select("key").collect()}
        results[name] = (sel, keys)
        shutil.rmtree(tmpdir, ignore_errors=True)

    assert results["rel"] == results["abs"]
    # sanity: discovery actually crossed depths and the missing page was tried
    sel_abs = results["abs"][0]
    all_urls = {t[1] for ep in sel_abs for t in ep}
    assert "https://rel0.test/missing" in all_urls
    assert "https://rel1.test/a/p1.html" in all_urls  # depth-2 cross-host


def test_hot_host_fetch_stage_is_budget_bounded_and_balanced(spark):
    """North-star skew defense (SURVEY §4 O2): a hot domain cannot swamp a
    fetch partition. Two mechanisms compose: the per-host politeness budget
    (W3, frontier.py run_epoch stage 3) caps every host's per-epoch selected
    rows at floor(epoch_seconds/delay), and the salted-host repartition
    (run_epoch stage 4) spreads hosts uniformly over the fetch partitions —
    so the fetch stage's max partition load is bounded by budget × hosts-per
    -bucket regardless of how skewed the RAW frontier is. This pins the
    mechanism on a heavily-skewed frontier with deterministic numbers (the
    salt and xxhash64 are fixed). Hosts-per-bucket concentration is a
    balls-in-bins max — it tightens toward 1 as hosts/bucket grows, so the
    test uses a cluster-realistic ~125 hosts/bucket (at 10^7-10^8 frontier
    hosts over 10^4 partitions the ratio is even higher)."""
    from pyspark.sql import Window as W

    from scrape_spark.functions.urlkeys import salted_host_hash

    hot = [("hot.test", f"https://hot.test/p{i}", 1.0) for i in range(5000)]
    cold = [
        (f"c{h:04d}.test", f"https://c{h:04d}.test/p{i}", 1.0)
        for h in range(1999)
        for i in range(4)
    ]
    frontier = spark.createDataFrame(
        hot + cold, "host string, url string, crawl_delay double"
    ).withColumn("priority", F.lit(0)).withColumn("depth", F.lit(0))

    # raw skew: the hot host alone is >38% of the frontier, 1250x any other
    assert 5000 / (5000 + 4 * 1999) > 0.38

    cfg = CrawlConfig(epoch_seconds=8.0)
    w = W.partitionBy("host").orderBy("priority", "depth", "url")
    selected = (
        frontier.withColumn("rank", F.row_number().over(w))
        .withColumn("budget", cfg.budget_expr())
        .filter(F.col("rank") <= F.col("budget"))
    )
    per_host = {r.host: r.n for r in selected.groupBy("host").count()
                .withColumnRenamed("count", "n").collect()}
    budget = 8  # floor(8.0 / 1.0)
    assert per_host["hot.test"] == budget  # 5000 raw rows -> 8 selected
    assert all(n <= budget for n in per_host.values())

    n_part = 16
    sizes = (
        selected.repartition(n_part, salted_host_hash("host"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    ideal = sum(counts) / n_part
    # every partition within 1.25x of ideal: the hot host's 8 budgeted rows
    # are one host among ~125 per bucket — invisible in the load profile
    assert max(counts) <= 1.25 * ideal, counts
    assert len(counts) == n_part  # no empty fetch partitions at 2000 hosts


def test_snapshot_expiration_bounds_history_and_resumes(
    spark, tmp_path_factory, pages, model
):
    """cfg.expire_snapshots (default on): after each epoch the store keeps
    only snapshots the next epoch can need — history stays O(commits/epoch)
    instead of O(crawl length) — while the cuckoo filter's incremental
    advance and checkpoint resume still reproduce the reference model."""
    tmpdir = str(tmp_path_factory.mktemp("crawl_expire"))
    crawl = _mk_crawl(spark, tmpdir, pages, seen_filter="cuckoo")
    crawl.run(2, seeds=seed_urls(N_HOSTS))
    # bounded: parent pin → current is at most merge+compact per table
    assert len(crawl.store.urls.snapshots()) <= 4
    # resume with a FRESH object over the expired-history store: the filter
    # loader's manifest walk (current → parent pin) must still succeed
    # incrementally and the finished crawl must match the model exactly
    crawl2 = _mk_crawl(spark, tmpdir, pages, seen_filter="cuckoo")
    crawl2.run(N_EPOCHS)
    got = {r.key for r in crawl2.store.urls.read().select("key").collect()}
    assert got == model.store_keys
    for epoch in range(N_EPOCHS):
        assert _selected_tuples(spark, crawl2, epoch) == [
            tuple(t) for t in model.selected_per_epoch[epoch]
        ]
    assert len(crawl2.store.urls.snapshots()) <= 4
    shutil.rmtree(tmpdir, ignore_errors=True)


def test_robots_ttl_expires_and_refetches(spark, tmp_path_factory, pages):
    """cfg.robots_ttl_epochs: discovered rules expire and active hosts are
    refetched (state rows carry the refetch epoch); crawl behavior over a
    static corpus is identical to the fetch-once default, and rules stay
    enforced after a refetch (private paths still denied)."""
    from tests.helpers import robots_txt_pages

    corpus = pages.unionByName(robots_txt_pages(spark, N_HOSTS))

    def run(sub, ttl):
        tmpdir = str(tmp_path_factory.mktemp(f"robots_ttl_{sub}"))
        crawl = Crawl(
            spark, f"{tmpdir}/state",
            UrlStore(spark, f"{tmpdir}/store", n_buckets=8),
            corpus, None,
            CrawlConfig(epoch_seconds=EPOCH_SECONDS, max_depth=6,
                        robots_ttl_epochs=ttl),
        )
        crawl.run(3, seeds=seed_urls(N_HOSTS))
        states = []
        for k in range(1, 4):
            states.append({
                r.host: r.robots_epoch
                for r in spark.read.parquet(
                    f"{crawl.state_dir}/epochs/e{k:05d}/robots_state.parquet"
                ).select("host", "robots_epoch").collect()
            })
        keys = {r.key for r in crawl.store.urls.read().collect()}
        denied = {r.parsed_url for r in crawl.store.urls.read().collect()
                  if "/private/" in r.parsed_url}
        return states, keys, denied

    s_ttl, k_ttl, d_ttl = run("on", 1)
    s_off, k_off, d_off = run("off", None)
    # fetch-once: every state row keeps its first-fetch epoch stamp
    assert set(s_off[-1].values()) == {0}
    # ttl=1: hosts active in epoch k are re-stamped at k (state after epoch
    # 2 holds no epoch-0 stamps for hosts the frontier still visits)
    assert any(v > 0 for v in s_ttl[-1].values())
    assert all(v is not None for v in s_ttl[-1].values())
    # identical crawl over a static corpus; robots stay enforced
    assert k_ttl == k_off
    assert d_ttl == set() and d_off == set()


def test_robots_ttl_does_not_reharvest_sitemaps(spark, tmp_path_factory, pages):
    """robots_ttl_epochs + discover_sitemaps: a TTL refetch refreshes a
    host's RULES but must not re-harvest its sitemaps — the harvest probe
    anti-joins the pre-expiry state hosts, so per-epoch sitemap cost stays
    ∝ genuinely-new hosts."""
    from scrape_spark.schemas import FRONTIER_SCHEMA
    from tests.helpers import robots_txt_pages

    corpus = pages.unionByName(robots_txt_pages(spark, N_HOSTS))
    tmpdir = str(tmp_path_factory.mktemp("ttl_sitemaps"))
    crawl = Crawl(
        spark, f"{tmpdir}/state",
        UrlStore(spark, f"{tmpdir}/store", n_buckets=8),
        corpus, None,
        CrawlConfig(epoch_seconds=EPOCH_SECONDS, max_depth=6,
                    robots_ttl_epochs=1,
                    discover_sitemaps=True),
    )
    crawl.run(2, seeds=seed_urls(N_HOSTS))
    # epoch 1: every seed host was refetched by the TTL (it's in the raw
    # delta), but none is NEW — the harvest stage must see zero fresh hosts
    crawl._epoch_caches = []
    crawl._robots_raw_delta = None
    crawl._robots_prior_hosts = None
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
        f"{crawl.state_dir}/epochs/e00002/frontier.parquet"
    )
    crawl._robots_for_epoch(2, frontier).localCheckpoint()
    assert crawl._robots_raw_delta.count() > 0  # TTL put hosts back in the delta
    fresh = crawl._robots_raw_delta.join(
        crawl._robots_prior_hosts, "host", "left_anti"
    )
    assert fresh.limit(1).count() == 0  # ...but none is sitemap-fresh
    for df in crawl._epoch_caches:
        df.unpersist()
    shutil.rmtree(tmpdir, ignore_errors=True)
