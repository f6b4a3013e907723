"""The benchmark's workloads and traced layer passes.

A workload loads its seeded inputs, warms up, and then repeats one timed
call of a user journey; every call's output is checked. A traced pass
replays a journey one public engine function at a time, materialising each
layer's output inside a span, so a layer's busy time and Spark job count
are measured at its boundary.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass
from decimal import Decimal

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import scrape_spark
from scrape_spark.functions.urlkeys import url_key_py
from scrape_spark.operators.dedupe import (
    connected_components,
    exact_dedup,
    lsh_candidates,
    minhash_neardup_pairs,
    minhash_signatures,
)
from scrape_spark.operators.extract import extract_batch, harvest_links
from scrape_spark.operators.frontier import Crawl, CrawlConfig
from scrape_spark.operators.store import UrlStore
from scrape_spark.plans.batch_extract import (
    batch_extract,
    fetch_join,
    finalize_results,
    prepare_requests,
)
from scrape_spark.plans.export import annotate
from scrape_spark.sources.pages import robots_table

NO_STORE_TTL = 30 * 24 * 3600  # batch_extract's TTL when no store is given
CRAWL_EPOCHS = 2


@dataclass
class Context:
    spark: object
    seed: int
    inputs: str  # persistent input cache
    work: str    # this run's scratch directory


def _prepared(requests):
    """Request prep plus batch_extract's in-flight dedupe (malformed URLs
    have no key and dedupe on their text)."""
    req = prepare_requests(requests)
    return (
        req.withColumn("__dk", F.coalesce(F.col("key"), F.xxhash64("original_url")))
        .dropDuplicates(["__dk"])
        .drop("__dk")
    )


def _digest(col_ok):
    """Order-independent multiset digest of (key, title, content_text)."""
    h = F.xxhash64("key", "title", "content_text").cast("decimal(38,0)")
    return F.sum(F.when(col_ok, h))


def summarize(results, hit_cut: int | None = None) -> dict:
    """One aggregate over a batch's result rows: row count, error rows by
    class, the content digest of the non-error rows and, for a store run,
    rows answered from the store (their fetch_time predates the call)."""
    err = F.col("error")

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    aggs = [
        F.count(F.lit(1)).alias("rows"),
        n(err.startswith("invalid url")).alias("err_invalid"),
        n(err.startswith("HTTP error: status code 404")).alias("err_404"),
        n(err.startswith("unsupported content type")).alias("err_415"),
        _digest(err.isNull()).alias("digest"),
    ]
    if hit_cut is not None:
        aggs.append(n(F.unix_seconds("fetch_time") < hit_cut).alias("hits"))
    return results.agg(*aggs).collect()[0].asDict()


def kernel_reference(spark, corpus_path: str) -> tuple[int, dict]:
    """The expected content digest, built without the engine's Spark plan:
    the Spark-free extraction kernel over every corpus page, keyed by its
    canonical URL. Also returns the kernel's own single-core timings."""
    pdf = pq.read_table(corpus_path, columns=["url", "html", "ctype"]).to_pandas()
    t = time.perf_counter()
    ext = extract_batch(pdf["html"], pdf["url"], pdf["ctype"])
    kernel_s = time.perf_counter() - t
    text = pdf["html"].map(lambda b: b.decode("utf-8", errors="replace"))
    t = time.perf_counter()
    harvest_links(text, pdf["url"])
    links_s = time.perf_counter() - t
    ok = (pdf["ctype"] == "text/html") & ext["extract_error"].isna()
    canon = ext["canonical_url"].where(ext["canonical_url"].notna(), pdf["url"])[ok]
    ref = pd.DataFrame(
        {
            "key": [url_key_py(u) for u in canon],
            "title": ext["title"][ok].astype(object),
            "content_text": ext["content_text"][ok].astype(object),
        }
    )
    schema = "key long, title string, content_text string"
    digest = spark.createDataFrame(ref, schema).agg(_digest(F.lit(True))).collect()[0][0]
    stats = {
        "kernel_s": kernel_s,
        "pages_per_core_s": len(pdf) / kernel_s,
        "links_s": links_s,
        "input_mb": float(pdf["html"].map(len).sum()) / 1e6,
    }
    return digest, stats


def corpus_path(ctx: Context) -> str:
    n_hosts, per_host = inputs.CORPUS
    return os.path.join(ctx.inputs, f"pages_{n_hosts}x{per_host}")


def _engine_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.dirname(scrape_spark.__file__)
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(d, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


# ---- workloads -----------------------------------------------------------------


class ColdExtract:
    """One request batch over the whole pages corpus, no store."""

    name = "cold_extract"
    warm_calls = 2  # the first call pays JIT, Python-worker start and codegen

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def load(self) -> None:
        spark = self.ctx.spark
        self.pages = inputs.corpus(spark, self.ctx.inputs)
        self.batch = inputs.request_batch(self.ctx.inputs, self.ctx.seed)
        self.requests = spark.read.parquet(self.batch.path)

    def prime(self) -> None:
        """State a call needs besides its inputs (none without a store)."""

    def warm(self) -> None:
        self.prime()
        for _ in range(self.warm_calls):
            self.before_call()
            self.call()

    def reference(self) -> None:
        """The kernel-built content digest, cached per corpus size and
        engine source: it changes only when the engine does."""
        n_hosts, per_host = inputs.CORPUS
        cache = os.path.join(
            self.ctx.inputs, f"reference_{n_hosts}x{per_host}_{_engine_hash()}.json"
        )
        if not os.path.exists(cache):
            digest, _ = kernel_reference(self.ctx.spark, corpus_path(self.ctx))
            with open(cache, "w") as f:
                json.dump({"digest": str(digest)}, f)
        with open(cache) as f:
            self.ref_digest = Decimal(json.load(f)["digest"])

    def before_call(self) -> None:
        pass

    def call(self) -> tuple[float, dict]:
        t = time.perf_counter()
        out = summarize(batch_extract(self.ctx.spark, self.requests, self.pages))
        return time.perf_counter() - t, out

    def check(self, out: dict) -> dict[str, bool]:
        exp = self.batch.expect
        checks = {f"batch.{k}": out[k] == v for k, v in exp.items()}
        checks["batch.digest_matches_kernel"] = out["digest"] == self.ref_digest
        return checks

    def sizes(self, out: dict) -> tuple[int, int]:
        return self.batch.n_requests, out["rows"]

    def trace(self, tr) -> dict[str, bool]:
        with tr.span("prepare") as c:
            req = _prepared(self.requests).cache()
            r = req.agg(F.count(F.lit(1)), F.count("request_error")).collect()[0]
            c.update(rows=r[0], invalid_rows=r[1])
        with tr.span("fetch") as c:
            ext = fetch_join(req, self.pages).cache()
            r = ext.agg(F.count(F.lit(1)), F.count(F.lit(1)) - F.count("__page_url")).collect()[0]
            c.update(rows=r[0], absent_rows=r[1])
        with tr.span("finalize") as c:
            res = finalize_results(ext, NO_STORE_TTL).cache()
            s = summarize(res)
            c.update({k: s[k] for k in ("err_404", "err_415", "err_invalid")})
        for df in (res, ext, req):
            df.unpersist()
        return {f"trace.batch.{k}": s[k] == v for k, v in self.batch.expect.items()}


class StoreRefresh(ColdExtract):
    """The same batch against a store warmed with ~4 in 5 of the corpus:
    mostly fresh hits and /amp aliases, plus misses, committed by MERGE.
    Every call starts from the identical store, restored untimed."""

    name = "store_refresh"
    warm_calls = 1  # each call costs ~17 Spark jobs; one more does not fit the run budget

    def prime(self) -> None:
        """Locate the warmed store every call is restored from; it is built
        once per corpus size and cached with the inputs."""
        spark = self.ctx.spark
        n_hosts, per_host = inputs.CORPUS
        self.pristine = os.path.join(self.ctx.inputs, f"store_{n_hosts}x{per_host}")
        self.live = os.path.join(self.ctx.work, "store")
        # manifests record absolute file paths: build in place, mark when done
        marker = os.path.join(self.pristine, "_WARMED")
        if not os.path.exists(marker):
            shutil.rmtree(self.pristine, ignore_errors=True)
            warm_urls = spark.read.parquet(self.batch.warm_path)
            batch_extract(spark, warm_urls, self.pages, UrlStore(spark, self.pristine)).unpersist()
            # rows stamped by the build predate this second; every later
            # call stamps its fetched rows at or after it
            with open(marker, "w") as f:
                f.write(str(int(time.time()) + 1))
        with open(marker) as f:
            self.hit_cut = int(f.read())
        time.sleep(max(0.0, self.hit_cut - time.time()))

    def before_call(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)
        self.store = UrlStore(self.ctx.spark, self.live)

    def call(self) -> tuple[float, dict]:
        t = time.perf_counter()
        res = batch_extract(self.ctx.spark, self.requests, self.pages, self.store)
        out = summarize(res, self.hit_cut)
        dt = time.perf_counter() - t
        res.unpersist()
        return dt, out

    def check(self, out: dict) -> dict[str, bool]:
        checks = super().check(out)
        checks["store.hits"] = out["hits"] == self.batch.expect_hits
        return checks

    def trace(self, tr) -> dict[str, bool]:
        spark = self.ctx.spark
        self.before_call()
        st = self.store
        req = _prepared(self.requests).cache()
        req.count()
        with tr.span("store_read") as c:
            resolved, buckets = st.resolve_keys_pruned(req)
            fresh = st.urls.read(buckets=buckets).filter(F.col("expires") > F.current_timestamp())
            payload = fresh.select(F.col("key").alias("__s"), F.col("content_text").alias("__t"))
            r = (
                resolved.join(payload, resolved["canonical_key"] == payload["__s"], "left")
                .agg(
                    F.count(F.lit(1)),
                    F.count("__s"),
                    F.sum(F.when(F.col("canonical_key") != F.col("key"), 1).otherwise(0)),
                    F.sum(F.length("__t")),
                )
                .collect()[0]
            )
            c.update(
                buckets_probed=len(buckets),
                files_opened=len(fresh.inputFiles()),
                hits=r[1],
                hit_share=r[1] / r[0],
                alias_resolved=r[2],
            )
        results = batch_extract(spark, self.requests, self.pages, st, save=False).cache()
        results.count()
        pre_snap = st.urls.current_snapshot()
        with tr.span("store_write") as c:
            st.merge(results)
        written = (
            results.filter(F.col("error").isNull())
            .groupBy("key")
            .agg(F.max("fetch_time").alias("fetch_time"))
        )
        n_written = written.count()
        prior = st.urls.read(snapshot=pre_snap).select("key", "fetch_time")
        useful = written.join(prior, ["key", "fetch_time"], "left_anti").count()
        files, nbytes = 0, 0
        for table in (st.urls, st.id_map):
            f, b = _delta_files(table)
            files, nbytes = files + f, nbytes + b
        c.update(
            rows=n_written,
            mb=nbytes / 1e6,
            files=files,
            generations=_generations(st.urls),
            useful_share=useful / n_written,
        )
        spark.catalog.clearCache()
        return {"trace.store.hits": r[1] == self.batch.expect_hits}


def _manifest(table) -> dict:
    snap = table.current_snapshot()
    with open(os.path.join(table.root, "_manifests", f"v{snap:08d}.json")) as f:
        return json.load(f)


def _delta_files(table) -> tuple[int, int]:
    """Files and bytes the table's newest commit added."""
    man = _manifest(table)
    new = [e for fl in man["files"].values() for e in fl if e["seq"] == man["snapshot"]]
    return len(new), sum(e["bytes"] or 0 for e in new)


def _generations(table) -> int:
    return max((len({e["seq"] for e in fl}) for fl in _manifest(table)["files"].values()), default=0)


class ExportNeardup:
    """Seeded Zipf documents with planted exact and near duplicates through
    the MinHash export (annotate, exact dedup, signatures, LSH, verified
    pairs, connected components). Traced only: one export call launches
    ~36 Spark jobs, ~7 s on a 4-core box, too slow to repeat within the
    benchmark's run budget."""

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def load(self) -> None:
        path = inputs.export_docs(self.ctx.inputs, self.ctx.seed)
        self.docs = self.ctx.spark.read.parquet(path).select("key", "content_text")
        tbl = pq.read_table(path, columns=["key", "role"])
        self.by_role: dict[int, set] = {}
        for k, r in zip(tbl.column("key").to_pylist(), tbl.column("role").to_pylist()):
            self.by_role.setdefault(r, set()).add(k)

    def prime(self) -> None:
        pass

    def trace(self, tr) -> dict[str, bool]:
        with tr.span("export.annotate"):
            ann = annotate(self.docs).select("key", "lang", "quality", "n_tokens", "content_text").cache()
            n_in = ann.count()
        with tr.span("dedupe.exact_dedup") as c:
            ded = exact_dedup(ann, "key", "content_text").cache()
            kept = {r[0] for r in ded.select("key").collect()}
            c["docs_dropped"] = n_in - len(kept)
        with tr.span("dedupe.minhash_signatures"):
            sig = minhash_signatures(ded, "key", "content_text").cache()
            sig.count()
        with tr.span("dedupe.lsh_candidates") as c:
            c["pairs"] = n_cand = lsh_candidates(sig).count()
        with tr.span("dedupe.minhash_neardup_pairs") as c:
            pairs = minhash_neardup_pairs(ded, "key", "content_text").cache()
            n_pairs = pairs.count()
            c.update(pairs=n_pairs, verified_share=n_pairs / max(n_cand, 1))
        with tr.span("dedupe.connected_components") as c:
            comps = connected_components(pairs.select("i", "j"))
            losers = {r[0] for r in comps.filter(F.col("node") != F.col("component")).collect()}
            c["docs_dropped"] = len(losers)
        self.ctx.spark.catalog.clearCache()
        out = kept - losers
        near = self.by_role[inputs.NEAR_COPY]
        return {
            "export.exact_copies_gone": not (out & self.by_role[inputs.EXACT_COPY]),
            "export.originals_kept": self.by_role[inputs.ORIGINAL] <= out,
            "export.near_copies_dropped": len(near - out) >= 0.95 * len(near),
        }


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def trace_crawl(ctx: Context, tr) -> dict[str, bool]:
    """A seeded BFS crawl over the small corpus with robots_table rules and
    CLI-default settings; epoch 0 runs under ``frontier.first``, epoch 1
    under ``frontier``. Checks every epoch's selection against the
    single-threaded reference model."""
    from tests.reference_model import build_corpus, run_model

    spark = ctx.spark
    n_hosts, per_host = inputs.CRAWL_CORPUS
    pages = inputs.corpus(spark, ctx.inputs, inputs.CRAWL_CORPUS)
    robots = robots_table(spark, n_hosts)
    seeds = inputs.crawl_seeds(ctx.seed, n_hosts)
    root = os.path.join(ctx.work, "crawl")
    shutil.rmtree(root, ignore_errors=True)
    cfg = CrawlConfig()
    state = os.path.join(root, "state")
    crawl = Crawl(spark, state, UrlStore(spark, os.path.join(root, "store")), pages, robots, cfg)
    crawl.seed(seeds)
    for epoch in range(CRAWL_EPOCHS):
        before = _tree_bytes(state)
        with tr.span("frontier" if epoch else "frontier.first") as c:
            s = crawl.run_epoch(epoch)
        c.update({k: s[k] for k in ("selected", "deferred", "robots_denied", "next_frontier")})
        c["checkpoint_mb"] = (_tree_bytes(state) - before) / 1e6
    rules = {r.host: (list(r.disallow), r.crawl_delay) for r in robots.collect()}
    model = run_model(
        build_corpus(n_hosts, per_host), seeds, rules, cfg.epoch_seconds, CRAWL_EPOCHS, cfg.max_depth
    )
    cols = ["key", "url", "host", "depth", "priority", "rank"]
    ok = True
    for epoch in range(CRAWL_EPOCHS):
        sel = pq.read_table(
            os.path.join(state, "epochs", f"e{epoch:05d}", "selected.parquet"), columns=cols
        )
        got = sorted(zip(*(sel.column(c).to_pylist() for c in cols)))
        ok = ok and got == [tuple(t) for t in model.selected_per_epoch[epoch]]
    spark.catalog.clearCache()
    return {"crawl.selected_matches_model": ok}


WORKLOADS = {w.name: w for w in (ColdExtract, StoreRefresh)}
# every traced run replays all of these, so each carries every layer metric
LAYER_PASSES = (ColdExtract, StoreRefresh, ExportNeardup)
