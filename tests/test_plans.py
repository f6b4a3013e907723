"""Physical-plan shape checks: the partitioning, shuffle and join properties
the engine's scale rests on, read from Spark's own physical plans.

Explain-first: every check reads the plan of a lazy frame
(``queryExecution().executedPlan()``, no action) except the codegen and
dedupe-reuse checks, which read a tiny flagship's final plan because
whole-stage codegen spans (``*(n)``) and AQE's ``ReusedExchange`` nodes
only appear once a plan has executed. The store MERGE's one-exchange check
lives with the store tests (``test_store.py::test_merge_delta_single_exchange``).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from scrape_spark.operators.store import UrlStore
from scrape_spark.plans.batch_extract import batch_extract
from scrape_spark.plans.export import export_corpus
from scrape_spark.sources.pages import page_url, synth_pages

# Exchange nodes (shuffles and broadcasts) in each declared query's
# pre-execution plan on the tier-1 data (sf0.001): the queries
# tools/capture_plans.py captures, counted when these checks replaced the
# captured round-6 plan text. A count may fall; a rise is a new shuffle or
# broadcast, to be justified and re-recorded here.
EXCHANGES = {
    "per_host_agg": 1,
    "dim_broadcast": 2,
    "topk_per_group": 1,
    "hit_miss_anti": 1,
    "dedupe_lastwin": 1,
    "sessionize": 1,
    "fingerprint_dedup": 1,
    "corpus_export": 1,
    "jaccard_pairs_trigram": 7,
    "minhash_neardup": 6,
    "embedding_neardup": 3,
    "ann_topk": 2,
    "batch_pipeline": 2,
}


def plan_of(df) -> str:
    """df's physical plan; once executed, only AQE's final plan."""
    return df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]


def assert_no_cross_join(plan: str) -> None:
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    synth_pages(spark, 3, 40).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def flagship(spark, pages):
    return plan_of(batch_extract(spark, pages.select("url"), pages, store=None))


@pytest.fixture(scope="module")
def executed_flagship(spark, pages):
    df = batch_extract(spark, pages.select("url"), pages, store=None)
    df.collect()
    return plan_of(df)


@pytest.fixture(scope="module")
def store(spark, pages, tmp_path_factory):
    """A store holding one committed page (so reads scan real files)."""
    store = UrlStore(spark, str(tmp_path_factory.mktemp("plans_store")), n_buckets=8)
    batch_extract(spark, spark.createDataFrame([(page_url(0, 1),)], ["url"]), pages, store)
    return store


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, f"the quick brown fox number {i} jumps over the lazy dog", 200)
         for i in range(50)],
        "key long, content_text string, status_code int",
    )


def test_flagship_corpus_scan_never_reads_text(flagship):
    """The fetch join reads only the fetch columns of the corpus: `text`
    is the corpus's largest column and nothing downstream needs it."""
    schemas = re.findall(r"FileScan parquet .*?ReadSchema: (\S*)", flagship)
    corpus = [s for s in schemas if "html:" in s]
    assert corpus, flagship
    for s in corpus:
        assert not re.search(r"[<,]text:", s), s


def test_flagship_has_no_cross_join(flagship):
    assert_no_cross_join(flagship)


def test_inflight_dedupe_combines_before_its_exchange(flagship):
    """The request dedupe is an aggregate whose partial (``partial_first``)
    runs map-side, so duplicate requests never cross the shuffle."""
    lines = flagship.splitlines()
    exchanges = [
        i for i, line in enumerate(lines)
        if "Exchange hashpartitioning(__dedupe_key" in line
    ]
    assert exchanges, flagship
    for i in exchanges:
        assert "partial_first" in lines[i + 1], flagship


def test_inflight_dedupe_aggregates_once(executed_flagship):
    """The request dedupe's final ``first(`` aggregate runs once per batch:
    the fetch join consumes the deduped batch on one branch, so no second
    copy of the aggregate reads a ReusedExchange of its shuffle."""
    finals = re.findall(
        r"Aggregate\(key=\[__dedupe_key[^\]]*\], functions=\[first\(",
        executed_flagship,
    )
    assert len(finals) == 1, executed_flagship
    reused = [
        line for line in executed_flagship.splitlines()
        if "ReusedExchange" in line and "__dedupe_key" in line
    ]
    assert not reused, executed_flagship


def test_flagship_has_whole_stage_codegen(executed_flagship):
    assert "*(" in executed_flagship


def test_store_backed_batch_has_no_cross_join(spark, pages, store):
    requests = spark.createDataFrame([(page_url(0, 1),), (page_url(1, 2),)], ["url"])
    assert_no_cross_join(plan_of(batch_extract(spark, requests, pages, store, save=False)))


def test_store_expiry_filter_is_pushed_to_parquet(store):
    fresh = store.urls.read().filter(F.col("expires") > F.current_timestamp())
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan_of(fresh))
    assert pushed and "expires" in pushed.group(1), plan_of(fresh)


def test_point_fetch_has_no_cross_join(store):
    assert_no_cross_join(plan_of(store.fetch([page_url(0, 1)])))


def test_export_exact_dedup_is_one_shuffle(docs):
    plan = plan_of(export_corpus(docs, min_quality=0.0))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_export_neardup_has_no_cross_join(docs):
    assert_no_cross_join(plan_of(export_corpus(docs, neardup="minhash", threshold=0.5)))


@pytest.mark.parametrize("name", list(EXCHANGES))
def test_declared_query_exchange_count_does_not_grow(spark, sf_dir, name):
    import __spark_entry__ as E

    plan = plan_of(E.queries()[name](spark, sf_dir))
    assert plan.count("Exchange") <= EXCHANGES[name], plan
