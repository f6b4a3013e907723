"""Cuckoo-filter seen-set tests (north rule: "Bloom/cuckoo-filter URL-seen
set"). The filter is a PRE-filter: the only correctness property the crawl
depends on is one-sidedness — a key that was inserted (and not deleted)
must NEVER probe negative. Deletes must remove exactly the deleted key's
copy, never a surviving key's (the classic cuckoo-delete hazard)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrape_spark.operators.cuckoo import (
    CUCKOO_FORMAT_VERSION,
    SLOTS_PER_BUCKET,
    _build_table,
    _delete_batch,
    _fingerprints,
    _insert_batch,
    build_cuckoo,
    probe_cuckoo,
    rebuild_flagged,
    update_cuckoo,
)


def _probe_np(table, keys):
    n_slots = table.shape[0]
    fp, i1, i2 = _fingerprints(keys, n_slots)
    return (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)


def _keys(n, seed=7):
    rng = np.random.default_rng(seed)
    k = np.unique(rng.integers(0, 2**62, size=n + n // 10 + 16, dtype=np.int64))
    rng.shuffle(k)
    return k[:n]


# ---- numpy kernel properties ------------------------------------------------


def test_build_probe_no_false_negatives():
    k = _keys(50_000)
    n_slots, table = _build_table(k)
    assert _probe_np(table, k).all()


def test_false_positive_rate_sane():
    k = _keys(50_000)
    _, table = _build_table(k)
    other = _keys(50_000, seed=99)
    fp_rate = _probe_np(table, other).mean()
    # 16-bit fingerprints, 2 buckets x 4 slots: theoretical ~ 8/2^16 = 1.2e-4
    assert fp_rate < 0.01, fp_rate


def test_delete_preserves_survivors():
    """Deleting B must leave every key of A probing positive."""
    k = _keys(40_000)
    a, b = k[:20_000], k[20_000:]
    n_slots, table = _build_table(k)
    missing = _delete_batch(table, *_fingerprints(b, n_slots))
    assert missing == 0  # every inserted key's copy was found and removed
    assert _probe_np(table, a).all()
    # deleted keys are (mostly) gone — only fingerprint collisions remain
    assert _probe_np(table, b).mean() < 0.01


def test_delete_insert_cycle_stays_balanced():
    """TTL-cycle accounting: expire-delete then refetch-insert, repeatedly.
    Copies per key must stay balanced (no drift to overflow, no lost
    membership)."""
    k = _keys(10_000)
    n_slots, table = _build_table(k)
    expired = k[:2_000]
    for _ in range(5):
        assert _delete_batch(table, *_fingerprints(expired, n_slots)) == 0
        assert not _probe_np(table, expired).any() or _probe_np(table, expired).mean() < 0.01
        assert _insert_batch(table, *_fingerprints(expired, n_slots))
        assert _probe_np(table, k).all()
    # occupancy unchanged after 5 cycles → balanced accounting
    assert (table != 0).sum() == pytest.approx(10_000, abs=50)


def test_duplicate_copies_then_single_delete():
    """A key inserted twice (store copy + alias copy) survives one delete."""
    k = _keys(5_000)
    n_slots, table = _build_table(np.concatenate([k, k]))
    assert _delete_batch(table, *_fingerprints(k, n_slots)) == 0
    assert _probe_np(table, k).all()  # second copy still present


def test_primary_index_uniform():
    """Regression (round-4 ADVICE): i1 must be drawn from unbiased hash bits.
    The old ``h2 & mask`` derivation was always ODD (that h2 was a
    double-hashing step, forced odd), so odd rows carried ~2x load: the
    builder silently doubled n_slots to converge and incremental inserts hit
    the eviction wall far below the documented 0.5 target load."""
    k = _keys(100_000)
    n_slots = 1 << 14
    _, i1, i2 = _fingerprints(k, n_slots)
    even_frac = (i1 % 2 == 0).mean()
    assert 0.48 < even_frac < 0.52, even_frac
    # chi-square-style bound over 64 coarse index bins (~1562 expected/bin)
    for idx in (i1, i2):
        counts = np.bincount(idx >> 8, minlength=64)
        assert counts.min() > 0.9 * counts.mean(), counts.min()
        assert counts.max() < 1.1 * counts.mean(), counts.max()


def test_fingerprints_pinned_for_format_version():
    """Persisted filters are only reused while CUCKOO_FORMAT_VERSION matches,
    so (fp, i1, i2) per key must not drift without a version bump. Pinned
    values for format 2 include key 0, whose hashed fp is 0 and takes the
    nonzero substitute, and negative keys."""
    assert CUCKOO_FORMAT_VERSION == 2
    keys = np.array([0, 1, 42, -1, 2**62 + 12345, -(2**40) - 7], dtype=np.int64)
    fp, i1, i2 = _fingerprints(keys, 1 << 10)
    assert fp.tolist() == [23505, 22162, 42841, 46288, 51203, 11542]
    assert i1.tolist() == [0, 485, 546, 379, 516, 102]
    assert i2.tolist() == [345, 522, 234, 387, 734, 274]


def test_build_converges_at_sized_slots():
    """With unbiased i1 the builder must converge at the documented sizing
    (no silent table doubling = the ~16 B/key docstring claim holds)."""
    from scrape_spark.operators.cuckoo import _sized_slots

    k = _keys(200_000)
    n_slots, _ = _build_table(k)
    assert n_slots == _sized_slots(len(k))


def test_insert_overflow_reports_full():
    k = _keys(64)
    table = np.zeros((2, SLOTS_PER_BUCKET), dtype=np.uint16)  # capacity 8
    fp, i1, i2 = _fingerprints(k, 2)
    assert not _insert_batch(table, fp, i1, i2)


# ---- Spark-level ------------------------------------------------------------


@pytest.fixture(scope="module")
def keys_df(spark):
    k = [int(x) for x in _keys(3_000)]
    df = spark.createDataFrame([(x,) for x in k], ["key"]).cache()
    df.count()
    return df, set(k)


def test_build_probe_spark(spark, keys_df):
    df, kset = keys_df
    ck = build_cuckoo(df, "key", n_buckets=8).cache()
    probed = probe_cuckoo(df, ck, "key", n_buckets=8)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    other = spark.createDataFrame(
        [(int(x),) for x in _keys(3_000, seed=123) if int(x) not in kset], ["key"]
    )
    fp = probe_cuckoo(other, ck, "key", n_buckets=8).filter("maybe_seen").count()
    assert fp < 60  # ~1% of 3000
    ck.unpersist()


def test_update_cuckoo_incremental(spark, keys_df):
    df, kset = keys_df
    ck = build_cuckoo(df, "key", n_buckets=8)
    b = spark.createDataFrame([(int(x),) for x in _keys(1_000, seed=5)], ["key"])
    dels = df.limit(500)
    updated = update_cuckoo(ck, inserts=b, deletes=dels, n_buckets=8).cache()
    assert updated.filter("needs_rebuild").count() == 0
    survivors = df.join(dels, "key", "left_anti").unionByName(b)
    assert (
        probe_cuckoo(survivors, updated, "key", n_buckets=8)
        .filter(~F.col("maybe_seen"))
        .count()
        == 0
    )
    updated.unpersist()


def test_update_into_empty_bucket_builds_fresh(spark):
    empty = build_cuckoo(spark.createDataFrame([], "key long"), "key", n_buckets=4)
    ins = spark.createDataFrame([(int(x),) for x in _keys(200)], ["key"])
    updated = update_cuckoo(empty, inserts=ins, n_buckets=4)
    assert (
        probe_cuckoo(ins, updated, "key", n_buckets=4)
        .filter(~F.col("maybe_seen"))
        .count()
        == 0
    )


def test_overflow_flags_and_rebuild_restores(spark):
    """A bucket that cannot absorb its inserts degrades to all-maybe (never
    a false negative), and rebuild_flagged restores exact filtering."""
    small = spark.createDataFrame([(i * 16,) for i in range(4)], ["key"])  # all bucket 0
    ck = build_cuckoo(small, "key", n_buckets=16)  # tiny table for bucket 0
    flood = spark.createDataFrame(
        [((int(x) % 2**40) * 16,) for x in _keys(5_000)], ["key"]
    )
    updated = update_cuckoo(ck, inserts=flood, n_buckets=16).cache()
    assert updated.filter("needs_rebuild").count() == 1
    # degraded probe: every candidate in the flagged bucket is "maybe"
    probe = probe_cuckoo(flood, updated, "key", n_buckets=16)
    assert probe.filter(~F.col("maybe_seen")).count() == 0
    # targeted rebuild from the authoritative key set
    authoritative = small.unionByName(flood)
    rebuilt = rebuild_flagged(updated, authoritative, "key", n_buckets=16).cache()
    assert rebuilt.filter("needs_rebuild").count() == 0
    assert (
        probe_cuckoo(authoritative, rebuilt, "key", n_buckets=16)
        .filter(~F.col("maybe_seen"))
        .count()
        == 0
    )
    updated.unpersist()
    rebuilt.unpersist()


def test_watermark_expiry_deletes_exactly_once(spark, tmp_path_factory):
    """The crawl's _load_cuckoo must delete each store key's filter copy
    exactly once — in the epoch whose committed watermark window covers its
    `expires` — and never touch keys expiring outside the window. A second
    pass over a later window must not re-delete (the cuckoo-delete hazard:
    a duplicate delete could evict a colliding survivor's fingerprint)."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from scrape_spark.operators.frontier import Crawl, CrawlConfig
    from scrape_spark.operators.store import UrlStore
    from scrape_spark.sources.pages import robots_table, synth_pages

    tmpdir = str(tmp_path_factory.mktemp("cuckoo_wm"))
    store = UrlStore(spark, f"{tmpdir}/store", n_buckets=4)
    t0 = time.time()
    # 200 rows: even keys expire inside window 1 (t0+5), odd far future
    rows = [
        {
            "url": f"https://wm.test/{i}",
            "parsed_url": f"https://wm.test/{i}",
            "original_url": f"https://wm.test/{i}",
            "error": None,
            "fetch_time": pd.Timestamp.utcfromtimestamp(t0).tz_localize(None),
            "expires": pd.Timestamp.utcfromtimestamp(
                t0 + (5 if i % 2 == 0 else 100000)
            ).tz_localize(None),
        }
        for i in range(200)
    ]
    from scrape_spark.functions.urlkeys import url_key
    from scrape_spark.schemas import URL_STORE_SCHEMA

    # key = url_key(parsed_url) ⇒ self-referential aliases, which the
    # filter multiset excludes — the 200 filter copies are store copies
    results = spark.createDataFrame(pd.DataFrame(rows)).withColumn(
        "key", url_key(F.col("url"))
    )
    for f in URL_STORE_SCHEMA.fields:
        if f.name not in results.columns:
            results = results.withColumn(f.name, F.lit(None).cast(f.dataType))
    results = results.cache()
    store.merge(results)

    crawl = Crawl(
        spark,
        f"{tmpdir}/state",
        store,
        synth_pages(spark, 2, 5),
        robots_table(spark, 2),
        CrawlConfig(seen_filter="cuckoo"),
    )
    fresh = results.select("key")
    att = results.select("key").limit(0)
    prev = crawl._edir(0)
    os.makedirs(prev, exist_ok=True)
    # initial build (all 200 fresh at t0) persisted like an epoch commit
    build = crawl._load_cuckoo(prev, None, t0, fresh, att, None)
    build.write.mode("overwrite").parquet(os.path.join(prev, "seenfilter.parquet"))

    def occupancy(ck_df):
        import numpy as np

        return sum(
            (np.frombuffer(r["table"], dtype=np.uint16) != 0).sum()
            for r in ck_df.collect()
        )

    base = spark.read.parquet(os.path.join(prev, "seenfilter.parquet"))
    assert occupancy(base) == 200
    # window 1 covers the even keys' expiry → exactly their 100 copies go
    after1 = crawl._load_cuckoo(
        prev, {"seen_filter_wm": t0, "seen_filter_format": CUCKOO_FORMAT_VERSION},
        t0 + 10, fresh, att, None
    ).cache()
    assert occupancy(after1) == 100
    from scrape_spark.operators.cuckoo import probe_cuckoo

    odd = results.filter(
        F.col("expires") > F.timestamp_seconds(F.lit(t0 + 50.0))
    ).select("key")
    assert (
        probe_cuckoo(odd, after1, "key", n_buckets=4)
        .filter(~F.col("maybe_seen"))
        .count()
        == 0
    )
    after1.write.mode("overwrite").parquet(os.path.join(prev, "seenfilter.parquet"))
    # window 2 (t0+10, t0+20] contains no expiries → NOTHING is re-deleted
    after2 = crawl._load_cuckoo(
        prev, {"seen_filter_wm": t0 + 10, "seen_filter_format": CUCKOO_FORMAT_VERSION},
        t0 + 20, fresh, att, None
    )
    assert occupancy(after2) == 100
    after1.unpersist()
