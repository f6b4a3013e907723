"""UrlStore semantics — mirrors internal/storage/storage_test.go:
save/fetch round-trip, REPLACE last-write-wins, TTL expiry ⇒ not-found,
alias map w/ self-referential rows, canonical-only delete, clear,
snapshot time travel (our addition)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from scrape_spark.functions.urlkeys import clean_url_py, url_key_py
from scrape_spark.operators.store import UrlStore
from scrape_spark.schemas import RESULT_SCHEMA
from tests.helpers import python_udf_names


def _result_row(url, canonical=None, title="t", error=None, fetch_time=None, expires=None):
    parsed = clean_url_py(url)
    canonical = canonical or parsed
    return {
        "key": url_key_py(canonical),
        "url": canonical,
        "parsed_url": parsed,
        "original_url": url,
        "fetch_time": fetch_time,
        "fetch_method": 1,
        "user_agent": None,
        "headers": None,
        "expires": expires,
        "status_code": 200,
        "error": error,
        "hostname": None,
        "title": title,
        "description": None,
        "sitename": None,
        "authors": ["A"],
        "date": None,
        "categories": None,
        "tags": None,
        "language": "en",
        "image": None,
        "page_type": None,
        "license": None,
        "content_text": f"content of {url}",
    }


@pytest.fixture()
def store(spark, tmp_path):
    return UrlStore(spark, str(tmp_path / "store"), n_buckets=8, ttl_seconds=3600)


def _merge(spark, store, rows):
    df = spark.createDataFrame(rows, RESULT_SCHEMA)
    return store.merge(df)


def test_save_fetch_roundtrip(spark, store):
    url = "https://example.com/a?utm_source=x&b=2"
    _merge(spark, store, [_result_row(url)])
    got = store.fetch([url]).collect()
    assert len(got) == 1
    r = got[0]
    assert r.url == "https://example.com/a?b=2"
    assert r.original_url == url
    assert r.content_text == f"content of {url}"
    assert r.fetch_time is not None and r.expires is not None
    # default TTL stamped at save
    assert (r.expires - r.fetch_time).total_seconds() == 3600


def test_replace_last_write_wins(spark, store):
    url = "https://example.com/lw"
    t1 = dt.datetime(2026, 1, 1, 10, 0, 0)
    t2 = dt.datetime(2026, 1, 1, 11, 0, 0)
    _merge(spark, store, [_result_row(url, title="old", fetch_time=t1,
                                      expires=dt.datetime(2099, 1, 1))])
    _merge(spark, store, [_result_row(url, title="new", fetch_time=t2,
                                      expires=dt.datetime(2099, 1, 1))])
    got = store.fetch([url]).collect()
    assert len(got) == 1 and got[0].title == "new"
    assert store.urls.read().filter(F.col("parsed_url") == url).count() == 1


def test_expired_is_not_found(spark, store):
    url = "https://example.com/exp"
    past = dt.datetime(2020, 1, 1)
    _merge(spark, store, [_result_row(url, fetch_time=past,
                                      expires=dt.datetime(2020, 1, 31))])
    assert store.fetch([url]).count() == 0
    # but the row physically exists until maintenance runs (lazy expiry)
    assert store.urls.read().count() == 1
    store.maintain()
    assert store.urls.read().count() == 0


def test_alias_resolution_and_self_mapping(spark, store):
    requested = "https://example.com/amp-page/amp"
    canonical = "https://example.com/amp-page"
    _merge(spark, store, [_result_row(requested, canonical=canonical)])
    # lookup via the requested URL resolves through id_map to the canonical row
    got = store.fetch([requested]).collect()
    assert len(got) == 1 and got[0].url == canonical
    # canonical URL lookup works via direct-key fallback
    got2 = store.fetch([canonical]).collect()
    assert len(got2) == 1
    # self-referential mapping also stored
    ids = {(r.requested_id, r.canonical_id) for r in store.id_map.read().collect()}
    assert (url_key_py(requested), url_key_py(canonical)) in ids


def test_error_rows_never_stored(spark, store):
    _merge(spark, store, [_result_row("https://example.com/err", error="HTTP error: status code 404")])
    assert store.urls.read().count() == 0


def test_canonical_only_delete(spark, store):
    requested = "https://example.com/x/amp"
    canonical = "https://example.com/x"
    _merge(spark, store, [_result_row(requested, canonical=canonical)])
    n_aliases = store.id_map.read().count()
    # "Delete only works for canonical URLs" (storage_test.go:161-174):
    # deleting by the requested/alias URL is a NO-OP — the reference keys
    # Delete on the given URL without alias resolution (storage.go:232-236)
    store.delete([requested])
    assert store.urls.read().count() == 1
    store.delete([canonical])
    assert store.urls.read().count() == 0
    # alias rows are NOT deleted either way
    assert store.id_map.read().count() == n_aliases


def test_clear(spark, store):
    _merge(spark, store, [_result_row("https://example.com/c")])
    store.clear()
    assert store.urls.read().count() == 0
    assert store.id_map.read().count() == 0


def test_snapshot_time_travel(spark, store):
    _merge(spark, store, [_result_row("https://example.com/v1", title="one",
                                      expires=dt.datetime(2099, 1, 1))])
    snap1 = store.urls.current_snapshot()
    _merge(spark, store, [_result_row("https://example.com/v1", title="two",
                                      expires=dt.datetime(2099, 1, 1)),
                          _result_row("https://example.com/v2",
                                      expires=dt.datetime(2099, 1, 1))])
    old = store.urls.read(snapshot=snap1)
    new = store.urls.read()
    assert old.count() == 1 and new.count() == 2
    assert old.collect()[0].title == "one"
    titles = {r.title for r in new.filter(F.col("parsed_url") == "https://example.com/v1").collect()}
    assert titles == {"two"}


def test_alias_join_is_sized_by_spark(spark, store, monkeypatch):
    """id_map is store-sized at frontier scale — resolve_keys_pruned passes
    no broadcast hint, so spark.sql.autoBroadcastJoinThreshold alone sizes
    the alias join: no broadcast when it is off, a broadcast of the small
    pruned slice at the default."""
    from scrape_spark.operators import store as store_mod

    urls = [f"https://example.com/b{i}" for i in range(60)]
    _merge(spark, store, [_result_row(u, expires=dt.datetime(2099, 1, 1)) for u in urls])

    probe = spark.createDataFrame(
        [(url_key_py(clean_url_py(u)),) for u in urls], ["key"]
    )
    hinted = []
    real_broadcast = F.broadcast
    monkeypatch.setattr(
        store_mod.F, "broadcast", lambda df: hinted.append(df) or real_broadcast(df)
    )

    def resolve(threshold: str):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        resolved, _ = store.resolve_keys_pruned(probe)
        plan = resolved._jdf.queryExecution().executedPlan().toString()
        keys = {r.key: r.canonical_key for r in resolved.collect()}
        return "BroadcastHashJoin" in plan, keys

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        off_bhj, off_keys = resolve("-1")
        on_bhj, on_keys = resolve(prev)  # the session default, 10 MB
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert hinted == []
    assert not off_bhj
    assert on_bhj
    # semantics unchanged either way
    assert off_keys == on_keys
    assert all(k == v for k, v in on_keys.items()) and len(on_keys) == 60


def test_fetch_output_has_unambiguous_columns(spark, store):
    url = "https://example.com/amb"
    _merge(spark, store, [_result_row(url, expires=dt.datetime(2099, 1, 1))])
    out = store.fetch([url])
    assert out.columns.count("parsed_url") == 1
    # name-based select must not raise AMBIGUOUS_REFERENCE
    assert out.select("parsed_url").collect()[0].parsed_url == url


def test_fetch_keys_requests_in_one_python_udf(spark, store):
    """store.fetch keys its URLs with the fused clean_and_key UDF that
    request prep and the frontier use: one Python UDF call per request,
    not url_key over clean_url's output."""
    url = "https://example.com/one-pass?utm_source=x"
    _merge(spark, store, [_result_row(url, expires=dt.datetime(2099, 1, 1))])
    out = store.fetch([url])
    assert python_udf_names(out._jdf.queryExecution().sparkPlan()) == ["clean_and_key"]
    assert [(r.original_url, r.parsed_url) for r in out.collect()] == [
        (url, "https://example.com/one-pass")
    ]


def test_merge_prunes_buckets(spark, store):
    # A single-key merge must not rewrite untouched buckets' files.
    urls = [f"https://example.com/p{i}" for i in range(40)]
    _merge(spark, store, [_result_row(u, expires=dt.datetime(2099, 1, 1)) for u in urls])
    man_before = store.urls._load_manifest()["files"]
    _merge(spark, store, [_result_row("https://example.com/p0", title="again",
                                      expires=dt.datetime(2099, 1, 1))])
    man_after = store.urls._load_manifest()["files"]
    k0_bucket = str(url_key_py("https://example.com/p0") % 8)
    changed = {b for b in man_after if man_after.get(b) != man_before.get(b)}
    assert changed == {k0_bucket}


# ---- merge-on-read delta commits (round-3: the store-scale MERGE fix) -------


def test_merge_commit_is_delta_sized_not_store_sized(spark, store):
    """The scale contract: merging a small batch into a large store appends
    per-bucket delta files — it must NOT rewrite the store (the old
    copy-on-write MERGE rewrote every touched bucket, and uniform key
    hashing touches all buckets for any non-trivial batch)."""
    urls = [f"https://example.com/big{i}" for i in range(12000)]
    _merge(spark, store, [_result_row(u, expires=dt.datetime(2099, 1, 1)) for u in urls])
    man_before = store.urls._load_manifest()
    paths_before = {
        e["path"] for fl in man_before["files"].values() for e in fl
    }
    store_bytes = sum(
        e["bytes"] for fl in man_before["files"].values() for e in fl
    )

    # small delta: 5 updates
    _merge(spark, store, [
        _result_row(f"https://example.com/big{i}", title="updated",
                    fetch_time=dt.datetime(2030, 1, 1),
                    expires=dt.datetime(2099, 1, 1))
        for i in range(5)
    ])
    man_after = store.urls._load_manifest()
    snap = man_after["snapshot"]
    all_after = [e for fl in man_after["files"].values() for e in fl]
    new_entries = [e for e in all_after if e["seq"] == snap]
    carried = {e["path"] for e in all_after if e["seq"] != snap}

    # every pre-existing data file carries over untouched (zero rewrite)
    assert carried == paths_before
    # commit bytes ∝ delta, not store (the residual is parquet's fixed
    # per-file footer overhead — ≤ n_buckets delta files regardless of n)
    new_bytes = sum(e["bytes"] for e in new_entries)
    assert 0 < new_bytes < store_bytes * 0.25
    assert len(new_entries) <= store.urls.n_buckets
    # and the resolved view is correct: still one row per key, updates win
    resolved = store.urls.read()
    assert resolved.count() == 12000
    updated = {
        r.title
        for r in resolved.filter(F.col("parsed_url").rlike("big[0-4]$")).collect()
    }
    assert updated == {"updated"}


def test_delta_lww_respects_order_col_over_commit_order(spark, store):
    """A LATER commit carrying an OLDER fetch_time must lose to the stored
    newer row — resolution orders by (fetch_time, seq), matching the old
    copy-on-write (order_col, __prec) semantics exactly."""
    url = "https://example.com/ooo"
    _merge(spark, store, [_result_row(url, title="newer", fetch_time=dt.datetime(2026, 2, 1),
                                      expires=dt.datetime(2099, 1, 1))])
    _merge(spark, store, [_result_row(url, title="stale", fetch_time=dt.datetime(2026, 1, 1),
                                      expires=dt.datetime(2099, 1, 1))])
    rows = store.urls.read().filter(F.col("parsed_url") == url).collect()
    assert len(rows) == 1 and rows[0].title == "newer"


def test_maintain_compacts_delta_generations(spark, store):
    urls = [f"https://example.com/g{i}" for i in range(50)]
    for chunk in range(3):  # 3 delta commits → up to 3 generations/bucket
        _merge(spark, store, [
            _result_row(u, title=f"v{chunk}", fetch_time=dt.datetime(2026, 1, 1 + chunk),
                        expires=dt.datetime(2099, 1, 1))
            for u in urls
        ])
    assert store.urls.delta_generations() > 1
    assert store.id_map.delta_generations() > 1
    n_before = store.urls.read().count()
    store.maintain()
    assert store.urls.delta_generations() == 1
    assert store.id_map.delta_generations() == 1
    assert store.urls.read().count() == n_before
    titles = {r.title for r in store.urls.read().collect()}
    assert titles == {"v2"}


def test_single_generation_read_skips_resolution(spark, store):
    """Post-compaction reads must be plain pruned parquet scans — no
    aggregate in the plan (the fast path that keeps filter pushdown)."""
    _merge(spark, store, [_result_row("https://example.com/fast",
                                      expires=dt.datetime(2099, 1, 1))])
    plan = store.urls.read()._jdf.queryExecution().executedPlan().toString()
    assert "max_by" not in plan and "HashAggregate" not in plan
    assert "row_number" not in plan
    # the same URL again → its bucket holds two generations → resolution
    _merge(spark, store, [_result_row("https://example.com/fast",
                                      expires=dt.datetime(2099, 1, 1))])
    assert store.urls.delta_generations() > 1
    plan2 = store.urls.read()._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan2


def test_key_only_multi_generation_read_prunes_columns(spark, store):
    """A key-only read of a multi-generation table scans only the key and
    the columns the filter and resolution sort on: no generation's scan
    reads ``content_text``, and no sort-based aggregate runs."""
    urls = [f"https://example.com/p{i}" for i in range(20)]
    for gen in range(2):
        _merge(spark, store, [
            _result_row(u, title=f"v{gen}", fetch_time=dt.datetime(2026, 1, 1 + gen),
                        expires=dt.datetime(2099 - 100 * (i % 2), 1, 1))
            for i, u in enumerate(urls)
        ])
    assert store.urls.delta_generations() > 1
    fresh = F.col("expires") > F.current_timestamp()
    keys = store.urls.read().filter(fresh).select("key")
    plan = keys._jdf.queryExecution().executedPlan().toString()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas and not any("content_text" in ln for ln in schemas), plan
    assert "SortAggregate" not in plan, plan
    want = [r.key for r in store.urls.read().filter(fresh).collect()]
    assert len(want) == 10
    assert sorted(r.key for r in keys.collect()) == sorted(want)


# ---- FileIO seam (object-store readiness) -----------------------------------


class _RecordingIO:
    """Wraps LocalFileIO recording every metadata call — proves the table
    layer never touches the fs behind the seam's back."""

    def __init__(self):
        from scrape_spark.operators.store import LocalFileIO

        self._inner = LocalFileIO()
        self.calls = []

    def __getattr__(self, name):
        inner = getattr(self._inner, name)

        def wrapper(*a, **kw):
            self.calls.append((name, a[0] if a else None))
            return inner(*a, **kw)

        return wrapper


def test_manifest_table_routes_fs_ops_through_io_seam(spark, tmp_path):
    from scrape_spark.operators.store import ManifestTable
    from scrape_spark.schemas import ID_MAP_SCHEMA

    io = _RecordingIO()
    t = ManifestTable(
        spark, str(tmp_path / "seam"), ID_MAP_SCHEMA, "requested_id",
        n_buckets=4, order_col=None, io=io,
    )
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], ID_MAP_SCHEMA)
    t.append_buckets(df)
    t.append_buckets(spark.createDataFrame([(1, 99)], ID_MAP_SCHEMA))
    assert t.read().count() == 20
    assert t.read().filter(F.col("requested_id") == 1).collect()[0].canonical_id == 99
    ops = {c[0] for c in io.calls}
    assert {"makedirs", "write_text_atomic", "read_text", "listdir", "size"} <= ops


# ---- manifest file stats + range pruning (round-4) ---------------------------


def test_manifest_records_expires_file_stats(spark, store):
    e1 = dt.datetime(2030, 6, 1)
    _merge(spark, store, [_result_row("https://example.com/st1", expires=e1)])
    man = store.urls._load_manifest()
    entries = [e for fl in man["files"].values() for e in fl]
    assert entries
    for e in entries:
        rng = (e.get("stats") or {}).get("expires")
        assert rng is not None
        expected = e1.replace(tzinfo=dt.timezone.utc).timestamp()
        assert rng[0] == pytest.approx(expected, abs=1.0)
        assert rng[1] == pytest.approx(expected, abs=1.0)


def test_files_in_range_prunes_listing(spark, store):
    """Listing-level check (VERDICT r3 #3): files whose recorded expires
    range lies outside the window must not appear — and therefore are never
    opened by read_in_range."""
    early = dt.datetime(2030, 1, 1)
    late = dt.datetime(2040, 1, 1)
    _merge(spark, store, [
        _result_row(f"https://example.com/early{i}", expires=early) for i in range(20)
    ])
    _merge(spark, store, [
        _result_row(f"https://example.com/late{i}", expires=late) for i in range(20)
    ])
    t_early = early.replace(tzinfo=dt.timezone.utc).timestamp()
    t_late = late.replace(tzinfo=dt.timezone.utc).timestamp()
    # window covering only the late batch → only seq-1 files
    hits = store.urls.files_in_range("expires", t_late - 3600, t_late + 3600)
    assert hits and all(e["seq"] == 1 for e in hits)
    # window covering only the early batch → only seq-0 files
    hits0 = store.urls.files_in_range("expires", t_early - 3600, t_early + 3600)
    assert hits0 and all(e["seq"] == 0 for e in hits0)
    # window covering neither → nothing listed, nothing read
    assert store.urls.files_in_range("expires", t_late + 7200, t_late + 9999) == []
    assert store.urls.read_in_range(
        "expires", t_late + 7200, t_late + 9999
    ).count() == 0
    # rows come back only from intersecting files
    got = {r.parsed_url for r in store.urls.read_in_range(
        "expires", t_late - 3600, t_late + 3600).select("parsed_url").collect()}
    assert got == {f"https://example.com/late{i}" for i in range(20)}
    # an entry without stats (unreadable footer) is conservatively included
    man = store.urls._load_manifest()
    victim = next(iter(man["files"].values()))[0]
    victim.pop("stats", None)
    import json as _json
    store.urls.io.write_text_atomic(
        store.urls._manifest_path(man["snapshot"]), _json.dumps(man)
    )
    assert any(
        e.get("stats") is None
        for e in store.urls.files_in_range("expires", t_late + 7200, t_late + 9999)
    )


def test_maintain_prunes_untouched_buckets(spark, store):
    """Maintenance must rewrite ONLY buckets that need work (expired rows or
    multiple delta generations); all-fresh single-generation buckets carry
    their file entries over byte-identically."""
    fresh_urls = [f"https://example.com/mf{i}" for i in range(60)]
    _merge(spark, store, [
        _result_row(u, expires=dt.datetime(2099, 1, 1)) for u in fresh_urls
    ])
    # one expired row → one (or few) buckets need expiry work
    _merge(spark, store, [
        _result_row("https://example.com/gone", expires=dt.datetime(2020, 1, 1))
    ])
    man_before = store.urls._load_manifest()
    dirty = {
        b for b, fl in man_before["files"].items()
        if len({e["seq"] for e in fl}) > 1
        or any((e.get("stats") or {}).get("expires", [0])[0] <= dt.datetime(
            2026, 1, 1, tzinfo=dt.timezone.utc).timestamp() for e in fl)
    }
    assert 0 < len(dirty) < len(man_before["files"])
    store.maintain()
    man_after = store.urls._load_manifest()
    for b, fl in man_before["files"].items():
        if b not in dirty:
            assert [e["path"] for e in man_after["files"][b]] == [e["path"] for e in fl]
    # expired row physically gone, clean rows intact
    rows = {r.parsed_url for r in store.urls.read().select("parsed_url").collect()}
    assert "https://example.com/gone" not in rows
    assert set(fresh_urls) <= rows
    assert store.urls.delta_generations() == 1


def test_stats_is_single_action(spark, store):
    _merge(spark, store, [
        _result_row(f"https://example.com/sj{i}", expires=dt.datetime(2099, 1, 1))
        for i in range(10)
    ])

    def njobs():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    before = njobs()
    s = store.stats()
    delta = njobs() - before
    assert s["total_rows"] == 10 and s["fresh_rows"] == 10 and s["id_map_rows"] == 10
    # one action; AQE may split the union+aggregate into a couple of stages
    assert delta <= 3, delta


def test_data_files_ordered_by_expires(spark, store):
    """Files are written expires-ordered (W2: the (expires DESC, ...) index
    analog) so parquet row groups carry tight min/max and expiry filters
    skip row groups, not just manifest files."""
    import random

    rng = random.Random(7)
    days = [rng.randrange(1, 28) for _ in range(200)]
    _merge(spark, store, [
        _result_row(f"https://example.com/ord{i}",
                    expires=dt.datetime(2031, 3, 1 + d))
        for i, d in enumerate(days)
    ])
    import pyarrow.parquet as pq
    man = store.urls._load_manifest()
    checked = 0
    for fl in man["files"].values():
        for e in fl:
            col = pq.read_table(e["path"], columns=["expires"])["expires"].to_pylist()
            if len(col) > 1:
                assert col == sorted(col), e["path"]
                checked += 1
    assert checked > 0


def _data_files_on_disk(root):
    import os

    out = []
    data = os.path.join(root, "data")
    for dirpath, _dirs, files in os.walk(data):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def test_expire_snapshots_reclaims_superseded_files(spark, store):
    """Iceberg-style expire_snapshots: after compaction, files referenced
    only by pre-compaction snapshots are physically deleted, the current
    read is unchanged, and expired manifests are gone. Without this a
    long-running crawl's store grows without bound."""
    for i in range(3):
        _merge(spark, store, [
            _result_row(f"https://example.com/gc{i}-{j}",
                        expires=dt.datetime(2099, 1, 1))
            for j in range(4)
        ])
    store.urls.compact()
    before_files = _data_files_on_disk(store.urls.root)
    before_rows = {r.parsed_url for r in store.urls.read().collect()}
    before_snaps = store.urls.snapshots()
    assert len(before_snaps) >= 3

    res = store.urls.expire_snapshots(keep_last=1)
    assert res["expired_snapshots"] == len(before_snaps) - 1
    assert res["deleted_files"] > 0
    assert res["reclaimed_bytes"] > 0

    after_files = _data_files_on_disk(store.urls.root)
    assert len(after_files) < len(before_files)
    # every surviving file is referenced by the retained manifest; every
    # referenced file survives (no dangling pointers, no orphans left)
    man = store.urls._load_manifest()
    referenced = sorted(e["path"] for fl in man["files"].values() for e in fl)
    assert referenced == after_files
    assert store.urls.snapshots() == [store.urls.current_snapshot()]
    assert {r.parsed_url for r in store.urls.read().collect()} == before_rows


def test_expire_snapshots_retains_window(spark, store):
    """keep_last=2 keeps the previous snapshot time-travel-readable and
    never deletes files the retained window still references."""
    _merge(spark, store, [_result_row("https://example.com/w1",
                                      expires=dt.datetime(2099, 1, 1))])
    _merge(spark, store, [_result_row("https://example.com/w2",
                                      expires=dt.datetime(2099, 1, 1))])
    _merge(spark, store, [_result_row("https://example.com/w3",
                                      expires=dt.datetime(2099, 1, 1))])
    snaps = store.urls.snapshots()
    store.urls.expire_snapshots(keep_last=2)
    kept = store.urls.snapshots()
    assert kept == snaps[-2:]
    # the older retained snapshot still reads fine (its delta files — shared
    # with the newest snapshot in merge-on-read — were not reclaimed)
    assert store.urls.read(snapshot=kept[0]).count() == 2
    assert store.urls.read().count() == 3


def test_expire_snapshots_breaks_parent_walk_conservatively(spark, store):
    """A consumer pinned to an expired snapshot (the crawl's persistent
    cuckoo filter) must see commit_metas_between → None (unknown history ⇒
    full rebuild), never a silently wrong delta."""
    _merge(spark, store, [_result_row("https://example.com/p1",
                                      expires=dt.datetime(2099, 1, 1))])
    old = store.urls.current_snapshot()
    _merge(spark, store, [_result_row("https://example.com/p2",
                                      expires=dt.datetime(2099, 1, 1))])
    _merge(spark, store, [_result_row("https://example.com/p3",
                                      expires=dt.datetime(2099, 1, 1))])
    cur = store.urls.current_snapshot()
    assert store.urls.commit_metas_between(cur, old) is not None
    store.urls.expire_snapshots(keep_last=1)
    assert store.urls.commit_metas_between(cur, old) is None


def test_maintain_with_expire_keep(spark, store):
    """maintain(expire_keep=1) leaves exactly one snapshot per table and a
    store that still answers reads."""
    _merge(spark, store, [_result_row("https://example.com/m1",
                                      expires=dt.datetime(2099, 1, 1))])
    _merge(spark, store, [_result_row("https://example.com/m2",
                                      expires=dt.datetime(2099, 1, 1))])
    store.maintain(expire_keep=1)
    assert len(store.urls.snapshots()) == 1
    assert len(store.id_map.snapshots()) == 1
    assert store.urls.read().count() == 2


def test_read_since_returns_only_delta_rows(spark, store):
    """Incremental read: keys merged/updated after the pinned snapshot, at
    their latest payload; untouched keys absent. Cost assertion: the read
    opens only TOUCHED buckets (files of untouched buckets stay out of the
    plan)."""
    _merge(spark, store, [_result_row("https://example.com/s1", title="v1")])
    _merge(spark, store, [_result_row("https://example.com/s2")])
    pin = store.urls.current_snapshot()
    pin_files = {
        e["path"] for fl in store.urls._load_manifest(pin)["files"].values()
        for e in fl
    }
    _merge(spark, store, [
        _result_row("https://example.com/s3"),
        _result_row("https://example.com/s1", title="v2"),  # update
    ])
    got = {r.parsed_url: r for r in store.urls.read_since(pin).collect()}
    assert set(got) == {"https://example.com/s1", "https://example.com/s3"}
    assert got["https://example.com/s1"].title == "v2"
    # bucket-pruned — pinned files of UNtouched buckets absent
    man_new = store.urls._load_manifest()
    touched = {
        b for b, fl in man_new["files"].items()
        if any(e["path"] not in pin_files for e in fl)
    }
    untouched_files = {
        e["path"]
        for b, fl in man_new["files"].items() if b not in touched
        for e in fl
    }
    assert untouched_files, "fixture should leave at least one untouched bucket"
    dplan = store.urls.read_since(pin)._jdf.queryExecution().executedPlan().toString()
    assert not any(p.split("/")[-1] in dplan for p in untouched_files)


def test_read_since_resolves_backfilled_older_rows(spark, store):
    """A post-snapshot commit that carries an OLDER order_col than the
    stored row (a backfill / second writer) must NOT be exported as the
    latest version: the default path returns read()'s resolved answer for
    the touched key."""
    t_new = dt.datetime(2026, 6, 1)
    t_old = dt.datetime(2026, 1, 1)
    _merge(spark, store, [_result_row("https://example.com/bf", title="newer",
                                      fetch_time=t_new)])
    pin = store.urls.current_snapshot()
    _merge(spark, store, [_result_row("https://example.com/bf", title="backfill",
                                      fetch_time=t_old)])
    got = {r.parsed_url: r for r in store.urls.read_since(pin).collect()}
    assert got["https://example.com/bf"].title == "newer"  # matches read()
    full = {r.parsed_url: r for r in store.urls.read().collect()}
    assert full["https://example.com/bf"].title == "newer"


def test_read_since_none_and_broken_history_fall_back_to_full(spark, store):
    _merge(spark, store, [_result_row("https://example.com/f1")])
    pin = store.urls.current_snapshot()
    _merge(spark, store, [_result_row("https://example.com/f2")])
    # older=None ⇒ full read
    assert store.urls.read_since(None).count() == 2
    # expired history breaks the parent walk ⇒ full read, never wrong
    store.urls.expire_snapshots(keep_last=1)
    assert store.urls.read_since(pin).count() == 2


@pytest.mark.parametrize("table_name", ["urls", "id_map"])
def test_merge_delta_single_exchange(spark, tmp_path, table_name):
    """r6 optimization pin: a MERGE's payload must cross exactly ONE
    shuffle, on each of the store's tables. The delta is hash-partitioned
    by bucket up front; because bucket = pmod(key, n) is a function of the
    key, the per-(bucket, key) dedupe aggregate reuses that partitioning and
    the bucketed file write needs no second repartition — the physical plan
    carries a single Exchange node, and the dedupe still keeps the newest
    row per key."""
    table = getattr(UrlStore(spark, str(tmp_path / "store"), n_buckets=16), table_name)
    key = F.col("id") % 100
    if table.order_col:
        # key k arrives 10 times, at fetch times k, 100+k, ..., 900+k
        made = {
            "key": key,
            "fetch_time": F.timestamp_seconds("id"),
            "title": (F.col("id") * 2).cast("string"),
        }
        checked = ("fetch_time", "title")
    else:
        # id_map has no order column: a key's 10 rows repeat one alias
        made = {"requested_id": key, "canonical_id": key + 1000}
        checked = ("canonical_id",)
    src = tmp_path / "delta_src"
    spark.range(1000).select(
        *[made.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
          for f in table.schema.fields]
    ).write.parquet(str(src))
    rows = spark.read.parquet(str(src))
    delta = table.dedupe_delta(rows)
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # ... and that exchange is by bucket: one write task owns each bucket
    assert "Exchange hashpartitioning(__bucket" in plan, plan
    got = {r[table.key_col]: tuple(r[c] for c in checked) for r in delta.collect()}
    assert len(got) == 100
    if table.order_col:
        # newest (max fetch_time) row per key survives: key 7 keeps id 907
        assert got[7][1] == "1814"
        newest_7 = rows.filter(F.col("key") == 7).agg(F.max("fetch_time")).first()[0]
        assert got[7][0] == newest_7
    else:
        assert got[7] == (1007,)
    # and the commit writes exactly that delta
    table.append_buckets(rows)
    assert {
        r[table.key_col]: tuple(r[c] for c in checked) for r in table.read().collect()
    } == got


def test_manifest_records_bucket_count(spark, store, tmp_path):
    """Every commit records n_buckets; reopening takes the recorded count,
    whatever the constructor says."""
    _merge(spark, store, [_result_row("https://example.com/nb",
                                      expires=dt.datetime(2099, 1, 1))])
    assert store.urls._load_manifest()["n_buckets"] == 8
    assert store.id_map._load_manifest()["n_buckets"] == 8
    root = str(tmp_path / "store")
    assert UrlStore(spark, root, n_buckets=32).urls.n_buckets == 8
    store.clear()  # truncate commits record it too
    assert store.urls._load_manifest()["n_buckets"] == 8
    assert UrlStore(spark, root).id_map.n_buckets == 8


def test_manifest_without_bucket_count_takes_constructor_value(spark, store, tmp_path):
    """A manifest written before the field existed leaves the count to the
    constructor; the next commit records it."""
    import json

    _merge(spark, store, [_result_row("https://example.com/old",
                                      expires=dt.datetime(2099, 1, 1))])
    for t in (store.urls, store.id_map):
        path = t._manifest_path(t.current_snapshot())
        with open(path) as f:
            man = json.load(f)
        del man["n_buckets"]
        with open(path, "w") as f:
            f.write(json.dumps(man))
    reopened = UrlStore(spark, str(tmp_path / "store"), n_buckets=8)
    assert reopened.urls.n_buckets == reopened.id_map.n_buckets == 8
    assert reopened.fetch(["https://example.com/old"]).count() == 1
    reopened.clear()
    assert reopened.urls._load_manifest()["n_buckets"] == 8


def test_mismatched_table_bucket_counts_rejected(spark, tmp_path):
    """urls and id_map must share one bucket count (resolve_keys_pruned
    probes both with one bucket set)."""
    from scrape_spark.operators.store import ManifestTable
    from scrape_spark.schemas import ID_MAP_SCHEMA

    root = tmp_path / "store"
    UrlStore(spark, str(root), n_buckets=8).urls.truncate()
    ManifestTable(
        spark, str(root / "id_map"), ID_MAP_SCHEMA, "requested_id", n_buckets=4
    ).truncate()
    with pytest.raises(ValueError, match="urls has 8 buckets but id_map has 4"):
        UrlStore(spark, str(root))


def test_expired_snapshot_read_raises_clear_error(spark, store):
    """ADVICE r5: reading at a snapshot dropped by expire_snapshots must
    raise a diagnosable SnapshotExpiredError (an OSError subclass so the
    conservative history fallbacks keep working), not a bare file error."""
    import pytest

    from scrape_spark.operators.store import SnapshotExpiredError
    from scrape_spark.schemas import ID_MAP_SCHEMA

    t = store.id_map
    for k in range(3):
        t.append_buckets(spark.createDataFrame([(k, k * 10)], ID_MAP_SCHEMA))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(SnapshotExpiredError, match="snapshot 0 .* not available"):
        t.read(snapshot=0)
    # the current snapshot still reads fine
    assert t.read().count() == 3
