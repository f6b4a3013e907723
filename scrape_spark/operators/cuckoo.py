"""Partitioned cuckoo-filter seen-set (north-rule: "Bloom/cuckoo-filter
URL-seen set keyed by canonicalized URL hash").

The crawl's default seen-set probe (frontier.py, ``seen_filter="none"``) is
an exact anti-join against the full fresh key set, re-read from the
TTL-pruned store every epoch — O(store) work per epoch, which a 10^10-URL
frontier cannot afford. The cuckoo filter is the *incremental* scale mode:
it supports DELETE, so the crawl can maintain one persistent filter with
per-epoch cost ∝ delta:

- insert the keys merged/attempted this epoch,
- delete the keys whose TTL expired this epoch (expiry ⇒ miss ⇒ refetch,
  matching the reference's expired⇒miss semantics, resource/web_page.go:24),
- never rebuild unless a bucket overflows (rare by sizing; flagged, and
  only the flagged bucket is rebuilt from its own keys).

It is a *pre-filter*: "definitely unseen" is exact (a key that was inserted
and not deleted always probes positive — no false negatives), "maybe seen"
goes through the exact (bucket-pruned) confirm. A missed *delete* is
therefore harmless (the exact confirm resolves it); a missed
*insert* would be a correctness bug, so the crawl inserts every key it
commits, unconditionally. Corollary: the filter is SINGLE-WRITER — it
models only keys the owning crawl committed. The crawl's loader detects
foreign store commits (manifest parent-chain walk between epoch pins) and
falls back to a full rebuild rather than advance a filter that is missing
inserts (frontier._load_cuckoo).

Design (standard partial-key cuckoo, Fan et al. 2014, public knowledge):
one table per key bucket (`pmod(key, n_buckets)`); each table is
`n_slots`×4 16-bit fingerprints (uint16, 0 = empty slot), `n_slots` a power
of two; a key hashes to fingerprint fp and indexes i1 = h(key) & mask,
i2 = i1 ^ (H(fp) & mask) — the xor trick makes i1 recoverable from (i2,fp),
enabling eviction chains without the original key. Duplicate inserts are
allowed (up to 8 copies across both buckets); deleting a key removes ONE
copy. Deleting keys that were never inserted is unsafe in general cuckoo
filters only via the false-positive path — here deletes come exclusively
from the store's own expired rows, which were all inserted.

All per-bucket kernels are numpy over Arrow batches (applyInPandas /
cogroup): no row ever pairs with a foreign bucket's table, so probe/update
shuffle only by the same pmod the store itself uses.

Sizing at 10^10 keys: table bytes ≈ keys × 8 B/slot-pair ÷ load. At the
default 0.5 target load that is ~16 B/key ⇒ 160 GB total — so `n_buckets`
must scale with the frontier (e.g. 4096 buckets ⇒ ~40 MB/bucket task,
comfortably executor-sized). `n_buckets` is a required keyword everywhere
here: a filter probed with a different count than it was built with gives
false negatives, so no call may lean on a default; the crawl passes its
store's recorded count. Per-epoch maintenance shuffles only the DELTA keys
into those buckets; the tables themselves live in the epoch checkpoint and
stream through the cogroup one bucket per task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("n_slots", T.LongType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("needs_rebuild", T.BooleanType(), False),
    ]
)

# Slot-layout / hash-mapping version of the persisted filter. Bump whenever
# the fingerprint→slot mapping changes (v2: the round-4 ``i1 = h1 & mask``
# bias fix): a checkpointed filter from another format version probes and
# deletes at the WRONG positions — silent false negatives with no rebuild
# trigger. The crawl records this in each epoch's _COMMIT.json and
# _load_cuckoo forces a full rebuild on mismatch.
CUCKOO_FORMAT_VERSION = 2

SLOTS_PER_BUCKET = 4
_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)
_FPH = _C1
_MAX_KICKS = 500


def _mix(keys: np.ndarray) -> np.ndarray:
    """One 64-bit hash per key (the splitmix64 finalizer)."""
    x = keys.astype(np.uint64)
    x = (x ^ (x >> np.uint64(30))) * _C1
    x = (x ^ (x >> np.uint64(27))) * _C2
    return x ^ (x >> np.uint64(31))


def _fingerprints(keys: np.ndarray, n_slots: int):
    """fp (nonzero uint16), i1, i2 (int64 in [0, n_slots)) per key.

    i1 comes from h1's LOW bits, independent of fp, which takes h1's top 16
    bits. A biased i1 puts ~2x load on some rows, silently doubling the
    table to converge and hitting the eviction wall far below the target
    load."""
    h1 = _mix(keys)
    fp = (h1 >> np.uint64(48)).astype(np.uint16)
    fp[fp == 0] = np.uint16(0x5BD1)  # 0 marks an empty slot
    mask = np.uint64(n_slots - 1)
    i1 = (h1 & mask).astype(np.int64)
    i2 = i1 ^ (((fp.astype(np.uint64) * _FPH) >> np.uint64(32)) & mask).astype(np.int64)
    return fp, i1, i2


def _alt_index(i: int, f: int, n_slots: int) -> int:
    h = (np.array([f], dtype=np.uint64) * _FPH) >> np.uint64(32)  # wraps silently
    return i ^ (int(h[0]) & (n_slots - 1))


def _rank_within(groups: np.ndarray) -> np.ndarray:
    """rank[j] = how many earlier elements share groups[j] (vectorized)."""
    order = np.argsort(groups, kind="stable")
    sg = groups[order]
    newgrp = np.r_[True, sg[1:] != sg[:-1]] if len(sg) else np.array([], dtype=bool)
    gid = np.cumsum(newgrp) - 1
    starts = np.flatnonzero(newgrp)
    rank_sorted = np.arange(len(sg)) - starts[gid] if len(sg) else np.array([], dtype=np.int64)
    rank = np.empty(len(groups), dtype=np.int64)
    rank[order] = rank_sorted
    return rank


def _insert_batch(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> bool:
    """Insert all fingerprints; True on success, False if the table is full.
    Two vectorized direct-placement passes (i1 then i2) cover the vast
    majority; the leftover minority runs the classic eviction loop."""
    n_slots = table.shape[0]
    pending = np.arange(len(fp))
    for idx_all in (i1, i2):
        if not len(pending):
            break
        idx = idx_all[pending]
        occ = (table != 0).sum(axis=1)
        rank = _rank_within(idx)
        free = SLOTS_PER_BUCKET - occ[idx]
        place = rank < free
        table[idx[place], occ[idx[place]] + rank[place]] = fp[pending][place]
        pending = pending[~place]
    for j in pending:
        f = int(fp[j])
        i = int(i1[j])
        for kick in range(_MAX_KICKS):
            row = table[i]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                table[i, empty[0]] = f
                break
            s = kick % SLOTS_PER_BUCKET  # deterministic eviction (no RNG: resume-safe)
            f, table[i, s] = int(row[s]), f
            i = _alt_index(i, f, n_slots)
        else:
            return False
    return True


def _delete_batch(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> int:
    """Remove ONE stored copy per (fp, i1/i2) occurrence. Returns the number
    of occurrences not found (absent keys — harmless no-ops)."""
    remaining = np.arange(len(fp))
    for idx_all in (i1, i2):
        if not len(remaining):
            break
        idx = idx_all[remaining]
        f = fp[remaining]
        composite = (idx.astype(np.uint64) << np.uint64(16)) | f.astype(np.uint64)
        rank = _rank_within(composite)
        rows = table[idx]  # (m, 4) snapshot
        matches = rows == f[:, None]
        cum = matches.cumsum(axis=1)
        nmatch = cum[:, -1]
        hit = rank < nmatch
        target = (cum == (rank + 1)[:, None]) & matches
        col = target.argmax(axis=1)
        table[idx[hit], col[hit]] = 0
        # re-compact cleared rows (nonzero slots packed left): the vectorized
        # insert path places at slot occupancy+rank, which requires holes to
        # only ever be on the right
        touched = np.unique(idx[hit])
        if len(touched):
            sub = table[touched].astype(np.int32)
            table[touched] = (-np.sort(-sub, axis=1)).astype(np.uint16)
        remaining = remaining[~hit]
    return len(remaining)


def _sized_slots(n_keys: int, target_load: float = 0.5) -> int:
    """Power-of-two slot count sized to `target_load` — headroom for
    incremental inserts before the 0.84-ish cuckoo capacity wall."""
    n_slots = 1
    while n_slots * SLOTS_PER_BUCKET * target_load < max(1, n_keys):
        n_slots <<= 1
    return n_slots


def _build_table(keys_np: np.ndarray, target_load: float = 0.5):
    n_slots = _sized_slots(len(keys_np), target_load)
    while True:
        table = np.zeros((n_slots, SLOTS_PER_BUCKET), dtype=np.uint16)
        fp, i1, i2 = _fingerprints(keys_np, n_slots)
        if _insert_batch(table, fp, i1, i2):
            return n_slots, table
        n_slots <<= 1  # indexes depend on the mask — recompute and retry


def build_cuckoo(
    keys: DataFrame,
    key_col: str = "key",
    *,
    n_buckets: int,
    target_load: float = 0.5,
) -> DataFrame:
    """One cuckoo table per key bucket, built distributed (one task per
    bucket, numpy kernel per task)."""

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf[key_col].to_numpy(dtype=np.int64)
        n_slots, table = _build_table(k, target_load)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["__cb"].iloc[0]) if len(pdf) else 0],
                "n_slots": [n_slots],
                "table": [table.tobytes()],
                "needs_rebuild": [False],
            }
        )

    with_bucket = keys.withColumn("__cb", F.pmod(F.col(key_col), F.lit(n_buckets)).cast("int"))
    return with_bucket.groupBy("__cb").applyInPandas(make, schema=CUCKOO_SCHEMA)


def probe_cuckoo(
    candidates: DataFrame,
    cuckoo: DataFrame,
    key_col: str = "key",
    *,
    n_buckets: int,
    flag_col: str = "maybe_seen",
) -> DataFrame:
    """Append `flag_col`: False ⇒ definitely not in the filter (exact, given
    every seen key was inserted). Cogrouped per bucket, so each task touches
    one table. A bucket flagged needs_rebuild degrades to all-maybe (exact
    confirm takes over) — conservative, never wrong."""
    out_schema = T.StructType(
        candidates.schema.fields + [T.StructField(flag_col, T.BooleanType(), False)]
    )
    cand_cols = candidates.columns

    def check(cand: pd.DataFrame, ck: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(columns=[*cand_cols, flag_col])
        base = cand[cand_cols]
        if ck.empty:
            return base.assign(**{flag_col: False})
        if bool(ck["needs_rebuild"].iloc[0]):
            return base.assign(**{flag_col: True})
        n_slots = int(ck["n_slots"].iloc[0])
        table = np.frombuffer(ck["table"].iloc[0], dtype=np.uint16).reshape(
            n_slots, SLOTS_PER_BUCKET
        )
        k = cand[key_col].to_numpy(dtype=np.int64)
        fp, i1, i2 = _fingerprints(k, n_slots)
        hit = (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)
        return base.assign(**{flag_col: hit})

    cb = candidates.withColumn("__cb", F.pmod(F.col(key_col), F.lit(n_buckets)).cast("int"))
    kb = cuckoo.withColumnRenamed("bucket", "__cb")
    return (
        cb.groupBy("__cb")
        .cogroup(kb.groupBy("__cb"))
        .applyInPandas(check, schema=out_schema)
    )


def update_cuckoo(
    cuckoo: DataFrame,
    inserts: DataFrame | None = None,
    deletes: DataFrame | None = None,
    key_col: str = "key",
    *,
    n_buckets: int,
) -> DataFrame:
    """Incremental maintenance: cost ∝ |inserts| + |deletes|, NOT store size.
    Deletes apply first (freeing slots for this epoch's inserts). A bucket
    whose table cannot absorb its inserts is emitted with
    needs_rebuild=True — the caller rebuilds just that bucket from its own
    keys (`rebuild_flagged`); probes of a flagged bucket degrade to
    all-maybe in the meantime, so correctness never depends on the rebuild
    happening promptly."""
    empty = lambda df: df is None  # noqa: E731
    spark_delta = None
    if not empty(inserts):
        spark_delta = inserts.select(
            F.col(key_col).alias("__k"), F.lit(1).alias("__op")
        )
    if not empty(deletes):
        d = deletes.select(F.col(key_col).alias("__k"), F.lit(-1).alias("__op"))
        spark_delta = d if spark_delta is None else spark_delta.unionByName(d)
    if spark_delta is None:
        return cuckoo

    def apply(ck: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
        if ck.empty:
            # delta for a bucket with no table yet: build fresh from inserts
            ins = delta.loc[delta["__op"] == 1, "__k"].to_numpy(dtype=np.int64)
            n_slots, table = _build_table(ins)
            bucket = int(delta["__cb"].iloc[0])
            return pd.DataFrame(
                {
                    "bucket": [bucket],
                    "n_slots": [n_slots],
                    "table": [table.tobytes()],
                    "needs_rebuild": [False],
                }
            )
        row = ck.iloc[0]
        n_slots = int(row["n_slots"])
        table = np.frombuffer(row["table"], dtype=np.uint16).reshape(
            n_slots, SLOTS_PER_BUCKET
        ).copy()
        needs_rebuild = bool(row["needs_rebuild"])
        if not delta.empty and not needs_rebuild:
            dels = delta.loc[delta["__op"] == -1, "__k"].to_numpy(dtype=np.int64)
            if len(dels):
                _delete_batch(table, *_fingerprints(dels, n_slots))
            ins = delta.loc[delta["__op"] == 1, "__k"].to_numpy(dtype=np.int64)
            if len(ins) and not _insert_batch(table, *_fingerprints(ins, n_slots)):
                needs_rebuild = True
        return pd.DataFrame(
            {
                "bucket": [int(row["bucket"])],
                "n_slots": [n_slots],
                "table": [table.tobytes()],
                "needs_rebuild": [needs_rebuild],
            }
        )

    db = spark_delta.withColumn("__cb", F.pmod(F.col("__k"), F.lit(n_buckets)).cast("int"))
    kb = cuckoo.withColumn("__cb", F.col("bucket"))
    return (
        kb.groupBy("__cb")
        .cogroup(db.groupBy("__cb"))
        .applyInPandas(apply, schema=CUCKOO_SCHEMA)
    )


def rebuild_flagged(
    cuckoo: DataFrame,
    all_keys: DataFrame,
    key_col: str = "key",
    *,
    n_buckets: int,
) -> DataFrame:
    """Rebuild ONLY the needs_rebuild buckets from the authoritative key set
    (bucket-pruned scan — O(flagged buckets), not O(store))."""
    flagged = [int(r["bucket"]) for r in cuckoo.filter("needs_rebuild").select("bucket").collect()]
    if not flagged:
        return cuckoo
    keep = cuckoo.filter(~F.col("bucket").isin(flagged))
    subset = all_keys.filter(
        F.pmod(F.col(key_col), F.lit(n_buckets)).isin(flagged)
    )
    rebuilt = build_cuckoo(subset, key_col, n_buckets=n_buckets)
    return keep.unionByName(rebuilt)
