"""url_store / id_map storage layer (SURVEY.md §2.1 S6-S13, §2.3 J1, M2).

The reference memoizes fetches in SQLite/MySQL behind a swappable Engine
seam (database/engine.go:22-64). Here the same seam is a snapshot-committed,
hash-bucketed Parquet table — a deliberately Iceberg-shaped design (the
sandbox has no Iceberg jars; on a real cluster ``ManifestTable`` is replaced
1:1 by an Iceberg table with ``bucket(key)`` partitioning and MERGE INTO):

- **Buckets**: rows land in ``bucket = pmod(key, n_buckets)``. At 100 TB you
  raise ``n_buckets`` (2^12-2^16) so each bucket is a few GB. The manifest
  records the layout: every commit writes the table's ``n_buckets``, an
  existing table takes its count from there, and the constructor's
  ``n_buckets`` applies only when a table is created (or when an older
  manifest predates the field) — as Iceberg keeps the partition spec in
  table metadata, so reopening a store can never re-bucket its keys.
- **Merge-on-read deltas**: a MERGE (``append_buckets``, the one write path
  every keyed upsert takes) dedupes its delta to one row per key and appends
  it as per-bucket *delta files* to each touched bucket's manifest list —
  commit bytes ∝ the delta, never the store (keys hash uniformly, so any
  non-trivial batch touches every bucket; a copy-on-write MERGE would
  rewrite approximately the whole store each epoch). Last-write-wins is
  resolved at READ time: every manifest file entry carries the commit
  sequence (``seq``), and a multi-generation bucket read keeps, per key,
  the first row by ``(order_col desc, seq desc)`` (``first_per_key``, a
  ``row_number() == 1`` window). Buckets that hold a single
  generation (freshly compacted, or never delta-merged) skip resolution
  entirely — the scan plan is identical to a plain parquet read. This is
  the merge-on-read shape Iceberg v2 uses.
- **Compaction**: ``compact()`` folds a bucket's delta generations back into
  one file set (and ``UrlStore.maintain`` combines it with physical expiry),
  bounding read-side resolution work by the compaction cadence.
- **Snapshots**: every commit writes an immutable manifest (``n_buckets``,
  bucket → file entries ``{path, bytes, seq}``) and atomically swings a
  CURRENT pointer. Readers pin a snapshot → crash-consistent checkpoint/resume and time
  travel for free (north rule). File sizes are recorded at commit time
  (commit-size accounting reads them). Join strategies are Spark's choice:
  the planner sizes a pruned read from its file listing, so the table layer
  keeps no broadcast gate of its own.
- **Pruning**: point/batch lookups read only the buckets their keys hash to.
- **IO seam**: all manifest/filesystem metadata ops go through ``FileIO``
  (default ``LocalFileIO``); an object-store deployment swaps in an
  S3/HDFS implementation (atomic CURRENT swing ⇒ conditional PUT) without
  touching the table logic. Data files themselves are written/read by Spark
  through Hadoop's fs layer, which is already scheme-agnostic.

Semantics parity with the reference:
- REPLACE-by-key / last-write-wins (storage.go:29-30; 00001_init.sql:8,16)
- expired ⇒ not-found on read, lazy expiry (storage.go:184-186)
- alias resolution requested_key → id_map → canonical_key with fallback to
  the direct key on mapping miss (storage.go:143-155)
- self-referential id_map rows stored even when requested == canonical
  (storage.go:55-60,115; pinned by storage_test.go:221-236)
- delete is canonical-key-only; alias rows survive (storage.go:236-260;
  pinned by storage_test.go:161-174)
- maintenance physically drops expired rows (database/sqlite/maintenance.sql:2)
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scrape_spark.functions.textfns import expires_at, is_fresh, stamp_fetch_time
from scrape_spark.functions.urlkeys import clean_and_key, url_key
from scrape_spark.operators.dedupe import first_per_key
from scrape_spark.schemas import DEFAULT_TTL_SECONDS, ID_MAP_SCHEMA, URL_STORE_SCHEMA

BUCKET_COL = "__bucket"
# Optional merge-input column: the request key of each result row (see
# UrlStore.merge). Never stored.
REQUESTED_KEY = "requested_key"


class SnapshotExpiredError(OSError):
    """Raised when a reader pins a snapshot whose manifest no longer exists
    (dropped by expire_snapshots). Subclasses OSError so existing
    conservative fallbacks (commit_metas_between, read_since) keep
    treating it as 'history unavailable'."""


def bucket_expr(key_col: str, n_buckets: int):
    return F.pmod(F.col(key_col), F.lit(n_buckets)).cast("int")


class FileIO:
    """Seam for every filesystem *metadata* operation the table layer does
    (manifests, CURRENT pointer, file listings/sizes). Data files are
    written/read by Spark via Hadoop's fs layer — already scheme-agnostic.
    Swap this for an S3/HDFS implementation on a real deployment; the one
    semantic requirement is that ``write_text_atomic`` is an atomic replace
    (object stores: conditional PUT / put-if-absent on a versioned key)."""

    def makedirs(self, path: str) -> None:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        raise NotImplementedError

    def write_text_atomic(self, path: str, text: str) -> None:
        raise NotImplementedError

    def size(self, path: str) -> int:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        raise NotImplementedError

    def rmdir_if_empty(self, path: str) -> None:
        """Best-effort removal of a now-empty directory (object stores with
        no real directories implement this as a no-op)."""
        raise NotImplementedError


class LocalFileIO(FileIO):
    """POSIX implementation (the sandbox default)."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmdir_if_empty(self, path: str) -> None:
        try:
            os.rmdir(path)
        except OSError:
            pass  # not empty / already gone


class ManifestTable:
    """Snapshot-committed bucketed Parquet table with merge-on-read deltas
    (see module docstring).

    ``order_col`` is the table's last-write-wins ordering column: read-time
    resolution of multi-generation buckets takes, per key, the row maximal
    by ``(order_col, seq)`` — or by ``seq`` alone when None. This matches
    the write-time REPLACE semantics the copy-on-write merge used
    (storage.go:29-30: newest row per key wins, commit order breaks ties).

    ``n_buckets`` is the bucket count for a table this call creates; an
    existing table keeps the count its manifest records.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema,
        key_col: str,
        n_buckets: int,
        order_col: str | None = None,
        io: FileIO | None = None,
        stats_cols: tuple[str, ...] = (),
    ):
        self.spark = spark
        self.root = root
        self.schema = schema
        self.key_col = key_col
        self.order_col = order_col
        self.io = io or LocalFileIO()
        # columns whose per-file min/max are recorded in the manifest at
        # commit time (read from the parquet footer the commit just wrote —
        # zero extra scan). Range queries (expiry windows, maintenance) prune
        # to intersecting files without opening anything else.
        self.stats_cols = tuple(stats_cols)
        self.io.makedirs(os.path.join(root, "_manifests"))
        self.io.makedirs(os.path.join(root, "data"))
        self.n_buckets = int(self._load_manifest().get("n_buckets", n_buckets))

    # -- manifest bookkeeping -------------------------------------------------
    def _manifest_path(self, snap: int) -> str:
        return os.path.join(self.root, "_manifests", f"v{snap:08d}.json")

    def current_snapshot(self) -> int | None:
        cur = os.path.join(self.root, "_manifests", "CURRENT")
        if not self.io.exists(cur):
            return None
        return int(self.io.read_text(cur).strip())

    def _load_manifest(self, snap: int | None = None) -> dict:
        snap = self.current_snapshot() if snap is None else snap
        if snap is None:
            return {"snapshot": -1, "files": {}, "meta": {}}
        try:
            text = self.io.read_text(self._manifest_path(snap))
        except OSError as e:
            # a pinned-but-expired snapshot (expire_snapshots dropped it)
            # must fail with a diagnosable error, not a bare file error —
            # e.g. crawl resume re-reading a pin after maintain --expire-keep
            raise SnapshotExpiredError(
                f"snapshot {snap} of {self.root} is not available "
                f"(expired by expire_snapshots, or never committed)"
            ) from e
        return json.loads(text)

    def commit_metas_between(
        self, newer: int | None, older: int | None
    ) -> list[dict] | None:
        """Metas of the commits strictly after ``older`` up to and including
        ``newer``, walking manifest parent pointers (newest first). Returns
        None when the walk cannot reach ``older`` (unknown/diverged history)
        — callers treat that as 'foreign commits present'. Used to detect
        writers other than the one maintaining an incremental artifact (the
        crawl's persistent seen-filter)."""
        metas: list[dict] = []
        cur = newer
        seen_guard = 0
        while cur is not None and cur != older:
            try:
                man = json.loads(self.io.read_text(self._manifest_path(cur)))
            except (OSError, ValueError):
                return None
            metas.append(man.get("meta") or {})
            cur = man.get("parent")
            seen_guard += 1
            if seen_guard > 100_000:  # corrupt parent cycle
                return None
        if cur != older:
            return None
        return metas

    def snapshots(self) -> list[int]:
        d = os.path.join(self.root, "_manifests")
        return sorted(
            int(n[1:-5])
            for n in self.io.listdir(d)
            if n.startswith("v") and n.endswith(".json")
        )

    # -- read -----------------------------------------------------------------
    def read(
        self,
        snapshot: int | None = None,
        buckets: list[int] | None = None,
        resolve: bool = True,
    ) -> DataFrame:
        """Scan the given buckets (all when None) at a snapshot, returning the
        RESOLVED one-row-per-key view. Single-generation buckets (the common,
        post-compaction case) take a plain pruned parquet scan — zero
        resolution overhead, full filter pushdown. Only when some requested
        bucket carries multiple delta generations does the plan add the
        per-key last-write-wins window (``first_per_key``, with a map-side
        partial limit over just the pruned buckets; columns a consumer never
        selects are pruned through it — and on a real cluster the window's
        shuffle is what Iceberg's positional-delete readers pay too).
        ``resolve=False`` returns the raw multi-generation union (all row
        versions) — what a consumer that counts every committed copy reads
        (the crawl's cuckoo seen-filter build)."""
        man = self._load_manifest(snapshot)
        items = (
            man["files"].items()
            if buckets is None
            else ((str(b), man["files"].get(str(b), [])) for b in buckets)
        )
        by_seq: dict[int, list[str]] = {}
        needs_resolve = False
        for _b, fl in items:
            needs_resolve |= len({e["seq"] for e in fl}) > 1
            for e in fl:
                by_seq.setdefault(e["seq"], []).append(e["path"])
        if not by_seq:
            return self.spark.createDataFrame([], self.schema)
        if not resolve or not needs_resolve:
            # raw row versions, or no selected bucket spans generations: a
            # plain union of all files (full filter pushdown)
            files = [p for fl in by_seq.values() for p in fl]
            return self.spark.read.schema(self.schema).parquet(*files)
        gens = [
            self.spark.read.schema(self.schema)
            .parquet(*paths)
            .withColumn("__seq", F.lit(seq))
            for seq, paths in sorted(by_seq.items())
        ]
        df = gens[0]
        for g in gens[1:]:
            df = df.unionByName(g)
        return self._resolve(df)

    def read_since(self, older: int | None, snapshot: int | None = None) -> DataFrame:
        """Incremental read: the resolved latest version of every key whose
        newest row arrived in a commit AFTER snapshot ``older`` (exclusive),
        up to ``snapshot`` (default: the current snapshot, pinned ONCE —
        every manifest access below uses that pin, so a concurrent commit
        cannot widen the window past the validated chain).

        Scan the files added since ``older`` for the touched KEYS, then
        resolve those keys against the full (order_col, seq) view of just
        the touched BUCKETS — cost ∝ touched buckets + delta
        keys, never O(store buckets). This is exactly ``read()``'s answer
        restricted to touched keys, even when a post-snapshot commit
        carries an OLDER order_col than an existing row (a backfill): the
        superseded payload loses, same as a full read.

        Keys untouched since ``older`` do not appear. A compaction in the
        window rewrites rows into new files, so they (correctly, if
        unhelpfully) reappear; a broken/unknown parent chain (expired
        history, foreign writer) falls back to the FULL resolved read —
        conservative, never wrong."""
        if older is None:
            return self.read(snapshot=snapshot)
        cur = self.current_snapshot() if snapshot is None else snapshot
        if self.commit_metas_between(cur, older) is None:
            return self.read(snapshot=cur)
        try:
            old_paths = {
                e["path"]
                for fl in self._load_manifest(older)["files"].values()
                for e in fl
            }
        except (OSError, ValueError):
            return self.read(snapshot=cur)
        man = self._load_manifest(cur)
        new_files: list[str] = []
        touched: list[int] = []
        for b, fl in man["files"].items():
            new = [e["path"] for e in fl if e["path"] not in old_paths]
            if new:
                touched.append(int(b))
                new_files.extend(new)
        if not new_files:
            return self.spark.createDataFrame([], self.schema)
        # only the delta's KEYS matter; their rows come from the resolved read
        delta_keys = (
            self.spark.read.schema(self.schema)
            .parquet(*new_files)
            .select(self.key_col)
            .distinct()
        )
        return self.read(snapshot=cur, buckets=touched).join(
            delta_keys, self.key_col, "left_semi"
        )

    def _resolve(self, df: DataFrame) -> DataFrame:
        """Last-write-wins over (order_col, __seq) across generations; a
        NULL order_col sorts lowest."""
        order = [F.col("__seq").desc()]
        if self.order_col:
            order.insert(0, F.col(self.order_col).desc_nulls_last())
        return first_per_key(df, [self.key_col], order).drop("__seq")

    # -- write ----------------------------------------------------------------
    def _file_stats(self, path: str) -> dict[str, list] | None:
        """Per-file min/max of ``stats_cols``, read from the parquet footer
        (row-group statistics — no data pages touched). Timestamps are stored
        as UTC epoch-seconds floats (session TZ is pinned to UTC). Returns
        None when any column lacks usable stats (readers then treat the file
        as intersecting every range — conservative)."""
        if not self.stats_cols:
            return None
        import datetime

        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(path).metadata
            names = [md.schema.column(i).path for i in range(md.num_columns)]
            out: dict[str, list] = {}
            for col in self.stats_cols:
                if col not in names:
                    return None
                ci = names.index(col)
                mins: list = []
                maxs: list = []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        return None
                    mins.append(st.min)
                    maxs.append(st.max)
                if not mins:
                    return None

                def _num(v):
                    if isinstance(v, datetime.datetime):
                        if v.tzinfo is None:
                            v = v.replace(tzinfo=datetime.timezone.utc)
                        return v.timestamp()
                    return v

                out[col] = [_num(min(mins)), _num(max(maxs))]
            return out
        except Exception:  # pragma: no cover - footer unreadable ⇒ no stats
            return None

    def _bucketed(self, df: DataFrame) -> DataFrame:
        """df with BUCKET_COL, hash-partitioned by it. Hash-partitioning
        n_buckets distinct ids collides some buckets into one write task
        (balls-in-bins, ~2x straggler at 64 buckets/32 cores) — accepted:
        co-locating each bucket in ONE task is what keeps the
        one-file-per-bucket commit layout, and the write stage is
        delta-sized, not table-sized."""
        return df.withColumn(
            BUCKET_COL, bucket_expr(self.key_col, self.n_buckets)
        ).repartition(BUCKET_COL)

    def _write_files(self, df: DataFrame, seq: int) -> dict[str, list[dict]]:
        """Write df (from ``_bucketed``) as one file set; return
        bucket → [{path, bytes, seq, stats}] with sizes and column min/max
        recorded NOW (commit-time is the only moment the table layer ever
        stats a data file or opens a footer)."""
        out_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
        if self.stats_cols:
            # order rows within each file by the stats columns (reference
            # analog: the (expires DESC, ...) index, 00001_init.sql:30-33):
            # row groups then carry tight min/max ranges, so the parquet
            # reader skips whole row groups on pushed expiry filters — file-
            # level manifest pruning above, row-group pruning below. Cost is
            # one sort of the delta being committed.
            df = df.sortWithinPartitions(BUCKET_COL, *self.stats_cols)
        (
            df.write.partitionBy(BUCKET_COL)
            .mode("overwrite")
            .parquet(out_dir)
        )
        bucket_files: dict[str, list[dict]] = {}
        for entry in self.io.listdir(out_dir):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            b = entry.split("=", 1)[1]
            sub = os.path.join(out_dir, entry)
            bucket_files[b] = [
                {
                    "path": os.path.join(sub, f),
                    "bytes": self.io.size(os.path.join(sub, f)),
                    "seq": seq,
                    "stats": self._file_stats(os.path.join(sub, f)),
                }
                for f in self.io.listdir(sub)
                if f.endswith(".parquet")
            ]
        return bucket_files

    def _commit(self, files: dict[str, list[dict]], meta: dict[str, Any], snap: int) -> int:
        prev = self.current_snapshot()
        man = {
            "snapshot": snap,
            "parent": prev,
            "n_buckets": self.n_buckets,
            "files": files,
            "meta": meta,
        }
        self.io.write_text_atomic(self._manifest_path(snap), json.dumps(man))
        self.io.write_text_atomic(
            os.path.join(self.root, "_manifests", "CURRENT"), str(snap)
        )
        return snap

    def _next_snap(self) -> int:
        prev = self.current_snapshot()
        return 0 if prev is None else prev + 1

    def dedupe_delta(self, df: DataFrame) -> DataFrame:
        """The delta ``append_buckets`` writes: df's rows with a key,
        deduped to the newest row per key by ``order_col`` (arbitrary among
        ties, which the read side breaks by commit ``seq``), carrying
        BUCKET_COL.

        The payload crosses exactly ONE exchange: rows are hash-partitioned
        by BUCKET_COL up front, and because ``bucket = pmod(key, n)`` is a
        function of the key, that partitioning already clusters every key —
        the per-(bucket, key) ``first_per_key`` window reuses it
        (HashPartitioning on a subset of the partition keys satisfies the
        window's required distribution) and the bucketed file write needs no
        second repartition. No partial limit runs before that exchange, so
        duplicate delta keys still cross it."""
        df = df.where(F.col(self.key_col).isNotNull())
        # id_map has no order column: any row of a key will do
        order = (
            [F.col(self.order_col).desc_nulls_last()] if self.order_col else [self.key_col]
        )
        return first_per_key(self._bucketed(df), [BUCKET_COL, self.key_col], order)

    def append_buckets(self, df: DataFrame, meta: dict[str, Any] | None = None) -> int:
        """MERGE-ON-READ commit (REPLACE-by-key, storage.go:29-30): dedupe
        df to one row per key (``dedupe_delta``) and append it as new delta
        files on each touched bucket's manifest list. Commit cost (one
        shuffle + write + stat) is ∝ the delta — the existing store is never
        read or rewritten. Conflicts with prior generations resolve at read
        time via (order_col, seq). ONE Spark action (the delta write): an
        empty delta commits nothing, and the write itself reports emptiness
        — no separate count action. Callers must not pre-dedupe (two
        shuffles for one invariant)."""
        snap = self._next_snap()
        new_files = self._write_files(self.dedupe_delta(df), snap)
        if not new_files:
            cur = self.current_snapshot()
            return cur if cur is not None else self.truncate(meta)
        man = self._load_manifest()
        files = {b: list(fl) for b, fl in man["files"].items()}
        for b, fl in new_files.items():
            files.setdefault(b, []).extend(fl)
        return self._commit(files, meta or {"op": "append_delta"}, snap)

    def replace_buckets(
        self, df: DataFrame, touched: list[int], meta: dict[str, Any] | None = None
    ) -> int:
        """Copy-on-write commit: df supplies the full new content of `touched`
        buckets; all other buckets carry over from the current snapshot.
        Used for deletes/compaction (which must drop rows) — NOT for routine
        merges, which append deltas."""
        snap = self._next_snap()
        new_files = self._write_files(self._bucketed(df), snap)
        man = self._load_manifest()
        files = dict(man["files"])
        for b in touched:
            files.pop(str(b), None)
        for b, fl in new_files.items():
            files[b] = fl
        return self._commit(files, meta or {}, snap)

    def truncate(self, meta: dict[str, Any] | None = None) -> int:
        return self._commit({}, meta or {"op": "truncate"}, self._next_snap())

    def compact(self, buckets: list[int] | None = None, meta: dict[str, Any] | None = None) -> int:
        """Fold multi-generation buckets back to one resolved file set.
        Only buckets that actually carry >1 delta generation are rewritten;
        single-generation buckets are untouched (their files carry over).
        Run on a cadence (or via UrlStore.maintain) to bound read-side
        resolution work."""
        man = self._load_manifest()
        candidates = []
        for b, fl in man["files"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            if len({e["seq"] for e in fl}) > 1:
                candidates.append(int(b))
        if not candidates:
            cur = self.current_snapshot()
            return cur if cur is not None else self.truncate(meta)
        resolved = self.read(buckets=candidates)
        return self.replace_buckets(resolved, candidates, meta=meta or {"op": "compact"})

    def delta_generations(self) -> int:
        """Max distinct file generations on any bucket — observability for
        compaction cadence + test assertions."""
        man = self._load_manifest()
        return max((len({e["seq"] for e in fl}) for fl in man["files"].values()), default=0)

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, int]:
        """Iceberg-style snapshot expiration + orphan-file removal (Iceberg's
        ``expire_snapshots`` and ``remove_orphan_files`` folded into one pass
        for this single-writer layout): retain the newest ``keep_last``
        snapshots (CURRENT always retained), delete older manifests, and
        physically delete data files referenced ONLY by expired snapshots.

        Without this a long-running crawl's store grows without bound — every
        merge/compact/maintain commit keeps its predecessors' files on disk
        for time travel. Pure manifest walk + fs deletes: no Spark job, cost
        ∝ manifests expired + files reclaimed, never O(store rows).

        Interplay with incremental maintainers: a consumer that pinned an
        expired snapshot (the crawl's persistent cuckoo filter watermark)
        sees ``commit_metas_between`` return None on the broken parent chain
        and falls back to a full rebuild — conservative, never incorrect.

        Returns ``{"expired_snapshots", "deleted_files", "reclaimed_bytes"}``.
        """
        keep_last = max(1, int(keep_last))
        snaps = self.snapshots()
        cur = self.current_snapshot()
        if not snaps or cur is None:
            return {"expired_snapshots": 0, "deleted_files": 0, "reclaimed_bytes": 0}
        retained = set(snaps[-keep_last:]) | {cur}
        expired = [s for s in snaps if s not in retained]
        if not expired:
            return {"expired_snapshots": 0, "deleted_files": 0, "reclaimed_bytes": 0}

        def _paths(snap: int) -> set[str]:
            man = self._load_manifest(snap)
            return {e["path"] for fl in man["files"].values() for e in fl}

        live: set[str] = set()
        for s in retained:
            live |= _paths(s)
        dead: set[str] = set()
        for s in expired:
            dead |= _paths(s)
        dead -= live

        reclaimed = 0
        parents: set[str] = set()
        for p in sorted(dead):
            try:
                reclaimed += self.io.size(p)
                self.io.remove(p)
            except OSError:
                continue  # already gone (e.g. a prior interrupted expire)
            parents.add(os.path.dirname(p))
        # tidy the per-commit uuid dirs data/<uuid>/__bucket=N/ bottom-up
        for d in sorted(parents, key=len, reverse=True):
            self.io.rmdir_if_empty(d)
            self.io.rmdir_if_empty(os.path.dirname(d))
        for s in expired:
            try:
                self.io.remove(self._manifest_path(s))
            except OSError:
                pass
        return {
            "expired_snapshots": len(expired),
            "deleted_files": len(dead),
            "reclaimed_bytes": reclaimed,
        }

    def touched_buckets(self, df: DataFrame) -> list[int]:
        rows = (
            df.select(bucket_expr(self.key_col, self.n_buckets).alias("b"))
            .where(F.col("b").isNotNull())
            .distinct()
            .collect()
        )
        return sorted(r.b for r in rows)

    def files_in_range(
        self,
        col: str,
        lo: float | None,
        hi: float | None,
        snapshot: int | None = None,
    ) -> list[dict]:
        """Manifest entries whose recorded [min, max] for ``col`` intersects
        the half-open window (lo, hi] — lo/hi None ⇒ unbounded. Entries
        without stats (tables with no ``stats_cols``, unreadable footers) are
        always included: pruning is an optimization, never a correctness
        gate."""
        man = self._load_manifest(snapshot)
        out = []
        for _b, fl in man["files"].items():
            for e in fl:
                rng = (e.get("stats") or {}).get(col)
                if rng is None:
                    out.append(e)
                    continue
                mn, mx = rng
                if (lo is None or mx > lo) and (hi is None or mn <= hi):
                    out.append(e)
        return out

    def read_in_range(
        self,
        col: str,
        lo: float | None,
        hi: float | None,
        snapshot: int | None = None,
    ) -> DataFrame:
        """RAW (unresolved) scan of only the files whose ``col`` range
        intersects (lo, hi] — the per-epoch expiry-delta shape: cost ∝ files
        actually holding rows in the window, never O(store). Rows are row
        *versions* (one per delta generation), deliberately unresolved: the
        cuckoo seen-filter holds one copy per committed generation, so each
        generation's expiry must be seen exactly once for delete accounting
        to balance. Callers still apply the exact window filter on the rows
        (file stats are file-granular)."""
        paths = [e["path"] for e in self.files_in_range(col, lo, hi, snapshot)]
        if not paths:
            return self.spark.createDataFrame([], self.schema)
        return self.spark.read.schema(self.schema).parquet(*paths)


class UrlStore:
    """The reference's URLDataStore re-expressed over two ManifestTables.

    ``n_buckets`` applies when the store is created; reopening takes the
    count the urls manifest records, and id_map must record the same one
    (``resolve_keys_pruned`` derives both tables' buckets from one key
    set), else ValueError."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 16,
        ttl_seconds: int = DEFAULT_TTL_SECONDS,
    ):
        self.spark = spark
        self.ttl_seconds = ttl_seconds
        self.urls = ManifestTable(
            spark,
            os.path.join(root, "urls"),
            URL_STORE_SCHEMA,
            "key",
            n_buckets,
            order_col="fetch_time",
            # per-file expires ranges in the manifest: expiry-window scans
            # (cuckoo delete deltas, maintenance) prune to intersecting files
            # — the Spark analog of the reference's (expires DESC, ...) index
            # (database/sqlite/migrations/00001_init.sql:30-33)
            stats_cols=("expires",),
        )
        self.id_map = ManifestTable(
            spark,
            os.path.join(root, "id_map"),
            ID_MAP_SCHEMA,
            "requested_id",
            self.urls.n_buckets,
            order_col=None,
        )
        if self.id_map.n_buckets != self.urls.n_buckets:
            raise ValueError(
                f"store {root}: urls has {self.urls.n_buckets} buckets but "
                f"id_map has {self.id_map.n_buckets}"
            )

    # -- save (S9): REPLACE INTO urls + id_map --------------------------------
    def merge(self, results: DataFrame, meta: dict[str, Any] | None = None) -> int:
        """Upsert result rows (RESULT_SCHEMA-ish; `original_url` is dropped —
        never stored). Error rows are NOT stored (internal/scrape.go:82-85).
        Also records requested→canonical alias rows, self-referential ones
        included.

        The alias's requested key comes from the REQUESTED_KEY column when
        ``results`` carries one — the request key the caller already
        computed (``batch_extract`` and the crawl epoch pass it through
        ``finalize_results(..., keep_requested_key=True)``), so the id_map
        write runs no Python UDF. Plain RESULT_SCHEMA input derives it as
        ``url_key(parsed_url)``, which is the same value: a request key IS
        the key of the cleaned requested URL."""
        incoming = results.filter(F.col("error").isNull())
        fetch_time = F.coalesce(F.col("fetch_time"), stamp_fetch_time())
        stamped = {
            "fetch_time": fetch_time,
            "expires": F.coalesce(
                F.col("expires"), expires_at(fetch_time, self.ttl_seconds)
            ),
        }
        new_urls = incoming.select(
            *[stamped.get(c, F.col(c)).alias(c) for c in URL_STORE_SCHEMA.fieldNames()]
        )

        # alias rows: requested key → canonical (url) key.
        # NOT pre-deduped — append_buckets' dedupe is the single
        # per-key pass (a dropDuplicates here was a second full shuffle).
        requested = (
            F.col(REQUESTED_KEY)
            if REQUESTED_KEY in results.columns
            else url_key(F.col("parsed_url"))
        )
        new_aliases = incoming.select(
            requested.alias("requested_id"),
            F.col("key").alias("canonical_id"),
        ).where(F.col("requested_id").isNotNull())

        snap = self.urls.append_buckets(new_urls, meta=meta)
        self.id_map.append_buckets(new_aliases, meta=meta)
        return snap

    # -- read (S6 + J1 + F3) ---------------------------------------------------
    def resolve_keys_pruned(
        self, requested: DataFrame, key_col: str = "key"
    ) -> tuple[DataFrame, list[int]]:
        """J1 alias-resolution join — requested key → ``canonical_key``,
        falling back to the requested key on mapping miss — plus the
        url-store bucket set a probe of those canonical keys must open.

        Scale posture: id_map has one row per stored URL — at a 10^10-URL
        frontier it is store-sized, NOT dim-sized, so it must never be
        unconditionally broadcast. The join is bucket-pruned first (id_map is
        hash-bucketed by requested_id, the join key, so only the buckets the
        batch's keys hash to are even opened), then planned as a plain
        equi-join: ``spark.sql.autoBroadcastJoinThreshold`` broadcasts the
        pruned slice when Catalyst's estimate of it (its parquet file bytes)
        is small, and a larger slice shuffles.

        The batch's distinct buckets are computed ONCE and serve both
        tables (urls and id_map share n_buckets — the constructor enforces
        it — so pmod(key, n) is the same bucket either way). The
        canonical-side buckets come from the already-pruned id_map slice
        (rows ∝ the batch's aliases), NOT from re-evaluating the resolve
        join over the whole batch — the previous shape ran the request
        pipeline + join a second time just to learn which buckets to open
        (r6; measured ~0.5 s/batch at sf0.1). The
        returned bucket list is a superset of the exact canonical-key
        buckets (requested ∪ alias-target buckets) — pruning stays an
        optimization, never a correctness gate."""
        req_buckets = self.id_map.touched_buckets(
            requested.select(F.col(key_col).alias(self.id_map.key_col))
        )
        id_map = self.id_map.read(buckets=req_buckets)
        canon = (
            id_map.select(bucket_expr("canonical_id", self.urls.n_buckets).alias("b"))
            .where(F.col("b").isNotNull())
            .distinct()
            .collect()
        )
        probe = sorted(set(req_buckets) | {r.b for r in canon})
        resolved = (
            requested.join(
                id_map,
                requested[key_col] == id_map["requested_id"],
                "left",
            )
            .withColumn("canonical_key", F.coalesce(F.col("canonical_id"), F.col(key_col)))
            .drop("requested_id", "canonical_id")
        )
        return resolved, probe

    def fetch(self, urls: list[str]) -> DataFrame:
        """Point/batch lookup: clean → key → alias-resolve → bucket-pruned
        store read → freshness filter. Expired rows are invisible (F3)."""
        req = self.spark.createDataFrame([(u,) for u in urls], ["original_url"])
        req = req.withColumn("__ck", clean_and_key("original_url")).select(
            "original_url", "__ck.parsed_url", "__ck.key"
        )
        resolved, buckets = self.resolve_keys_pruned(req)
        store = self.urls.read(buckets=buckets).filter(is_fresh("expires"))
        # keep only original_url + canonical_key on the probe side — the store
        # row carries parsed_url, and a duplicate name breaks downstream selects
        probe = resolved.select("original_url", "canonical_key")
        return probe.join(
            store, probe["canonical_key"] == store["key"], "inner"
        ).drop("canonical_key")

    # -- delete (S10): canonical key only; aliases survive ---------------------
    def delete(self, urls: list[str]) -> int:
        """Delete rows keyed by the given URLs' OWN keys — no alias
        resolution. The reference's Delete "only works for canonical URLs"
        (internal/storage/storage.go:232-236 keys on the given URL and is
        explicitly "not accounting for lookup keys"; pinned by
        storage_test.go:161-174): deleting by a requested/redirect-source
        URL is a no-op, deleting by the canonical URL drops the store row
        while id_map alias rows survive."""
        req = self.spark.createDataFrame([(u,) for u in urls], ["u"])
        resolved = req.select(clean_and_key("u")["key"].alias("key"))
        touched = self.urls.touched_buckets(resolved)
        if not touched:
            cur = self.urls.current_snapshot()
            return cur if cur is not None else -1
        remaining = self.urls.read(buckets=touched).join(resolved, "key", "left_anti")
        return self.urls.replace_buckets(remaining, touched, meta={"op": "delete"})

    # -- clear (S11) ------------------------------------------------------------
    def clear(self) -> None:
        self.urls.truncate()
        self.id_map.truncate()

    # -- maintenance (S12): physical expiry + delta compaction -------------------
    def maintain(
        self,
        meta: dict[str, Any] | None = None,
        expire_keep: int | None = None,
    ) -> int:
        """Physically drop expired rows AND fold delta generations into one
        resolved file set (the compaction half of merge-on-read — run on a
        cadence to bound read-side resolution). Manifest-stat pruned: only
        buckets that provably NEED work are rewritten — a bucket whose every
        file is all-fresh by its recorded min(expires) and single-generation
        carries over untouched, so maintenance cost ∝ affected buckets, not
        store size. id_map (no expiry column) gets a pure compact."""
        import time as _time

        now = _time.time()
        man = self.urls._load_manifest()
        touched: list[int] = []
        for b, fl in man["files"].items():
            multi_gen = len({e["seq"] for e in fl}) > 1
            has_expired = any(
                (e.get("stats") or {}).get("expires") is None
                or (e["stats"]["expires"][0] <= now)
                for e in fl
            )
            if multi_gen or has_expired:
                touched.append(int(b))
        if touched:
            live = self.urls.read(buckets=touched).filter(is_fresh("expires"))
            snap = self.urls.replace_buckets(
                live, touched, meta=meta or {"op": "maintain"}
            )
        else:
            cur = self.urls.current_snapshot()
            snap = cur if cur is not None else self.urls.truncate(meta)
        self.id_map.compact(meta=meta or {"op": "maintain"})
        if expire_keep is not None:
            # reclaim disk from superseded snapshots once the maintenance
            # commit is durable (the commit just made IS the newest snapshot)
            self.urls.expire_snapshots(keep_last=expire_keep)
            self.id_map.expire_snapshots(keep_last=expire_keep)
        return snap

    # -- stats (S13) -------------------------------------------------------------
    def stats(self) -> dict[str, int]:
        # ONE Spark action for all three counts: union both resolved tables
        # as tagged 0/1 columns and take a single aggregate
        u = self.urls.read().select(
            F.lit(1).alias("t"),
            is_fresh("expires").cast("int").alias("f"),
            F.lit(0).alias("m"),
        )
        m = self.id_map.read().select(
            F.lit(0).alias("t"), F.lit(0).alias("f"), F.lit(1).alias("m")
        )
        row = u.unionByName(m).agg(
            F.sum("t").alias("t"), F.sum("f").alias("f"), F.sum("m").alias("m")
        ).collect()[0]
        cur = self.urls.current_snapshot()
        return {
            "total_rows": int(row.t or 0),
            "fresh_rows": int(row.f or 0),
            "id_map_rows": int(row.m or 0),
            "snapshot": cur if cur is not None else -1,
        }
