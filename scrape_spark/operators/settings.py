"""Per-domain fetch settings store (SURVEY.md §2.1 S7, §2.3 J3).

The reference keeps per-host fetch config (user agent, fetch client, extra
headers) in a `domain_settings` table with point lookups before fetching and
a paged, wildcard-searchable admin listing (internal/settings/domain.go).
Parity behaviors kept:

- domains are case-folded on save and query (domain.go:56,237 — F9)
- invalid domains are rejected on save (domain.go:266-313 — F5)
- wildcard queries rewrite '*'→'%', bare terms get both-side '%' (F6)
- range listing is ORDER BY domain with LIMIT/OFFSET, capped at 1000 rows
  (domain.go:33-35 — W1)
- upsert is REPLACE-by-domain (last write wins)

Storage is a ManifestTable bucketed by xxhash64(domain) — the same
snapshot-committed layout as url_store, so settings changes are atomic and
time-travelable. Upserts are merge-on-read like url_store's MERGE: each one
appends a delta generation, and reads keep the row of the newest commit per
domain; delete rewrites its touched buckets. The fetch-time join is a
broadcast (dim-sized table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrape_spark.functions.textfns import (
    canonical_mime_headers,
    expand_ua,
    is_valid_domain,
    wildcard_to_like,
)
from scrape_spark.operators.store import ManifestTable

RANGE_CAP = 1000  # domain.go:33-35

_STORED_SCHEMA = T.StructType(
    [
        T.StructField("dkey", T.LongType(), False),
        T.StructField("domain", T.StringType(), False),
        T.StructField("sitename", T.StringType(), True),
        T.StructField("fetch_client", T.StringType(), True),
        T.StructField("user_agent", T.StringType(), True),
        T.StructField("headers", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


class DomainSettingsStore:
    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 4):
        self.spark = spark
        self.table = ManifestTable(spark, root, _STORED_SCHEMA, "dkey", n_buckets)

    def _normalize(self, df: DataFrame) -> DataFrame:
        low = F.lower(F.col("domain"))
        return (
            df.withColumn("domain", low)
            .filter(is_valid_domain(F.col("domain")))
            .withColumn("dkey", F.xxhash64(F.col("domain")))
            .withColumn("user_agent", expand_ua(F.col("user_agent")))
            .withColumn(
                "headers",
                F.when(
                    F.col("headers").isNotNull(),
                    canonical_mime_headers(F.col("headers")),
                ),
            )
            .select(*_STORED_SCHEMA.fieldNames())
        )

    def upsert(self, df: DataFrame) -> int:
        """REPLACE-by-domain: one appended delta generation; the newest
        commit's row wins on read. Invalid domains are silently dropped (the
        reference rejects them at the API layer — here validation is the
        same predicate, F5)."""
        return self.table.append_buckets(self._normalize(df))

    def read(self) -> DataFrame:
        return self.table.read().drop("dkey")

    def fetch(self, domain: str) -> DataFrame:
        """Point lookup, bucket-pruned, case-folded."""
        low = domain.lower()
        probe = self.spark.createDataFrame([(low,)], ["d"]).withColumn(
            "dkey", F.xxhash64(F.col("d"))
        )
        buckets = self.table.touched_buckets(probe.select("dkey"))
        return (
            self.table.read(buckets=buckets)
            .filter(F.col("domain") == low)
            .drop("dkey")
        )

    def delete(self, domains: list[str]) -> int:
        probe = self.spark.createDataFrame(
            [(d.lower(),) for d in domains], ["domain"]
        ).withColumn("dkey", F.xxhash64(F.col("domain")))
        touched = self.table.touched_buckets(probe.select("dkey"))
        if not touched:
            cur = self.table.current_snapshot()
            return cur if cur is not None else -1
        remaining = self.table.read(buckets=touched).join(
            probe.select("dkey"), "dkey", "left_anti"
        )
        return self.table.replace_buckets(remaining, touched)

    def fetch_range(
        self, offset: int = 0, limit: int = RANGE_CAP, query: str | None = None
    ) -> DataFrame:
        """Paged listing: optional wildcard filter, ORDER BY domain,
        LIMIT/OFFSET, hard cap (S7/W1 parity)."""
        limit = min(limit, RANGE_CAP)
        df = self.read()
        if query:
            df = df.filter(F.col("domain").like(wildcard_to_like(query.lower())))
        return df.orderBy("domain").offset(offset).limit(limit)

    def join_fetch_config(self, requests: DataFrame, host_col: str = "hostname") -> DataFrame:
        """J3: broadcast settings onto a request frame by host; missing hosts
        keep engine defaults (null columns)."""
        dim = self.read().withColumnRenamed("domain", "__dom")
        return requests.join(
            F.broadcast(dim), F.lower(F.col(host_col)) == F.col("__dom"), "left"
        ).drop("__dom")
