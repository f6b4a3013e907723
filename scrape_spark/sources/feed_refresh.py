"""Feed re-crawl cadence (reference: the `feed_refresh` table,
database/sqlite/migrations/00003_feed_refresh.sql:5-22 — schema-only there:
no Go code reads it yet; these semantics are derived from its column
defaults and indexes and documented as this engine's interpretation).

Reference schema: url PK (REPLACE on conflict), last_request (default now),
refresh_interval (default 12 h), last_refresh (default 0), idle_timeout
(default 7 d). The `(last_refresh, refresh_interval, url)` index is the
due-scan access path, which is exactly the shape `due_feeds` computes:

- a feed is DUE when ``last_refresh + refresh_interval <= now``;
- a feed goes IDLE (drops out of the refresh loop) when no client has
  requested it within ``idle_timeout``: ``last_request + idle_timeout <= now``;
- every client request upserts the row (PK REPLACE): new feeds enter with
  the defaults, existing feeds get ``last_request`` bumped;
- every completed refresh sets ``last_refresh = now``.

No engine path writes the table yet: the request upsert and the refresh
write exist only as test helpers (``tests/helpers.py``) that drive
``due_feeds``.

All timestamps are integer epoch seconds (the reference stores
``unixepoch()``), passed in explicitly — nothing here calls the clock, so
scheduling decisions replay deterministically from checkpoints.

Scale posture: the feeds table is dimension-sized (one row per feed, not
per item), and `due_feeds` is a pushdown-able filter + projection over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_REFRESH_INTERVAL = 3600 * 12  # migrations/00003_feed_refresh.sql:7
DEFAULT_IDLE_TIMEOUT = 86400 * 7  # migrations/00003_feed_refresh.sql:9

FEED_REFRESH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("last_request", T.LongType(), False),
        T.StructField("refresh_interval", T.LongType(), False),
        T.StructField("last_refresh", T.LongType(), False),
        T.StructField("idle_timeout", T.LongType(), False),
    ]
)


def due_feeds(feeds: DataFrame, now: int) -> DataFrame:
    """Feeds due for a refresh pass at `now`: overdue by cadence AND still
    actively requested. Adds `due_at` (when the feed became due) — the
    scheduler's priority key, mirroring the reference's
    (last_refresh, refresh_interval, url) index order."""
    return (
        feeds.withColumn(
            "due_at", (F.col("last_refresh") + F.col("refresh_interval")).cast("long")
        )
        .filter(F.col("due_at") <= F.lit(int(now)))
        .filter(F.col("last_request") + F.col("idle_timeout") > F.lit(int(now)))
        .select("url", "due_at", "last_refresh", "refresh_interval")
    )
