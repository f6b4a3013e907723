"""scrape_spark — a PySpark-native distributed fetch+extract analytics engine.

A brand-new rebuild (NOT a port) of the capabilities of efixler/scrape
(reference at /root/reference, Go): URL canonicalization, 63-bit URL keying,
a TTL'd memo store with alias resolution, batch fetch+extract pipelines with
cache hit/miss splits and error-rows-as-data — re-expressed as DataFrame /
Spark-SQL operators over columnar Parquet tables, plus the net-new
web-scale pieces the reference lacks: a partitioned URL frontier with
per-host politeness (RFC 9309-style robots rules + crawl-delay quotas),
an exact seen-set (with a partitioned cuckoo pre-filter as the scale
mode), epoch-synchronous BFS crawl ordering with checkpoint/resume, and
training-data operators (dedup families, similarity search, text quality
analytics).

Design notes:
- DataFrame-first: every relational operator is declarative so Catalyst
  does pushdown/pruning/join-selection; UDFs only where semantics demand
  (FNV-1a parity keying, HTML extraction) and then always Arrow-vectorized
  pandas UDFs — no row-at-a-time Python anywhere.
- Scale-first: stores are hash-bucketed for merge pruning; frontier is
  salted-host partitioned against hot-domain skew; joins against dims are
  broadcast; the seen-set probe is an exact anti-join, or a cuckoo
  pre-filter + bucket-pruned exact confirm at scale.
"""

__version__ = "0.1.0"
