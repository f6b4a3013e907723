"""JSON sink + wire-format parity (SURVEY.md §2.1 S8, §2.4 K8/K9, §2.2 F7/F8).

The reference emits an unordered JSON array of WebPage rows with omit-empty
marshaling, a skip-list of fields excluded from the stored metadata blob,
and an optional content_text drop (-notext). Engine equivalents:

- ``result_json``: per-row JSON via to_json(struct(...)) with null fields
  omitted (omitempty parity); arrays/maps/timestamps serialize naturally.
- ``metadata_json_col``: the stored-blob subset (skip-list applied) — kept
  only for compat round-trips; the engine's tables stay fully shredded.
- ``parse_metadata_json``: the K9 inverse via from_json.
- ``json_array_string``: collapses a SMALL result to one JSON array string
  (the CLI-shaped output) — explicitly driver-side, never for big frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scrape_spark.functions.textfns import SKIP_IN_METADATA


def result_json(df: DataFrame, drop_text: bool = False) -> DataFrame:
    """One JSON string per result row; drop_text ≙ the CLI -notext flag (F7)."""
    cols = [c for c in df.columns if not (drop_text and c == "content_text")]
    return df.select(
        F.to_json(
            F.struct(*[F.col(c) for c in cols]), {"ignoreNullFields": "true"}
        ).alias("json")
    )


def metadata_json_col(df: DataFrame) -> Column:
    """K8/F8: the metadata-blob subset (skip-list fields excluded)."""
    keep = [c for c in df.columns if c not in SKIP_IN_METADATA and c != "key"]
    return F.to_json(F.struct(*[F.col(c) for c in keep]), {"ignoreNullFields": "true"})


def parse_metadata_json(col: Column, schema: T.StructType) -> Column:
    """K9: inverse of metadata_json_col."""
    return F.from_json(col, schema)


def json_array_string(df: DataFrame, drop_text: bool = False) -> str:
    """CLI-shaped output: one JSON array, unordered (parity:
    internal/scrape.go:98-99). Collects — small results only."""
    rows = [r.json for r in result_json(df, drop_text).collect()]
    return "[" + ",".join(rows) + "]"
