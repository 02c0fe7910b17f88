"""Structured Streaming integration: membership filtering of a stream.

The filter family is *static* (write-once; reference filters are immutable
once built, src/lib.rs:116-125), which matches the streaming pattern
"build filter from the historical batch table, apply to the live stream":

- ``stream_membership``   — annotate a stream with a ``member`` column
  (vectorized Arrow-UDF probe of broadcast shards);
- ``stream_dedup_filter`` — keep only stream rows whose key is NOT in the
  filter (dedup against history; zero false negatives ⇒ a key that was
  inserted is never let through; FPP-rate of fresh keys is wrongly dropped —
  the standard approximate-dedup trade, documented per north star).

For exact streaming dedup with state, compose with ``dropDuplicates`` over a
watermark downstream — the filter pre-pass shrinks state by ~(1-FPP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dataflow import FilterTable


def stream_membership(stream_df: DataFrame, table: FilterTable,
                      key_col: str = "key", out_col: str = "member"
                      ) -> DataFrame:
    """Add a boolean membership column to a (possibly streaming) DataFrame.
    The same vectorized probe UDF works on batch and streaming plans."""
    udf = table.contains_udf(stream_df.sparkSession)
    return stream_df.withColumn(out_col, udf(F.col(key_col)))


def stream_dedup_filter(stream_df: DataFrame, table: FilterTable,
                        key_col: str = "key") -> DataFrame:
    """Drop stream rows whose key the history filter accepts (approximate
    anti-join against history: exact on true members, FPP on fresh keys)."""
    udf = table.contains_udf(stream_df.sparkSession)
    return stream_df.where(~udf(F.col(key_col)))
