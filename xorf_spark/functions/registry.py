"""Scalar function surface: SQL registration of the membership probe and
portable hash helpers.

``register_sql_udfs`` makes a built FilterTable queryable from SQL strings:

    register_sql_udfs(spark, table, name="xorf_contains")
    spark.sql("SELECT * FROM t WHERE xorf_contains(xxhash64(col))")

(the optional nicety from SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..dataflow import FilterTable


def register_sql_udfs(spark: SparkSession, table: FilterTable,
                      name: str = "xorf_contains") -> None:
    """Register the vectorized membership probe (``contains_udf``, an
    ``arrow_udf``) as a SQL-callable function: ``name(NULL)`` is NULL."""
    spark.udf.register(name, table.contains_udf(spark))


def register_sketch_udfs(spark: SparkSession, bloom=None, cms=None,
                         tdigest=None, prefix: str = "sketch") -> None:
    """Register sketch probe UDFs as SQL-callable functions (each maps a
    NULL input to NULL):

        register_sketch_udfs(spark, bloom=bl, cms=cm, tdigest=td)
        spark.sql("SELECT * FROM t WHERE sketch_bloom_contains(xxhash64(k))")
        spark.sql("SELECT sketch_cms_count(xxhash64(k)) FROM t")
        spark.sql("SELECT * FROM t WHERE sketch_tdigest_cdf(len) BETWEEN 0.1 AND 0.9")
    """
    from ..sketches import bloom_contains_udf, cms_estimate_udf, tdigest_cdf_udf

    if bloom is not None:
        spark.udf.register(f"{prefix}_bloom_contains",
                           bloom_contains_udf(spark, bloom))
    if cms is not None:
        spark.udf.register(f"{prefix}_cms_count", cms_estimate_udf(spark, cms))
    if tdigest is not None:
        spark.udf.register(f"{prefix}_tdigest_cdf",
                           tdigest_cdf_udf(spark, tdigest))


def shingle_starts_sql(arr: str, n: int) -> str:
    """SQL fragment: ascending start indices ``[1 .. size(arr)-n+1]`` of
    every n-element shingle of array expression ``arr``, EMPTY when the
    array is shorter than n. Guards the Spark pitfall that
    ``sequence(1, 0)`` is the DESCENDING ``[1, 0]`` — the naive
    ``greatest(size-n+1, 0)`` clamp emits a bogus start index 0 for short
    inputs, which ``slice`` rejects at runtime."""
    return (f"CASE WHEN size({arr}) >= {n} "
            f"THEN sequence(1, size({arr}) - {n - 1}) "
            f"ELSE array() END")


def shingle_hashes_sql(arr: str, n: int, seed: str | None = None) -> str:
    """SQL fragment: one xxhash64 per n-element shingle of array expression
    ``arr`` (stride 1), built from n SCALAR element accesses —
    ``xxhash64(arr[i], …, arr[i+n-1])`` — instead of hashing a
    ``slice()``: the per-position n-element array allocation made shingle
    derivation the token pipeline's dominant cost (7.6× slower at 54M
    shingles; BENCH/ROUND4_NOTES.md). EMPTY when the array is shorter
    than n (same descending-``sequence`` guard as
    :func:`shingle_starts_sql`). ``seed`` appends an extra hashed column
    expression (e.g. a permutation index). Hash values are internal
    fingerprints — deterministic and uniform, not portable to other
    engines."""
    args = ", ".join(f"{arr}[i+{j}]" for j in range(n))
    if seed is not None:
        args += f", {seed}"
    return (f"CASE WHEN size({arr}) >= {n} "
            f"THEN transform(sequence(0, size({arr}) - {n}), "
            f"i -> xxhash64({args})) ELSE array() END")


def word_shingles_sql(arr: str, n: int, sep: str = " ") -> str:
    """SQL fragment: one ``sep``-joined STRING per n-element shingle of
    array expression ``arr`` (stride 1), built from n scalar element
    accesses — ``concat_ws(sep, arr[i], …, arr[i+n-1])``. Byte-identical
    to the ``array_join(slice(arr, i, n), sep)`` form (both join
    left-to-right with ``sep`` and skip nulls) but without the per-position
    n-element array allocation, and with ``arr`` expected to be a
    PROJECTED column: Catalyst does not hoist loop-invariant
    subexpressions out of higher-order lambdas, so inlining a ``split()``
    here re-splits the document once per shingle position (the
    gopher_rules O(words²) bug). EMPTY when the array is shorter than n
    (same descending-``sequence`` guard as :func:`shingle_starts_sql`).
    Use when the shingle must stay an oracle-portable string; use
    :func:`shingle_hashes_sql` for internal 64-bit keys."""
    args = ", ".join(f"element_at({arr}, j + {i})" for i in range(n))
    return (f"CASE WHEN size({arr}) >= {n} "
            f"THEN transform(sequence(1, size({arr}) - {n - 1}), "
            f"j -> concat_ws('{sep}', {args})) ELSE array() END")


def md5long(col) -> Column:
    """Portable 60-bit integer hash (identical in Spark and DuckDB/ANSI SQL):
    first 15 hex digits of md5 as a bigint. Used wherever an oracle-checkable
    hash is needed; xxhash64 stays the hot-path key hash."""
    if isinstance(col, str):
        col = F.col(col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
