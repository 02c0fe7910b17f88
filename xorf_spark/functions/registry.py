"""Scalar function surface: SQL registration of the membership probe and
portable hash helpers.

``register_sql_udfs`` makes a built FilterTable queryable from SQL strings:

    register_sql_udfs(spark, table, name="xorf_contains")
    spark.sql("SELECT * FROM t WHERE xorf_contains(xxhash64(col))")

(the optional nicety from SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
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


def shingle_hashes_sql(arr: str, n: int, seed: str | None = None) -> str:
    """SQL fragment: the ARRAY of one xxhash64 per n-element shingle of
    array expression ``arr`` (stride 1), built from n SCALAR element
    accesses — ``xxhash64(arr[i], …, arr[i+n-1])`` — instead of hashing a
    ``slice()``: the per-position n-element array allocation made shingle
    derivation the token pipeline's dominant cost (7.6× slower at 54M
    shingles; BENCH/ROUND4_NOTES.md). EMPTY when the array is shorter
    than n: the ``size >= n`` guard keeps Spark's ``sequence(0, -1)``,
    which is the DESCENDING ``[0, -1]``, from emitting a bogus position
    for short inputs. ``seed`` appends an extra hashed column
    expression (e.g. a permutation index). Hash values are internal
    fingerprints — deterministic and uniform, not portable to other
    engines.

    The ``transform`` lambda is interpreted (Spark's ``ArrayTransform`` is
    a ``CodegenFallback``), so this fragment is only for callers that
    need the array VALUE (the MinHash base, ``exact_jaccard``). A
    one-row-per-shingle stream goes through :func:`explode_shingles`,
    which yields the same keys in the same order from compiled code."""
    args = ", ".join(f"{arr}[i+{j}]" for j in range(n))
    if seed is not None:
        args += f", {seed}"
    return (f"CASE WHEN size({arr}) >= {n} "
            f"THEN transform(sequence(0, size({arr}) - {n}), "
            f"i -> xxhash64({args})) ELSE array() END")


def word_shingles_sql(arr: str, n: int, sep: str = " ") -> str:
    """SQL fragment: the ARRAY of one ``sep``-joined STRING per n-element
    shingle of array expression ``arr`` (stride 1), built from n scalar
    element accesses — ``concat_ws(sep, arr[i], …, arr[i+n-1])``.
    Byte-identical to the ``array_join(slice(arr, i, n), sep)`` form (both
    join left-to-right with ``sep`` and skip nulls) but without the
    per-position n-element array allocation, and with ``arr`` expected to
    be a PROJECTED column: Catalyst does not hoist loop-invariant
    subexpressions out of higher-order lambdas, so inlining a ``split()``
    here re-splits the document once per shingle position (the
    gopher_rules O(words²) bug). EMPTY when the array is shorter than n:
    the ``size >= n`` guard keeps Spark's ``sequence(1, 0)``, which is
    the DESCENDING ``[1, 0]``, from emitting a bogus start index.
    Use when the shingle must stay an oracle-portable string; use
    :func:`shingle_hashes_sql` for internal 64-bit keys.

    Like :func:`shingle_hashes_sql` this is an interpreted ``transform``
    lambda, kept for callers that need the array value (the ngram
    ``array_distinct``); to explode word shingles into rows use
    :func:`explode_shingles` with ``sep``."""
    args = ", ".join(f"element_at({arr}, j + {i})" for i in range(n))
    return (f"CASE WHEN size({arr}) >= {n} "
            f"THEN transform(sequence(1, size({arr}) - {n - 1}), "
            f"j -> concat_ws('{sep}', {args})) ELSE array() END")


#: Temp column :func:`explode_shingles` holds each shingle's start in.
_SHINGLE_POS = "__shingle_pos"


def explode_shingles(df: DataFrame, arr: str, n: int, out_col: str,
                     sep: str | None = None) -> DataFrame:
    """``df`` with one row per n-element shingle (stride 1) of its array
    column ``arr``, the shingle in ``out_col``, built from the n scalar
    element accesses ``arr[p], …, arr[p+n-1]``: their xxhash64 (the keys
    of :func:`shingle_hashes_sql`), or with ``sep`` set, the elements
    joined by ``sep`` (``concat_ws``, nulls skipped: the strings of
    :func:`word_shingles_sql`). Rows whose array is NULL or shorter than
    n emit nothing; a row's shingles come out in position order.

    The shingles are ``explode(sequence(0, size(arr) - n))`` into a temp
    position column plus one projection, not an exploded ``transform``
    array: ``ArrayTransform`` is a ``CodegenFallback``, so the lambda form
    is interpreted once per shingle and boxes every value into an array
    before the explode. This form is whole-stage compiled, and its values
    and their order equal the lambda form's. ``arr`` should be a
    projected column (the :func:`word_shingles_sql` note on re-splitting
    applies)."""
    from ..operators._util import reserve_temp_cols

    reserve_temp_cols(df, _SHINGLE_POS)
    a, p = F.col(arr), F.col(_SHINGLE_POS)
    elems = [a[p + j] for j in range(n)]
    value = F.xxhash64(*elems) if sep is None else F.concat_ws(sep, *elems)
    # the guard sits inside the generator: exploding NULL emits no rows,
    # and a ``where(size(a) >= n)`` above would be pushed below a
    # projected ``a``, which Catalyst then evaluates twice (split twice)
    starts = F.when(F.size(a) >= n, F.sequence(F.lit(0), F.size(a) - n))
    return (df.select("*", F.explode(starts).alias(_SHINGLE_POS))
            .select("*", value.alias(out_col))
            .drop(_SHINGLE_POS))


def md5long(col) -> Column:
    """Portable 60-bit integer hash (identical in Spark and DuckDB/ANSI SQL):
    first 15 hex digits of md5 as a bigint. Used wherever an oracle-checkable
    hash is needed; xxhash64 stays the hot-path key hash."""
    if isinstance(col, str):
        col = F.col(col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
