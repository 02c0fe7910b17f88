"""Distributed mergeable-sketch aggregation: the UDAF dataflow.

Shape of the computation (the classic partial-aggregate / merge tree that
Spark's own ``TypedImperativeAggregate`` uses, re-expressed as DataFrame
stages so the sketch state can be numpy + Arrow):

1. **partial**: ``mapInArrow`` folds each *input partition* into one sketch —
   zero shuffle, the map-side combine. One output row per non-empty
   partition: ``(part_id, kind, payload, n_rows, build_secs)``.
2. **merge**: a fan-in tree of ``groupBy(part_id % g).applyInArrow`` merge
   stages. With 100k input partitions on a 1000-executor cluster the tree is
   2 levels of tiny (KB-MB) payload shuffles; locally it is a single stage.
3. **final**: the 1-row result is collected and deserialized; or kept as a
   table row for persistence.

Merge laws (tested in tests/test_sketches.py): HLL/CMS/Bloom state is
bit-identical regardless of partitioning or merge order (max/sum/or);
KLL/t-digest agree within their published error bounds.

Checkpoint-resumable variant (north-star requirement, same discipline as the
filter shard table in ``xorf_spark.dataflow.build_filter_table``):
``build_sketch_table`` buckets rows by a hash of the sketched column, builds
one partial per bucket (input-sorted ⇒ deterministic bytes) and appends it
to a parquet lineage table. Every call continues the table: it reads the
committed bucket ids and builds only the others, so a build restarted
after a crash merges to the same final sketch as an uninterrupted run, and
a call on a complete table appends nothing.
"""

from __future__ import annotations

import math
import time
from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .kernels import KEYED_KINDS, SKETCH_KINDS, make_sketch, sketch_from_bytes
from ..dataflow import (
    SPILL_WRITE,
    _arrow_probe_udf,
    _key_col,
    _np_keys,
    _on_broadcast,
    shard_id_col,
)

#: One row per partial sketch (per input partition, or per bucket in the
#: resumable path). ``payload`` is the self-describing serialized sketch.
PARTIAL_SCHEMA = StructType([
    StructField("part_id", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("payload", BinaryType(), False),
    StructField("n_rows", LongType(), False),
    StructField("build_secs", DoubleType(), False),
])

_PA_PARTIAL = pa.schema([
    ("part_id", pa.int32()), ("kind", pa.string()), ("payload", pa.binary()),
    ("n_rows", pa.int64()), ("build_secs", pa.float64()),
])


def _feed(sk, kind: str, arr: np.ndarray, weights=None):
    if kind in KEYED_KINDS:
        if kind in ("cms", "mg") and weights is not None:
            sk.add_hashes(arr, weights)
        else:
            sk.add_hashes(arr)
    else:
        sk.add(arr)


def _sketch_values(values, kind: str) -> np.ndarray:
    """The non-null values of an Arrow column as a sketch feed: a keyed
    kind's int64 keys as uint64 (``dataflow._np_keys``), a valued kind's
    numbers as float64. The float cast is numpy's: ``pc.cast``'s safe
    cast raises on longs above 2**53."""
    if kind in KEYED_KINDS:
        return _np_keys(values)
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    return values.drop_null().to_numpy(zero_copy_only=False).astype(
        np.float64, copy=False)


def _partial_row(pid: int, kind: str, sk, n: int, t0: float) -> dict:
    return {"part_id": pid, "kind": kind, "payload": sk.to_bytes(),
            "n_rows": n, "build_secs": time.time() - t0}


def _merge_payloads(payloads):
    """Fold serialized sketches, in iteration order, into one sketch
    object; None when there are none."""
    sk = None
    for payload in payloads:
        s = sketch_from_bytes(payload)
        sk = s if sk is None else sk.merge(s)
    return sk


def _check_kind(kind: str) -> None:
    """Driver-side wiring check, shared by every entry point: an unknown
    kind must raise HERE, not as an executor task failure after a full
    shuffle (r4 review finding — build_sketch_table/grouped_sketch were
    deferring to make_sketch inside the worker)."""
    if kind not in SKETCH_KINDS:
        raise ValueError(
            f"unknown sketch kind {kind!r}; one of {SKETCH_KINDS}")


def _sketch_col(df: DataFrame, col: str, kind: str) -> Column:
    """``df``'s column ``col`` as a sketch input: a keyed kind's column
    goes through ``dataflow._key_col`` (byte, short and int widen to long,
    any other type raises ``TypeError`` naming the column); a valued
    kind's column passes as is."""
    return _key_col(df, col) if kind in KEYED_KINDS else F.col(col)


def partial_sketches(df: DataFrame, col: str, kind: str,
                     params: dict | None = None,
                     weight_col: str | None = None) -> DataFrame:
    """One sketch per input partition via ``mapInArrow`` — the shuffle-free
    map-side combine. Column pruning happens before the python stage (only
    ``col`` [+ ``weight_col``] cross the Arrow boundary)."""
    _check_kind(kind)
    params = dict(params or {})
    cols = [_sketch_col(df, col, kind).alias("v")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("w"))
    proj = df.select(*cols)
    has_w = weight_col is not None

    def fold(batches):
        from pyspark import TaskContext

        t0 = time.time()
        sk = make_sketch(kind, **params)
        n = 0
        for b in batches:
            tb = pa.table(b).drop_null()
            arr = _sketch_values(tb.column("v"), kind)
            w = (tb.column("w").combine_chunks().to_numpy(
                zero_copy_only=False) if has_w else None)
            if arr.size == 0:
                continue
            _feed(sk, kind, arr, w)
            n += int(arr.size)
        if n == 0:
            return
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        row = _partial_row(pid, kind, sk, n, t0)
        yield pa.RecordBatch.from_pydict(
            {k: [v] for k, v in row.items()}, schema=_PA_PARTIAL)

    return proj.mapInArrow(fold, PARTIAL_SCHEMA)


def _merge_group(table: pa.Table) -> pa.Table:
    t0 = time.time()
    sk = _merge_payloads(table.column("payload").to_pylist())
    row = _partial_row(table.column("part_id")[0].as_py(),
                       table.column("kind")[0].as_py(), sk,
                       pc.sum(table.column("n_rows")).as_py(), t0)
    row["build_secs"] += pc.max(table.column("build_secs")).as_py()
    return pa.Table.from_pylist([row], schema=_PA_PARTIAL)


#: Up to this many KB-sized partial rows are collected and merged
#: driver-side; above it a fan-in tree of merge stages runs first.
DRIVER_MERGE_MAX_PARTIALS = 1024


def tree_merge(partials: DataFrame, n_parts: int,
               fanout: int = 64) -> DataFrame:
    """Fan-in merge tree over partial rows → a single-row DataFrame.

    ``n_parts`` is an upper bound on the partial count (e.g. the input's
    partition count) — it only sizes the tree, so an over-estimate is safe
    and costs no extra Spark job."""
    df = partials
    n = max(int(n_parts), 1)
    while n > 1:
        n_groups = max(1, math.ceil(n / fanout))
        df = (df.withColumn(
                  "part_id",
                  F.pmod(F.col("part_id"), F.lit(n_groups)).cast("int"))
              .repartition(n_groups, "part_id")
              .groupBy("part_id")
              .applyInArrow(_merge_group, PARTIAL_SCHEMA))
        n = n_groups
    return df


def sketch_agg(df: DataFrame, col: str, kind: str,
               params: dict | None = None, weight_col: str | None = None):
    """Full aggregation: partial per partition → merge → sketch object.

    Partial rows are KB-sized, so up to ``DRIVER_MERGE_MAX_PARTIALS`` of
    them are collected and merged driver-side — one Spark stage, no
    shuffle (exactly how Spark's own TypedImperativeAggregate finishes on
    a single reducer). Beyond that (100k-partition cluster scans) a
    :func:`tree_merge` of ``applyInArrow`` merge stages runs first.

    Returns the deserialized sketch (empty sketch if ``df`` has no rows)."""
    partials = partial_sketches(df, col, kind, params, weight_col)
    n_parts = df.rdd.getNumPartitions()
    if n_parts > DRIVER_MERGE_MAX_PARTIALS:
        partials = tree_merge(partials, n_parts)
    rows = sorted(partials.collect(), key=lambda r: r["part_id"])
    sk = _merge_payloads(r["payload"] for r in rows)
    return make_sketch(kind, **dict(params or {})) if sk is None else sk


def sketch_agg_staged(df: DataFrame, col: str, kind: str, stage_dir: str,
                      params: dict | None = None,
                      weight_col: str | None = None):
    """Staged twin of :func:`sketch_agg`, same trade as the staged filter
    build (``dataflow.build_filter_df_staged``): the JVM→python Arrow feed
    of the raw column is the measured bottleneck of the one-shot
    aggregation (the numpy kernels fold ~10x faster than the feed
    delivers), so stage the projected column to parquet pure-JVM-side (NO
    shuffle — each input partition writes its own file) and fold sketch
    partials in python tasks that each read THEIR OWN file with pyarrow.
    Keyed sketches (hll/cms/bloom/mg) produce byte-identical state to
    ``sketch_agg`` under any partitioning (merge law); valued sketches
    (tdigest/kll) stay within their published bounds (state is
    batching-dependent there, exactly as with any repartition).

    ``stage_dir`` is a transient spill (shared filesystem or object store
    on a cluster); caller owns cleanup."""
    from ..dataflow import _one_row_per_task

    _check_kind(kind)
    params = dict(params or {})
    spark = df.sparkSession
    cols = [_sketch_col(df, col, kind).alias("v")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias("w"))
    proj = _drop_null_keys(df.select(*cols), "v", kind)
    if weight_col is not None:
        # match the one-shot path's per-batch drop_null(): a row with a
        # NULL weight is dropped entirely (otherwise the worker would
        # read w as float64-with-NaN and diverge from sketch_agg)
        proj = proj.where(F.col("w").isNotNull())
    proj.write.mode("overwrite").options(**SPILL_WRITE).parquet(stage_dir)

    from pyarrow import fs as _pafs
    fsys, base = _pafs.FileSystem.from_uri(stage_dir)
    files = sorted(f.path for f in fsys.get_file_info(
        _pafs.FileSelector(base.rstrip("/")))
        if f.is_file and f.path.endswith(".parquet"))
    if not files:
        return make_sketch(kind, **params)
    tasks = _one_row_per_task(spark, part_id=list(range(len(files))),
                              path=files)
    has_w = weight_col is not None

    def fold_files(batches):
        import pyarrow.parquet as _pq
        from pyarrow import fs as _pafs2

        for batch in batches:
            for pid, path in zip(batch.column("part_id").to_pylist(),
                                 batch.column("path").to_pylist()):
                t0 = time.time()
                fsys2, p2 = _pafs2.FileSystem.from_uri(path)
                tbl = _pq.read_table(p2, filesystem=fsys2)
                arr = _sketch_values(tbl.column("v"), kind)
                w =(tbl.column("w").combine_chunks().to_numpy(
                    zero_copy_only=False) if has_w else None)
                sk = make_sketch(kind, **params)
                if arr.size:
                    _feed(sk, kind, arr, w)
                row = _partial_row(pid, kind, sk, int(arr.size), t0)
                yield pa.RecordBatch.from_pylist([row], schema=_PA_PARTIAL)

    partials = tasks.mapInArrow(fold_files, PARTIAL_SCHEMA)
    if len(files) > DRIVER_MERGE_MAX_PARTIALS:
        partials = tree_merge(partials, len(files))
    rows = sorted(partials.collect(), key=lambda r: r["part_id"])
    return _merge_payloads(r["payload"] for r in rows)


# ---------------------------------------------------------------------------
# Grouped sketches (sketch per key — applyInArrow per group)
# ---------------------------------------------------------------------------

def _headline(kind: str, sk) -> float:
    """The kind's one-number summary. Shared with streaming
    (sketch_window imports THIS function) so a new kind can never be
    wired into one dataflow and silently crash the other — the r4 review
    caught exactly that divergence when theta landed."""
    if kind in ("hll", "theta"):
        return float(sk.estimate())
    if kind == "cms":
        return float(sk.total)
    if kind == "bloom":
        return float(sk.n_added)
    return float(sk.n)   # mg / kll / tdigest: total weight fed


def _drop_null_keys(df: DataFrame, col: str, kind: str) -> DataFrame:
    """Keyed sketches: drop null keys DataFrame-side (JVM filter), so a
    group whose keys are all NULL yields no row, as a group with no rows
    does. The python folds drop nulls too (``_np_keys``)."""
    if kind in KEYED_KINDS:
        return df.where(F.col(col).isNotNull())
    return df


def grouped_sketch(df: DataFrame, group_cols: list[str], col: str, kind: str,
                   params: dict | None = None) -> DataFrame:
    """One sketch per group. Output keeps the group columns and adds
    ``(payload, n_rows, estimate)`` where ``estimate`` is the kind's headline
    number (HLL → distinct estimate; CMS → total weight; Bloom → keys added;
    KLL/t-digest → item count).

    ``groupBy(keys).applyInArrow`` in its batch-iterator form: each Arrow
    batch of a group is folded into the group's sketch as it arrives, so
    no group is ever materialized whole and a hot group costs one batch
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) of worker
    memory. The fold is the merge law of mergeable summaries: HLL, CMS,
    Bloom and theta state is byte-identical to one feed of the group's
    rows (max/sum/or/bottom-k); MG, KLL and t-digest state depends on the
    batching and stays within its published bounds.

    Only the group columns and ``col`` cross the Arrow boundary; ``col``
    crosses once when it is also a group column."""
    params = dict(params or {})
    _check_kind(kind)
    df = _drop_null_keys(df.withColumn(col, _sketch_col(df, col, kind)),
                         col, kind).select(*dict.fromkeys([*group_cols, col]))
    out_schema = StructType([df.schema[c] for c in group_cols] + [
        StructField("payload", BinaryType(), False),
        StructField("n_rows", LongType(), False),
        StructField("estimate", DoubleType(), False),
    ])

    def build(key: Tuple[pa.Scalar, ...],
              batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = make_sketch(kind, **params)
        n = 0
        for batch in batches:
            arr = _sketch_values(batch.column(col), kind)
            _feed(sk, kind, arr)
            n += int(arr.size)
        yield pa.RecordBatch.from_arrays(
            [pa.repeat(k, 1) for k in key]
            + [pa.array([sk.to_bytes()], pa.binary()),
               pa.array([n], pa.int64()),
               pa.array([_headline(kind, sk)], pa.float64())],
            names=[*group_cols, "payload", "n_rows", "estimate"])

    return df.groupBy(*group_cols).applyInArrow(build, out_schema)


# ---------------------------------------------------------------------------
# Checkpoint-resumable sketch table (per-bucket lineage)
# ---------------------------------------------------------------------------

def bucket_col(df: DataFrame, col: str, kind: str, n_buckets: int) -> Column:
    """Deterministic bucket id for ``df``'s sketched column ``col``. Keyed
    sketches bucket by the top bits of the (already uniform) 64-bit key —
    the filter shard table's ``shard_id_col`` over the ``_key_col``-checked
    key; valued sketches bucket by ``pmod(xxhash64(value), n))``."""
    if 1 << int(math.log2(n_buckets)) != n_buckets:
        raise ValueError("n_buckets must be a power of two")
    if kind in KEYED_KINDS:
        return shard_id_col(_key_col(df, col), n_buckets)
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def _bucket_build_fn(kind: str, params: dict, col: str):
    def build(key, table):
        t0 = time.time()
        sk = make_sketch(kind, **params)
        arr = _sketch_values(table.column(col), kind)
        # input-sorted ⇒ payload bytes are a pure function of bucket content,
        # so a restarted build is byte-identical to an uninterrupted one
        _feed(sk, kind, np.sort(arr))
        return pa.Table.from_pylist(
            [_partial_row(key[0].as_py(), kind, sk, int(arr.size), t0)],
            schema=_PA_PARTIAL)

    return build


def _sketch_table_stamp(kind: str, params: dict, n_buckets: int,
                        key_def: str | None) -> str:
    """Canonical wiring+derivation tag stamped on a sketch lineage table.

    Covers BOTH hazards an append can silently mix (r4 verdict item 8,
    same class as ``build_filter_table``'s ``_XORF_KEYDEF``):

    - ``key_def``: the upstream definition of the sketched column (e.g.
      ``shingle_key_def(8)``) — resuming after the derivation changed
      would merge sketches of two different universes into one estimate;
    - the wiring itself (kind/params/n_buckets): a restarted build with a
      different ``n_buckets`` reinterprets committed ``part_id``s as a
      DIFFERENT hash range, so the skip-done filter drops live data; a
      changed ``params`` (e.g. HLL p) makes partials unmergeable or, for
      additive sketches, silently wrong.
    """
    import json as _json

    return _json.dumps(
        {"kind": kind, "params": {k: params[k] for k in sorted(params)},
         "n_buckets": int(n_buckets), "key_def": key_def},
        sort_keys=True)


def build_sketch_table(df: DataFrame, col: str, kind: str, path: str,
                       params: dict | None = None, n_buckets: int = 16,
                       key_def: str | None = None) -> None:
    """Checkpoint-resumable sketch build: one partial per hash bucket,
    appended to a parquet lineage table ``(part_id, kind, payload, n_rows,
    build_secs)`` at ``path``; merge it with :func:`sketch_from_table`.
    Every call skips the committed buckets, so a restart builds only the
    missing ones. A keyed kind's column goes through
    ``dataflow._key_col``: byte, short and int widen, other types raise
    before anything is written.

    The write is ``dataflow._append_shards``, shared with
    ``build_filter_table``. Its committed-id listing treats ONLY
    ``AnalysisException`` (path not found) as "no table yet". A
    transient FS/auth error propagates: swallowing it would rebuild every
    bucket and append duplicates, and while HLL/Bloom merges are
    idempotent, CMS / MG / KLL / t-digest merges are ADDITIVE, so
    duplicated partials would silently double their mass.
    ``sketch_from_table`` also dedupes ``part_id`` on read as a backstop.

    The table is stamped with a ``_XORF_KEYDEF`` sidecar holding the full
    wiring tag (:func:`_sketch_table_stamp`). An append refuses on a
    mismatched stamp, and an unstamped non-empty table refuses every
    append: the stamp is never None, because kind/params/n_buckets are
    always declared."""
    from ..dataflow import _append_shards

    params = dict(params or {})
    _check_kind(kind)
    projected = _drop_null_keys(
        df.select(_sketch_col(df, col, kind).alias(col)), col, kind)
    bucketed = projected.withColumn(
        "__bucket", bucket_col(projected, col, kind, n_buckets))

    def build(done_ids: set[int]) -> DataFrame:
        pending = bucketed
        if done_ids:
            pending = bucketed.where(~F.col("__bucket").isin(list(done_ids)))
        return (pending.repartition(n_buckets, "__bucket")
                .groupBy("__bucket")
                .applyInArrow(_bucket_build_fn(kind, params, col),
                              PARTIAL_SCHEMA))

    _append_shards(df.sparkSession, path, build,
                   _sketch_table_stamp(kind, params, n_buckets, key_def),
                   id_col="part_id", noun="wiring")


def sketch_from_table(spark: SparkSession, path: str):
    """Merge a persisted partial-sketch table into one sketch object
    (deterministic part_id order).

    Keeps exactly ONE row per ``part_id``: bucket builds are deterministic
    (input-sorted feed), so any duplicate rows a crashed-and-replayed
    append left behind are byte-identical copies — merging them anyway
    would double the mass of the additive sketches (CMS/MG/KLL/t-digest)
    and break their published error laws."""
    payloads: dict[int, bytes] = {}
    for r in spark.read.parquet(path).collect():
        payloads.setdefault(r.part_id, r.payload)
    return _merge_payloads(payloads[p] for p in sorted(payloads))


# ---------------------------------------------------------------------------
# Probe-side UDFs (broadcast sketch → vectorized Arrow UDF). Each worker
# deserializes a UDF's sketch once and keeps it on the broadcast
# (``dataflow._on_broadcast``), so it dies with the broadcast.
# ---------------------------------------------------------------------------

def cms_estimate_udf(spark: SparkSession, cms):
    """``long key -> long`` estimated count (never under the true count)."""
    bc = spark.sparkContext.broadcast(cms.to_bytes())

    def estimate(keys: np.ndarray) -> np.ndarray:
        sk = _on_broadcast(bc, sketch_from_bytes)
        return sk.estimate_hashes(keys.view(np.uint64))

    return _arrow_probe_udf(estimate, "long")


def mg_estimate_udf(spark: SparkSession, mg):
    """``long key -> long`` Misra-Gries lower-bound count (0 for untracked
    keys; ``true ≤ est + mg.dsub``). Dual of the CMS probe — CMS never
    under-counts, MG never over-counts — and shares its broadcast
    plumbing: the probe body only calls ``estimate_hashes`` on the
    deserialized sketch, which both kinds implement."""
    return cms_estimate_udf(spark, mg)


def tdigest_cdf_udf(spark: SparkSession, td):
    """``double value -> double`` estimated rank (fraction of the sketched
    distribution ≤ value). The training-data filtering primitive: train a
    t-digest over e.g. document lengths, then keep rows between chosen
    percentiles with a WHERE clause — no global sort, no second pass."""
    bc = spark.sparkContext.broadcast(td.to_bytes())

    def cdf(vals: np.ndarray) -> np.ndarray:
        return _on_broadcast(bc, sketch_from_bytes).cdf(vals)

    return _arrow_probe_udf(cdf, "double", in_type=pa.float64())


def bloom_contains_udf(spark: SparkSession, bloom):
    """``long key -> boolean`` membership (zero false negatives)."""
    bc = spark.sparkContext.broadcast(bloom.to_bytes())

    def contains(keys: np.ndarray) -> np.ndarray:
        sk = _on_broadcast(bc, sketch_from_bytes)
        return sk.contains_hashes(keys.view(np.uint64))

    return _arrow_probe_udf(contains, "boolean")
