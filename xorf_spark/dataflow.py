"""Distributed build/probe dataflow: the Spark-native re-expression of the
reference's construction and probe operators.

The reference (ayazhafiz/xorf) is a single-threaded in-memory library; the
whole distributed dataflow — scan → key derivation → exact dedup → hash-prefix
sharding → per-shard build → shard-table persistence → probe — is designed
here Spark-first (SURVEY.md §4.2):

- key derivation: Catalyst expressions only (``xxhash64``), no Python;
- dedup: one ``np.unique`` per shard in ``_build_shard_row``, the one place
  every build path turns raw shard keys into a row. Duplicate keys share a
  hash prefix, so the per-shard unique is the global distinct without a
  dedup shuffle: the work the Rust caller must do by hand (reference
  src/lib.rs:42-44);
- sharding: ``shard_id = key >>> (64 - p)`` — the *hashed* key is uniform, so
  hash-prefix sharding defuses any source/doc-length skew by construction, and
  shards are disjoint key ranges ⇒ filter shards merge associatively (union);
- build: ``groupBy(shard_id).applyInArrow`` running the vectorized numpy
  kernel (reference construction, src/prelude/bfuse.rs:99-316) on one Arrow
  batch of deduped keys per shard;
- shard table: one row per id in ``range(n_shards)`` on every build path,
  so it describes itself like the reference's DMA descriptor
  (src/lib.rs:139-154): ``FilterTable.from_df`` reads the shard count off it;
- probe: vectorized Arrow UDF (reference contains,
  src/prelude/bfuse.rs:321-340) over shard rows broadcast up to 64 MiB,
  mmapped files up to Spark's ``spark.driver.maxResultSize`` (which Spark
  enforces on ``FilterTable.from_df``'s one collect), and above
  that a cogrouped shard-routed probe that never materializes the whole
  filter on one node.
"""

from __future__ import annotations

import math
import re
import time
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from .filters import filter_class

MASK64 = (1 << 64) - 1

#: One row per shard: immutable, mergeable snapshot of a built filter shard.
#: ``fingerprints`` is the little-endian DMA byte layout (reference
#: src/lib.rs:139-154); descriptor fields are plain columns so the parquet
#: shard table is interchangeable with reference DMA buffers.
SHARD_SCHEMA = StructType([
    StructField("shard_id", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("seed", LongType(), False),            # u64 seed, signed view
    StructField("block_length", LongType(), True),     # xor family
    StructField("segment_length", LongType(), True),   # fuse + bfuse
    StructField("segment_length_mask", LongType(), True),
    StructField("segment_count_length", LongType(), True),
    StructField("fingerprints", BinaryType(), False),
    StructField("n_keys", LongType(), False),
    StructField("num_slots", LongType(), False),
    StructField("retries", IntegerType(), False),
    StructField("duplicates", LongType(), False),
    StructField("peel_rounds", IntegerType(), False),
    StructField("build_secs", DoubleType(), False),
])

#: bfuse peak scratch ≈ hxor(8B) + counts(8B) + posxor(1B) per slot ≈ 19B/key
#: at 1.125 overhead plus the key batch itself — 16M keys/shard ≈ ~500MB peak,
#: bounded per python worker.
DEFAULT_TARGET_KEYS_PER_SHARD = 16_000_000


_SHIPPED: set[str] = set()

#: Spark 4.x guards every JVM→python Arrow feed with a per-appended-ROW
#: ``ArrowWriter.sizeInBytes()`` call (BatchedPythonArrowInput.
#: underBatchSizeLimit) to honor ``spark.sql.execution.arrow.
#: maxBytesPerBatch`` — and ``sizeInBytes`` walks the root StructVector's
#: children (``setValueCount``/``getChildren``) each time, costing ~5μs/row
#: of pure JVM CPU. At this library's feed shapes (64-bit key columns at
#: ~1M rows/batch) that accounting is 6-10× the entire useful feed cost
#: (measured: 32M-key HLL fold 5.8s → 0.7s, one-shot sharded build 8.8s →
#: 4.5s on local[32]; BENCH/ROUND6_NOTES.md "Arrow feed wall"). The runner
#: short-circuits the check ONLY at the Int.MaxValue sentinel, so
#: ``ship_package`` pins that sentinel whenever the session still has
#: Spark's default (64 MiB): batches stay bounded by
#: ``arrow.maxRecordsPerBatch`` (rows × row-width, ≤8 MiB for key feeds;
#: every declared query's rows are ≤ a few KiB so no boundary moves), and
#: an explicit user-set byte cap is respected (see ``_tune_arrow_feed``).
_ARROW_MAX_BYTES_KEY = "spark.sql.execution.arrow.maxBytesPerBatch"
_ARROW_MAX_BYTES_DEFAULT = 64 << 20             # Spark 4.1 default, 64 MiB
_ARROW_MAX_BYTES_SENTINEL = str((1 << 31) - 1)  # Int.MaxValue: check skipped
_SIZE_SHIFT = dict(zip("kmgtp", range(10, 60, 10)))


def _byte_count(size: str) -> int | None:
    """Bytes in a Spark size string ("64m", "64MB", "67108864b", "67108864");
    None if it does not parse."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", size.strip().lower())
    return int(m[1]) << _SIZE_SHIFT.get(m[2], 0) if m else None


def _tune_arrow_feed(spark: SparkSession) -> None:
    """Pin the byte-cap sentinel when the conf holds the default byte count,
    in any spelling. A cap the user set explicitly to the default value
    cannot be told apart from the default, and is pinned too."""
    if _byte_count(spark.conf.get(_ARROW_MAX_BYTES_KEY)) == \
            _ARROW_MAX_BYTES_DEFAULT:
        spark.conf.set(_ARROW_MAX_BYTES_KEY, _ARROW_MAX_BYTES_SENTINEL)


def ship_package(spark: SparkSession) -> None:
    """Make ``xorf_spark`` importable on python workers regardless of the
    driver process's cwd/PYTHONPATH: zip the package and ``addPyFile`` it
    (idempotent per SparkContext — the programmatic twin of spark-submit
    ``--py-files dist/xorf_spark.zip``), and apply the library's Arrow-feed
    runtime default (see ``_tune_arrow_feed`` above).

    Idempotence is keyed by ``applicationId`` (unique per context), NOT
    ``id(sc)`` — python ids are reused after GC, and a stale hit would skip
    shipping to a brand-new context."""
    _tune_arrow_feed(spark)
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    import os
    import tempfile

    # under the SparkContext's temp dir, which Spark deletes at shutdown
    zpath = os.path.join(
        tempfile.mkdtemp(prefix="xorf_pyfiles_", dir=sc._temp_dir),
        "xorf_spark.zip")
    zip_package(zpath)
    sc.addPyFile(zpath)
    _SHIPPED.add(sc.applicationId)


def zip_package(out: str) -> None:
    """Write the package's ``.py`` files to the zip ``out``, each under
    ``xorf_spark/...``: the ``--py-files`` archive that ``ship_package``
    adds and ``scripts/make_pyfiles.sh`` writes."""
    import os
    import zipfile

    pkg = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, parent))


# ---------------------------------------------------------------------------
# Key derivation (HashProxy role, reference src/hash_proxy.rs:124-138 — any
# column → LongType expression plays the Hasher)
# ---------------------------------------------------------------------------

def doc_keys(df: DataFrame, cols: list[str] | str = "tokens",
             key_col: str = "key") -> DataFrame:
    """64-bit key per row: ``xxhash64`` of the given columns (JVM-side,
    whole-stage codegen; arrays hash structurally)."""
    if isinstance(cols, str):
        cols = [cols]
    return df.withColumn(key_col, F.xxhash64(*[F.col(c) for c in cols]))


def shingle_keys(df: DataFrame, tokens_col: str = "tokens", k: int = 8,
                 key_col: str = "key") -> DataFrame:
    """One key per k-token shingle (stride 1), fully Catalyst-side.
    Documents shorter than k produce no shingles.

    The per-position hash is ``xxhash64(tokens[i], …, tokens[i+k-1])`` —
    k scalar array accesses per position instead of the earlier
    ``xxhash64(slice(tokens, i, k))``, whose per-position k-element array
    allocation made shingle derivation the token pipeline's dominant cost
    (measured 7.6× slower at 54M shingles; BENCH/ROUND4_NOTES.md). The
    positions are an exploded ``sequence`` and the hash one projection
    over them (:func:`~xorf_spark.functions.explode_shingles`), so
    whole-stage codegen compiles the lot; exploding a ``transform`` array
    instead ran an interpreted lambda per shingle (``ArrayTransform`` is
    a ``CodegenFallback``) and cost a third of ``corpus_build``. Key
    VALUES are an internal fingerprint (build and probe share this
    definition); only determinism and uniformity are contractual."""
    from .functions import explode_shingles

    return explode_shingles(df, tokens_col, k, key_col)


def _key_col(df: DataFrame, name: str) -> Column:
    """``df``'s column ``name`` as a 64-bit filter key: long passes as is,
    byte, short and int widen to long (as the probe side does), and any
    other type raises ``TypeError`` naming the column. xorf takes only
    64-bit keys (reference src/lib.rs:10-11); hash any other type to a
    long first (``doc_keys``, ``xxhash64``: the HashProxy role)."""
    dt = df.select(name).schema.fields[0].dataType
    if isinstance(dt, LongType):
        return F.col(name)
    if isinstance(dt, (ByteType, ShortType, IntegerType)):
        return F.col(name).cast("long")
    raise TypeError(
        f"key column {name!r} has type {dt.simpleString()}; a filter key "
        f"must be byte, short, int or long. Hash other types to a long "
        f"first (xxhash64, doc_keys).")


def _np_keys(keys) -> np.ndarray:
    """uint64 view of the non-null values of an int64 Arrow key column.
    Any other Arrow type raises: viewing a narrower buffer as uint64 would
    pair two keys into one."""
    if keys.type != pa.int64():
        raise TypeError(f"filter keys must be int64, got {keys.type}")
    if isinstance(keys, pa.ChunkedArray):
        keys = keys.combine_chunks()
    return keys.drop_null().to_numpy(zero_copy_only=False).view(np.uint64)


def shard_id_col(key: str | Column = "key", n_shards: int = 16) -> Column:
    """Hash-prefix shard id: top ``log2(n_shards)`` bits of the (already
    uniform) 64-bit key. Disjoint ranges ⇒ shard merge is a plain union.
    ``key`` must be a long column: pass ``_key_col(df, name)`` for a
    column of unchecked type."""
    p = int(math.log2(n_shards))
    if 1 << p != n_shards:
        raise ValueError("n_shards must be a power of two")
    if p == 0:
        return F.lit(0).cast("int")
    key = F.col(key) if isinstance(key, str) else key
    return F.shiftrightunsigned(key, 64 - p).cast("int")


def pick_n_shards(n_keys: int) -> int:
    """Smallest power of two giving ≤ ``DEFAULT_TARGET_KEYS_PER_SHARD``
    keys per shard."""
    want = max(1, -(-n_keys // DEFAULT_TARGET_KEYS_PER_SHARD))
    return 1 << (want - 1).bit_length()


def _shard_count(keys_df: DataFrame, key_col: str,
                 n_shards: int | None) -> int:
    """``n_shards``, or when None the ``pick_n_shards`` count for the
    non-null keys: the raw count, an upper bound on the distinct count,
    at the price of one count job and no shuffle."""
    if n_shards is not None:
        return n_shards
    return pick_n_shards(keys_df.where(_key_col(
        keys_df, key_col).isNotNull()).count())


# ---------------------------------------------------------------------------
# Distributed build
# ---------------------------------------------------------------------------

def _build_shard_row(kind: str, shard_id: int, keys: np.ndarray) -> dict:
    """The shard's row, built over the distinct values of ``keys`` (uint64)
    with the fp width of ``kind``: every build path hands its raw shard
    keys here. ``duplicates`` counts the keys the unique dropped. An empty
    shard gets a zero-slot row (no fingerprints), which probes False for
    every key: the fuse family cannot build an empty filter at all."""
    t0 = time.time()
    cls = filter_class(kind)
    unique = np.unique(keys)
    row = {"shard_id": shard_id, "kind": kind, "seed": 0,
           "block_length": None, "segment_length": None,
           "segment_length_mask": None, "segment_count_length": None,
           "fingerprints": b"", "n_keys": 0, "num_slots": 0, "retries": 0,
           "duplicates": int(keys.size - unique.size), "peel_rounds": 0}
    if unique.size:
        # per-shard deterministic fp-init seed for resumability
        f = cls.from_distinct_keys(unique, fp_seed=0xC0FFEE ^ shard_id)
        row.update(zip(cls.PARAMS, f.params),
                   seed=int(np.uint64(f.seed).view(np.int64)),
                   fingerprints=f.to_dma()[1], n_keys=f.n_keys,
                   num_slots=len(f), retries=f.metrics["retries"],
                   peel_rounds=f.metrics["rounds"])
    row["build_secs"] = time.time() - t0
    return row


#: Arrow twin of ``SHARD_SCHEMA``, the exact types an Arrow stage returns.
_PA_SHARD_SCHEMA = pa.schema([
    ("shard_id", pa.int32()), ("kind", pa.string()),
    ("seed", pa.int64()), ("block_length", pa.int64()),
    ("segment_length", pa.int64()), ("segment_length_mask", pa.int64()),
    ("segment_count_length", pa.int64()), ("fingerprints", pa.binary()),
    ("n_keys", pa.int64()), ("num_slots", pa.int64()),
    ("retries", pa.int32()), ("duplicates", pa.int64()),
    ("peel_rounds", pa.int32()), ("build_secs", pa.float64()),
])


def _build_shard_arrow_fn(kind: str):
    """groupBy().applyInArrow kernel: pyarrow → numpy is zero-copy for the
    int64 key column (no pandas materialization — that conversion costs more
    than the construction itself at 64M-key scale)."""
    def build_shard(table: pa.Table) -> pa.Table:
        keys = _np_keys(table.column("key"))
        shard_id = int(table.column("shard_id")[0].as_py()) if table.num_rows else 0
        return pa.Table.from_pylist([_build_shard_row(kind, shard_id, keys)],
                                    schema=_PA_SHARD_SCHEMA)

    return build_shard


def build_filter_df(keys_df: DataFrame, kind: str = "bfuse8",
                    n_shards: int | None = None, key_col: str = "key"
                    ) -> DataFrame:
    """Lazy shard-table DataFrame for a distributed filter build.

    ``keys_df`` is any DataFrame with a long ``key_col`` (byte, short and
    int widen; other types raise, see ``_key_col``). The plan is a
    SINGLE shuffle: project → repartition by hash-prefix shard id (explicit
    numPartitions, so AQE cannot coalesce the build stage) →
    groupBy(shard).applyInArrow(numpy kernel).

    Exact dedup (the reference precondition, src/lib.rs:42-44) is folded into
    the shard build (``_build_shard_row``, shared by every build path):
    duplicate keys hash to the same prefix, so the per-shard ``np.unique``
    equals a global ``distinct()``, with no dedup shuffle. A shard's
    ``duplicates`` column counts the copies it dropped.

    The shuffle key is the *hashed* key prefix — uniform by construction —
    so source/doc-length skew in the input cannot unbalance the build.
    Every shard id in ``range(n_shards)`` gets a row, an empty shard a
    zero-slot one, so the table carries its own shard count: one NULL-key
    row per shard id rides the shuffle into each group.

    A fuse-family ``kind`` (fuse8/16/32) rarely peels a shard of fewer
    than ~200K keys: the build task fails after ``build_fuse``'s
    attempts. Build bfuse for smaller shards, or use fewer shards.
    """
    filter_class(kind)  # an unknown kind raises before any job
    n_shards = _shard_count(keys_df, key_col, n_shards)
    return _build_df(keys_df, key_col, n_shards, kind)


def _build_df(keys_df: DataFrame, key_col: str, n_shards: int,
              kind: str) -> DataFrame:
    """The plan of :func:`build_filter_df`, with one NULL-key row per id
    in ``range(n_shards)`` so that every shard gets a row."""
    sharded = (keys_df.select(_key_col(keys_df, key_col).alias("key"))
               .where(F.col("key").isNotNull())
               .withColumn("shard_id", shard_id_col("key", n_shards))
               .unionByName(keys_df.sparkSession.range(
                   n_shards, numPartitions=1).select(
                       F.lit(None).cast("long").alias("key"),
                       F.col("id").cast("int").alias("shard_id"))))
    return (sharded.repartition(n_shards, "shard_id").groupBy("shard_id")
            .applyInArrow(_build_shard_arrow_fn(kind), SHARD_SCHEMA))


def _shard_dirs(key_dir: str) -> dict[int, str]:
    """``{shard_id: directory}`` of the ``shard_id=N`` dirs under
    ``key_dir`` (the layout ``_stage_keys`` writes and the streaming key
    log keeps), listed through ``pyarrow.fs``; none when ``key_dir`` does
    not exist. Raises on parquet files in ``key_dir`` itself: keys written
    before the shard layout, which every shard-local reader would skip."""
    from pyarrow import fs as pafs

    fsys, base = pafs.FileSystem.from_uri(key_dir)
    dirs = {}
    for info in fsys.get_file_info(
            pafs.FileSelector(base.rstrip("/"), allow_not_found=True)):
        if info.is_file and info.base_name.endswith(".parquet"):
            raise ValueError(
                f"key directory {key_dir!r} holds unpartitioned parquet "
                f"files (written before the shard_id=N layout); a "
                f"shard-local read would skip their keys. Start at a "
                f"fresh path.")
        m = re.fullmatch(r"shard_id=(\d+)", info.base_name)
        if m and info.type == pafs.FileType.Directory:
            dirs[int(m[1])] = info.path
    return dirs


#: parquet options of every key write: uniform 64-bit keys are
#: incompressible, so snappy + dictionary yield byte-identical file sizes
#: (measured: 416MB either way at 54M keys) and only burn encode/decode CPU
KEY_WRITE = {"compression": "none", "parquet.enable.dictionary": "false"}

#: ``KEY_WRITE`` for a transient spill: page CRCs off too, ~10% of encode
#: CPU (A/B at 54M keys, BENCH/ROUND6_NOTES.md) for integrity over a
#: minutes-long same-job round trip; durable outputs (shard tables,
#: members, the streaming key log) keep their writers' checksum defaults
SPILL_WRITE = {**KEY_WRITE, "parquet.page.write-checksum.enabled": "false"}


def _stage_keys(keys_df: DataFrame, stage_dir: str, n_shards: int,
                key_col: str = "key") -> list[int]:
    """Shared staging stage: project non-null keys → hash-prefix shard id →
    ``write.partitionBy(shard_id)`` parquet (pure JVM), then return the
    sorted shard ids that materialized (:func:`_shard_dirs`; empty input
    writes no shard directory). Used by both the staged build and the
    staged probe so the layout can never drift apart. Duplicates stay:
    probe counts keep multiplicity, and the build drops them per shard
    (``_build_shard_row``)."""
    spark = keys_df.sparkSession
    # write parallelism: repartitioning to exactly n_shards caps the
    # parquet-encode stage at n_shards tasks (16 writers on a 32-core
    # box, and far below executor count on a real cluster). Salting the
    # shuffle key with pmod(key, salt) keeps the partitionBy layout but
    # gives every core a writer; file count stays = n_write_tasks
    # (each task holds exactly one (shard, salt) combo), so the object
    # store sees O(cores) files, not O(input_partitions x n_shards).
    n_write = max(n_shards, spark.sparkContext.defaultParallelism * 2)
    salt = max(1, n_write // n_shards)
    # shuffle the bare 8-byte key and re-derive shard_id ABOVE the
    # exchange: the partitioning expressions are evaluated map-side
    # either way, so row placement is identical, but the shuffled row
    # narrows by the 4-byte shard_id column (measured 5-7% on the
    # 54M-key token spill warm, ~40% cold; BENCH/ROUND6_NOTES.md)
    shard_expr = shard_id_col("key", n_shards)
    (keys_df.select(_key_col(keys_df, key_col).alias("key"))
     .where(F.col("key").isNotNull())
     .repartition(n_shards * salt, shard_expr,
                  F.pmod(F.col("key"), F.lit(salt)))
     .withColumn("shard_id", shard_expr)
     .write.mode("overwrite").options(**SPILL_WRITE)
     .partitionBy("shard_id").parquet(stage_dir))
    return sorted(_shard_dirs(stage_dir))


def _read_shard_keys(key_dir: str, sid: int, n_shards: int) -> np.ndarray:
    """uint64 keys of ``key_dir/shard_id=sid/*.parquet`` (the layout
    ``_stage_keys`` writes and the streaming key log keeps), read on a
    worker by every shuffle-free stage over that layout.

    Paths resolve through ``pyarrow.fs.FileSystem.from_uri``: local paths
    and object-store URIs (s3://, hdfs://, gs://) alike. A shard directory
    with no parquet file raises, as does a key without the directory's
    hash prefix (a directory written under another ``n_shards``): either
    would otherwise probe False for keys it should hold."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    fsys, base = pafs.FileSystem.from_uri(key_dir)
    sel = pafs.FileSelector(f"{base.rstrip('/')}/shard_id={sid}")
    paths = sorted(f.path for f in fsys.get_file_info(sel)
                   if f.is_file and f.path.endswith(".parquet"))
    if not paths:
        raise FileNotFoundError(
            f"staged shard {sid} has no parquet files under {key_dir}")
    keys = _np_keys(pq.read_table(paths, columns=["key"], filesystem=fsys)
                    .column("key"))
    # the prefix is monotone in the key: min and max bound it
    shift = 64 - int(math.log2(n_shards))
    if shift < 64 and keys.size and not (
            int(keys.min()) >> shift == sid == int(keys.max()) >> shift):
        raise ValueError(
            f"{key_dir}/shard_id={sid} holds keys of another shard: it "
            f"was written under a shard count other than {n_shards}")
    return keys


def _commit_members(members_dir: str, sid: int, arrow_table) -> str:
    """Worker-side ``members_dir`` write of :func:`probe_staged`.

    Filesystem-portable task commit: the attempt writes to an
    attempt-unique temp name through ``pyarrow.fs`` (local, s3://,
    hdfs://, gs://), then moves it into place. ``move`` is an atomic
    rename on POSIX and a copy-PUT on object stores; on rename-REFUSING
    filesystems (HDFS semantics) an already-committed destination is
    simply kept and the temp discarded — safe because every attempt of a
    shard task writes IDENTICAL bytes (the member set is deterministic
    from the staged input and the filter), so whichever attempt committed
    first is correct. A half-written temp from a killed attempt never
    becomes visible under the final name.
    """
    import os
    import socket

    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    mfs, mbase = pafs.FileSystem.from_uri(members_dir)
    d = f"{mbase.rstrip('/')}/shard_id={sid}"
    mfs.create_dir(d, recursive=True)
    # attempt-unique temp name: PID alone collides across container
    # hosts (executor PIDs repeat), so two concurrent attempts of the
    # same shard on shared storage could interleave bytes into one
    # temp file; hostname + task attempt id (uuid fallback when no
    # TaskContext, e.g. driver-side tests) disambiguates every
    # attempt in the cluster
    try:
        from pyspark import TaskContext
        ctx = TaskContext.get()
        attempt = str(ctx.taskAttemptId()) if ctx is not None else None
    except Exception:
        attempt = None
    if attempt is None:
        import uuid
        attempt = uuid.uuid4().hex[:12]
    tmp = (f"{d}/.part-0.parquet.tmp-{socket.gethostname()}"
           f"-{os.getpid()}-{attempt}")
    with mfs.open_output_stream(tmp) as fh:
        pq.write_table(arrow_table, fh)
    final = f"{d}/part-0.parquet"
    try:
        mfs.move(tmp, final)
    except OSError:
        if mfs.get_file_info(final).type == pafs.FileType.NotFound:
            raise  # move failed for some other reason — surface it
        mfs.delete_file(tmp)  # lost the commit race to an identical twin
    return final


def _one_row_per_task(spark: SparkSession, **columns: list) -> DataFrame:
    """Task frame whose i-th row (``columns[c][i]`` for each column c) sits
    alone in partition i, so every row gets its own python task. Built
    JVM-side from ``range``; ``repartition(n, col)`` hashed small ints
    unevenly (16 ids into 10 tasks, 64 ids into 37 with up to 4 each)."""
    n = len(next(iter(columns.values())))
    idx = F.col("id").cast("int") + 1
    return spark.range(n, numPartitions=n).select(*[
        F.element_at(F.array(*[F.lit(v) for v in vals]), idx).alias(name)
        for name, vals in columns.items()])


def build_filter_df_staged(keys_df: DataFrame, stage_dir: str,
                           kind: str = "bfuse8", n_shards: int | None = None,
                           key_col: str = "key") -> DataFrame:
    """Two-stage build that decouples the shuffle from the Python kernel:

    1. pure-JVM stage: project → repartition by hash-prefix shard →
       ``write.partitionBy(shard_id)`` parquet under ``stage_dir`` (all
       whole-stage codegen; no Python touches a row);
    2. shuffle-free Python stage (:func:`_build_from_shard_dirs`): one
       task per shard id reads ITS OWN parquet files directly with
       pyarrow and runs the numpy construction.

    Staging through parquet turns the JVM→python key feed into a
    columnar file read on the worker side, and the materialization
    barrier buys retry between the two stages. Since the Arrow feed's
    per-row byte accounting is skipped (``_tune_arrow_feed``), the
    one-shot build is the faster one: 2.77 s against 4.48 s for this
    path in ``bench.py`` (BENCH_r06). Shards, one per id in
    ``range(n_shards)``, are byte-identical to :func:`build_filter_df`'s.
    """
    filter_class(kind)  # an unknown kind raises before any job
    n_shards = _shard_count(keys_df, key_col, n_shards)
    listed = _stage_keys(keys_df, stage_dir, n_shards, key_col)
    return _build_from_shard_dirs(keys_df.sparkSession, stage_dir,
                                  list(range(n_shards)), set(listed),
                                  n_shards, kind)


def _build_from_shard_dirs(spark: SparkSession, key_dir: str,
                           shard_ids: list[int], listed: set[int],
                           n_shards: int, kind: str) -> DataFrame:
    """Shuffle-free build stage over a shard-partitioned key directory
    (``key_dir/shard_id=N/*.parquet``, the layout ``_stage_keys`` writes
    and the streaming key log keeps): one python task per id in
    ``shard_ids`` reads its own files (:func:`_read_shard_keys`) and makes
    one ``_build_shard_row`` call.

    ``listed`` holds the shard ids whose directory the driver saw; a
    listed shard with no parquet file raises, an unlisted one gets a
    zero-slot row."""
    if not shard_ids:
        return spark.createDataFrame([], SHARD_SCHEMA)
    tasks = _one_row_per_task(spark, shard_id=shard_ids,
                              listed=[sid in listed for sid in shard_ids])

    def build_from_files(batches):
        for batch in batches:
            for sid, has_files in zip(batch.column("shard_id").to_pylist(),
                                      batch.column("listed").to_pylist()):
                keys = (_read_shard_keys(key_dir, sid, n_shards) if has_files
                        else np.empty(0, dtype=np.uint64))
                yield pa.RecordBatch.from_pylist(
                    [_build_shard_row(kind, sid, keys)],
                    schema=_PA_SHARD_SCHEMA)

    return tasks.mapInArrow(build_from_files, SHARD_SCHEMA)


#: Sidecar file stamping a shard table with the KEY DEFINITION it was
#: built under (see ``build_filter_table(key_def=...)``).
KEYDEF_FILE = "_XORF_KEYDEF"


def shingle_key_def(k: int) -> str:
    """Canonical ``key_def`` tag for tables built from
    :func:`shingle_keys` output. Bump the version whenever the shingle
    fingerprint definition changes (v2 = scalar element accesses,
    BENCH/ROUND4_NOTES.md; v1 was ``xxhash64(slice(tokens, i, k))``).
    Moving from an exploded ``transform`` array to an exploded
    ``sequence`` plus a projection changed how the keys are computed, not
    their values, so it is still v2."""
    return f"shingle/xxhash64-scalar/v2/k={int(k)}"


def _keydef_io(path: str):
    from pyarrow import fs as pafs

    fsys, base = pafs.FileSystem.from_uri(path)
    return fsys, f"{base.rstrip('/')}/{KEYDEF_FILE}"


def _read_keydef(path: str) -> str | None:
    from pyarrow import fs as pafs

    fsys, p = _keydef_io(path)
    if fsys.get_file_info(p).type == pafs.FileType.NotFound:
        return None
    with fsys.open_input_stream(p) as fh:
        return fh.read().decode("utf-8").strip()


def _write_keydef(path: str, tag: str) -> None:
    fsys, p = _keydef_io(path)
    fsys.create_dir(p.rsplit("/", 1)[0], recursive=True)
    with fsys.open_output_stream(p) as fh:
        fh.write(tag.encode("utf-8"))


def build_filter_table(keys_df: DataFrame, path: str, kind: str = "bfuse8",
                       n_shards: int | None = None, key_col: str = "key",
                       key_def: str | None = None) -> None:
    """Checkpoint-resumable build: writes the shard table as parquet at
    ``path``; read it with ``FilterTable.load`` or ``spark.read.parquet``.

    Shards are append-only and deterministic (fixed seed schedule from
    splitmix64 state 1 + per-shard fp-init seed), so a restarted job
    anti-joins the already-committed shard ids and only builds the missing
    ones — the final table is identical to an uninterrupted run. As in
    :func:`build_filter_df`, every shard id gets a row (``FilterTable.load``
    reads the shard count off them), and a fuse-family shard of fewer than
    ~200K keys rarely builds: use bfuse for smaller shards, or fewer shards.

    ``key_def`` names the DEFINITION of the key column (e.g.
    ``shingle_key_def(8)`` for :func:`shingle_keys` output). It is
    stamped into a ``_XORF_KEYDEF`` sidecar on first build and checked on
    every resume: resuming a table built under a different key
    definition would mark old-definition shards "done" and build the rest
    under the new one — a mixed-key table whose probes (which derive keys
    with the CURRENT definition) silently miss the old shards, violating
    the zero-false-negative contract. Mismatch raises instead. A table
    with no sidecar is legacy-unversioned: resuming it with an explicit
    ``key_def`` also raises (compatibility can't be proven — rebuild at a
    fresh path, or keep ``key_def=None`` if the definition truly never
    changed).
    """
    filter_class(kind)  # an unknown kind raises before any job

    def build(done_ids: set[int]) -> DataFrame:
        n = _shard_count(keys_df, key_col, n_shards)
        pending = keys_df
        if done_ids:
            pending = keys_df.where(~shard_id_col(
                _key_col(keys_df, key_col), n).isin(list(done_ids)))
        return _build_df(pending, key_col, n, kind)

    _append_shards(keys_df.sparkSession, path, build, key_def)


def _append_shards(spark: SparkSession, path: str, build,
                   stamp: str | None = None, id_col: str = "shard_id",
                   noun: str = "key-definition") -> None:
    """The resumable, stamped write behind both lineage tables: filter
    shard tables (:func:`build_filter_table`, the streaming refresh's
    versions; ``stamp`` is the ``key_def``) and sketch tables
    (``sketches.dataflow.build_sketch_table``; ``id_col="part_id"``,
    ``stamp`` the wiring tag, ``noun="wiring"``). Reads the ids already
    committed at ``path`` (``done_ids``), checks the ``_XORF_KEYDEF``
    sidecar, then appends ``build(done_ids)``'s rows for the other ids.

    - The sidecar is read on every call.
    - A ``stamp`` that differs from the sidecar raises: the table was
      built under another definition, and mixing the two corrupts what
      it answers.
    - A table with committed ids and no sidecar (built before
      versioning) raises when ``stamp`` is not None: its compatibility
      cannot be proven.
    - A fresh table is stamped BEFORE its data: a crash in between leaves
      a stamped empty table that continues cleanly, whereas data-then-
      stamp could strand an unstamped table that later appends refuse.
    """
    try:
        done = spark.read.parquet(path).select(id_col).distinct()
        done_ids = {r[0] for r in done.collect()}
    except AnalysisException:
        # only path-not-found means "no table yet"; a transient FS
        # error must propagate (rebuilding every id on a flaky listing
        # appends duplicates, which double an additive sketch's mass)
        done_ids = set()
    existing = _read_keydef(path)
    if existing is not None and stamp != existing:
        raise ValueError(
            f"{noun} mismatch appending to {path!r}: table was built "
            f"under {existing!r}, this build derives {stamp!r}. Mixing "
            f"them corrupts what the table answers — rebuild it at a "
            f"fresh path.")
    if existing is None and stamp is not None and done_ids:
        raise ValueError(
            f"table at {path!r} has no {noun} stamp (built before "
            f"versioning); cannot prove it matches {stamp!r}. Rebuild "
            f"at a fresh path.")
    df = build(done_ids)
    if done_ids:
        df = df.where(~F.col(id_col).isin(list(done_ids)))
    if existing is None and stamp is not None:
        _write_keydef(path, stamp)
    df.write.mode("append").parquet(path)


# ---------------------------------------------------------------------------
# Probe side
# ---------------------------------------------------------------------------

def _no_members(keys: np.ndarray) -> np.ndarray:
    """The verdict of a shard that holds no keys: False for every key."""
    return np.zeros(keys.size, dtype=bool)


def _filter_from_row(row) -> Callable[[np.ndarray], np.ndarray]:
    """Probe callable from a shard row of either transport, decoded by the
    kind's checked constructor (``from_layout``, as ``from_dma``) without
    copying fingerprints: the row's own bytes, or a shipped row's
    ``__file`` (:func:`_ship_fp_files`), mmapped read-only. A layout the
    fingerprints cannot hold raises ``ValueError``. A zero-slot row (an
    empty shard: no fingerprints, no keys) answers :func:`_no_members`."""
    cls = filter_class(row["kind"])
    if "__file" in row:
        from pyspark import SparkFiles

        fps = np.memmap(SparkFiles.get(row["__file"]), mode="r")
    elif not len(row["fingerprints"]) and not row["n_keys"]:
        return _no_members
    else:
        fps = row["fingerprints"]
    return cls.from_layout(int(row["seed"]) & MASK64,
                           [int(row[p]) for p in cls.PARAMS], fps).contains


class FilterTable:
    """A built, sharded filter: routes probes by hash prefix.

    Holds plain shard rows (descriptor columns + fingerprint bytes) — cheap to
    pickle into a Spark broadcast; probe callables are built lazily as
    zero-copy numpy views over the bytes (reference ``from_dma`` spirit,
    src/bfuse8.rs:159-168).
    """

    def __init__(self, rows: dict[int, dict], n_shards: int):
        self.rows = rows
        self.n_shards = max(int(n_shards), 1)
        self.prefix_bits = int(math.log2(self.n_shards))
        self._fns: dict[int, object] = {}
        #: per-SparkContext shipped fingerprint files, keyed by
        #: applicationId (NOT id(sc) — ids are reused after GC): shipping
        #: ~GBs of fingerprints is a fixed cost worth paying once per table
        self._shipped: dict[str, dict[int, dict]] = {}

    def ship_fps(self, spark: SparkSession) -> dict[int, dict]:
        """addFile-ship this table's fingerprints (once per SparkContext;
        repeat probes reuse the same files); returns the shard descriptor
        rows, each naming its file."""
        app = spark.sparkContext.applicationId
        meta = self._shipped.get(app)
        if meta is None:
            meta = self._shipped[app] = _ship_fp_files(spark, self.rows)
        return meta

    @classmethod
    def from_df(cls, shard_df: DataFrame,
                n_shards: int | None = None) -> "FilterTable":
        """Collect the shard table into a driver-side FilterTable.

        The shard count is read off the rows: their ids must be exactly
        ``range(n)``, ``n`` a power of two, which every build path writes.
        A table with an id missing (or repeated) raises, since probes of
        the missing shard would answer False for keys it holds. A passed
        ``n_shards`` is only checked against the rows.

        The table is collected in one job, and Spark's own
        ``spark.driver.maxResultSize`` guards it: Spark aborts a collect
        whose results exceed the cap, and that refusal is raised here as a
        ``ValueError`` that names the distributed probe paths. Oversize
        filters should stay distributed: probe through
        ``probe_cogrouped`` / ``probe_staged`` or the auto-routing
        ``filter_semi_join`` / ``filter_anti_join``.
        """
        try:
            rows = [r.asDict() for r in shard_df.collect()]
        except Py4JJavaError as e:
            if "spark.driver.maxResultSize" not in str(e):
                raise
            raise ValueError(
                "shard table exceeds spark.driver.maxResultSize. Keep the "
                "filter distributed: probe_cogrouped/probe_staged, or "
                "filter_semi_join/filter_anti_join, which route above "
                "it; or raise the conf if the driver has the headroom.") \
                from e
        ids = sorted(r["shard_id"] for r in rows)
        n = len(ids)
        if (not n or n & (n - 1) or ids != list(range(n))
                or n_shards not in (None, n)):
            raise ValueError(
                f"incomplete shard table: {n} rows, ids up to "
                f"{max(ids, default=None)}, n_shards={n_shards}. A complete "
                f"table has one row per id in range(n), n a power of two; "
                f"a missing shard would probe False for every key it holds.")
        return cls({r["shard_id"]: r for r in rows}, n)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "FilterTable":
        return cls.from_df(spark.read.parquet(path))

    def _fn(self, sid: int):
        fn = self._fns.get(sid)
        if fn is None:
            fn = self._fns[sid] = _filter_from_row(self.rows[sid])
        return fn

    @property
    def n_keys(self) -> int:
        return sum(r["n_keys"] for r in self.rows.values())

    @property
    def total_fingerprint_bytes(self) -> int:
        return sum(len(r["fingerprints"]) for r in self.rows.values())

    def bits_per_entry(self) -> float:
        nk = self.n_keys
        return self.total_fingerprint_bytes * 8.0 / nk if nk else float("inf")

    def contains_np(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys)
        if keys.dtype == np.int64:
            keys = keys.view(np.uint64)
        keys = keys.astype(np.uint64, copy=False)
        if self.prefix_bits == 0:
            return self._fn(0)(keys)
        out = np.zeros(keys.size, dtype=bool)
        pref = (keys >> np.uint64(64 - self.prefix_bits)).astype(np.int64)
        for sid in self.rows:
            m = pref == sid
            if m.any():
                out[m] = self._fn(sid)(keys[m])
        return out

    def contains_udf(self, spark: SparkSession):
        """Membership probe as a scalar ``arrow_udf`` (``long -> boolean``):
        call it on a column for WHERE clauses and joins, or register it
        for SQL strings with ``functions.register_sql_udfs``. A NULL key
        gives a NULL verdict; integer columns narrower than long widen.

        The table's own fingerprint byte count picks how the bytes reach
        the python workers; only what is broadcast differs:

        - up to ``MAX_BROADCAST_FP_BYTES``, the shard rows ride the
          broadcast: each python worker holds its own heap copy, freed
          when the broadcast dies;
        - above it, the broadcast carries descriptors only, and each
          shard's fingerprints go to a file shipped with
          ``SparkContext.addFile``, fetched once per executor node and
          ``np.memmap``-ed read-only: all workers on a node share one
          page-cache copy, so worker memory does not grow with the
          worker count. Files added with ``addFile`` live as long as the
          SparkContext, not the broadcast: a table ships them once per
          SparkContext, and they are not freed before it stops.

        Each worker builds the probe table once per broadcast and drops
        it with the broadcast (:func:`_on_broadcast`).
        """
        shards = (self.ship_fps(spark)
                  if self.total_fingerprint_bytes > MAX_BROADCAST_FP_BYTES
                  else self.rows)
        bc = spark.sparkContext.broadcast((shards, self.n_shards))

        def contains(keys: np.ndarray) -> np.ndarray:
            table = _on_broadcast(bc, lambda v: FilterTable(*v))
            return table.contains_np(keys)

        return _arrow_probe_udf(contains, "boolean")

    def where_member(self, df: DataFrame, key_col: str = "key",
                     negate: bool = False) -> DataFrame:
        """Membership pre-filter — the reference's stated use case
        (src/lib.rs:2-4): keep (or drop) rows whose key the filter accepts.
        Zero false negatives ⇒ never drops a true member. NULL keys are
        excluded either way (their verdict is NULL — SQL semantics).

        Implementation note: this intentionally stays on the scalar-UDF
        expression path (``contains_udf``): Spark's ArrowEvalPython ships
        ONLY the key column to python and a bool back. A ``mapInArrow``
        variant was measured interleaved at 32M probes on local[32] and
        lost ~4× (6.0 vs 27.2M lookups/s) because it round-trips EVERY
        column of ``df`` through the python worker. For bulk probes that
        materialize results anyway, ``probe_staged`` is the no-feed scale
        path."""
        udf = self.contains_udf(df.sparkSession)
        cond = udf(F.col(key_col))
        return df.where(~cond if negate else cond)


def _on_broadcast(bc, make):
    """``make(bc.value)``, made once per python worker and kept on the
    worker's ``Broadcast`` object. The worker's broadcast registry hands
    every task the same object and drops it when a task arrives without
    the broadcast, so what ``make`` builds lives exactly as long as the
    bytes it was built from: probe state needs no cache and no eviction."""
    try:
        return bc._xorf_probe
    except AttributeError:
        made = bc._xorf_probe = make(bc.value)
        return made


def _apply_null_aware(kernel, arr: pa.Array, in_type: pa.DataType) -> pa.Array:
    """``kernel`` over the values of ``arr``, with ``arr``'s nulls kept.

    ``arr`` is cast to ``in_type`` first: narrower ints widen, and a lossy
    cast (fractions, out-of-range values) raises. The kernel sees a
    null-free numpy view of the values — never ``to_numpy`` of a
    null-bearing array, which returns float64 and silently drops the low
    bits of every 64-bit key in it (false negatives for a filter probe).
    Null slots are filled with 0 for the kernel; their results are masked
    back to NULL."""
    arr = pc.cast(arr, in_type)
    if not arr.null_count:
        return pa.array(kernel(arr.to_numpy()))
    out = kernel(arr.fill_null(0).to_numpy())
    return pa.array(out, mask=arr.is_null().to_numpy(zero_copy_only=False))


def _arrow_probe_udf(kernel, out_type: str, in_type: pa.DataType = pa.int64()):
    """Scalar ``arrow_udf`` running ``kernel`` (numpy in, numpy out) on each
    batch through :func:`_apply_null_aware`: ``f(NULL) IS NULL``, and the
    kernel only ever sees exact ``in_type`` values."""
    from pyspark.sql.functions import arrow_udf

    def probe(values: pa.Array) -> pa.Array:
        return _apply_null_aware(kernel, values, in_type)

    return arrow_udf(probe, out_type)


def _ship_fp_files(spark: SparkSession, rows: dict[int, dict]
                   ) -> dict[int, dict]:
    """Write each shard's fingerprints to a per-shard file shipped with
    ``SparkContext.addFile`` (fetched once per executor NODE, then
    ``np.memmap``-ed read-only by every worker process — one page-cache
    copy per node instead of N heap copies). Returns
    ``{shard_id: descriptor_row_with___file}``. A zero-slot row
    ships no file (an empty file cannot be mmapped): it keeps its empty
    fingerprints instead of a ``__file``. The files are written under the
    SparkContext's own temp dir, which Spark deletes at shutdown."""
    import tempfile
    import uuid

    sc = spark.sparkContext
    uid = uuid.uuid4().hex[:12]
    tmpdir = tempfile.mkdtemp(prefix=f"xorf_fps_{uid}_", dir=sc._temp_dir)
    meta: dict[int, dict] = {}
    for sid, row in rows.items():
        if not len(row["fingerprints"]):
            meta[sid] = row
            continue
        meta[sid] = {k: row[k] for k in row if k != "fingerprints"}
        fname = f"xorf_{uid}_{sid}.bin"
        path = f"{tmpdir}/{fname}"
        with open(path, "wb") as fh:
            fh.write(row["fingerprints"])
        sc.addFile(path)
        meta[sid]["__file"] = fname
    return meta


#: Above this many fingerprint bytes ``contains_udf`` ships a table's
#: fingerprints as addFile'd, mmapped files instead of broadcasting them.
#: Above :func:`_collect_cap` the inline semi/anti-join does not collect
#: the shard table at all and probes through the cogrouped shard-local
#: path, so the ladder is: broadcast ≤ 64 MiB < mmap files ≤
#: ``spark.driver.maxResultSize``, which Spark enforces on the collect
#: (``FilterTable.from_df``) < cogrouped.
MAX_BROADCAST_FP_BYTES = 64 << 20


def _collect_cap(spark: SparkSession) -> float:
    """Fingerprint bytes the driver may collect: Spark's own
    ``spark.driver.maxResultSize``. Unset means Spark's default, 1g, and
    0 means no cap, as in Spark."""
    size = spark.conf.get("spark.driver.maxResultSize", "1g")
    cap = _byte_count(size)
    if cap is None:
        raise ValueError(f"spark.driver.maxResultSize={size!r} does not "
                         f"parse as a size")
    return cap or math.inf


#: Hint ``F.broadcast`` on the exact-backstop join when the build side has at
#: most this many distinct keys (8M longs ≈ 64MB hashed relation) instead of
#: relying on AQE's conservative post-shuffle estimate.
BROADCAST_JOIN_MAX_KEYS = 8_000_000


def _est_fp_bytes(n_keys: int, kind: str) -> int:
    """Conservative fingerprint-size estimate before building: slot overhead
    is ≤1.23 (xor) / ≤1.125+32 segs (bfuse/fuse); 1.3 covers all kinds."""
    return int(n_keys * 1.3) * (filter_class(kind).FP_BITS // 8)


def _member_flag(probe_df: DataFrame, build_df: DataFrame,
                 probe_key: str, build_key: str, kind: str,
                 table: FilterTable | None,
                 out_col: str = "__xorf_member") -> tuple[DataFrame, int]:
    """Probe rows + boolean membership column, routed by filter size.

    Returns ``(flagged_df, n_build_keys)``. ``flagged_df`` keeps the derived
    ``__xorf_key`` column (caller drops it). Inline builds shard with
    ``pick_n_shards`` — never the old single-shard funnel — and above
    :func:`_collect_cap` the shard table stays distributed
    (``probe_cogrouped``), so no driver collect at any size.

    The probe UDF is nondeterministic so Catalyst cannot infer the filter
    across the join equality onto the build side (all members by
    construction). So a predicate on the join's output is not pushed below
    the probe either: filter the probe side before the join.
    """
    filter_class(kind)  # an unknown kind raises before any job
    spark = probe_df.sparkSession
    probed = doc_keys(probe_df, cols=probe_key, key_col="__xorf_key")

    def flag(t: FilterTable) -> DataFrame:
        udf = t.contains_udf(spark).asNondeterministic()
        return probed.withColumn(out_col, udf(F.col("__xorf_key")))

    if table is not None:
        return flag(table), table.n_keys
    keys = doc_keys(build_df.select(build_key), cols=build_key)
    n_build = keys.count()
    n_shards = pick_n_shards(n_build)
    shard_df = build_filter_df(keys, kind=kind, n_shards=n_shards)
    if _est_fp_bytes(n_build, kind) <= _collect_cap(spark):
        table = FilterTable.from_df(shard_df)
        return flag(table), n_build  # auto broadcast→mmap above 64MB
    flagged = probe_cogrouped(probed, shard_df, n_shards,
                              key_col="__xorf_key", out_col=out_col)
    return flagged, n_build


def _build_keys_side(build_df: DataFrame, build_key: str,
                     n_build: int) -> DataFrame:
    side = build_df.select(F.col(build_key).alias("__xorf_bk")).distinct()
    if n_build <= BROADCAST_JOIN_MAX_KEYS:
        side = F.broadcast(side)
    return side


def filter_semi_join(probe_df: DataFrame, build_df: DataFrame,
                     probe_key: str, build_key: str,
                     table: FilterTable | None = None,
                     kind: str = "bfuse8") -> DataFrame:
    """Membership semi-join: filter pre-pass + exact backstop.

    The filter pass eliminates ~(1-FPP) of non-matching probe rows *before*
    the shuffle; a real ``left_semi`` join then removes the residual false
    positives, so the result equals the exact semi-join — at a fraction of
    the shuffled bytes (``where_member`` is the filter pass alone). This
    is the distributed analog of the reference's "filter in front of
    slower lookup" pattern (src/lib.rs:2-4).
    NULL probe keys are dropped. The filter runs once per probe row, on the
    probe side only. The probe is nondeterministic (see ``_member_flag``),
    so a predicate on the result is not pushed below it: filter
    ``probe_df`` before calling.

    Inline builds (no ``table``) are scale-safe by default: sharded with
    ``pick_n_shards``, probed via broadcast / addFile-mmap / cogrouped
    depending on filter size (see ``_member_flag``); the exact backstop hints
    ``F.broadcast`` when the build side is small enough.
    """
    flagged, n_build = _member_flag(
        probe_df, build_df, probe_key, build_key, kind, table)
    passed = (flagged.where(F.col("__xorf_member"))
              .drop("__xorf_key", "__xorf_member"))
    return passed.join(_build_keys_side(build_df, build_key, n_build),
                       on=F.col(probe_key) == F.col("__xorf_bk"),
                       how="left_semi")


def filter_anti_join(probe_df: DataFrame, build_df: DataFrame,
                     probe_key: str, build_key: str,
                     table: FilterTable | None = None,
                     kind: str = "bfuse8") -> DataFrame:
    """Exact anti-join accelerated by the filter: rows the filter rejects are
    *definitely* non-members (zero false negatives), so only filter-accepted
    rows (matches + FPP residue) can be removed by the exact backstop. NULL
    probe keys are kept; the inline build is as in ``filter_semi_join``.
    One ``left_anti`` on ``member AND probe_key = bk``, broadcast or
    shuffled backstop alike: one filter evaluation per probe row, on the
    probe side only. The probe is nondeterministic, so a predicate on the
    result is not pushed below it: filter ``probe_df`` before calling."""
    flagged, n_build = _member_flag(
        probe_df, build_df, probe_key, build_key, kind, table)
    on = F.col("__xorf_member") & (F.col(probe_key) == F.col("__xorf_bk"))
    return (flagged.join(_build_keys_side(build_df, build_key, n_build),
                         on=on, how="left_anti")
            .drop("__xorf_key", "__xorf_member"))


def probe_cogrouped(probe_df: DataFrame, shard_df: DataFrame,
                    n_shards: int, key_col: str = "key",
                    out_col: str = "member") -> DataFrame:
    """Probe path for filters too large to broadcast: repartition probes by
    the same hash prefix used at build time and cogroup (``applyInArrow``)
    with the shard table, so each task sees exactly one shard's
    fingerprints (mmap-scale). NULL keys fall into the NULL ``shard_id``
    group, which no shard row joins, and get a NULL verdict there. A task
    raises ``ValueError`` on a probe group with no shard row or a shard
    row with id ≥ ``n_shards`` (a wrong ``n_shards``); it cannot see a
    table with fewer shards when every probe key falls in its id range."""
    probes = probe_df.withColumn(
        "shard_id", shard_id_col(_key_col(probe_df, key_col), n_shards))
    out_schema = StructType(
        probe_df.schema.fields + [StructField(out_col, BooleanType(), True)])

    def probe(pkeys: pa.Table, shard: pa.Table) -> pa.Table:
        # every build writes one row per shard id: only the NULL-key
        # group may lack one
        row = shard.slice(0, 1).to_pylist()[0] if shard.num_rows else None
        sid = (row or pkeys.slice(0, 1).to_pylist()[0])["shard_id"]
        if sid is not None and (row is None or sid >= n_shards):
            raise ValueError(f"shard {sid} {'has' if row else 'lacks'} a "
                             f"row: n_shards={n_shards} is not the table's")
        fn = _no_members if row is None else _filter_from_row(row)
        pkeys = pkeys.drop_columns(["shard_id"])
        verdict = _apply_null_aware(lambda k: fn(k.view(np.uint64)),
                                    pkeys.column(key_col).combine_chunks(),
                                    pa.int64())
        return pkeys.append_column(pa.field(out_col, pa.bool_()), verdict)

    return (probes.groupBy("shard_id")
            .cogroup(shard_df.groupBy("shard_id"))
            .applyInArrow(probe, out_schema))


_PA_PROBE_COUNTS = pa.schema([("shard_id", pa.int32()),
                              ("n_probes", pa.int64()),
                              ("n_members", pa.int64())])


def probe_staged(probe_df: DataFrame, table: "FilterTable", stage_dir: str,
                 key_col: str = "key",
                 members_dir: str | None = None) -> DataFrame:
    """Staged membership probe — the probe-side twin of
    ``build_filter_df_staged``:

    1. pure-JVM stage: non-null probe keys → hash-prefix ``shard_id`` →
       ``write.partitionBy(shard_id)`` parquet under ``stage_dir`` (all
       whole-stage codegen; no python touches a row);
    2. shuffle-free python stage: one task per shard reads ITS OWN parquet
       files with pyarrow and probes the shard's fingerprints, which
       arrive via the addFile+mmap path (one page-cache copy per node).

    No JVM→python Arrow feed of the key stream — the serial resource the
    UDF probe contends on in local mode, and the reason this is the path
    whose scaling models N→4N executors (BENCH/SCALING_2v8.md). Use it
    when the verdict set is going to be materialized anyway (bulk
    semi-join pre-pass, decontamination sweeps); use ``contains_udf`` /
    ``where_member`` for interactive WHERE-clause probes.

    Returns one row per probed shard: ``(shard_id, n_probes, n_members)``.
    NULL keys are excluded JVM-side (their verdict is NULL, not a count).
    With ``members_dir``, each task also writes its passing keys as
    parquet under ``members_dir/shard_id=N/`` — the materialized
    pre-pass output, committed through the filesystem-portable path of
    :func:`_commit_members` (pyarrow.fs, not POSIX rename).
    """
    spark = probe_df.sparkSession
    n_shards = table.n_shards  # the closure must not capture the table
    bc_meta = spark.sparkContext.broadcast((table.ship_fps(spark), n_shards))
    shard_ids = _stage_keys(probe_df, stage_dir, n_shards, key_col)
    out_schema = "shard_id int, n_probes long, n_members long"
    if not shard_ids:
        return spark.createDataFrame([], out_schema)
    tasks = _one_row_per_task(spark, shard_id=shard_ids)

    def probe_from_files(batches):
        for batch in batches:
            for sid in batch.column("shard_id").to_pylist():
                arr = _read_shard_keys(stage_dir, sid, n_shards)
                # one table per broadcast: a reused python worker probing
                # more of its shards skips the descriptor rebuild, and a
                # shard's memmap is made once per worker
                shards = _on_broadcast(bc_meta, lambda v: FilterTable(*v))
                verdict = shards._fn(sid)(arr)
                if members_dir is not None:
                    _commit_members(
                        members_dir, sid,
                        pa.table({"key": arr[verdict].view(np.int64)}))
                yield pa.RecordBatch.from_pydict(
                    {"shard_id": [sid], "n_probes": [int(arr.size)],
                     "n_members": [int(verdict.sum())]},
                    schema=_PA_PROBE_COUNTS)

    return tasks.mapInArrow(probe_from_files, out_schema)
