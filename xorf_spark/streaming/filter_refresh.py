"""Streaming filter maintenance: keep a queryable membership filter of
every key the stream has ever delivered, refreshed per micro-batch group
via ``foreachBatch`` — the streaming completion of the batch build
(reference semantics: a filter is built once over a key set; a stream's
key set only grows, so the operator periodically rebuilds over the
accumulated keys).

Layout under ``table_path``::

    keys/shard_id=N/       append-only key log, laid out by hash-prefix
                           shard (``dataflow.shard_id_col``): the layout of
                           the staged build's spill, so the log IS the
                           build's stage
    g0b0/, g1b3/, ...      immutable shard tables (one per refresh;
                           name = monotonic GENERATION + triggering batch)
    _LATEST                text file: current version dir name, then the
                           predecessor's, whitespace-separated

Each micro-batch appends its non-null keys, re-deliveries included, with
``write.partitionBy("shard_id")``: no shuffle, no per-batch distinct. A
refresh is the file-reading stage of the staged build run directly over
the log: one python task per shard id reads ``keys/shard_id=N/`` with
pyarrow and builds that shard through the build's one shard-row maker
(``dataflow._build_shard_row``), which ``np.unique``s the keys first. No
global ``distinct()`` is needed: hash-prefix shards are disjoint key
ranges, so every copy of a key lies in the same shard directory and the
per-shard ``np.unique`` is the global distinct restricted to that shard;
re-delivered keys are counted in the version's ``duplicates`` column.
Every refresh writes one row per shard id, empty shards included, so a
loaded version knows its shard count.

Version names carry a monotonic **generation** read from the current
pointer (gen = pointer's gen + 1), NOT the raw batch id: batch ids
restart at 0 after a checkpoint reset, and a batch-id-derived name could
collide with a retained COMPLETE old version dir — the rebuild's
resume pass would then see every shard 'done' and swap the pointer to a
STALE table, silently violating the zero-false-negative contract (r3
advisory). With generations, a fresh rebuild can only ever reuse a dir
name left by a crashed replay of the SAME batch in the SAME incarnation
— exactly the case checkpoint-resume is built for — and never the
pointer's current target.

The swap is ATOMIC at the pointer level: a new version directory is fully
written by the checkpoint-resumable builder before ``_LATEST`` is
rewritten (written to a temp name then renamed — a single rename on
POSIX; on object stores the final PUT replaces the object atomically),
so a reader loading via :func:`load_latest_filter_table` always sees a
complete table — either the old or the new version, never a half-built
or half-written one. Pruning keeps the two versions the pointer itself
records (current + predecessor), so a crash-after-swap replay can never
delete the directory a concurrent reader loaded via the pre-crash
pointer.

Scale notes: the log grows with total delivered (not distinct) rows, and
its file count with the number of batches (an append writes up to one
file per shard per input partition). A refresh reads the whole log, and
a shard's task holds that shard's raw log rows (8 bytes each) plus
``np.unique``'s sorted copy. :func:`compact_key_log` rewrites each shard
directory to its distinct keys in one file, bounding both — crash-safe,
append-concurrent-safe; schedule it between refreshes (see its
docstring); the immutable versions are never invalidated by log
maintenance. A key log the layout would misread is refused: parquet
files in the root of ``keys/`` (a log written before the shard layout)
or shard directories written under another ``n_shards``.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dataflow import (
    KEY_WRITE,
    FilterTable,
    _append_shards,
    _build_from_shard_dirs,
    _key_col,
    _shard_dirs,
    shard_id_col,
)
from ..filters import filter_class
# shared (filesystem, base) resolver + replace-aware rename: all
# pointer/prune I/O here runs on the DRIVER (foreachBatch callbacks
# execute driver-side), so no worker needs filesystem credentials
# beyond what the writes already use
from ..operators.sink import _fs, _move_replace, _read_with_fallback


def _pointer_path(base: str) -> str:
    return f"{base}/_LATEST"


def pointer_versions(table_path: str) -> tuple[str | None, str | None]:
    """``(current, predecessor)`` version dir names as recorded in the
    pointer file, or Nones before the first refresh / for a pre-r4
    single-name pointer. Real I/O errors (auth, network) propagate —
    only not-found means "no version yet"."""
    fsys, base = _fs(table_path)
    # fallback reads the rename-aside copy a crashed pointer swap may
    # have left on rename-refusing filesystems (sink._move_replace):
    # the previous committed pointer — never a torn or missing one
    raw = _read_with_fallback(fsys, _pointer_path(base))
    if raw is None:
        return None, None
    toks = raw.decode().split()
    return (toks[0] if toks else None,
            toks[1] if len(toks) > 1 else None)


def latest_version(table_path: str) -> str | None:
    """Current version directory name (e.g. ``"g2b7"``), or None before
    the first refresh."""
    return pointer_versions(table_path)[0]


def _generation(version: str | None) -> int:
    """Monotonic generation parsed from a version dir name; -1 for no /
    legacy (``v7``-style) pointers so the next generation starts at 0."""
    m = re.fullmatch(r"g(\d+)b\d+", version or "")
    return int(m.group(1)) if m else -1


def load_latest_filter_table(spark: SparkSession,
                             table_path: str) -> FilterTable:
    """Load the newest complete filter table under ``table_path``."""
    v = latest_version(table_path)
    if v is None:
        raise FileNotFoundError(
            f"no completed filter version under {table_path} "
            f"(stream not refreshed yet)")
    return FilterTable.load(spark, os.path.join(table_path, v))


def compact_key_log(spark: SparkSession, table_path: str) -> int:
    """Compact each ``keys/shard_id=N/`` directory of the append-only log
    to its distinct keys. Returns the number of log files removed.

    The log grows with total *delivered* rows, and its file count per
    shard with the number of batches: every append adds files to every
    shard it touches. A refresh reads all of them, so schedule compaction
    to bound both. Crash-safe, and safe against concurrent micro-batch
    APPENDS, by construction:

    1. list the current files of every shard directory;
    2. read exactly THOSE files, ``distinct()`` (one shuffle, by shard),
       append the result as one new file per shard into the same
       directories (new part files get unique names — nothing is
       overwritten, and a concurrent micro-batch append is untouched
       because deletion below only targets the pre-listed set);
    3. delete the listed old files.

    Every crash window leaves each directory a SUPERSET of its distinct
    key set (duplicates at worst), and a refresh ``np.unique``s each shard
    anyway — so the filter's zero-false-negative contract can never be
    violated by a failed compaction.

    Concurrency caveat: a REBUILD that is scanning the log while step 3
    deletes files it listed will fail that batch with missing-file errors
    (an availability hiccup, never a silent-FN one — restarting the
    stream replays the batch against the compacted log). Schedule
    compaction between refreshes, e.g. from the same ``foreachBatch``
    driver thread on batches where no rebuild runs."""
    from pyarrow import fs as pafs

    keys_path = os.path.join(table_path, "keys")
    fsys, base = _fs(keys_path)
    dirs = _shard_dirs(keys_path).values()
    old = [f.path for d in dirs for f in fsys.get_file_info(
        pafs.FileSelector(d)) if f.is_file and f.path.endswith(".parquet")]
    if not old:
        return 0
    # pyarrow strips the URI scheme AND authority from listed paths;
    # re-attach the full scheme://authority prefix so spark resolves them
    # against the right filesystem (s3://bucket, hdfs://nn:8020) instead
    # of the cluster default FS — scheme alone ('hdfs:///path') would
    # still hit fs.defaultFS
    prefix = ""
    if "://" in keys_path:
        if not keys_path.endswith(base):
            raise ValueError(
                f"cannot split {keys_path!r} into authority + {base!r}")
        prefix = keys_path[:len(keys_path) - len(base)]
    logged = (spark.read.option("basePath", keys_path)
              .parquet(*[prefix + p for p in old]))
    # hash-partitioned by shard, the distinct needs no second shuffle and
    # each task writes one file per shard it holds
    (logged.repartition(len(dirs), "shard_id").distinct()
     .write.mode("append").options(**KEY_WRITE)
     .partitionBy("shard_id").parquet(keys_path))
    for p in old:
        fsys.delete_file(p)
    return len(old)


def stream_filter_refresh(stream_df: DataFrame, table_path: str,
                          key_col: str = "key", kind: str = "bfuse8",
                          n_shards: int = 16, refresh_every: int = 1,
                          key_def: str | None = None):
    """``writeStream``-able sink maintaining the ever-seen-keys filter.

    Returns a ``DataStreamWriter`` (caller adds ``.option("checkpoint..")``
    / ``.start()``). Each micro-batch appends its non-null keys to the
    shard-partitioned key log; every ``refresh_every`` batches each shard
    is rebuilt from its own log directory into a fresh immutable version
    directory, then ``_LATEST`` is swapped (see the module docstring).
    Query the current filter any time with
    :func:`load_latest_filter_table` — zero false negatives over every key
    delivered up to the last refresh (the filter contract). The current
    version and its predecessor are retained; older version dirs are
    deleted. ``key_col`` may be byte, short, int or long (see
    ``dataflow._key_col``); ``n_shards`` must stay the same for the life
    of ``table_path``.

    ``key_def`` (optional) names the definition of the key column the
    caller derives upstream (see ``dataflow.build_filter_table``): each
    rebuilt version is stamped with it, so a crashed rebuild resumed by
    a NEWER deployment with a changed key derivation fails loudly
    instead of mixing key definitions within one version dir.
    """
    filter_class(kind)  # an unknown kind raises before the stream starts
    keys_path = os.path.join(table_path, "keys")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        (batch_df.select(_key_col(batch_df, key_col).alias("key"))
         .where(F.col("key").isNotNull())
         .withColumn("shard_id", shard_id_col("key", n_shards))
         .write.mode("append").options(**KEY_WRITE)
         .partitionBy("shard_id").parquet(keys_path))
        if batch_id % refresh_every != refresh_every - 1:
            return
        prev, _ = pointer_versions(table_path)
        if prev is not None and prev.endswith(f"b{batch_id}"):
            # crash between the pointer swap and Spark's checkpoint
            # commit: the pointer's CURRENT version was built by this
            # very batch, and the rebuild is deterministic from the
            # key log — skip it if the log still holds exactly the
            # distinct keys that build saw (one distinct-count pass, on
            # this replay path only, vs a full rebuild). The key log only
            # grows (compaction keeps its distinct set), so equality is
            # exact, never coincidence: a checkpoint RESET whose colliding
            # batch id delivered genuinely new keys raises the count and
            # the rebuild proceeds.
            from pyspark.errors import AnalysisException
            try:
                built = (spark.read.parquet(
                    os.path.join(table_path, prev))
                    .agg(F.sum("n_keys")).collect()[0][0])
            except AnalysisException:
                built = None  # version dir unreadable: rebuild
            if built is not None and int(built) == (
                    spark.read.parquet(keys_path).select("key")
                    .distinct().count()):
                return
        # generation = current pointer's + 1: never collides with ANY
        # retained dir across checkpoint resets (batch ids restart at 0;
        # a name collision with a COMPLETE old dir would make the
        # builder's resume pass see every shard done and swap the pointer
        # onto a stale table). The only reusable name is this same
        # (generation, batch) pair — a crashed replay of this very batch,
        # which is the checkpoint-resume case the builder exists for.
        version = f"g{_generation(prev) + 1}b{batch_id}"
        listed = _shard_dirs(keys_path)
        if max(listed, default=0) >= n_shards:
            raise ValueError(
                f"key log {keys_path!r} has shard directories up to "
                f"shard_id={max(listed)}: it was written under a larger "
                f"shard count than n_shards={n_shards}")

        def build(done_ids: set[int]) -> DataFrame:
            return _build_from_shard_dirs(
                spark, keys_path,
                [s for s in range(n_shards) if s not in done_ids],
                set(listed), n_shards, kind)

        _append_shards(spark, os.path.join(table_path, version), build,
                       key_def)
        # pointer swap AFTER the version is fully committed: write to a
        # temp name, then rename over _LATEST — a single atomic rename on
        # POSIX (open_output_stream on the final path would truncate
        # in place, leaving a window where readers see an empty pointer);
        # on object stores the copy's PUT replaces atomically. The
        # pointer records current AND predecessor, so pruning never has
        # to infer the predecessor from directory listings.
        fsys, base = _fs(table_path)
        tmp = _pointer_path(base) + f".tmp-{batch_id}"
        content = f"{version} {prev}" if prev else version
        with fsys.open_output_stream(tmp) as fh:
            fh.write(content.encode())
        # replace-aware: HDFS rename refuses an existing destination,
        # which would crash the second and every later refresh there
        _move_replace(fsys, tmp, _pointer_path(base))
        # prune: keep exactly the versions the pointer records (current +
        # predecessor). Never trust version-number ordering, and never a
        # listing-derived predecessor: on a crash-after-swap replay the
        # pointer already names this version, and a guessed predecessor
        # could delete the dir a concurrent reader is still probing.
        from pyarrow import fs as pafs
        keep = {version, prev}
        for info in fsys.get_file_info(pafs.FileSelector(base)):
            name = info.base_name
            if (info.type == pafs.FileType.Directory
                    and re.fullmatch(r"v\d+|g\d+b\d+", name)
                    and name not in keep):
                fsys.delete_dir(f"{base}/{name}")

    return stream_df.writeStream.foreachBatch(process).outputMode("update")
