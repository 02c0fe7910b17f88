"""Streaming filter maintenance (foreachBatch rebuild + atomic pointer
swap): the ever-seen-keys filter contract across micro-batches."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_stream_filter_refresh_zero_fn_and_versions(spark, tmp_path):
    from xorf_spark.streaming import (
        latest_version,
        load_latest_filter_table,
        stream_filter_refresh,
    )

    src = str(tmp_path / "in")
    table = str(tmp_path / "ftab")

    def feed(name, lo, hi):
        (spark.range(lo, hi).select(F.xxhash64("id").alias("key"))
         .write.parquet(f"{src}/{name}"))

    feed("b1", 0, 30_000)
    stream = spark.readStream.schema("key long").option(
        "maxFilesPerTrigger", "1").parquet(src + "/*")
    q = (stream_filter_refresh(stream, table, n_shards=4,
                               refresh_every=1)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    v1 = latest_version(table)
    assert v1 is not None
    t1 = load_latest_filter_table(spark, table)
    all_b1 = spark.range(30_000).select(F.xxhash64("id").alias("key"))
    assert t1.where_member(all_b1, "key").count() == 30_000  # zero FN

    # batch 2 overlaps batch 1; the refreshed filter covers the union
    feed("b2", 20_000, 60_000)
    q.processAllAvailable()
    q.stop()
    v2 = latest_version(table)
    assert v2 is not None and v2 != v1
    t2 = load_latest_filter_table(spark, table)
    union = spark.range(60_000).select(F.xxhash64("id").alias("key"))
    assert t2.where_member(union, "key").count() == 60_000  # zero FN
    # disjoint probes mostly rejected (filter, not a sieve)
    alien = spark.range(10_000).select(
        F.xxhash64(F.col("id") + 5_000_000).alias("key"))
    fp = t2.where_member(alien, "key").count()
    assert fp < 10_000 * 0.02

    # the refreshed version equals a from-scratch build over the distinct
    # key log, byte for byte
    from xorf_spark.dataflow import build_filter_table
    all_keys = spark.read.parquet(os.path.join(table, "keys")).distinct()
    scratch = str(tmp_path / "scratch")
    build_filter_table(all_keys, scratch, kind="bfuse8", n_shards=4,
                       key_col="key")
    ref = {r["shard_id"]: r for r in spark.read.parquet(scratch).collect()}
    rows2 = {r["shard_id"]: r for r in
             spark.read.parquet(os.path.join(table, v2)).collect()}
    assert set(rows2) == set(ref) == set(range(4))
    for sid in range(4):
        assert rows2[sid]["fingerprints"] == ref[sid]["fingerprints"]
        assert rows2[sid]["seed"] == ref[sid]["seed"]
        assert rows2[sid]["n_keys"] == ref[sid]["n_keys"]

    # version pruning: at most current + predecessor on disk, and the
    # pointer records exactly those two
    import re

    from xorf_spark.streaming import pointer_versions
    vdirs = {d for d in os.listdir(table) if re.fullmatch(r"v\d+|g\d+b\d+", d)}
    assert len(vdirs) == 2
    cur, prev = pointer_versions(table)
    assert {cur, prev} == vdirs and cur == v2


def test_checkpoint_reset_never_reuses_version_names(spark, tmp_path):
    """r3 advisory (high): after a checkpoint reset batch ids restart at
    0; a batch-id-derived version name could collide with a retained
    COMPLETE old dir, the builder's resume pass would see every shard
    done, and the pointer would swap onto a STALE table — false negatives
    for every key delivered since. Generation-based names must keep every
    incarnation's versions distinct and the refreshed filter complete."""
    from xorf_spark.streaming import (
        latest_version,
        load_latest_filter_table,
        stream_filter_refresh,
    )

    src = str(tmp_path / "in")
    table = str(tmp_path / "ftab")

    def feed(name, lo, hi):
        # ONE file per feed → one micro-batch per feed, so batch ids are
        # deterministic (the file-stream source batches per file)
        (spark.range(lo, hi).select(F.xxhash64("id").alias("key"))
         .repartition(1).write.parquet(f"{src}/{name}"))

    def run_incarnation(ckpt):
        stream = spark.readStream.schema("key long").option(
            "maxFilesPerTrigger", "1").parquet(src + "/*")
        q = (stream_filter_refresh(stream, table, n_shards=4,
                                   refresh_every=1)
             .option("checkpointLocation", str(tmp_path / ckpt))
             .start())
        q.processAllAvailable()
        q.stop()

    feed("b1", 0, 20_000)
    feed("b2", 20_000, 40_000)
    run_incarnation("ckpt1")            # batches 0,1 → g0b0, g1b1
    seen_before = latest_version(table)
    assert seen_before == "g1b1"
    # checkpoint RESET: brand-new checkpoint dir, batch ids restart at 0
    # and the new incarnation replays b1+b2 then delivers b3
    feed("b3", 40_000, 60_000)
    run_incarnation("ckpt_reset")
    cur = latest_version(table)
    # three more refreshes (batches 0,1,2 of the new incarnation) — names
    # continue the generation chain, never colliding with g0b0/g1b1
    assert cur == "g4b2"
    t = load_latest_filter_table(spark, table)
    union = spark.range(60_000).select(F.xxhash64("id").alias("key"))
    assert t.where_member(union, "key").count() == 60_000  # zero FN


def test_compact_key_log_shrinks_and_preserves_zero_fn(spark, tmp_path):
    """compact_key_log rewrites the append-only log to its distinct set
    (bounding long-stream growth) without ever invalidating the filter
    contract: the next rebuild still covers every delivered key."""
    from xorf_spark.streaming import (
        compact_key_log,
        load_latest_filter_table,
        stream_filter_refresh,
    )

    src = str(tmp_path / "in")
    table = str(tmp_path / "ftab")

    # three batches, heavily overlapping → log holds ~3x the distinct set
    for i, (lo, hi) in enumerate([(0, 20_000), (0, 25_000), (0, 30_000)]):
        (spark.range(lo, hi).select(F.xxhash64("id").alias("key"))
         .repartition(1).write.parquet(f"{src}/b{i}"))
    stream = spark.readStream.schema("key long").option(
        "maxFilesPerTrigger", "1").parquet(src + "/*")
    q = (stream_filter_refresh(stream, table, n_shards=4, refresh_every=1)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    q.stop()

    keys_path = f"{table}/keys"
    before = spark.read.parquet(keys_path).count()
    assert before == 75_000          # 20k + 25k + 30k delivered-distinct
    removed = compact_key_log(spark, table)
    assert removed >= 3
    after_df = spark.read.parquet(keys_path)
    assert after_df.count() == 30_000            # true distinct set
    assert after_df.distinct().count() == 30_000
    # idempotent
    compact_key_log(spark, table)
    assert spark.read.parquet(keys_path).count() == 30_000

    # deliver one more batch AFTER compaction, refresh, zero FN holds
    (spark.range(30_000, 40_000).select(F.xxhash64("id").alias("key"))
     .repartition(1).write.parquet(f"{src}/b3"))
    stream2 = spark.readStream.schema("key long").option(
        "maxFilesPerTrigger", "1").parquet(src + "/*")
    q2 = (stream_filter_refresh(stream2, table, n_shards=4, refresh_every=1)
          .option("checkpointLocation", str(tmp_path / "ckpt"))
          .start())
    q2.processAllAvailable()
    q2.stop()
    t = load_latest_filter_table(spark, table)
    union = spark.range(40_000).select(F.xxhash64("id").alias("key"))
    assert t.where_member(union, "key").count() == 40_000


def test_latest_version_empty_and_interval_parse(tmp_path):
    """Non-Spark helper edges: missing pointer -> None; interval parser
    accepts the documented forms and rejects garbage loudly."""
    from xorf_spark.streaming.filter_refresh import latest_version
    from xorf_spark.streaming.sketch_window import _interval_ms

    assert latest_version(str(tmp_path / "nonexistent")) is None
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "_LATEST").write_text("")
    assert latest_version(str(tmp_path / "t")) is None  # empty pointer

    assert _interval_ms("30 minutes") == 30 * 60_000
    assert _interval_ms("1 hour") == 3_600_000
    assert _interval_ms("2 days") == 2 * 86_400_000
    assert _interval_ms(1500) == 1500
    with pytest.raises(ValueError):
        _interval_ms("fortnight")
    with pytest.raises(ValueError):
        _interval_ms("3 fortnights")


def test_pointer_swap_atomic_under_racing_reader(tmp_path):
    """A reader polling the pointer while a writer performs many swaps
    (the exact tmp-write + rename + cur/prev prune sequence from
    ``stream_filter_refresh``) never observes a torn state: no empty or
    malformed pointer once the first swap lands, and the dir the pointer
    names exists unless the reader lagged >= 2 generations (the
    documented keep-current+predecessor retention window)."""
    import re
    import threading

    from pyarrow import fs as pafs

    from xorf_spark.streaming.filter_refresh import (
        _fs, _pointer_path, pointer_versions)

    base_dir = tmp_path / "tbl"
    base_dir.mkdir()
    table_path = str(base_dir)
    fsys, base = _fs(table_path)
    n_swaps = 200
    stop = threading.Event()
    bad: list[str] = []
    gen_re = re.compile(r"g(\d+)b\d+")

    def writer():
        prev = None
        for gen in range(n_swaps):
            version = f"g{gen}b{gen}"
            vdir = base_dir / version
            vdir.mkdir()
            (vdir / "_MARKER").write_text(version)
            tmp = _pointer_path(base) + f".tmp-{gen}"
            content = f"{version} {prev}" if prev else version
            with fsys.open_output_stream(tmp) as fh:
                fh.write(content.encode())
            fsys.move(tmp, _pointer_path(base))
            keep = {version, prev}
            for info in fsys.get_file_info(pafs.FileSelector(base)):
                if (info.type == pafs.FileType.Directory
                        and gen_re.fullmatch(info.base_name)
                        and info.base_name not in keep):
                    fsys.delete_dir(f"{base}/{info.base_name}")
            prev = version
        stop.set()

    def reader():
        seen_first = False
        while not stop.is_set():
            cur, prv = pointer_versions(table_path)
            if cur is None:
                if seen_first:
                    bad.append("pointer vanished after first swap")
                continue
            seen_first = True
            m = gen_re.fullmatch(cur)
            if not m:
                bad.append(f"malformed pointer: {cur!r}")
                continue
            if prv is not None and not gen_re.fullmatch(prv):
                bad.append(f"malformed predecessor: {prv!r}")
            read_gen = int(m.group(1))
            if not (base_dir / cur / "_MARKER").exists():
                # only legal if the writer advanced >= 2 generations
                # between our pointer read and this existence check
                now, _ = pointer_versions(table_path)
                now_gen = int(gen_re.fullmatch(now).group(1)) if now else -1
                if now_gen < read_gen + 2:
                    bad.append(
                        f"current dir {cur} missing with writer at "
                        f"{now} (no 2-generation lag)")

    w = threading.Thread(target=writer)
    r = threading.Thread(target=reader)
    r.start(); w.start()
    w.join(timeout=120); r.join(timeout=10)
    assert not w.is_alive() and not r.is_alive()
    assert bad == [], bad[:5]
    # final state: pointer names the last version, predecessor retained
    cur, prv = pointer_versions(table_path)
    assert cur == f"g{n_swaps - 1}b{n_swaps - 1}"
    assert prv == f"g{n_swaps - 2}b{n_swaps - 2}"
    assert (base_dir / cur).is_dir() and (base_dir / prv).is_dir()


def _feed(spark, src, name, lo, hi):
    """One parquet file of ``xxhash64(id)`` keys: one micro-batch."""
    (spark.range(lo, hi).select(F.xxhash64("id").alias("key"))
     .repartition(1).write.parquet(f"{src}/{name}"))


def _run_stream(spark, src, table, ckpt, n_shards=4):
    from xorf_spark.streaming import stream_filter_refresh

    stream = spark.readStream.schema("key long").option(
        "maxFilesPerTrigger", "1").parquet(src + "/*")
    q = (stream_filter_refresh(stream, table, n_shards=n_shards,
                               refresh_every=1)
         .option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _uncommit(ckpt, batch_id):
    """Forget the checkpoint commit of ``batch_id``, as a driver crash
    before that commit would: a restart replays the batch."""
    for name in (str(batch_id), f".{batch_id}.crc"):
        p = os.path.join(ckpt, "commits", name)
        if os.path.exists(p):
            os.remove(p)


def _snapshot(table):
    """Pointer text and every version dir's file names and bytes."""
    import re
    from pathlib import Path

    root = Path(table)
    return (root.joinpath("_LATEST").read_text(),
            {d.name: {f.name: f.read_bytes() for f in sorted(d.iterdir())}
             for d in sorted(root.iterdir())
             if re.fullmatch(r"g\d+b\d+", d.name)})


def test_crash_after_swap_replay_keeps_pointer_and_versions(spark, tmp_path):
    """A driver crash after the pointer swap and before the checkpoint
    commit: the restarted stream replays the batch (its keys are appended
    again) and skips the rebuild, so the pointer and every version dir
    stay as they were, and every key is still a member."""
    from xorf_spark.streaming import load_latest_filter_table

    src, table = str(tmp_path / "in"), str(tmp_path / "ftab")
    ckpt = str(tmp_path / "ckpt")
    _feed(spark, src, "b0", 0, 20_000)
    _feed(spark, src, "b1", 20_000, 40_000)
    _run_stream(spark, src, table, ckpt)
    before = _snapshot(table)
    assert before[0] == "g1b1 g0b0"
    log = os.path.join(table, "keys")
    rows_before = spark.read.parquet(log).count()

    _uncommit(ckpt, 1)
    _run_stream(spark, src, table, ckpt)
    assert spark.read.parquet(log).count() == rows_before + 20_000
    assert _snapshot(table) == before
    t = load_latest_filter_table(spark, table)
    keys = spark.range(40_000).select(F.xxhash64("id").alias("key"))
    assert t.where_member(keys, "key").count() == 40_000


def test_partial_version_resumes_byte_identical(spark, tmp_path):
    """A refresh that crashed with only some shard rows of its version
    committed, before the pointer swap, resumes on restart: the replayed
    batch builds only the missing shards, and the version's fingerprints
    equal those of the clean refresh, byte for byte, although the replay
    appended the batch's keys to the log a second time."""
    import shutil

    from xorf_spark.streaming import (
        latest_version,
        load_latest_filter_table,
    )

    src, table = str(tmp_path / "in"), str(tmp_path / "ftab")
    ckpt = str(tmp_path / "ckpt")
    _feed(spark, src, "b0", 0, 30_000)
    _run_stream(spark, src, table, ckpt)
    version = os.path.join(table, "g0b0")
    clean = {r["shard_id"]: (r["seed"], r["n_keys"], bytes(r["fingerprints"]))
             for r in spark.read.parquet(version).collect()}
    assert sorted(clean) == [0, 1, 2, 3]

    # the crashed state: shards 0 and 1 committed, no pointer, batch 0
    # not committed to the checkpoint
    (spark.read.parquet(version).where(F.col("shard_id") < 2)
     .write.parquet(version + "_part"))
    shutil.rmtree(version)
    os.rename(version + "_part", version)
    os.remove(os.path.join(table, "_LATEST"))
    _uncommit(ckpt, 0)

    _run_stream(spark, src, table, ckpt)
    assert latest_version(table) == "g0b0"
    resumed = {r["shard_id"]: (r["seed"], r["n_keys"],
                               bytes(r["fingerprints"]))
               for r in spark.read.parquet(version).collect()}
    assert resumed == clean
    assert spark.read.parquet(version).count() == 4   # no shard built twice
    t = load_latest_filter_table(spark, table)        # shard count stored
    assert t.n_shards == 4
    keys = spark.range(30_000).select(F.xxhash64("id").alias("key"))
    assert t.where_member(keys, "key").count() == 30_000


def test_refresh_refuses_unpartitioned_key_log(spark, tmp_path):
    """Parquet files in the root of ``keys/`` (a log written before the
    shard layout) would be skipped by a shard-local refresh: refuse."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src, table = str(tmp_path / "in"), str(tmp_path / "ftab")
    os.makedirs(os.path.join(table, "keys"))
    pq.write_table(pa.table({"key": pa.array([1, 2, 3], pa.int64())}),
                   os.path.join(table, "keys", "part-0.parquet"))
    _feed(spark, src, "b0", 0, 1_000)
    with pytest.raises(Exception, match="unpartitioned parquet files"):
        _run_stream(spark, src, table, str(tmp_path / "ckpt"))


def test_refresh_refuses_log_of_other_shard_count(spark, tmp_path):
    """Shard directories written under another ``n_shards`` would be
    misread: a larger earlier count leaves directories past the new
    range, a smaller one leaves keys of several new shards in one
    directory. Both refuse instead of skipping keys."""
    src, table = str(tmp_path / "in"), str(tmp_path / "ftab")
    _feed(spark, src, "b0", 0, 5_000)
    _run_stream(spark, src, table, str(tmp_path / "c4"), n_shards=4)
    _feed(spark, src, "b1", 5_000, 10_000)
    with pytest.raises(Exception, match="larger shard count"):
        _run_stream(spark, src, table, str(tmp_path / "c2"), n_shards=2)
    with pytest.raises(Exception, match="shard count other than 8"):
        _run_stream(spark, src, table, str(tmp_path / "c8"), n_shards=8)
