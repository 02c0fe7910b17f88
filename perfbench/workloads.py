"""The benchmark's workloads. Each drives ``xorf_spark`` only through its
public functions, generates its inputs from the run's seed, and checks
every output it produces.

A workload object lives for one Spark session:

- ``setup(rep)`` generates the inputs under a fresh directory and builds
  the prebuilt tables;
- ``iterate()`` runs one timed iteration of the job and returns its outputs;
- ``check(out)`` returns the list of errors found in those outputs;
- ``warm_up()`` runs untimed work before the first timed iteration;
- ``finish()`` runs, in a traced run, any extra Spark work the per-layer
  metrics need;
- ``layers(...)`` turns the traced spans and folded task metrics into the
  per-layer metrics (see NOTES.md for what each one means).

Input sizes are fixed in TOKENS, not documents: ``docs_tokens`` draws doc
lengths from a heavy tail (1% of docs hold ~20% of the tokens), so a fixed
doc count would make the work per run swing with the seed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from xorf_spark import dataflow as D
from xorf_spark import build as B
from xorf_spark.sketches import sketch_agg
from xorf_spark.sources import docs_tokens
from xorf_spark.streaming import load_latest_filter_table, stream_filter_refresh

KIND = "bfuse8"
N_SHARDS = 16
SHINGLE_K = 8
#: published FPP bound of BinaryFuse8 (xorf src/bfuse8.rs; tests/test_build.py)
FP_BOUND = 0.406e-2
#: fixed alien key set: 4M random 64-bit keys, the same for every seed. At
#: bfuse8's ~2^-8 FPP the bound above sits ~5 sigma over the expected rate.
N_ALIENS = 4_000_000
ALIEN_SEED = 0xA11E45
HLL_P = 14
#: docs_tokens' mean doc length is ~550 tokens; over-provision the doc
#: range whose lengths are read to find a token-sized prefix
_MEAN_DOC_TOKENS = 550

#: every per-layer metric and its unit; a workload reports 0 for a layer it
#: does not exercise (no span of that layer ran, so its time and counts are 0)
LAYER_UNITS = {
    "sources.docs_s": "s",
    "keys.derive_s": "s",
    "keys.rows": "count",
    "keys.distinct": "count",
    "keys.dup_frac": "frac",
    "sketches.hll_s": "s",
    "sketches.hll_rel_err": "frac",
    "build.s": "s",
    "build.keys_per_s": "1/s",
    "build.shards": "count",
    "build.kernel_s": "s",
    "build.kernel_max_s": "s",
    "build.shard_skew": "ratio",
    "build.peel_rounds": "count",
    "build.retries": "count",
    "build.duplicates": "count",
    "build.shuffle_bytes": "B",
    "build.py_bytes_sent": "B",
    "kernel.bfuse8_build_ns_per_key": "ns/key",
    "kernel.bfuse8_probe_ns_per_key": "ns/key",
    "collect.s": "s",
    "collect.fp_bytes": "B",
    "probe.s": "s",
    "probe.rows": "count",
    "probe.rows_per_s": "1/s",
    "probe.python_evals": "count",
    "probe.python_evals_semi": "count",
    "probe.python_evals_anti": "count",
    "probe.py_bytes_sent": "B",
    "probe.py_run_s": "s",
    "join.semi_s": "s",
    "join.anti_s": "s",
    "join.candidates": "count",
    "join.useful_frac": "frac",
    "join.shuffle_bytes": "B",
    "refresh.refresh_s": "s",
    "refresh.append_s": "s",
    "refresh.trigger_overhead_s": "s",
    "refresh.jobs_per_refresh": "count",
    "refresh.log_rows": "count",
    "refresh.log_bytes": "B",
    "refresh.version_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.jobs": "count",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "frac",
}


def aliens() -> np.ndarray:
    return np.random.default_rng(ALIEN_SEED).integers(
        0, 2**64, size=N_ALIENS, dtype=np.uint64)


def token_prefix(spark, seed: int, tokens: int) -> np.ndarray:
    """Cumulative token counts of the docs ``docs_tokens(seed)`` yields, long
    enough to cover ``tokens``; ``searchsorted`` on it sizes a doc prefix."""
    n = int(2 * tokens / _MEAN_DOC_TOKENS) + 2000
    lens = (docs_tokens(spark, n, seed=seed).select("n_tok")
            .toArrow().column(0).to_numpy())
    cum = np.cumsum(lens)
    if cum[-1] < tokens:
        raise RuntimeError(f"doc range too short for {tokens} tokens")
    return cum


def n_docs_for(cum: np.ndarray, tokens: float) -> int:
    return int(np.searchsorted(cum, tokens)) + 1


def shingle_rows(cum: np.ndarray, n: int) -> int:
    """Shingle keys the first ``n`` docs yield (every doc has >= 16 tokens)."""
    return int((np.diff(cum[:n], prepend=0) - (SHINGLE_K - 1)).sum())


def docs(spark, seed: int, n: int, suffix: str = ""):
    """The first ``n`` docs of ``docs_tokens(seed)``, spread over 4x nproc
    partitions so one long doc does not set a stage's time."""
    df = docs_tokens(spark, n, seed=seed, partitions=4 * (os.cpu_count() or 1))
    if suffix:
        df = df.withColumn("doc_id", F.concat("doc_id", F.lit(suffix)))
    return df


def shard_stats(table: D.FilterTable) -> dict:
    rows = list(table.rows.values())
    n_keys = [r["n_keys"] for r in rows]
    secs = [r["build_secs"] for r in rows]
    return {
        "build.shards": len(rows),
        "build.kernel_s": sum(secs),
        "build.kernel_max_s": max(secs),
        "build.shard_skew": max(n_keys) / (sum(n_keys) / len(n_keys)),
        "build.peel_rounds": sum(r["peel_rounds"] for r in rows),
        "build.retries": sum(r["retries"] for r in rows),
        "build.duplicates": sum(r["duplicates"] for r in rows),
        "collect.fp_bytes": table.total_fingerprint_bytes,
    }


def plan_nodes(plan) -> list:
    """Every node of an executed physical plan, through AQE's wrappers."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


def run_counted(df) -> tuple[int, int, int]:
    """Run ``count`` on ``df``; return (rows, ArrowEvalPython nodes in the
    final executed plan, rows out of its filters that keep what the UDF
    rejects). The last is the anti-join's filter-rejected probe rows, which
    skip the exact backstop."""
    agg = df.groupBy().count()
    n = agg.collect()[0][0]
    plan = agg._jdf.queryExecution().executedPlan()
    evals = plan.toString().split("== Initial Plan ==")[0].count(
        "ArrowEvalPython")
    rejected = sum(node.metrics().apply("numOutputRows").value()
                   for node in plan_nodes(plan)
                   if node.nodeName() == "Filter"
                   and node.condition().toString().startswith("NOT pythonUDF"))
    return n, evals, rejected


def collect_keys(df) -> np.ndarray:
    """The ``key`` column of ``df`` as a numpy int64 array."""
    return df.select("key").toArrow().column(0).to_numpy()


def write_keys(keys: np.ndarray, path: str) -> None:
    pq.write_table(pa.table({"key": keys}), path)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def kernel_ns_per_key(n: int = 1_000_000, reps: int = 3) -> tuple[float, float]:
    """Driver-side bfuse8 build and probe, single thread, fixed key set."""
    rng = np.random.default_rng(0xBEEF)
    keys = rng.integers(0, 2**64, size=n, dtype=np.uint64)
    probes = rng.integers(0, 2**64, size=n, dtype=np.uint64)
    build_t, probe_t = [], []
    for _ in range(reps):
        t = time.perf_counter()
        r = B.build_binary_fuse(keys, 8)
        build_t.append(time.perf_counter() - t)
        p = r.params
        args = (r.seed, p["segment_length"], p["segment_length_mask"],
                p["segment_count_length"], r.fingerprints)
        t = time.perf_counter()
        hit = B.contains_binary_fuse(keys, *args)
        B.contains_binary_fuse(probes, *args)
        probe_t.append((time.perf_counter() - t) / 2)
        if not hit.all():
            raise RuntimeError("driver-side bfuse8 kernel lost a key")
    return (statistics.median(build_t) * 1e9 / n,
            statistics.median(probe_t) * 1e9 / n)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tr = tracer
        self.aliens = aliens()
        self.dir = None
        self.i = 0
        self.quality: tuple[float, float] | None = None

    def fresh_dir(self, rep: int) -> str:
        if self.dir:
            shutil.rmtree(self.dir)
        self.dir = os.path.join(self.work, f"{self.name}-{rep}")
        os.makedirs(self.dir)
        return self.dir

    def note_quality(self, bits_per_key: float, fp_rate: float) -> list[str]:
        errs = []
        if fp_rate > FP_BOUND:
            errs.append(f"fp_rate {fp_rate} above the {KIND} bound {FP_BOUND}")
        if self.quality is not None and self.quality != (bits_per_key, fp_rate):
            errs.append(f"filter quality changed between iterations: "
                        f"{self.quality} -> {(bits_per_key, fp_rate)}")
        self.quality = (bits_per_key, fp_rate)
        return errs

    def warm_up(self) -> list[str]:
        """One untimed iteration; returns its check errors."""
        return self.check(self.iterate())

    def finish(self) -> None:
        pass

    def median_self(self, iters: list[dict], name: str) -> float:
        vals = [sum(self.tr.self_time(s) for s in self.tr.descendants(it)
                    if s["name"] == name) for it in iters]
        return statistics.median(vals) if vals else 0.0

    def spans_named(self, roots: list[dict], name: str) -> list[dict]:
        return [s for r in roots for s in self.tr.descendants(r)
                if s["name"] == name]


# ---------------------------------------------------------------------------

class CorpusBuild(Workload):
    """Build a filter over a corpus with exact-copy docs: HLL pass, sharded
    bfuse8 build and publish, load."""

    name = "corpus_build"
    TOKENS = 2_000_000   # base docs; copies add 25% of this again
    COPY_FRAC = 0.25

    def setup(self, rep: int) -> None:
        d = self.fresh_dir(rep)
        spark = self.spark
        with self.tr.span("sources.docs_tokens"):
            cum = token_prefix(spark, self.seed, self.TOKENS)
            n = n_docs_for(cum, self.TOKENS)
            n_copy = n_docs_for(cum, self.COPY_FRAC * self.TOKENS)
            base = docs(spark, self.seed, n)
            copies = docs(spark, self.seed, n_copy, suffix="-copy")
            base.unionByName(copies).write.parquet(f"{d}/docs")
        self.keys = D.shingle_keys(spark.read.parquet(f"{d}/docs"),
                                   k=SHINGLE_K).select("key")
        self.n_rows = shingle_rows(cum, n) + shingle_rows(cum, n_copy)
        self.distinct = np.unique(collect_keys(self.keys)).view(np.uint64)

    def finish(self) -> None:
        with self.tr.span("dataflow.shingle_keys") as sp:
            self.keys.write.format("noop").mode("overwrite").save()
        self.derive_s = sp["end"] - sp["start"]

    def iterate(self) -> dict:
        self.i += 1
        path = f"{self.dir}/tables/t{self.i}"
        with self.tr.span("sketches.sketch_agg"):
            hll = sketch_agg(self.keys, "key", "hll", {"p": HLL_P})
        with self.tr.span("dataflow.build_filter_table"):
            D.build_filter_table(self.keys, path, kind=KIND,
                                 n_shards=N_SHARDS)
        with self.tr.span("dataflow.FilterTable.load"):
            table = D.FilterTable.load(self.spark, path)
        return {"hll": hll.estimate(), "table": table, "path": path}

    def warm_up(self) -> list[str]:
        """Two untimed iterations: after one, the next still ran ~15%
        slower than the steady state."""
        return super().warm_up() + super().warm_up()

    def check(self, out: dict) -> list[str]:
        table = out["table"]
        errs = []
        lost = int((~table.contains_np(self.distinct)).sum())
        if lost:
            errs.append(f"{lost} false negatives over the built keys")
        rel = out["hll"] / self.distinct.size - 1
        sigma = 1.04 / math.sqrt(1 << HLL_P)
        if abs(rel) > 3 * sigma:
            errs.append(f"hll relative error {rel:.4f} beyond 3 sigma")
        self.hll_rel_err = rel
        bpk = table.total_fingerprint_bytes * 8 / self.distinct.size
        fp = float(table.contains_np(self.aliens).mean())
        errs += self.note_quality(bpk, fp)
        self.table = table
        shutil.rmtree(out["path"])
        return errs

    def layers(self, setup_root: dict, iters: list[dict], folded) -> dict:
        build_spans = self.spans_named(iters, "dataflow.build_filter_table")
        n = max(len(iters), 1)
        bgrp = folded.group(build_spans)
        build_s = self.median_self(iters, "dataflow.build_filter_table")
        m = {
            "sources.docs_s": self.median_self([setup_root],
                                               "sources.docs_tokens"),
            "keys.derive_s": self.derive_s,
            "keys.rows": self.n_rows,
            "keys.distinct": self.distinct.size,
            "keys.dup_frac": 1 - self.distinct.size / self.n_rows,
            "sketches.hll_s": self.median_self(iters, "sketches.sketch_agg"),
            "sketches.hll_rel_err": abs(self.hll_rel_err),
            "build.s": build_s,
            "build.keys_per_s": self.distinct.size / build_s,
            "build.shuffle_bytes": bgrp["shuffle_write_bytes"] / n,
            "build.py_bytes_sent": bgrp["py_bytes_sent"] / n,
            "collect.s": self.median_self(iters, "dataflow.FilterTable.load"),
        }
        m.update(shard_stats(self.table))
        return m


# ---------------------------------------------------------------------------

class StreamDedup(Workload):
    """Keep a history filter current over a file stream, then split a probe
    key set into seen and unseen rows against the latest version.

    The feed is a bootstrap key file plus equal increments, 25% of whose
    rows re-deliver earlier keys; ``stream_filter_refresh`` rebuilds every
    2 batches. The reader loads the latest version and runs the filter
    semi-join and anti-join of the probe keys (20% of them from copies of
    history docs) with the exact backstop on. The joins probe
    ``xxhash64(key)``, so the stream maintains the filter over that hashed
    column (``hkey``) while the backstop compares raw keys.
    """

    name = "stream_dedup"
    BOOT_TOKENS = 800_000
    INC_NEW_TOKENS = 80_000     # new keys per increment
    REDELIVER_FRAC = 0.25       # share of each increment's rows re-delivered
    BATCHES = 4                 # bootstrap + 3 increments
    REFRESH_EVERY = 2
    FRESH_TOKENS = 2_400_000    # probe keys from docs the stream never saw
    COPY_TOKENS = 600_000       # probe keys from copies of bootstrap docs

    def setup(self, rep: int) -> None:
        d = self.fresh_dir(rep)
        spark = self.spark
        with self.tr.span("sources.docs_tokens"):
            fed = self.BOOT_TOKENS + (self.BATCHES - 1) * self.INC_NEW_TOKENS
            cum = token_prefix(spark, self.seed, fed + self.FRESH_TOKENS)
            bounds = [n_docs_for(cum, self.BOOT_TOKENS + j * self.INC_NEW_TOKENS)
                      for j in range(self.BATCHES)]
            n_end = n_docs_for(cum, fed + self.FRESH_TOKENS)
            n_copy = n_docs_for(cum, self.COPY_TOKENS)
        with self.tr.span("dataflow.shingle_keys"):
            src = docs(spark, self.seed, n_end).withColumn(
                "doc", F.substring("doc_id", 5, 12).cast("long"))
            t = (D.shingle_keys(src, k=SHINGLE_K)
                 .select("doc", "key", F.xxhash64("key").alias("hkey"))
                 .toArrow())
        doc = t.column("doc").to_numpy()
        pairs = np.stack([t.column("key").to_numpy(),
                          t.column("hkey").to_numpy()], axis=1)
        parts = []
        for b, hi in enumerate(bounds):
            new = pairs[(doc < hi) & (doc >= (bounds[b - 1] if b else 0))]
            if b:
                # re-deliver a seeded sample of the keys delivered so far
                seen = np.concatenate(parts)
                want = int(len(new) * self.REDELIVER_FRAC
                           / (1 - self.REDELIVER_FRAC))
                rng = np.random.default_rng([self.seed, b])
                new = np.concatenate(
                    [new, seen[rng.choice(len(seen), size=want,
                                          replace=False)]])
            parts.append(new)
        self.feed = self._write_feed(f"{d}/feed", parts)
        # warm-up feed: a slice of the bootstrap, then the first increment
        warm = [parts[0][:len(parts[1])]] + parts[1:self.REFRESH_EVERY]
        self.warm_feed = self._write_feed(f"{d}/warm_feed", warm)
        self.n_warm = sum(len(w) for w in warm)
        self.warm_delivered = np.unique(
            np.concatenate(warm)[:, 1]).view(np.uint64)
        probe = np.concatenate([pairs[doc >= bounds[-1], 0],
                                pairs[doc < n_copy, 0]])
        write_keys(probe, f"{d}/probe_keys.parquet")
        self.probe = spark.read.parquet(f"{d}/probe_keys.parquet")
        self.history = spark.read.parquet(self.feed)
        # exact answers, computed once with numpy
        fed_pairs = np.concatenate(parts)
        history = np.unique(fed_pairs[:, 0])
        self.delivered = np.unique(fed_pairs[:, 1]).view(np.uint64)
        member = np.isin(probe, history)
        self.n_probe = probe.size
        self.semi_exact = int(member.sum())
        self.anti_exact = int((~member).sum())
        self.n_fed = len(fed_pairs)

    @staticmethod
    def _write_feed(feed: str, parts: list[np.ndarray]) -> str:
        os.makedirs(feed)
        mtime = time.time() - 3600
        for b, kv in enumerate(parts):
            p = f"{feed}/batch-{b:03d}.parquet"
            pq.write_table(pa.table({"key": kv[:, 0], "hkey": kv[:, 1]}), p)
            # the file source orders files by modification time
            os.utime(p, (mtime + b, mtime + b))
        return feed

    def _stream(self, feed: str, run: str) -> list[dict]:
        src = (self.spark.readStream.schema("key long, hkey long")
               .option("maxFilesPerTrigger", 1).parquet(feed))
        q = (stream_filter_refresh(src, f"{run}/table", key_col="hkey",
                                   kind=KIND, n_shards=N_SHARDS,
                                   refresh_every=self.REFRESH_EVERY)
             .option("checkpointLocation", f"{run}/checkpoint")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return [json.loads(p.json) for p in q.recentProgress]

    def _joins(self, table, probe, history) -> tuple[tuple, tuple]:
        with self.tr.span("dataflow.filter_semi_join"):
            semi = run_counted(D.filter_semi_join(
                probe, history, "key", "key", table=table))
        with self.tr.span("dataflow.filter_anti_join"):
            anti = run_counted(D.filter_anti_join(
                probe, history, "key", "key", table=table))
        return semi, anti

    def warm_up(self) -> list[str]:
        """A two-batch stream (one append, one refresh) and the reader's
        joins of the warm feed against itself: warms every path without a
        full-length stream, and checks it."""
        run = f"{self.dir}/runs/warm"
        progress = self._stream(self.warm_feed, run)
        table = load_latest_filter_table(self.spark, f"{run}/table")
        warm = self.spark.read.parquet(self.warm_feed)
        (semi, _, _), (anti, _, _) = self._joins(table, warm, warm)
        errs = []
        batches = [p["batchId"] for p in progress
                   if "addBatch" in p.get("durationMs", {})]
        if sorted(batches) != list(range(self.REFRESH_EVERY)):
            errs.append(f"warm-up stream ran batches {batches}")
        if (semi, anti) != (self.n_warm, 0):
            errs.append(f"warm-up semi/anti {semi}/{anti} != exact "
                        f"{self.n_warm}/0")
        lost = int((~table.contains_np(self.warm_delivered)).sum())
        if lost:
            errs.append(f"{lost} warm-up keys are not members")
        shutil.rmtree(run)
        return errs

    def iterate(self) -> dict:
        self.i += 1
        run = f"{self.dir}/runs/r{self.i}"
        with self.tr.span("streaming.stream_filter_refresh") as sp:
            progress = self._stream(self.feed, run)
        if sp is not None:
            sp["progress"] = progress
            for p in progress:
                if "addBatch" not in p.get("durationMs", {}):
                    continue
                t0 = _iso_ts(p["timestamp"])
                self.tr.add("streaming.refresh_trigger" if self._refreshes(
                    p["batchId"]) else "streaming.append_trigger", t0,
                    t0 + p["durationMs"]["triggerExecution"] / 1e3,
                    sp, batch=p["batchId"], query=p["id"])
        with self.tr.span("streaming.load_latest_filter_table"):
            table = load_latest_filter_table(self.spark, f"{run}/table")
        (semi, ev_semi, _), (anti, ev_anti, rejected) = self._joins(
            table, self.probe, self.history)
        self.evals = (ev_semi, ev_anti)
        self.candidates = self.n_probe - rejected
        return {"progress": progress, "table": table, "run": run,
                "semi": semi, "anti": anti}

    def _refreshes(self, batch: int) -> bool:
        return batch % self.REFRESH_EVERY == self.REFRESH_EVERY - 1

    def trigger_times(self, progress: list[dict]) -> tuple[list, list, list]:
        """addBatch seconds of refreshing triggers and of append-only
        increments (the bootstrap batch excluded), and triggerExecution -
        addBatch of every trigger. The warm-up stream has already run a
        refresh, so the first refresh of a timed stream is not cold."""
        refresh, append, overhead = [], [], []
        for p in progress:
            dur = p.get("durationMs", {})
            if "addBatch" not in dur:
                continue
            b = p["batchId"]
            overhead.append((dur["triggerExecution"] - dur["addBatch"]) / 1e3)
            if self._refreshes(b):
                refresh.append(dur["addBatch"] / 1e3)
            elif b > 0:
                append.append(dur["addBatch"] / 1e3)
        return refresh, append, overhead

    def check(self, out: dict) -> list[str]:
        errs = []
        batches = [p["batchId"] for p in out["progress"]
                   if "addBatch" in p.get("durationMs", {})]
        if sorted(batches) != list(range(self.BATCHES)):
            errs.append(f"stream ran batches {batches}")
        if out["semi"] != self.semi_exact:
            errs.append(f"semi-join {out['semi']} != exact {self.semi_exact}")
        if out["anti"] != self.anti_exact:
            errs.append(f"anti-join {out['anti']} != exact {self.anti_exact}")
        if out["semi"] + out["anti"] != self.n_probe:
            errs.append("semi + anti != probe rows")
        table = out["table"]
        # the feed's batch count is a multiple of refresh_every, so the
        # last trigger refreshed: every delivered key must be a member
        lost = int((~table.contains_np(self.delivered)).sum())
        if lost:
            errs.append(f"{lost} delivered keys are not members")
        errs += self.note_quality(
            table.total_fingerprint_bytes * 8 / self.delivered.size,
            float(table.contains_np(self.aliens).mean()))
        self.table = table
        keys = f"{out['run']}/table/keys"
        self.log_rows = self.spark.read.parquet(keys).count()
        self.log_bytes = dir_bytes(keys)
        self.version_bytes = dir_bytes(
            f"{out['run']}/table/{_latest(out['run'])}")
        shutil.rmtree(out["run"])
        return errs

    def layers(self, setup_root: dict, iters: list[dict], folded) -> dict:
        n = max(len(iters), 1)
        refresh, append, overhead = [], [], []
        for sp in self.spans_named(iters, "streaming.stream_filter_refresh"):
            r, a, o = self.trigger_times(sp["progress"])
            refresh += r
            append += a
            overhead += o
        triggers = self.spans_named(iters, "streaming.refresh_trigger")
        rgrp = folded.group(triggers)
        per_refresh = max(len(triggers), 1)
        semi_s = self.median_self(iters, "dataflow.filter_semi_join")
        anti_s = self.median_self(iters, "dataflow.filter_anti_join")
        jgrp = folded.group(
            self.spans_named(iters, "dataflow.filter_semi_join")
            + self.spans_named(iters, "dataflow.filter_anti_join"))
        m = {
            "sources.docs_s": self.median_self([setup_root],
                                               "sources.docs_tokens"),
            "keys.derive_s": self.median_self([setup_root],
                                              "dataflow.shingle_keys"),
            "keys.rows": self.n_fed,
            "keys.distinct": self.delivered.size,
            "keys.dup_frac": 1 - self.delivered.size / self.n_fed,
            "collect.s": self.median_self(
                iters, "streaming.load_latest_filter_table"),
            "probe.s": semi_s + anti_s,
            "probe.rows": self.n_probe,
            "probe.rows_per_s": self.n_probe / (semi_s + anti_s),
            "probe.python_evals": sum(self.evals),
            "probe.python_evals_semi": self.evals[0],
            "probe.python_evals_anti": self.evals[1],
            "probe.py_bytes_sent": jgrp["py_bytes_sent"] / n,
            "probe.py_run_s": jgrp["py_run_ms"] / 1e3 / n,
            "join.semi_s": semi_s,
            "join.anti_s": anti_s,
            "join.candidates": self.candidates,
            "join.useful_frac": self.semi_exact / self.candidates,
            "join.shuffle_bytes": jgrp["shuffle_write_bytes"] / n,
            "refresh.refresh_s": statistics.median(refresh),
            "refresh.append_s": statistics.median(append),
            "refresh.trigger_overhead_s": statistics.median(overhead),
            "refresh.jobs_per_refresh": rgrp["jobs"] / per_refresh,
            "refresh.log_rows": self.log_rows,
            "refresh.log_bytes": self.log_bytes,
            "refresh.version_bytes": self.version_bytes,
            "build.shuffle_bytes": rgrp["shuffle_write_bytes"] / per_refresh,
            "build.py_bytes_sent": rgrp["py_bytes_sent"] / per_refresh,
        }
        m.update(shard_stats(self.table))
        return m


def _iso_ts(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _latest(run: str) -> str:
    with open(f"{run}/table/_LATEST") as fh:
        return fh.read().split()[0]


WORKLOADS = {w.name: w for w in (CorpusBuild, StreamDedup)}
