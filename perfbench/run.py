"""xorf_spark benchmark: one workload per process on ``local[<nproc>]``.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics. The line
before it is the run's metadata (co-tenant load, sample counts, set-up
repetitions). See NOTES.md for every metric, workload and the traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

T_PROCESS = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NPROC = os.cpu_count() or 1
#: fixed driver heap: the whole tree stays well under the box's 15 GB
DRIVER_MEMORY = "2g"
#: fixed young generation: G1 otherwise resizes it by its own timing
#: heuristics, and the heap's resident size moved by ~20% between runs of
#: the same work; the old generation still grows only as data is retained
DRIVER_YOUNG_GEN = "768m"
#: set-ups per run; setup_s is their median
SETUP_REPS = 3

E2E_UNITS = {"setup_s": "s", "job_s": "s", "peak_pss_mb": "MiB",
             "bits_per_key": "bit", "fp_rate": "frac"}


# ---------------------------------------------------------------------------
# Process tree: CPU and memory of this process and every descendant (the driver
# JVM and its python workers), from /proc
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_stats() -> dict[int, list[str]]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        out[int(d)] = s[s.rfind(")") + 2:].split()
    return out


def _tree(stats: dict[int, list[str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    todo, tree = [os.getpid()], []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """user+sys CPU of the tree, reaped children included."""
    stats = _proc_stats()
    return sum(sum(int(x) for x in stats[p][11:15])
               for p in _tree(stats) if p in stats) / _CLK


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def tree_pss_mb() -> tuple[float, dict]:
    """Summed proportional set size of the tree, and (processes, MiB) per
    command name. PSS splits pages shared between processes (python
    workers forked from one daemon; a JVM child between fork and exec), so
    the sum counts each page once where a sum of RSS would not."""
    by_comm: dict[str, list] = {}
    for p in _tree(_proc_stats()):
        try:
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        row = by_comm.setdefault(comm, [0, 0.0])
        row[0] += 1
        row[1] += _pss_mb(p)
    return sum(r[1] for r in by_comm.values()), by_comm


class MemPeak:
    """Samples the tree's summed PSS every 50 ms while ``armed``."""

    def __init__(self):
        self.armed = False
        self.peak = 0.0
        self.at_peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.wait(0.05):
            if self.armed:
                mb, by_comm = tree_pss_mb()
                if mb > self.peak:
                    self.peak, self.at_peak = mb, by_comm

    def close(self):
        self._stop.set()
        self._thread.join()


def cpu_counters() -> tuple[int, int, int]:
    """(idle+iowait, steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[3] + f[4], f[7], sum(f[:8])


def stolen_share(k0, k1) -> float:
    """Share of the CPU time runnable work wanted between two
    ``cpu_counters`` readings that the hypervisor gave to other guests.
    Steal only accrues on a vCPU that has work to run, so this is the
    share of our own work's CPU time lost to co-tenants."""
    wanted = (k1[2] - k0[2]) - (k1[0] - k0[0])
    return (k1[1] - k0[1]) / wanted if wanted > 0 else 0.0


def cotenant(sample_s: float = 0.5) -> tuple[float, float]:
    """(busy, steal) fractions of all CPUs while this process is idle:
    anything busy in the window is another tenant's load."""
    i0, s0, t0 = cpu_counters()
    time.sleep(sample_s)
    i1, s1, t1 = cpu_counters()
    dt = max(t1 - t0, 1)
    return 1 - (i1 - i0) / dt - (s1 - s0) / dt, (s1 - s0) / dt


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (a python
    worker whose daemon has died), so ``stop_all`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_all(grace_s: float = 60.0) -> None:
    """Stop Spark and the JVM this process launched, then every other
    descendant, and wait until each has ended. Left alone, the JVM only
    notices its closed stdin after this process has exited, and outlives it
    by seconds."""
    import signal
    import subprocess

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            traceback.print_exc()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        # the launcher JVM exits when its stdin reaches EOF
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        left = [p for p in _tree(_proc_stats()) if p != os.getpid()]
        while True:  # reap every ended child, orphans adopted included
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def settle_memory() -> None:
    """Collect this process's garbage and hand pyarrow's freed pages back,
    so the set-ups' and the warm-up's leftovers do not carry into the
    timed window's memory peak."""
    import gc

    import pyarrow as pa

    gc.collect()
    pa.default_memory_pool().release_unused()


# ---------------------------------------------------------------------------


def start_session(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    b = (SparkSession.builder.master(f"local[{NPROC}]")
         .appName("xorf-perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.driver.extraJavaOptions", f"-Xmn{DRIVER_YOUNG_GEN}")
         .config("spark.sql.shuffle.partitions", str(4 * NPROC))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", f"{work}/spark-local")
         .config("spark.sql.warehouse.dir", f"{work}/warehouse"))
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from xorf_spark import dataflow
    dataflow.ship_package(spark)
    return spark


class Phase:
    """One Spark session: set-ups, then timed iterations for ``seconds``."""

    def __init__(self, cls, seed, seconds, work, traced, setup_reps):
        from tracing import Tracer

        self.event_dir = f"{work}/events" if traced else None
        t = time.monotonic()
        self.spark = start_session(work, self.event_dir)
        self.session_s = time.monotonic() - t
        self.tr = Tracer(self.spark.sparkContext if traced else None)
        self.wl = cls(self.spark, seed, tempfile.mkdtemp(dir=work), self.tr)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.mem = MemPeak()
        self.setup_s = []
        self.job_s, self.cpu_s, self.iters = [], [], []
        self.wall_s, self.steal_s = [], []
        try:
            for rep in range(setup_reps):
                t, k0 = time.monotonic(), cpu_counters()
                with self.tr.span("setup") as root:
                    self.wl.setup(rep)
                self.setup_root = root
                self.setup_s.append((time.monotonic() - t)
                                    * (1 - stolen_share(k0, cpu_counters())))
            t = time.monotonic()
            with self.tr.span("warmup"):
                self._count(self.wl.warm_up)
            self.warmup_s = time.monotonic() - t
            settle_memory()
            t_steal = cpu_counters()
            while not self.wall_s or sum(self.wall_s) < seconds:
                self._attempt()
        finally:
            self.mem.close()
        _, s1, t1 = cpu_counters()
        self.steal = (s1 - t_steal[1]) / max(t1 - t_steal[2], 1)

    def _attempt(self) -> None:
        """One timed iteration: adds to job_s, cpu_s and the memory peak.
        Its outputs are checked after the clock stops."""
        out = root = None
        self.mem.armed = True
        c0, t0, k0 = tree_cpu_s(), time.monotonic(), cpu_counters()
        try:
            with self.tr.span("job") as root:
                out = self.wl.iterate()
        except Exception:
            self._count(lambda: [traceback.format_exc()])
        finally:
            self.mem.armed = False
            wall = time.monotonic() - t0
            k1 = cpu_counters()
            steal = stolen_share(k0, k1)
            self.wall_s.append(wall)
            self.steal_s.append(steal)
            self.job_s.append(wall * (1 - steal))
            self.cpu_s.append(tree_cpu_s() - c0)
        if out is not None:
            self._count(lambda: self.wl.check(out))
            if root is not None:
                self.iters.append(root)

    def _count(self, op) -> None:
        """Run ``op`` (returns a list of errors) as one attempted operation."""
        self.attempted += 1
        try:
            errs = op()
        except Exception:
            errs = [traceback.format_exc()]
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            for e in errs:
                print(f"[perfbench] {self.wl.name}: {e}", file=sys.stderr)

    def stop(self) -> None:
        self.spark.stop()


def end_to_end(args, cls, work) -> tuple[dict, dict]:
    p = Phase(cls, args.seed, args.seconds, work, traced=False,
              setup_reps=SETUP_REPS)
    # no quality reading only if every iteration failed; the run then
    # reports correct=false and zeros here
    bpk, fp = p.wl.quality or (0.0, 0.0)
    p.stop()
    metrics = {
        "setup_s": statistics.median(p.setup_s),
        "job_s": statistics.median(p.job_s),
        "peak_pss_mb": p.mem.peak,
        "bits_per_key": bpk,
        "fp_rate": fp,
    }
    meta = {"session_s": p.session_s, "setup_s_samples": p.setup_s,
            "warmup_s": p.warmup_s, "cpu_s": statistics.median(p.cpu_s),
            "job_s_samples": p.job_s, "wall_s_samples": p.wall_s,
            "steal_frac_samples": p.steal_s, "cpu_s_samples": p.cpu_s,
            "peak_pss_by_process": p.mem.at_peak,
            "steal_frac": p.steal}
    return {k: (v, E2E_UNITS[k]) for k, v in metrics.items()}, (p, meta)


def per_layer(args, cls, work) -> tuple[dict, tuple]:
    from tracing import Folded, fold_event_log
    from workloads import LAYER_UNITS, kernel_ns_per_key

    # traced, then untraced: the untraced phase runs in the warmer JVM, so
    # the overhead errs high rather than low
    p = Phase(cls, args.seed, args.seconds, work, traced=True, setup_reps=1)
    p.wl.finish()
    p.stop()
    plain = Phase(cls, args.seed, args.seconds / 2, work, traced=False,
                  setup_reps=1)
    plain.stop()
    folded = Folded(fold_event_log(p.event_dir), p.tr)
    layers = dict.fromkeys(LAYER_UNITS, 0.0)
    layers.update(p.wl.layers(p.setup_root, p.iters, folded))
    tot = folded.group(p.iters)
    n = max(len(p.iters), 1)
    traced = statistics.median(p.job_s)
    untraced = statistics.median(plain.job_s)
    covered = [1 - p.tr.self_time(it) / (it["end"] - it["start"])
               for it in p.iters]
    kb, kp = kernel_ns_per_key()
    layers.update({
        "kernel.bfuse8_build_ns_per_key": kb,
        "kernel.bfuse8_probe_ns_per_key": kp,
        "spark.executor_run_s": tot["run_ms"] / 1e3 / n,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.gc_s": tot["gc_ms"] / 1e3 / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.jobs": tot["jobs"] / n,
        "trace.job_s": traced,
        "trace.untraced_job_s": untraced,
        "trace.overhead_s": traced - untraced,
        "trace.coverage": statistics.median(covered),
    })
    p.tr.write(os.path.join(ROOT, ".bench_work", "traces",
                            f"{cls.name}-seed{args.seed}-{p.tr.run_id}.json"))
    meta = {"session_s": p.session_s, "job_s_samples": p.job_s,
            "untraced_job_s_samples": plain.job_s,
            "steal_frac": p.steal}
    p.attempted += plain.attempted
    p.failed += plain.failed
    p.errors += plain.errors
    return {k: (v, LAYER_UNITS[k]) for k, v in layers.items()}, (p, meta)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xorf_spark")):
        print(f"[perfbench] no xorf_spark package under {ROOT}: run from the "
              f"root of a full checkout", file=sys.stderr)
        return 2
    # one BLAS/OpenMP thread per python worker; workers inherit this env
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    tempfile.tempdir = None
    # every JVM the run starts (the launcher and the driver) keeps its
    # temp files in the work directory and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work}/tmp "
                                       "-XX:-UsePerfData")
    sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), ROOT]

    from workloads import WORKLOADS
    cls = WORKLOADS.get(args.workload)
    if cls is None:
        print(f"[perfbench] unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    adopt_orphans()
    busy, steal = cotenant()
    try:
        metrics, (p, meta) = (per_layer if args.trace else end_to_end)(
            args, cls, work)
    finally:
        stop_all()
        shutil.rmtree(work, ignore_errors=True)
    meta.update({"workload": args.workload, "seed": args.seed,
                 "trace": args.trace, "nproc": NPROC,
                 "master": f"local[{NPROC}]", "driver_memory": DRIVER_MEMORY,
                 "driver_young_gen": DRIVER_YOUNG_GEN,
                 "cotenant_busy_frac": busy, "cotenant_steal_frac": steal,
                 "samples": len(p.job_s), "wall_s": time.monotonic() - T_PROCESS,
                 "errors": p.errors[:5]})
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": p.failed == 0, "attempted": p.attempted,
        "failed": p.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
