"""Spans recorded around the benchmark's calls into xorf_spark, and the
Spark event-log fold that splits each span's Spark jobs into task metrics.

A span is ``{id, name, parent, run, start, end}``; spans stay in memory
and are written as one JSON file when the run ends. With a SparkContext
attached, every span tags the jobs it launches with ``setJobGroup`` (group
id ``span-<id>``), so the event log can be folded per span afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid


class Tracer:
    """Records spans and tags their jobs; without a SparkContext it is
    disabled and records nothing."""

    def __init__(self, sc=None):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._tag(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(parent)

    def add(self, name: str, start: float, end: float, parent: dict | None,
            **attrs) -> dict:
        """Record a span whose bounds were measured elsewhere (e.g. by a
        streaming query's progress report)."""
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id, "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def _tag(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{rec['id']}", rec["name"])

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((max(c["start"], rec["start"]), min(c["end"], rec["end"]))
                     for c in self.children(rec))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def descendants(self, rec: dict) -> list[dict]:
        out, todo = [], [rec]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


# ---------------------------------------------------------------------------
# Event-log fold
# ---------------------------------------------------------------------------

#: task-metric accumulators folded per job group (SQL metrics of the python
#: runners plus Spark's internal task metrics)
_ACCUMS = {
    "data sent to Python workers": "py_bytes_sent",
    "time to run Python workers": "py_run_ms",
}


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
            "shuffle_write_bytes": 0.0, "py_bytes_sent": 0.0, "py_run_ms": 0.0}


def fold_event_log(event_dir: str) -> dict[str, dict]:
    """Fold task metrics per job group (key ``span-<id>``) or streaming
    batch (key ``batch-<batch id>-<query id>``) from an uncompressed Spark
    event log."""
    files = sorted(glob.glob(os.path.join(event_dir, "**", "*"),
                             recursive=True))
    stage_key: dict[int, str] = {}
    out: dict[str, dict] = {}
    for path in files:
        if not os.path.isfile(path) or os.path.basename(path).startswith(
                (".", "appstatus")):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = _key(ev.get("Properties") or {})
                    if key is None:
                        continue
                    out.setdefault(key, _empty())["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_key.setdefault(sid, key)
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev.get("Stage ID"))
                    if key is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    row = {
                        "tasks": 1,
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "shuffle_write_bytes": (tm.get("Shuffle Write Metrics")
                                                or {}).get(
                                                    "Shuffle Bytes Written", 0),
                    }
                    for acc in ev.get("Task Info", {}).get("Accumulables", []):
                        name = _ACCUMS.get(acc.get("Name"))
                        if name is not None:
                            row[name] = row.get(name, 0) + float(acc["Update"])
                    agg = out.setdefault(key, _empty())
                    for m, v in row.items():
                        agg[m] += v
    return out


def _key(props: dict) -> str | None:
    """The key a job is folded under: a streaming query's jobs (which carry
    the query's run id as their job group) by query and batch id, every
    other job by its job group."""
    if props.get("streaming.sql.batchId") is not None:
        return batch_key(props.get("sql.streaming.queryId", ""),
                         props["streaming.sql.batchId"])
    return props.get("spark.jobGroup.id") or None


def batch_key(query_id: str, batch_id) -> str:
    return f"batch-{batch_id}-{query_id}"


class Folded:
    """Folded task metrics, summed over the spans a caller names."""

    def __init__(self, raw: dict[str, dict], tracer: Tracer):
        self.raw = raw
        self.tr = tracer

    def group(self, spans: list[dict]) -> dict:
        """Metrics of the jobs launched under ``spans`` and their
        descendants (each span counted once)."""
        todo = list(spans)
        for s in spans:
            todo += self.tr.descendants(s)
        keys = set()
        for s in todo:
            keys.add(f"span-{s['id']}")
            if "batch" in s:
                keys.add(batch_key(s["query"], s["batch"]))
        total = _empty()
        for k in keys:
            for m, v in self.raw.get(k, {}).items():
                total[m] += v
        return total
