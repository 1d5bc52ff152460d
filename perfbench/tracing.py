"""Spans around public library calls, and Spark work folded per span
from the Spark event log.

Tracing is off unless the benchmark runs with ``--trace 1``; off, a
span is a no-op: no job group is set, no event log is written and no
Spark job is added.  On, each span sets a Spark job group named after
it, so every job the call launches carries the span's id in the event
log; after the session stops the log is read once and each job's tasks
are added to its span, split by the library module of the job's
recorded call site.  Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"
_MODULE = re.compile(r"bm25s_spark/((?:\w+/)*\w+)\.py")

_COUNTERS = ("jobs", "tasks", "task_cpu_s", "task_run_s", "gc_s",
             "shuffle_write_b", "shuffle_read_b", "spill_b", "result_b")


def _zero() -> dict:
    return {c: 0 for c in _COUNTERS}


def module_of(call_site: str) -> str:
    """Library module named in a job's call site (``shards``,
    ``operators.qld`` ...), or ``client`` for jobs the benchmark itself
    starts (collecting a returned DataFrame)."""
    m = _MODULE.search(call_site or "")
    return m.group(1).replace("/", ".") if m else "client"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, request: str | None = None):
        """Record ``name`` around the block; yields the span record, whose
        ``attrs`` dict callers may fill with counts (accumulator values
        and the like) — a throwaway record when tracing is off."""
        if not self.enabled:
            yield {"attrs": {}}
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            "start": None, "end": None, "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{GROUP_PREFIX}{parent['id']}", parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    # event-log fold ------------------------------------------------------
    def fold(self, event_log_dir: str) -> None:
        """Add each job's task metrics to the span whose group it ran
        under: ``self`` (this span only) and ``by_module`` (split by the
        call site's library module).  Call after the session stopped, so
        the log is complete."""
        for rec in self.spans:
            rec["self"] = _zero()
            rec["by_module"] = {}
        files = sorted((
            f for f in glob.glob(os.path.join(event_log_dir, "**", "*"),
                                 recursive=True)
            if os.path.isfile(f)
            and not os.path.basename(f).startswith((".", "appstatus"))),
            key=os.path.getmtime)
        if not files:
            raise RuntimeError(f"no Spark event log in {event_log_dir}")
        stage_job: dict[int, int] = {}
        job_span: dict[int, tuple[int, str]] = {}
        by_id = {rec["id"]: rec for rec in self.spans}
        for ev in _events(files):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                if not group.startswith(GROUP_PREFIX):
                    continue
                sid = int(group[len(GROUP_PREFIX):])
                mod = module_of(props.get("callSite.short", ""))
                job_span[ev["Job ID"]] = (sid, mod)
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, ev["Job ID"])
                self._add(by_id[sid], mod, {"jobs": 1})
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev.get("Stage ID"))
                if job is None or job not in job_span:
                    continue
                sid, mod = job_span[job]
                self._add(by_id[sid], mod, _task_counts(ev))

    @staticmethod
    def _add(rec: dict, mod: str, counts: dict) -> None:
        per_mod = rec["by_module"].setdefault(mod, _zero())
        for k, v in counts.items():
            rec["self"][k] += v
            per_mod[k] += v

    def total(self, rec: dict) -> dict:
        """Counts of ``rec`` and all its descendants."""
        out = dict(rec.get("self") or _zero())
        for child in self.spans:
            if child["parent"] == rec["id"]:
                for k, v in self.total(child).items():
                    out[k] += v
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)


def _events(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _task_counts(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    return {
        "tasks": 1,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_b": (sr.get("Remote Bytes Read", 0)
                           + sr.get("Local Bytes Read", 0)),
        "spill_b": (m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0)),
        "result_b": m.get("Result Size", 0),
    }


def group_by_name(tracer: Tracer) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for rec in tracer.spans:
        out[rec["name"]].append(rec)
    return out
