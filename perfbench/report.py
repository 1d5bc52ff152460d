"""Turns a workload :class:`~perfbench.workloads.Result` (and, when
traced, its spans) into the benchmark's metrics and report.

Per-layer metrics are medians over the run's traced spans of that name.
"""

from __future__ import annotations

from perfbench.stats import median, summarize
from perfbench.tracing import group_by_name
from perfbench.workloads import K, SAVED_TABLES, SINGLE_KINDS

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "peak_cached_mb": "MB",
}

LAYER_UNITS = {
    "tokenization.wall_s": "s",
    "tokenization.task_cpu_s": "s",
    "ids.wall_s": "s",
    "ids.jobs": "count",
    "indexer.wall_s": "s",
    "indexer.shuffle_write_mb": "MB",
    "indexer.spill_mb": "MB",
    "shards.compress_wall_s": "s",
    "shards.compress_task_cpu_s": "s",
    "shards.n_blocks": "count",
    "index_io.save_wall_s": "s",
    **{f"index_io.bytes.{t}": "B" for t in SAVED_TABLES},
    "retrieval.tokenize_queries_wall_s": "s",
    "shards.retrieve_wall_s": "s",
    "shards.retrieve_task_cpu_s": "s",
    "shards.postings_scanned": "count",
    "shards.postings_scored": "count",
    "shards.candidates_emitted": "count",
    "shards.cpu_ns_per_posting_scored": "ns",
    "shards.candidate_yield": "ratio",
    "shards.candidate_shuffle_mb": "MB",
    **{f"{k}.{m}": u for k in SINGLE_KINDS
       for m, u in (("jobs_per_call", "count"), ("tasks_per_call", "count"),
                    ("driver_result_kb", "KB"))},
    "spark.jobs_per_op": "count",
    "spark.task_cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "trace.overhead_frac": "ratio",
    "trace.coverage": "ratio",
}

_MB = 1 / 2**20


def _med(values: list[float]) -> float:
    return median(values) if values else 0.0


def _wall(rec: dict) -> float:
    return rec["end"] - rec["start"]


def end_to_end(result) -> dict:
    return {name: {"value": value, "unit": E2E_UNITS[name]}
            for name, value in result.metrics().items()}


def layer_values(result, tracer) -> dict[str, float]:
    by = group_by_name(tracer)

    def wall(name):
        return _med([_wall(r) for r in by.get(name, [])])

    def total(name, key, scale=1.0):
        return _med([tracer.total(r)[key] * scale for r in by.get(name, [])])

    def attr(name, key):
        return _med([r["attrs"][key] for r in by.get(name, [])
                     if key in r["attrs"]])

    retrieves = [r for r in by.get("shards.retrieve", [])
                 if r["attrs"].get("postings_scored")]
    v = {
        "tokenization.wall_s": wall("tokenization"),
        "tokenization.task_cpu_s": total("tokenization", "task_cpu_s"),
        "ids.wall_s": wall("ids"),
        "ids.jobs": total("ids", "jobs"),
        "indexer.wall_s": wall("indexer"),
        "indexer.shuffle_write_mb": total("indexer", "shuffle_write_b", _MB),
        "indexer.spill_mb": total("indexer", "spill_b", _MB),
        "shards.compress_wall_s": wall("shards.compress"),
        "shards.compress_task_cpu_s": total("shards.compress", "task_cpu_s"),
        "shards.n_blocks": attr("shards.compress", "n_blocks"),
        "index_io.save_wall_s": wall("index_io.save"),
        **{f"index_io.bytes.{t}": result.saved_bytes.get(t, 0)
           for t in SAVED_TABLES},
        "retrieval.tokenize_queries_wall_s": wall("retrieval.tokenize_queries"),
        "shards.retrieve_wall_s": wall("shards.retrieve"),
        "shards.retrieve_task_cpu_s": total("shards.retrieve", "task_cpu_s"),
        "shards.postings_scanned": attr("shards.retrieve", "postings_scanned"),
        "shards.postings_scored": attr("shards.retrieve", "postings_scored"),
        "shards.candidates_emitted": attr("shards.retrieve",
                                          "candidates_emitted"),
        "shards.cpu_ns_per_posting_scored": _med([
            1e9 * tracer.total(r)["task_cpu_s"] / r["attrs"]["postings_scored"]
            for r in retrieves]),
        "shards.candidate_yield": _med([
            K * r["attrs"]["queries"] / r["attrs"]["candidates_emitted"]
            for r in retrieves if r["attrs"].get("candidates_emitted")]),
        "shards.candidate_shuffle_mb": total("shards.retrieve",
                                             "shuffle_write_b", _MB),
    }
    for kind in SINGLE_KINDS:
        v[f"{kind}.jobs_per_call"] = total(kind, "jobs")
        v[f"{kind}.tasks_per_call"] = total(kind, "tasks")
        v[f"{kind}.driver_result_kb"] = total(kind, "result_b", 1 / 1024)
    ops = [r for r in tracer.spans if r["parent"] is None]
    for key, name in (("jobs", "spark.jobs_per_op"),
                      ("task_cpu_s", "spark.task_cpu_s_per_op"),
                      ("gc_s", "spark.gc_s_per_op")):
        v[name] = (sum(tracer.total(r)[key] for r in ops) / len(ops)
                   if ops else 0.0)
    v["trace.overhead_frac"], v["trace.coverage"] = _trace_quality(
        result, tracer, by)
    return v


def _trace_quality(result, tracer, by) -> tuple[float, float]:
    """(tracer bookkeeping ÷ traced op wall, leaf-span walls ÷ traced op
    wall) over the run's top-level spans."""
    tops = [r for r in tracer.spans if r["parent"] is None]
    wall = sum(_wall(r) for r in tops)
    if not wall:
        return 0.0, 0.0
    leaves = sum(_wall(x) for r in tops for x in _leaves(tracer, r))
    return tracer.overhead_s / wall, leaves / wall


def _leaves(tracer, rec: dict) -> list[dict]:
    kids = [r for r in tracer.spans if r["parent"] == rec["id"]]
    if not kids:
        return [rec]
    return [leaf for k in kids for leaf in _leaves(tracer, k)]


def layer_metrics(result, tracer) -> dict:
    return {name: {"value": value, "unit": LAYER_UNITS[name]}
            for name, value in layer_values(result, tracer).items()}


def print_table(workload: str, seed: int, result, metrics: dict,
                tracer=None) -> None:
    print(f"== perfbench {workload} seed={seed}")
    print(f"   setup {result.setup_s:.2f} s; ops "
          + " ".join(f"{w:.2f}" for w in result.ops)
          + f" s; answer checks {result.check_s:.2f} s")
    for kind, walls in result.samples.items():
        s = summarize([1e3 * w for w in walls])
        cols = "  ".join(f"{k}={v:.1f}" if isinstance(v, float) else
                         f"{k}={v}" for k, v in s.items())
        print(f"   op {kind:<14} ms  {cols}")
    if tracer is not None and tracer.enabled:
        print("   layer spans (median per span: wall s, jobs, tasks, "
              "task cpu s; jobs by call-site module)")
        for name, recs in group_by_name(tracer).items():
            tot = [tracer.total(r) for r in recs]
            mods: dict[str, int] = {}
            for r in recs:
                for mod, c in r.get("by_module", {}).items():
                    mods[mod] = mods.get(mod, 0) + c["jobs"]
            print(f"     {name:<28} n={len(recs):<3}"
                  f" wall={_med([_wall(r) for r in recs]):8.3f}"
                  f" jobs={_med([t['jobs'] for t in tot]):5.1f}"
                  f" tasks={_med([t['tasks'] for t in tot]):6.1f}"
                  f" cpu={_med([t['task_cpu_s'] for t in tot]):7.3f}"
                  f"  {mods}")
    for name, m in metrics.items():
        print(f"   {name:<40} {m['value']:>14.6g} {m['unit']}")
    print(f"   attempted={result.attempted} failed={len(result.failures)}")
    for f in result.failures[:20]:
        print(f"   FAILED {f}")
