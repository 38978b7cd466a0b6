"""Per-layer metrics of a traced run (``--trace 1``).

The run spends half its time untraced and half traced; the difference of
the two job medians is the tracing overhead. Spark counters of a traced
job are credited to the module whose public function built the step's
plan, except the Python eval time of query functions the benchmark adds
on top (``Ctx.collect``'s ``probes``).
Counters are means per call into the module; a module a workload does
not call reports 0.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

from collector import Collector, Tracer
from kernels import replay
from session import worker_peak_rss_mb

# module -> counters reported as means per call
SPARK_COUNTERS = {
    "operators.agg": ("plan_ms", "probe_jobs", "jobs", "stages", "tasks",
                      "shuffle_bytes", "fetch_wait_s", "partials_per_group",
                      "task_skew", "py_bytes_sent", "py_bytes_returned",
                      "py_run_s", "py_start_s"),
    "operators.companions": ("plan_ms", "jobs", "py_bytes_sent", "py_run_s"),
    "functions": ("py_run_s", "py_bytes_sent"),
    "operators.dedup": ("plan_ms", "jobs", "shuffle_bytes", "py_run_s"),
    "operators.contamination": ("plan_ms", "jobs", "shuffle_bytes",
                                "py_run_s"),
    "operators.pack": ("plan_ms", "jobs", "shuffle_bytes", "py_run_s"),
    "operators.sample": ("plan_ms", "jobs", "shuffle_bytes", "py_run_s"),
}
# metric -> job kinds whose mean wall time it reports
KIND_WALLS = {
    "operators.companions.cms_topk_s": ("topk_role",),
    "functions.df_probe_s": ("df_probe",),
    "functions.sql_probe_s": ("sql_probe",),
    "operators.rollup.merge_s": ("rollup_td",),
    "sources.checkpoint.merge_s": ("ckpt_merge",),
    "operators.dedup.wall_s": ("dedup_exact", "dedup_lines"),
    "operators.contamination.wall_s": ("contamination",),
    "operators.pack.wall_s": ("pack",),
    "operators.sample.wall_s": ("sample",),
}
UNITS = {
    "plan_ms": "ms", "probe_jobs": "count", "jobs": "count",
    "stages": "count", "tasks": "count", "shuffle_bytes": "B",
    "fetch_wait_s": "s", "partials_per_group": "ratio",
    "task_skew": "ratio", "py_bytes_sent": "B", "py_bytes_returned": "B",
    "py_run_s": "s", "py_start_s": "s",
}
KERNEL_UNITS = {"_ns_per_value": "ns", "_keys": "ns",
                "_ns_per_key": "ns", "_us": "us", "blob_bytes": "B"}


class Layers:
    """Accumulates the traced jobs' Spark counters per module."""

    def __init__(self, collector: Collector, tracer: Tracer):
        self.collector = collector
        self.tracer = tracer
        self.acc = defaultdict(lambda: defaultdict(float))
        self.calls = defaultdict(int)
        self.kind_walls = defaultdict(list)
        self.by_kind = defaultdict(lambda: defaultdict(float))
        self.skews = []

    def add(self, job, wall: float, steps) -> None:
        self.kind_walls[job.kind].append(wall)
        this = self.by_kind[job.kind]
        this["wall_s"] += wall
        touched = {job.module}
        for span, group, phase, module, probes in steps:
            m = self.collector.call_metrics(group)
            self.tracer.add_jobs(span, m["job_spans"])
            this["py_run_s"] += m["py"]["py_run_s"] + m["udf"]["py_run_s"]
            this["shuffle_bytes"] += m["shuffle_bytes"]
            a = self.acc[module]
            touched.add(module)
            if phase == "plan":
                a["plan_ms"] += (span["end"] - span["start"]) * 1000
                a["probe_jobs"] += m["jobs"]
            for k in ("jobs", "stages", "tasks", "shuffle_bytes",
                      "fetch_wait_s"):
                a[k] += m[k]
            for k, v in m["py"].items():
                a[k] += v
            for k, v in m["udf"].items():
                self.acc[probes][k] += v
            if m["udf"]:
                touched.add(probes)
            if m["map_rows"] and m["map_rows"][0] > 0:
                a["partials"] += m["map_rows"][-1]
                a["merged"] += m["map_rows"][0]
            if module == "operators.agg" and phase == "run" and \
                    m["map_stage"] is not None:
                self.skews.append(self.collector.stage_skew(m["map_stage"]))
        for module in touched:
            self.calls[module] += 1

    def kind_report(self) -> dict:
        """Per job kind: Python worker time as a share of job wall time
        (summed over tasks, so it can pass 1) and shuffle bytes per job,
        which set the regimes of one workload apart."""
        return {kind: {"py_run_share": round(k["py_run_s"] / k["wall_s"], 3),
                       "shuffle_bytes": round(
                           k["shuffle_bytes"] / len(self.kind_walls[kind]))}
                for kind, k in self.by_kind.items()}

    def metrics(self) -> dict:
        out = {}
        for module, names in SPARK_COUNTERS.items():
            a, n = self.acc[module], max(self.calls[module], 1)
            for name in names:
                if name == "partials_per_group":
                    v = a["partials"] / a["merged"] if a["merged"] else 0.0
                elif name == "task_skew":
                    v = statistics.median(self.skews) if self.skews else 0.0
                else:
                    v = a[name] / n
                out[f"{module}.{name}"] = (v, UNITS[name])
        for name, kinds in KIND_WALLS.items():
            walls = [w for k in kinds for w in self.kind_walls.get(k, [])]
            out[name] = (statistics.mean(walls) if walls else 0.0, "s")
        return out


def _noop_ms(spark, cores: int) -> tuple:
    """Median wall of a one-row job and of a one-stage identity
    Python map over ``cores`` partitions, in ms."""
    def ident(batches):
        yield from batches

    jvm, py = [], []
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).collect()
        jvm.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(0, cores, 1, cores).mapInArrow(ident, "id long").collect()
        py.append(time.perf_counter() - t0)
    return statistics.median(jvm) * 1000, statistics.median(py) * 1000


def _kernel_metrics(w, cores: int) -> dict:
    out = {}
    for name, v in replay(*w.replay_arrays(), 2 * cores).items():
        unit = next(u for s, u in KERNEL_UNITS.items() if name.endswith(s))
        out[name] = (v, unit)
    return out


def traced_metrics(r, args, session_start_s: float, root: str) -> dict:
    from workloads import Ctx

    half = args.seconds / 2
    r.cycles(half, r.plain)
    untraced = [wall for _, wall in r.jobs]
    collector, tracer = Collector(r.spark), Tracer()
    layers = Layers(collector, tracer)
    ctx = Ctx(r.spark, tracer, collector)
    traced = []

    def on_job(job, wall):
        traced.append(wall)
        layers.add(job, wall, ctx.take_steps())

    r.cycles(half, ctx, on_job=on_job)
    out = layers.metrics()
    noop_job, noop_py = _noop_ms(r.spark, r.cores)
    out["plans.session_start_s"] = (session_start_s, "s")
    out["plans.noop_job_ms"] = (noop_job, "ms")
    out["plans.noop_python_stage_ms"] = (noop_py, "ms")
    out["sources.checkpoint.build_s"] = (
        getattr(r.w, "ckpt_build_s", 0.0), "s")
    out["sources.checkpoint.bytes_written"] = (
        getattr(r.w, "ckpt_bytes", 0), "B")
    out.update(_kernel_metrics(r.w, r.cores))
    out["sketches.tdigest.rank_err_max"] = (
        max(j.td_err for j, _ in r.jobs), "frac")
    out["sketches.hll.rel_err_max"] = (
        max(j.hll_err for j, _ in r.jobs), "frac")
    # read at the end: reused workers live on, but one idle for over a
    # minute may have exited, taking its peak with it
    out["workers.peak_rss_mb"] = (worker_peak_rss_mb(), "MB")
    out["trace.overhead_ms"] = (
        (statistics.median(traced) - statistics.median(untraced)) * 1000,
        "ms")

    print("kinds " + json.dumps(layers.kind_report()), flush=True)
    self_s = tracer.self_times()
    print(f"spans={len(tracer.spans)} self_s " + json.dumps(
        {k: round(v, 4) for k, v in sorted(self_s.items())}), flush=True)
    spans_dir = os.path.join(root, ".perfbench_work", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    with open(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}"
                           ".json"), "w") as f:
        json.dump({"spans": tracer.spans, "self_s": self_s}, f)
    return out
