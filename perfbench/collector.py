"""Spark-side collector and span tracer.

The collector reads the live UI REST API of the benchmark's own session
after each traced call: the jobs the call launched (found by job group),
their stages and tasks, and the SQL-node metrics of ``Exchange`` and
Python nodes. The tracer keeps spans in memory: one per operator call
(plan construction) and one per collect (execution), with the Spark jobs
each launched attached as child spans.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

_PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
}
_EXCHANGE_METRICS = {
    "shuffle bytes written": "shuffle_bytes",
    "fetch wait time": "fetch_wait_s",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Total of one SQL metric as the UI renders it: plain counts
    (``"1,024"``), sizes (``"1.5 MiB"``) and times (``"120 ms"``, in
    seconds); multi-task metrics start their second line with the total."""
    lines = text.split("\n")
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 \
        else lines[0]
    m = _NUM.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def _epoch(stamp: str) -> float:
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


class Collector:
    """Reads one session's UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._n = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def new_group(self, label: str) -> str:
        self._n += 1
        group = f"pb-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, group: str, timeout: float = 20.0) -> list:
        """Finished jobs of one group, waiting for the UI listener to
        catch up with the driver."""
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or \
                    time.time() > deadline:
                return jobs
            time.sleep(0.05)

    def sql(self, job_ids: set, timeout: float = 20.0) -> list:
        """SQL executions that ran any of ``job_ids``, once completed."""
        deadline = time.time() + timeout
        while True:
            execs = [
                e for e in self._get("/sql?details=true&length=100000")
                if job_ids & set(e.get("successJobIds", [])
                                 + e.get("failedJobIds", [])
                                 + e.get("runningJobIds", []))
            ]
            if all(e["status"] != "RUNNING" for e in execs) or \
                    time.time() > deadline:
                return execs
            time.sleep(0.05)

    def stage_skew(self, stage_id: int) -> float:
        """Slowest task run time over the median in one stage."""
        attempts = self._get(f"/stages/{stage_id}")
        att = attempts[0]["attemptId"]
        s = self._get(f"/stages/{stage_id}/{att}/taskSummary"
                      "?quantiles=0.5,1.0")
        med, mx = s["executorRunTime"]
        return mx / med if med > 0 else 1.0

    def call_metrics(self, group: str) -> dict:
        """Counters for every job one traced call launched. Python-node
        metrics are split between map nodes (``py``, the operators'
        partial builders and mergers) and eval nodes (``udf``, the query
        functions); ``map_rows`` lists each map node's output rows from
        the plan root down."""
        jobs = self.jobs(group)
        out = {
            "jobs": len(jobs),
            "stages": sum(j["numCompletedStages"] for j in jobs),
            "tasks": sum(j["numCompletedTasks"] for j in jobs),
            "job_spans": [
                (j["jobId"], _epoch(j["submissionTime"]),
                 _epoch(j.get("completionTime", j["submissionTime"])))
                for j in jobs if "submissionTime" in j
            ],
            "shuffle_bytes": 0.0, "fetch_wait_s": 0.0,
            "py": defaultdict(float), "udf": defaultdict(float),
            "map_rows": [], "map_stage": None,
        }
        ids = {j["jobId"] for j in jobs}
        for e in self.sql(ids) if ids else []:
            for node in sorted(e.get("nodes", []), key=lambda n: n["nodeId"]):
                name = node["nodeName"]
                vals = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if name.endswith("Exchange"):
                    for src, dst in _EXCHANGE_METRICS.items():
                        if src in vals:
                            out[dst] += metric_value(vals[src])
                if "data sent to Python workers" not in vals:
                    continue
                side = "udf" if "Eval" in name else "py"
                for src, dst in _PY_METRICS.items():
                    if src in vals:
                        out[side][dst] += metric_value(vals[src])
                if side == "py":
                    out["map_rows"].append(metric_value(
                        vals.get("number of output rows", "0")))
                    m = re.search(r"stage (\d+)\.", vals.get(
                        "time to run Python workers", ""))
                    if m:
                        out["map_stage"] = int(m.group(1))
        return out


class Tracer:
    """In-memory spans: ``(id, parent, name, module, start, end)``."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, module: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "name": name, "module": module,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add_jobs(self, parent: dict, job_spans) -> None:
        """Attach Spark jobs as child spans of ``parent`` (only the part
        of each job inside the parent's interval is counted)."""
        for job_id, t0, t1 in job_spans:
            if t1 < parent["start"] or t0 > parent["end"]:
                continue
            self.spans.append({
                "id": len(self.spans), "parent": parent["id"],
                "name": f"job {job_id}", "module": "spark",
                "start": max(t0, parent["start"]),
                "end": min(t1, parent["end"]),
            })

    def self_times(self) -> dict:
        """Per module: span time not covered by the span's children."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out = defaultdict(float)
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["module"]] += (s["end"] - s["start"]) - covered
        return dict(out)
