"""Repository benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload transcript_sketches --seed 1 \\
        --seconds 14 --trace 0

Run from the repository root. The command generates the workload's
inputs from ``--seed``, starts one pinned Spark session on
``local[nproc]``, runs one warm-up cycle of the workload's job kinds and
then issues jobs one at a time in a closed loop, in whole cycles, until
``--seconds`` have passed, checking every output against exact answers.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run measures half its
time untraced and half traced, so it can report the tracing overhead,
and writes its spans to ``.perfbench_work/spans/``. All files go under
``.perfbench_work/``.

End-to-end metrics: ``setup_s`` (session start, inputs and the warm-up
cycle), ``job_s_p50`` (each job kind's median wall time, geometric mean
over the kinds), ``job_s_tail`` (mean wall time of the slowest quarter
of the jobs), ``rows_per_s`` (input rows or stored digests read per
second of job wall time) and ``sketch_bytes_per_group``.

Workloads (see ``workloads.py``): ``transcript_sketches`` and
``corpus_curation``. The streaming operators are not measured:
micro-batch trigger timing does not repeat within a tenth.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".perfbench_work"


class Runner:
    """One workload in one session: setup, warm-up and measured cycles."""

    def __init__(self, workload, spark, cores: int):
        from workloads import Ctx

        self.w = workload
        self.spark = spark
        self.cores = cores
        self.plain = Ctx(spark)
        self.jobs: list = []      # (Job, wall seconds) after warm-up
        self.attempted = 0
        self.failed = 0
        self.walls: dict = {}     # kind -> every wall time, warm-up first

    def one(self, kind: str, ctx) -> tuple:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            job = self.w.run(kind, ctx)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            job = None
        wall = time.perf_counter() - t0
        self.walls.setdefault(kind, []).append(round(wall, 3))
        if job is None or not job.ok:
            self.failed += 1
            if job is not None:
                print(f"check failed: {kind}: {job.errors[:3]}",
                      file=sys.stderr)
        return job, wall

    def cycles(self, seconds: float, ctx, on_job=None):
        t0 = time.perf_counter()
        while True:
            for kind in self.w.kinds:
                job, wall = self.one(kind, ctx)
                if job is not None:
                    self.jobs.append((job, wall))
                    if on_job is not None:
                        on_job(job, wall)
            if time.perf_counter() - t0 >= seconds:
                return


def cpu_ticks() -> list:
    """The machine's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor took between two readings; a
    high share marks a run slowed by other tenants of the machine."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def e2e_metrics(r: Runner, setup_s: float) -> dict:
    times = sorted(w for _, w in r.jobs)
    groups = sum(j.groups for j, _ in r.jobs)
    by_kind: dict = {}
    for j, w in r.jobs:
        by_kind.setdefault(j.kind, []).append(w)
    # the kinds' wall times form clusters far apart, so a median pooled
    # over kinds jumps between the edges of two clusters; each kind's
    # median, combined by geometric mean, moves with every kind instead
    p50 = statistics.geometric_mean(
        statistics.median(v) for v in by_kind.values())
    # a run holds too few jobs for any percentile to have ten beyond it,
    # so the tail is the mean of the slowest quarter of the jobs
    slow = times[-math.ceil(len(times) / 4):]
    print(f"jobs={len(times)} tail_jobs={len(slow)} "
          f"walls={json.dumps(r.walls)}", flush=True)
    return {
        "setup_s": (setup_s, "s"),
        "job_s_p50": (p50, "s"),
        "job_s_tail": (statistics.mean(slow), "s"),
        "rows_per_s": (sum(j.rows for j, _ in r.jobs) / sum(times), "1/s"),
        "sketch_bytes_per_group": (
            sum(j.blob_bytes for j, _ in r.jobs) / max(groups, 1), "B"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "gr_tdigest_spark",
                                       "__init__.py")):
        print("run from the repository root: gr_tdigest_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import session
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR,
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        cores = os.cpu_count() or 1
        t0 = time.perf_counter()
        spark, confs, start_s = session.start_session(root, work, cores)
        print("session " + json.dumps(confs, sort_keys=True), flush=True)
        w = WORKLOADS[args.workload]()
        w.setup(spark, work, args.seed)
        t_inputs = time.perf_counter() - t0
        r = Runner(w, spark, cores)
        # warm-up: one cycle, so worker start and first-query costs are
        # part of set-up rather than of the measured jobs
        r.cycles(0, r.plain)
        r.jobs.clear()
        setup_s = time.perf_counter() - t0
        print(f"setup session_s={start_s:.2f} inputs_s={t_inputs - start_s:.2f}"
              f" warmup_s={setup_s - t_inputs:.2f}", flush=True)
        if args.trace:
            from layers import traced_metrics

            metrics = traced_metrics(r, args, start_s, root)
        else:
            ticks = cpu_ticks()
            r.cycles(args.seconds, r.plain)
            print(f"steal_share={steal_share(ticks, cpu_ticks()):.3f}",
                  flush=True)
            metrics = e2e_metrics(r, setup_s)
    finally:
        if spark is not None:
            session.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
