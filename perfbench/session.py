"""Pinned Spark session for the benchmark: one driver process on
``local[nproc]`` issuing one job at a time, like a single client.

Everything the session writes (shuffle files, warehouse, JVM temp
files) stays under the run's work directory."""

from __future__ import annotations

import os
import signal
import subprocess
import time

DRIVER_MEM = "2g"


def session_confs(work: str, cores: int) -> dict:
    """The pinned session settings, recorded in every report."""
    return {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.driver.memory": DRIVER_MEM,
        "spark.python.worker.reuse": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1-only JIT: the JVM reaches steady speed within the warm-up
        # cycle, where C2's later recompiles otherwise dominate the
        # run-to-run spread of a short run
        "spark.driver.extraJavaOptions":
            "-XX:TieredStopAtLevel=1 "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }


def start_session(root: str, work: str, cores: int):
    """Start the session through ``plans.get_spark``; returns
    ``(spark, confs, seconds the call took)``."""
    for sub in ("spark-local", "warehouse", "tmp", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the package from the checkout, and the JVM
    # reads these before it starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher and driver JVMs otherwise keep perf-data files in the
    # system temp directory, outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    confs = session_confs(work, cores)
    from gr_tdigest_spark.plans import get_spark

    extra = {k: v for k, v in confs.items()
             if k not in ("spark.master", "spark.sql.shuffle.partitions",
                          "spark.driver.memory")}
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cores=cores,
                      shuffle_partitions=2 * cores, extra_confs=extra)
    took = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, confs, took


def seeded_keep_all(rng, col: str, floor: float):
    """A predicate that keeps every row (``col > floor - 1 - r``, all
    values being at least ``floor``) with a fresh literal per job, so
    each job has its own semantic hash and the rebalance gate's memoised
    probes are paid as a first-time query pays them."""
    from pyspark.sql import functions as F

    return F.col(col) > F.lit(float(floor) - 1.0 - float(rng.integers(1, 10**9)))


def _descendants(root_pid: int) -> list:
    kids = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def worker_peak_rss_mb() -> float:
    """Largest ``VmHWM`` among the session's Python worker processes."""
    peak = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    children = _descendants(os.getpid())
    spark.stop()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and not _zombie(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                deadline = time.time() + timeout
            time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
