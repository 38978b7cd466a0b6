"""Scaling-efficiency evidence for BENCH.md (BASELINE.json: ≥ 0.8 from
N to 4N parallelism; cores stand in for executors in this sandbox).

The BASELINE metric is sketch-build throughput over an EXISTING
synthetic transcript table ("10^12-turn synthetic transcript Iceberg
table"), so the measured job is: scan the table → two-phase per-role
t-digest of text length → quantile query. Table materialization is
table creation, not part of the job, and runs once (untimed, at full
parallelism); each measured level starts a fresh JVM on identical
input and reports best-of-2 (steady state).

Usage: python tools/scaling_bench.py [n_convs] [table_dir] [N]
       (measures local[N] vs local[4N]; default N=2)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# GEN and MEASURE run in this checkout's root, so they and their
# Python workers import its package
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GEN = r"""
import os, sys
from gr_tdigest_spark.plans import get_spark
from gr_tdigest_spark.sources.transcripts import transcripts_df
n_convs, path = int(sys.argv[1]), sys.argv[2]
spark = get_spark(cores=os.cpu_count(), shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
t = transcripts_df(spark, n_convs=n_convs, seed=42, slices=256)
t.write.mode("overwrite").parquet(path)
print("WROTE", spark.read.parquet(path).count())
spark.stop()
"""

MEASURE = r"""
import sys, time, json, os
os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
from pyspark.sql import functions as F
import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators import tdigest_agg
from gr_tdigest_spark.plans import get_spark
cores, path = int(sys.argv[1]), sys.argv[2]
spark = get_spark(app=f"scale-{cores}", cores=cores, shuffle_partitions=cores)
spark.sparkContext.setLogLevel("ERROR")
t = spark.read.parquet(path)

pile = os.environ.get("SPARK_GRAFT_SCALE_PILE", "") == "1"

def job():
    src = t.select("role", F.length("text").cast("double").alias("len"))
    dg = tdigest_agg(src, ["role"], "len", max_size=1000,
                     pre_aggregate=pile)
    return dg.select(
        "role", Fn.tdigest_quantile("tdigest", 0.5).alias("p50"),
        Fn.tdigest_quantile("tdigest", 0.99).alias("p99"),
        Fn.tdigest_count("tdigest").alias("n")).collect()

rows = job()  # warm: python workers + page cache
n_turns = int(sum(r["n"] for r in rows))
best = None
for _ in range(2):
    t0 = time.perf_counter(); job(); dt = time.perf_counter() - t0
    best = dt if best is None else min(best, dt)
print(json.dumps({"cores": cores, "turns": n_turns, "sec": best,
                  "turns_per_sec": n_turns / best}))
spark.stop()
"""


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    table = f"/tmp/scale_transcripts_{n_convs}.parquet"
    if len(sys.argv) > 2 and sys.argv[2] not in ("auto", "") and \
            sys.argv[2].startswith("/"):
        table = sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    n4 = 4 * n

    if not os.path.exists(table):
        out = subprocess.run(
            [sys.executable, "-c", GEN, str(n_convs), table],
            capture_output=True, text=True, timeout=1200, cwd=ROOT,
        )
        if "WROTE" not in out.stdout:
            raise RuntimeError(f"generation failed:\n{out.stderr[-2000:]}")
        print(f"# table materialized: {out.stdout.strip().splitlines()[-1]}")

    results = {}
    for cores in (n, n4):
        out = subprocess.run(
            [sys.executable, "-c", MEASURE, str(cores), table],
            capture_output=True, text=True, timeout=1800, cwd=ROOT,
        )
        lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"worker {cores} failed:\n{out.stderr[-2000:]}")
        results[cores] = json.loads(lines[-1])
        print(json.dumps(results[cores]))
    eff = results[n4]["turns_per_sec"] / (4 * results[n]["turns_per_sec"])
    print(json.dumps({
        "n_parallelism": n,
        "n4_parallelism": n4,
        "throughput_n": round(results[n]["turns_per_sec"], 1),
        "throughput_4n": round(results[n4]["turns_per_sec"], 1),
        "scaling_efficiency": round(eff, 3),
        "turns": results[n]["turns"],
    }))


if __name__ == "__main__":
    main()
