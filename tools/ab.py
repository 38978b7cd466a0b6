"""Alternating A/B of the repository benchmark: a base revision against
the working tree.

    python tools/ab.py --seeds 301-310 [--workload transcript_sketches]
        [--base HEAD] [--base-dir DIR] [--seconds 14] [--trace 0]
        [--out ab.json]

The base side runs from a detached ``git worktree`` of ``--base``
(removed at the end), or from ``--base-dir`` if that names an existing
checkout. The change side runs from this repository's working tree, so
before a commit the default compares the committed HEAD with the
uncommitted change; after it, pass ``--base HEAD~1``. Pick seeds that
were not used while developing the change.

For each seed both sides run BENCHMARK.json's command with that seed,
one after the other: base first on even pairs, change first on odd
ones. Per workload and metric the report gives each side's median and
quartiles, the base's IQR, the pairs the change won and tied (in the
metric's ``better`` direction from BENCHMARK.json), and whether the
gap between the medians exceeds the base's IQR. ``--out`` keeps every
run's result line and per-kind figures as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(values: list) -> tuple:
    if len(values) < 2:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4, method="inclusive"))


def fmt(v: float) -> str:
    return f"{v:.0f}" if abs(v) >= 1e4 else f"{v:.4g}"


def run_one(root: str, command: list, workload: str, seed: int,
            seconds: float, trace: int) -> dict:
    """One benchmark run in ``root``: its result line plus the per-kind
    wall times (untraced) or Python share and shuffle bytes (traced)
    it prints."""
    argv = command + ["--workload", workload, "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(argv, cwd=root, capture_output=True, text=True,
                         timeout=1800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{' '.join(argv)} in {root} exited "
                           f"{out.returncode}:\n{out.stderr[-3000:]}")
    result = json.loads(lines[-1])
    for line in lines:
        if line.startswith("jobs=") and " walls=" in line:
            result["walls"] = json.loads(line.split(" walls=", 1)[1])
        elif line.startswith("kinds "):
            result["kinds"] = json.loads(line[len("kinds "):])
    return result


def report(workload: str, pairs: list, better: dict) -> list:
    """Report lines for one workload's ``[(base, change), ...]``."""
    lines = []
    jobs = {side: (sum(p[i]["failed"] for p in pairs),
                   sum(p[i]["attempted"] for p in pairs))
            for i, side in enumerate(("base", "change"))}
    lines.append(f"{workload}: {len(pairs)} pairs; failed jobs base "
                 f"{jobs['base'][0]}/{jobs['base'][1]}, change "
                 f"{jobs['change'][0]}/{jobs['change'][1]}")
    lines.append(f"  {'metric':<40} {'base p50 [q1, q3]':>26} "
                 f"{'change p50 [q1, q3]':>26} {'delta':>7} "
                 f"{'base IQR':>8} {'wins':>4} {'ties':>4} gap>IQR")
    names = [n for n in pairs[0][0]["metrics"]
             if all(n in r["metrics"] for p in pairs for r in p)]
    for name in names:
        b = [p[0]["metrics"][name]["value"] for p in pairs]
        c = [p[1]["metrics"][name]["value"] for p in pairs]
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(sign * (y - x) > 0 for x, y in zip(b, c))
        ties = sum(x == y for x, y in zip(b, c))
        bq, cq = quartiles(b), quartiles(c)
        iqr = bq[2] - bq[0]
        delta = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
        bs = f"{fmt(bq[1])} [{fmt(bq[0])}, {fmt(bq[2])}]"
        cs = f"{fmt(cq[1])} [{fmt(cq[0])}, {fmt(cq[2])}]"
        gap = "yes" if abs(cq[1] - bq[1]) > iqr else "no"
        lines.append(f"  {name:<40} {bs:>26} {cs:>26} {delta:>+6.1f}% "
                     f"{fmt(iqr):>8} {wins:>4} {ties:>4} {gap}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True,
                    help="e.g. 301-310 or 301,305,307-309")
    ap.add_argument("--workload", action="append",
                    help="repeatable; default every workload in "
                         "BENCHMARK.json")
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--base-dir",
                    help="existing checkout of the base to run instead "
                         "of a new worktree")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    better = {m["name"]: m["better"]
              for m in bench["end_to_end"] + bench.get("per_layer", [])}
    command = [sys.executable if c in ("python", "python3") else c
               for c in bench["command"]]

    worktree = None
    base_root = args.base_dir
    if base_root is None:
        worktree = tempfile.mkdtemp(prefix="ab-base-")
        os.rmdir(worktree)
        subprocess.run(["git", "worktree", "add", "--detach", worktree,
                        args.base], cwd=ROOT, check=True)
        base_root = worktree
    runs: dict = {w: [] for w in workloads}
    try:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            for w in workloads:
                order = ((0, base_root), (1, ROOT))
                pair = [None, None]
                for side, root in (order if i % 2 == 0 else order[::-1]):
                    pair[side] = run_one(root, command, w, seed, seconds,
                                         args.trace)
                runs[w].append(pair)
                print(f"seed {seed} {w}: " + "  ".join(
                    f"{name} {p['failed']}/{p['attempted']} failed"
                    + (f", job_s_p50 {p['metrics']['job_s_p50']['value']:.3f}"
                       if "job_s_p50" in p["metrics"] else "")
                    for name, p in zip(("base", "change"), pair)),
                    flush=True)
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force",
                            worktree], cwd=ROOT)
            shutil.rmtree(worktree, ignore_errors=True)
        if args.out:
            with open(args.out, "w") as fh:
                json.dump({"base": args.base_dir or args.base,
                           "seeds": args.seeds, "runs": runs}, fh, indent=1)
    for w in workloads:
        if runs[w]:
            print("\n".join(report(w, runs[w], better)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
