"""Accuracy quality harness — the analogue of the reference's
src/quality regression suite (quantile_quality.rs / cdf_quality.rs):
KS (max abs error), MAE, and the reference's score heuristic
``exp(−(1200·MAE + 18·KS))`` (quality_base.rs:20), swept over the
reference's story matrix (4 distributions × max_size {100, 1000} ×
4 scale families; quantile_quality.rs:106-153).

Writes QUALITY.md. Usage: python tools/quality_report.py
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from gr_tdigest_spark.sketches.tdigest import TDigest  # noqa: E402

N = 100_000
SEED = 4242


def gen(dist: str, rng: np.random.Generator) -> np.ndarray:
    """Seeded distributions squashed into [0,1]
    (crates/testdata/src/lib.rs:11-79)."""
    u = rng.uniform(size=N)
    if dist == "uniform":
        return u
    if dist == "normal":
        return np.clip(0.5 + 0.2 * rng.standard_normal(N), 0, 1)
    if dist == "lognormal":
        x = np.exp(1.0 * rng.standard_normal(N))
        return x / (1 + x)
    if dist == "mixture":
        kind = rng.uniform(size=N)
        out = np.empty(N)
        clump = kind < 0.3
        centers = np.array([0.1, 0.5, 0.9])
        out[clump] = centers[rng.integers(0, 3, clump.sum())] + rng.uniform(
            -1e-3, 1e-3, clump.sum()
        )
        uni = (kind >= 0.3) & (kind < 0.7)
        out[uni] = u[uni]
        heavy = kind >= 0.7
        e = rng.uniform(3, 9, heavy.sum())
        flip = rng.uniform(size=heavy.sum()) < 0.5
        out[heavy] = np.where(flip, u[heavy] ** e, 1.0 - u[heavy] ** e)
        return np.clip(out, 0, 1)
    raise ValueError(dist)


def quantile_metrics(td: TDigest, s: np.ndarray):
    qs = np.linspace(0.001, 0.999, 999)
    exact = s[np.minimum((qs * len(s)).astype(int), len(s) - 1)]
    err = np.abs(td.quantile(qs) - exact)
    return float(err.max()), float(err.mean())


def cdf_metrics(td: TDigest, s: np.ndarray):
    grid = np.linspace(s[0], s[-1], 1001)
    lo = np.searchsorted(s, grid, side="left")
    hi = np.searchsorted(s, grid, side="right")
    exact = (lo + 0.5 * (hi - lo)) / len(s)
    err = np.abs(td.cdf(grid) - exact)
    return float(err.max()), float(err.mean())


def score(ks: float, mae: float) -> float:
    return math.exp(-(1200.0 * mae + 18.0 * ks))


def main():
    lines = [
        "# QUALITY — accuracy story matrix",
        "",
        "KS (max abs err), MAE, and score = exp(−(1200·MAE + 18·KS))",
        "(the reference's quality_base.rs:20 heuristic) on n=100k seeded",
        "samples. Reference pinned config (Mixture, k=1000, quad): "
        "quantile KS 7.26e-4 / MAE 3.61e-5 / score 0.9452; cdf KS 1.68e-3 "
        "/ MAE 4.27e-5 / score 0.9216 (BASELINE.md).",
        "",
        "| dist | max_size | scale | q-KS | q-MAE | q-score "
        "| cdf-KS | cdf-MAE | cdf-score |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    pinned = None
    for dist in ("uniform", "normal", "lognormal", "mixture"):
        data = gen(dist, np.random.default_rng(SEED))
        s = np.sort(data)
        for max_size in (100, 1000):
            for scale in ("quad", "k1", "k2", "k3"):
                td = TDigest.from_values(data, max_size=max_size, scale=scale)
                qks, qmae = quantile_metrics(td, s)
                cks, cmae = cdf_metrics(td, s)
                lines.append(
                    f"| {dist} | {max_size} | {scale} | {qks:.3e} | "
                    f"{qmae:.3e} | {score(qks, qmae):.4f} | {cks:.3e} | "
                    f"{cmae:.3e} | {score(cks, cmae):.4f} |"
                )
                if dist == "mixture" and max_size == 1000 and scale == "quad":
                    pinned = (qks, qmae, cks, cmae)
    lines.append("")
    qks, qmae, cks, cmae = pinned
    lines.append(
        f"Pinned config vs reference: quantile KS {qks:.3e} "
        f"(ref 7.261e-4), MAE {qmae:.3e} (ref 3.606e-5); "
        f"cdf KS {cks:.3e} (ref 1.683e-3), MAE {cmae:.3e} (ref 4.274e-5)."
    )
    lines.extend(companion_section())
    open("QUALITY.md", "w").write("\n".join(lines) + "\n")
    print("\n".join(lines[-3:]))


def companion_section():
    """Companion-sketch accuracy sweeps: MinHash Jaccard error vs its
    binomial bound across k and true J; HLL relative error vs 1.04/√m
    across p; plus the sparse-vs-dense wire sizes that set shuffle
    volume at high group cardinality."""
    from gr_tdigest_spark.sketches.hll import HLL
    from gr_tdigest_spark.sketches.minhash import MinHash

    out = ["", "## Companion sketches", "",
           "MinHash |Ĵ−J| vs 1σ = sqrt(J(1−J)/k) (binomial), n=20k "
           "element sets:", "",
           "| true J | k=64 | k=256 | k=1024 | 1σ @k=256 |",
           "|---|---|---|---|---|"]
    n = 20_000
    for overlap in (0.1, 0.5, 0.9):
        shared = int(n * overlap)
        a_vals = np.array([f"k-{i}" for i in range(n)], dtype=object)
        b_vals = np.array(
            [f"k-{i}" for i in range(n - shared, 2 * n - shared)],
            dtype=object,
        )
        true_j = shared / (2 * n - shared)
        errs = []
        for k in (64, 256, 1024):
            ma, mb = MinHash(k=k), MinHash(k=k)
            ma.add(a_vals)
            mb.add(b_vals)
            errs.append(abs(ma.jaccard(mb) - true_j))
        sig = math.sqrt(true_j * (1 - true_j) / 256)
        out.append(
            f"| {true_j:.4f} | {errs[0]:.4f} | {errs[1]:.4f} | "
            f"{errs[2]:.4f} | {sig:.4f} |"
        )
    out.extend(["", "HLL |est−n|/n vs 1.04/√m, string universe:", "",
                "| n | p=12 | p=14 | p=16 | 1.04/√m @p=14 |",
                "|---|---|---|---|---|"])
    for nn in (1_000, 100_000, 1_000_000):
        keys = np.array([f"conv-{i:09d}" for i in range(nn)], dtype=object)
        rels = []
        for p in (12, 14, 16):
            h = HLL(p=p)
            h.add(keys)
            rels.append(abs(h.estimate() - nn) / nn)
        out.append(
            f"| {nn} | {rels[0]:.4f} | {rels[1]:.4f} | {rels[2]:.4f} | "
            f"{1.04 / math.sqrt(1 << 14):.4f} |"
        )
    from gr_tdigest_spark.sketches.bottomk import BottomK
    # measure the bias/variance claim instead of hardcoding it: 20
    # seeds at (k=256, D=100k) — the caption regenerates with the code
    _seed_keys = np.array(
        [f"doc-{i:09d}" for i in range(100_000)], dtype=object
    )
    _rel = []
    for _s in range(20):
        _bk = BottomK(k=256, seed=_s)
        _bk.add(_seed_keys)
        _rel.append((_bk.distinct_estimate() - 100_000) / 100_000)
    _rel = np.asarray(_rel)
    out.extend(["", "Bottom-k (KMV) |D̂−D|/D vs 1σ = 1/√(k−2), string "
                "universe (single deterministic draw per cell — "
                "individual cells land anywhere within a few σ; across "
                "20 seeds at k=256, D=100k the estimator measures "
                f"mean rel err {_rel.mean():+.3f}, std {_rel.std():.3f} "
                f"vs theory {1.0 / math.sqrt(254):.3f}):", "",
                "| distinct D | k=64 | k=256 | k=1024 | 1σ @k=256 |",
                "|---|---|---|---|---|"])
    for nn in (1_000, 100_000, 1_000_000):
        keys = np.array([f"doc-{i:09d}" for i in range(nn)], dtype=object)
        rels = []
        for k in (64, 256, 1024):
            bk = BottomK(k=k)
            bk.add(keys)
            rels.append(abs(bk.distinct_estimate() - nn) / nn)
        out.append(
            f"| {nn} | {rels[0]:.4f} | {rels[1]:.4f} | {rels[2]:.4f} | "
            f"{1.0 / math.sqrt(254):.4f} |"
        )
    out.extend(["", "Sparse-vs-dense wire bytes (per-group partial; the "
                "shuffle-volume lever for per-conversation sketches):", "",
                "| sketch | distinct values in group | sparse B | dense B |",
                "|---|---|---|---|"])
    from gr_tdigest_spark.sketches.bloom import BloomFilter
    from gr_tdigest_spark.sketches.cms import CMS
    for nvals in (5, 50, 500):
        h = HLL(p=14)
        h.add(np.arange(nvals))
        c = CMS(depth=5, width=8192)
        c.add(np.arange(nvals))
        b = BloomFilter(m_bits=1 << 20, k=7)
        b.add(np.arange(nvals))
        out.append(f"| hll p=14 | {nvals} | {len(h.to_bytes())} | "
                   f"{6 + (1 << 14)} |")
        out.append(f"| cms 5×8192 | {nvals} | {len(c.to_bytes())} | "
                   f"{29 + 5 * 8192 * 8} |")
        out.append(f"| bloom 2^20 | {nvals} | {len(b.to_bytes())} | "
                   f"{33 + (1 << 20) // 8} |")
    return out


if __name__ == "__main__":
    main()
