"""Pure-numpy t-digest kernel.

This is a from-scratch, vectorized re-implementation of the t-digest
semantics of the reference library ``ingolfured/gr-tdigest`` (Rust core).
It is the single algorithm implementation shared by the driver-local API
and the Arrow-vectorized Spark UDFs; it has **no Spark imports**.

Semantics reproduced (reference citations for parity checking):

* compression pipeline stages 1-6 — src/tdigest/compressor.rs:95-162
* scale families q->k               — src/tdigest/scale.rs:43-82
* singleton policies Off/Use/Edges  — src/tdigest/singleton_policy.rs:27-36,
                                      compressor.rs:183-281
* stage-4 binary-searched cap       — compressor.rs:386-436
  (constants KLIMIT_TOL=1e-12, 28 search iters, 12 fallback iters,
   lo=1e-6 — compressor.rs:28-31)
* normalize / coalesce equal means  — src/tdigest/merges.rs:232-301
* quantile with half-weight bracketing, atomic-pile snap, unit-singleton
  snap and dead zones                — src/tdigest/quantile.rs:47-188
* median even-count branch           — quantile.rs:192-233
* trimmed_mean                       — quantile.rs:238-287
* cdf with tail ramps, midpoint hit, atomic exclusion (two atomics ⇒
  flat step)                         — src/tdigest/cdf.rs:61-203
* merge-by-mean / k-way digest merge — merges.rs:27-200,
                                      tdigest.rs:427-601
* scale_weights / scale_values / cast_precision — tdigest.rs:383-406,661-701

The implementation is intentionally *not* a translation of the Rust code:
clustering decisions are made with vectorized prefix sums +
``np.searchsorted`` jumps (O(clusters·log n)) instead of per-centroid
loops, which is the right shape for Arrow-batched execution.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterable, Optional, Sequence, Tuple, Union

import numpy as np

__all__ = [
    "TDigest",
    "SCALE_FAMILIES",
    "POLICIES",
    "DEFAULT_MAX_SIZE",
    "q_to_k",
]

# Published constants (reference compressor.rs:28-31, tdigest.rs:39-46).
KLIMIT_TOL = 1e-12
CAP_SEARCH_ITERS = 28
CAP_FALLBACK_ITERS = 12
CAP_SEARCH_LO = 1e-6
DEFAULT_MAX_SIZE = 1000

SCALE_FAMILIES = ("quad", "k1", "k2", "k2norm", "k3")
POLICIES = ("off", "use", "edges")

# centroid kind codes — match the TDIG wire encoding (wire.rs:396-412):
KIND_ATOMIC = 0
KIND_MIXED = 1

_LN2 = math.log(2.0)


def q_to_k(q, d: float, family: str, n: float):
    """Family-aware q→k mapping (reference scale.rs:43-82).

    ``q`` may be a scalar or ndarray. ``n`` is the centroid count of the
    current merge pass, consulted only by ``k2norm``.
    """
    eps = 1e-15
    qq = np.clip(q, eps, 1.0 - eps)
    if family == "quad":
        r = np.where(qq < 0.5, np.sqrt(qq * 0.5), 1.0 - np.sqrt((1.0 - qq) * 0.5))
        return d * r
    if family == "k1":
        s = np.arcsin(np.clip(2.0 * qq - 1.0, -1.0, 1.0))
        return (d / (2.0 * math.pi)) * s
    if family == "k2":
        return (d / (4.0 * _LN2)) * np.log(qq / (1.0 - qq))
    if family == "k2norm":
        factor = d / (math.log(n / d) * 4.0 + 24.0)
        return factor * np.log(qq / (1.0 - qq))
    if family == "k3":
        a = np.log(1.0 / (1.0 - qq))
        b = np.log(1.0 / qq)
        ratio = np.maximum(a / b, eps)
        return (d / 4.0) * np.log(ratio)
    raise ValueError(f"unknown scale family: {family!r}")


def _coerce_pile_weights(weights: np.ndarray) -> np.ndarray:
    """``new_singleton_f64`` coerces weight<=1 to exactly 1 (centroids.rs:102-108)."""
    return np.where(weights <= 1.0, 1.0, weights)


def _normalize(
    means: np.ndarray, weights: np.ndarray
) -> Tuple[np.ndarray, np.ndarray, np.ndarray, float, float, float, float]:
    """Stage 1 (reference merges.rs:232-301).

    Coalesce adjacent equal means into atomic piles; validate sort order;
    accumulate totals. Input kinds are irrelevant: the reference re-atomizes
    every run via ``new_singleton_f64``.

    Returns (means, weights, kinds, total_w, total_mw, min, max).
    """
    if means.size == 0:
        return (
            np.empty(0), np.empty(0), np.empty(0, dtype=np.uint8),
            0.0, 0.0, 0.0, 0.0,
        )
    d = np.diff(means)
    if np.any(d < 0):
        raise ValueError("compress requires non-decreasing means")
    # run starts: positions where the mean changes
    starts = np.concatenate(([0], np.flatnonzero(d > 0) + 1))
    # canonicalize -0.0 → +0.0 (IEEE: -0.0 + 0.0 == +0.0): -0.0 and 0.0
    # sort/compare equal, so which representative survives a coalesced run
    # would otherwise depend on input order — breaking the byte-identity
    # and partition-layout-independence contracts of the blob
    run_means = means[starts] + 0.0
    run_weights = np.add.reduceat(weights, starts)
    # strictly sequential (reduceat) association for count/sum — the
    # ordering the partial builder (agg.py build_blobs_from_codes) uses
    # too, so a digest's data_sum header does not depend on whether
    # its piles went through this pipeline or the pile encoder
    total_w = float(np.add.reduceat(run_weights, [0])[0])
    total_mw = float(np.add.reduceat(run_means * run_weights, [0])[0])
    out_w = _coerce_pile_weights(run_weights)
    kinds = np.zeros(run_means.size, dtype=np.uint8)  # all atomic
    return (
        run_means.astype(np.float64, copy=False),
        out_w.astype(np.float64, copy=False),
        kinds,
        total_w,
        total_mw,
        float(run_means[0]),
        float(run_means[-1]),
    )


def _k_scale_factor(d: float, family: str, n: float) -> float:
    """Every scale family factors as k(q, d) = f(d) · g(q) with g
    independent of d (scale.rs:43-82) — f is this scalar."""
    if family == "quad":
        return d
    if family == "k1":
        return d / (2.0 * math.pi)
    if family == "k2":
        return d / (4.0 * _LN2)
    if family == "k2norm":
        return d / (math.log(n / d) * 4.0 + 24.0)
    if family == "k3":
        return d / 4.0
    raise ValueError(f"unknown scale family: {family!r}")


def _g_of_q(q: np.ndarray, family: str) -> np.ndarray:
    """The d-independent part g(q) of the scale mapping (vectorized)."""
    eps = 1e-15
    qq = np.clip(q, eps, 1.0 - eps)
    if family == "quad":
        return np.where(
            qq < 0.5, np.sqrt(qq * 0.5), 1.0 - np.sqrt((1.0 - qq) * 0.5)
        )
    if family == "k1":
        return np.arcsin(np.clip(2.0 * qq - 1.0, -1.0, 1.0))
    if family in ("k2", "k2norm"):
        return np.log(qq / (1.0 - qq))
    if family == "k3":
        a = np.log(1.0 / (1.0 - qq))
        b = np.log(1.0 / qq)
        return np.log(np.maximum(a / b, eps))
    raise ValueError(f"unknown scale family: {family!r}")


def _prepare_g(weights: np.ndarray, family: str):
    """One-time per (weights, family) precomputation for the greedy
    clusterer: (g list at inclusive prefixes, g at q=0, total weight).
    Shared across every cap-search probe — the probes then cost
    O(clusters · log n) bisects with NO transcendental calls."""
    total = float(np.sum(weights))
    cum = np.cumsum(weights)
    g = np.asarray(_g_of_q(cum / total, family), dtype=np.float64)
    g0 = float(_g_of_q(np.asarray([0.0]), family)[0])
    # plain-list bisect beats per-cluster np.searchsorted scalar calls
    # ~10× (same comparisons, no ufunc dispatch)
    return g.tolist(), g0, total


def _greedy_starts(
    gl: list, g0: float, m: int, limit: float,
    max_starts: Optional[int] = None,
) -> np.ndarray:
    """Greedy k-limit walk over precomputed g prefixes: absorb while
    g(q_right) − g(q_left) ≤ limit (= (1+tol)/f(d)), first element of a
    cluster unconditional. q_left of each next cluster is exactly the
    previous cluster's inclusive end prefix, so k_left is a LOOKUP
    (gl[e]) — zero per-cluster transcendentals (compressor.rs:297-361).
    """
    from bisect import bisect_right

    starts = []
    s = 0
    k_left = g0
    while s < m:
        starts.append(s)
        if max_starts is not None and len(starts) > max_starts:
            # feasibility probe only ("would the cluster count fit under
            # max_starts?") — the exact count past the cap is irrelevant,
            # so stop scanning; callers compare .size > max_starts
            break
        # last index whose inclusive-prefix g fits under the limit
        e = bisect_right(gl, k_left + limit) - 1
        if e < s:
            e = s
        k_left = gl[e]
        s = e + 1
    return np.asarray(starts, dtype=np.int64)


def _klimit_boundaries(
    weights: np.ndarray, d: float, family: str, tol: float,
    max_starts: Optional[int] = None,
) -> np.ndarray:
    """Stage 3 cluster boundaries (reference compressor.rs:297-361)."""
    m = weights.size
    n = float(m)
    gl, g0, _ = _prepare_g(weights, family)
    limit = (1.0 + tol) / _k_scale_factor(d, family, n)
    return _greedy_starts(gl, g0, m, limit, max_starts)


def _cluster_reduce(
    means: np.ndarray,
    weights: np.ndarray,
    kinds: np.ndarray,
    starts: np.ndarray,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Collapse clusters [starts[i], starts[i+1]) into centroids.

    Single-item clusters stay atomic iff the head was atomic; multi-item
    clusters are mixed (compressor.rs:68-84).
    """
    m = means.size
    if starts.size == m:  # all singletons — fast path, keeps means exact
        return means.copy(), weights.copy(), kinds.copy()
    out_w = np.add.reduceat(weights, starts)
    out_mw = np.add.reduceat(weights * means, starts)
    out_means = np.where(out_w > 0.0, out_mw / np.where(out_w > 0, out_w, 1.0), 0.0)
    ends = np.concatenate((starts[1:], [m]))
    single = (ends - starts) == 1
    # exact mean for single-item clusters (avoids (m*w)/w rounding drift
    # relative to the reference's sequential accumulator for w==1 runs)
    out_means = np.where(single, means[starts], out_means)
    out_w = np.where(single, weights[starts], out_w)
    out_kinds = np.where(
        single & (kinds[starts] == KIND_ATOMIC), KIND_ATOMIC, KIND_MIXED
    ).astype(np.uint8)
    return out_means, out_w, out_kinds


def _klimit_merge(
    means: np.ndarray,
    weights: np.ndarray,
    kinds: np.ndarray,
    d: float,
    family: str,
    tol: float,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    if means.size == 0:
        return means, weights, kinds
    starts = _klimit_boundaries(weights, d, family, tol)
    return _cluster_reduce(means, weights, kinds, starts)


def _bucketize_equal_weight(
    means: np.ndarray, weights: np.ndarray, buckets: int
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Order-preserving equal-weight bucketization (compressor.rs:442-481).

    Outputs are mixed centroids. Boundary rule: a bucket closes at the
    first element where its accumulated weight reaches total/buckets.
    """
    m = means.size
    if m == 0:
        return means, weights, np.empty(0, dtype=np.uint8)
    if buckets == 1:
        w = float(np.sum(weights))
        mean = float(np.dot(means, weights) / w) if w > 0 else 0.0
        return (
            np.asarray([mean]),
            np.asarray([w]),
            np.asarray([KIND_MIXED], dtype=np.uint8),
        )
    total = float(np.sum(weights))
    if total <= 0.0:
        k = min(buckets, m)
        return (
            means[:k].copy(),
            weights[:k].copy(),
            np.full(k, KIND_MIXED, dtype=np.uint8),
        )
    target = total / buckets
    cum = np.cumsum(weights)
    starts = []
    s = 0
    base = 0.0
    while s < m and len(starts) < buckets:
        starts.append(s)
        # first index where bucket mass reaches target (acc >= target)
        e = int(np.searchsorted(cum, base + target, side="left"))
        if e < s:
            e = s
        if e >= m:
            e = m - 1
        base = float(cum[e])
        s = e + 1
    starts_arr = np.asarray(starts, dtype=np.int64)
    # Reference: once `buckets` buckets are emitted, any tiny remainder is
    # dropped from the centroid list (weight preserved only in totals).
    trunc = s  # elements covered
    out_w = np.add.reduceat(weights[:trunc], starts_arr)
    out_mw = np.add.reduceat((weights * means)[:trunc], starts_arr)
    out_means = out_mw / out_w
    kinds = np.full(out_means.size, KIND_MIXED, dtype=np.uint8)
    return out_means, out_w, kinds


def _cap_core(
    means: np.ndarray,
    weights: np.ndarray,
    kinds: np.ndarray,
    core_cap: int,
    d: float,
    family: str,
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Stage 4 (compressor.rs:370-436): binary-search the largest d' in
    (0, d] whose k-limit merge fits the cap; shrink ×0.95 on plateau; fall
    back to equal-weight bucketization."""
    if means.size <= core_cap:
        return means, weights, kinds
    if core_cap == 0:
        return (
            np.empty(0), np.empty(0), np.empty(0, dtype=np.uint8),
        )
    # the g prefixes are d-independent: pay the O(n) transcendental pass
    # ONCE, then every probe is O(clusters · log n) bisects
    m = weights.size
    n = float(m)
    gl, g0, _ = _prepare_g(weights, family)

    def probe_starts(dd, max_starts=None):
        limit = (1.0 + KLIMIT_TOL) / _k_scale_factor(dd, family, n)
        return _greedy_starts(gl, g0, m, limit, max_starts)

    lo = CAP_SEARCH_LO
    hi = max(d, CAP_SEARCH_LO)
    best = lo
    found = False
    for _ in range(CAP_SEARCH_ITERS):
        mid = 0.5 * (lo + hi)
        n_mid = probe_starts(mid, max_starts=core_cap).size
        if n_mid <= core_cap:
            found = True
            best = mid
            lo = mid
        else:
            hi = mid
    tuned = best if found else CAP_SEARCH_LO

    def merge_at(dd):
        return _cluster_reduce(means, weights, kinds, probe_starts(dd))

    out = merge_at(tuned)
    guard = 0
    while out[0].size > core_cap and guard < CAP_FALLBACK_ITERS:
        tuned *= 0.95
        out = merge_at(tuned)
        guard += 1
    if out[0].size > core_cap:
        return _bucketize_equal_weight(means, weights, core_cap)
    return out


@dataclass
class TDigest:
    """A mergeable t-digest.

    Centroid storage dtype follows ``precision`` ('f64' default, 'f32'
    compact); all math runs in f64 (reference precision.rs:37-60,
    tdigest.rs:16-17).
    """

    means: np.ndarray = field(default_factory=lambda: np.empty(0))
    weights: np.ndarray = field(default_factory=lambda: np.empty(0))
    kinds: np.ndarray = field(default_factory=lambda: np.empty(0, dtype=np.uint8))
    max_size: int = DEFAULT_MAX_SIZE
    sum: float = 0.0
    count: float = 0.0
    min: float = math.nan
    max: float = math.nan
    scale: str = "k2"
    policy: str = "use"
    pin_per_side: int = 0
    delta: Optional[float] = None
    precision: str = "f64"

    # ------------------------------------------------------------------ #
    # basics
    # ------------------------------------------------------------------ #

    def __post_init__(self) -> None:
        if self.scale not in SCALE_FAMILIES:
            raise ValueError(f"unknown scale family: {self.scale!r}")
        if self.policy not in POLICIES:
            raise ValueError(f"unknown singleton policy: {self.policy!r}")
        if self.precision not in ("f32", "f64"):
            raise ValueError(f"unknown precision: {self.precision!r}")
        if self.delta is not None:
            # delta-mode contract (reference py.rs:30-68): requires the
            # canonical Dunning K2 (k2norm) and no singleton handling
            if not (math.isfinite(self.delta) and self.delta > 0.0):
                raise ValueError("delta must be finite and > 0")
            if self.scale != "k2norm":
                raise ValueError(
                    "delta mode only supports scale='k2norm' (canonical "
                    "Dunning K2); omit scale or pass scale='k2norm'."
                )
            if self.policy != "off":
                raise ValueError(
                    "delta mode requires singleton_policy='off'"
                )
        self._store()

    def _dtype(self):
        return np.float32 if self.precision == "f32" else np.float64

    def _store(self) -> None:
        """Round centroid storage to the declared precision."""
        dt = self._dtype()
        self.means = np.asarray(self.means, dtype=dt)
        self.weights = np.asarray(self.weights, dtype=dt)
        self.kinds = np.asarray(self.kinds, dtype=np.uint8)
        if self.precision == "f32":
            self.min = float(np.float32(self.min))
            self.max = float(np.float32(self.max))

    # f64 views for math
    @property
    def means64(self) -> np.ndarray:
        return np.asarray(self.means, dtype=np.float64)

    @property
    def weights64(self) -> np.ndarray:
        return np.asarray(self.weights, dtype=np.float64)

    def __len__(self) -> int:
        return int(self.means.size)

    @property
    def is_empty(self) -> bool:
        return self.means.size == 0

    @property
    def is_effectively_empty(self) -> bool:
        """Zero count OR no centroids (tdigest.rs:344-347)."""
        return self.count == 0.0 or self.means.size == 0

    def mean(self) -> float:
        return self.sum / self.count if self.count > 0.0 else 0.0

    def config_tuple(self) -> tuple:
        return (
            self.max_size, self.scale, self.policy, self.pin_per_side, self.delta,
        )

    # ------------------------------------------------------------------ #
    # construction / merge
    # ------------------------------------------------------------------ #

    @classmethod
    def empty(
        cls,
        max_size: int = DEFAULT_MAX_SIZE,
        scale: str = "k2",
        policy: str = "use",
        pin_per_side: int = 0,
        delta: Optional[float] = None,
        precision: str = "f64",
    ) -> "TDigest":
        return cls(
            max_size=max_size, scale=scale, policy=policy,
            pin_per_side=pin_per_side, delta=delta, precision=precision,
        )

    @classmethod
    def from_values(
        cls,
        values,
        max_size: int = DEFAULT_MAX_SIZE,
        scale: str = "k2",
        policy: str = "use",
        pin_per_side: int = 0,
        delta: Optional[float] = None,
        precision: str = "f64",
    ) -> "TDigest":
        base = cls.empty(max_size, scale, policy, pin_per_side, delta, precision)
        return base.merge_unsorted(values)

    @classmethod
    def from_weighted(
        cls,
        values,
        weights,
        max_size: int = DEFAULT_MAX_SIZE,
        scale: str = "k2",
        policy: str = "use",
        pin_per_side: int = 0,
        delta: Optional[float] = None,
        precision: str = "f64",
    ) -> "TDigest":
        base = cls.empty(max_size, scale, policy, pin_per_side, delta, precision)
        return base.merge_weighted(values, weights)

    def _like(self) -> "TDigest":
        return TDigest.empty(
            self.max_size, self.scale, self.policy, self.pin_per_side,
            self.delta, self.precision,
        )

    def merge_unsorted(self, values) -> "TDigest":
        """Ingest unsorted values (tdigest.rs:626-639 behavior, immutable)."""
        vals = np.asarray(values, dtype=np.float64).ravel()
        if not np.all(np.isfinite(vals)):
            raise ValueError("sample value (NaN or ±inf) is not allowed")
        vals = np.sort(vals)
        return self.merge_sorted(vals, _checked=True)

    def merge_sorted(self, sorted_values, _checked: bool = False) -> "TDigest":
        """Ingest sorted values via merge-by-mean + pipeline (tdigest.rs:464-497)."""
        vals = np.asarray(sorted_values, dtype=np.float64).ravel()
        if not _checked and not np.all(np.isfinite(vals)):
            raise ValueError("sample value (NaN or ±inf) is not allowed")
        if vals.size == 0:
            return self.copy()
        if self.precision == "f32":
            vals = np.asarray(np.asarray(vals, dtype=np.float32), dtype=np.float64)
        # merge-by-mean: stable sort with existing centroids first on ties
        # (merges.rs:67-77: centroid wins when cm <= vm)
        all_means = np.concatenate((self.means64, vals))
        all_weights = np.concatenate((self.weights64, np.ones(vals.size)))
        order = np.argsort(all_means, kind="stable")
        result = self._like()
        result._compress(all_means[order], all_weights[order])
        return result

    def merge_weighted(self, values, weights) -> "TDigest":
        """Weighted ingest (tdigest.rs:500-547): each (v, w) is exact atomic
        mass; merged through the digest-union path."""
        vals = np.asarray(values, dtype=np.float64).ravel()
        ws = np.asarray(weights, dtype=np.float64).ravel()
        if vals.size != ws.size:
            raise ValueError(
                f"weighted values/weights length mismatch: {vals.size} vs {ws.size}"
            )
        if not np.all(np.isfinite(vals)):
            raise ValueError("sample value (NaN or ±inf) is not allowed")
        if not np.all(np.isfinite(ws)):
            raise ValueError("sample weight (NaN or ±inf) is not allowed")
        if np.any(ws <= 0.0):
            raise ValueError("sample weight must be > 0")
        if vals.size == 0:
            return self.copy()
        if self.precision == "f32":
            vals = np.asarray(np.asarray(vals, dtype=np.float32), dtype=np.float64)
        order = np.argsort(vals, kind="stable")
        vals = vals[order]
        ws = ws[order]
        other = self._like()
        other.means = vals
        other.weights = ws
        other.kinds = np.zeros(vals.size, dtype=np.uint8)
        # sequential association (see _compress preamble note)
        other.sum = float(np.add.reduceat(vals * ws, [0])[0])
        other.count = float(np.add.reduceat(ws, [0])[0])
        other.min = float(vals[0])
        other.max = float(vals[-1])
        other._store()
        return TDigest.merge_digests([self, other])

    @classmethod
    def merge_digests(cls, digests: Sequence["TDigest"]) -> "TDigest":
        """Union of digests: k-way merge of centroid runs + pipeline
        (tdigest.rs:551-601). Config comes from the first non-empty digest;
        all-empty input yields the default empty digest."""
        runs = [d for d in digests if d.count > 0.0 and d.means.size > 0]
        if not runs:
            return cls()
        first = runs[0]
        all_means = np.concatenate([d.means64 for d in runs])
        all_weights = np.concatenate([d.weights64 for d in runs])
        # stable sort keeps (run_idx, elem_idx) tie order like the heap merge
        order = np.argsort(all_means, kind="stable")
        result = first._like()
        result._compress(all_means[order], all_weights[order])
        return result

    def merge(self, other: "TDigest") -> "TDigest":
        return TDigest.merge_digests([self, other])

    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        """Pipeline stages 1-6 (compressor.rs:95-162), writing centroids and
        digest metadata (count/sum/min/max) into ``self``."""
        m, w, k, total_w, total_mw, mn, mx = _normalize(means, weights)
        if m.size == 0:
            self.means, self.weights, self.kinds = m, w, k
            self._store()
            return
        self.count = total_w
        self.sum = total_mw
        self.min = mn
        self.max = mx

        max_size = self.max_size
        d = float(max_size)

        # -- stage 2: slice + fast path ----------------------------------
        if self.delta is None and self.policy == "off":
            # fast paths (compressor.rs:185-205)
            if m.size <= max_size:
                self._set_centroids(m, w, k)
                return
            if max_size == 1:
                self._set_centroids(*_bucketize_equal_weight(m, w, 1))
                return
            if max_size == 2:
                self._set_centroids(*_bucketize_equal_weight(m, w, 2))
                return

        if self.policy == "off":
            left = slice(0, 0)
            right = slice(m.size, m.size)
            interior = slice(0, m.size)
            core_cap = max_size
        elif self.policy == "use":
            n_c = m.size
            l = 1 if n_c >= 1 else 0
            r = 1 if n_c >= 2 else 0
            left = slice(0, l)
            right = slice(n_c - r, n_c) if n_c > l else slice(n_c, n_c)
            interior = slice(l, n_c - r) if n_c > (l + r) else slice(l, l)
            core_cap = max(max_size - (l + r), 0)
        else:  # edges
            n_c = m.size
            kk = self.pin_per_side
            l_prot = _edge_run_len(k, kk, True)
            r_prot = _edge_run_len(k, kk, False)
            left_end = min(l_prot, n_c)
            right_start = max(n_c - r_prot, 0)
            if right_start > left_end:
                left = slice(0, left_end)
                right = slice(right_start, n_c)
                interior = slice(left_end, right_start)
            else:
                left = slice(0, left_end)
                right = slice(n_c, n_c)
                interior = slice(left_end, left_end)
            core_cap = max_size

        im, iw, ik = m[interior], w[interior], k[interior]

        # -- stage 3: k-limit merge --------------------------------------
        if self.delta is not None:
            core = _klimit_merge(im, iw, ik, self.delta, self.scale, 0.0)
        else:
            core = _klimit_merge(im, iw, ik, d, self.scale, KLIMIT_TOL)

        # -- stage 4: cap ------------------------------------------------
        if self.delta is None:
            core = _cap_core(core[0], core[1], core[2], core_cap, d, self.scale)

        # -- stage 5: assemble -------------------------------------------
        om = np.concatenate((m[left], core[0], m[right]))
        ow = np.concatenate((w[left], core[1], w[right]))
        ok = np.concatenate((k[left], core[2], k[right]))

        # -- stage 6: post -----------------------------------------------
        if self.delta is None and self.policy == "use" and om.size > max_size:
            if max_size == 0:
                om = np.empty(0)
                ow = np.empty(0)
                ok = np.empty(0, dtype=np.uint8)
            else:
                om, ow, ok = _bucketize_equal_weight(om, ow, max_size)

        self._set_centroids(om, ow, ok)

    def _set_centroids(self, m: np.ndarray, w: np.ndarray, k: np.ndarray) -> None:
        self.means, self.weights, self.kinds = m, w, k
        self._store()

    def copy(self) -> "TDigest":
        out = TDigest.__new__(TDigest)
        out.means = self.means.copy()
        out.weights = self.weights.copy()
        out.kinds = self.kinds.copy()
        out.max_size = self.max_size
        out.sum = self.sum
        out.count = self.count
        out.min = self.min
        out.max = self.max
        out.scale = self.scale
        out.policy = self.policy
        out.pin_per_side = self.pin_per_side
        out.delta = self.delta
        out.precision = self.precision
        return out

    # ------------------------------------------------------------------ #
    # queries
    # ------------------------------------------------------------------ #

    def quantile(self, q: Union[float, np.ndarray]):
        """Quantile(s) with half-weight bracketing and singleton-aware
        interpolation (quantile.rs:47-188). NaN q → NaN; empty → NaN;
        finite q clamped to [0,1]."""
        scalar = np.isscalar(q) or (isinstance(q, np.ndarray) and q.ndim == 0)
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        out = self._quantile_batch(qs)
        return float(out[0]) if scalar else out

    def _quantile_batch(self, qs: np.ndarray) -> np.ndarray:
        m = self.means64
        n_c = m.size
        out = np.full(qs.size, np.nan)
        if n_c == 0:
            return out
        nan_mask = np.isnan(qs)
        if n_c == 1:
            out[~nan_mask] = m[0]
            return out
        w = self.weights64
        kinds = self.kinds
        total = self.count
        q = np.clip(qs, 0.0, 1.0)
        index = q * total

        lo_mask = (index < 1.0) & ~nan_mask
        hi_mask = (index > total - 1.0) & ~nan_mask
        mid_mask = ~(lo_mask | hi_mask | nan_mask)
        out[lo_mask] = self.min
        out[hi_mask] = self.max
        if not np.any(mid_mask):
            return out

        idx = index[mid_mask]
        prefix = np.concatenate(([0.0], np.cumsum(w)))[:-1]  # exclusive
        centers = prefix + 0.5 * w  # cumulative weight at each centroid center
        # left bracket: last i with centers[i+1] <= index, clamped to m-2
        li = np.searchsorted(centers[1:], idx, side="right")
        li = np.minimum(li, n_c - 2)
        ri = li + 1

        wl, wr = w[li], w[ri]
        ml, mr = m[li], m[ri]
        cl = centers[li]
        cr = centers[ri]
        atomic_l = kinds[li] == KIND_ATOMIC
        atomic_r = kinds[ri] == KIND_ATOMIC

        res = np.empty(idx.size)
        done = np.zeros(idx.size, dtype=bool)

        # atomic-pile snap (strictly inside half-width)
        pile_l = atomic_l & (wl > 1.0) & (cl - wl / 2.0 < idx) & (idx < cl + wl / 2.0)
        res[pile_l] = ml[pile_l]
        done |= pile_l
        pile_r = (
            ~done
            & atomic_r
            & (wr > 1.0)
            & (cr - wr / 2.0 < idx)
            & (idx < cr + wr / 2.0)
        )
        res[pile_r] = mr[pile_r]
        done |= pile_r

        # unit-singleton snap (±0.5 of center) — weight-based like reference
        snap_l = ~done & (wl == 1.0) & ((idx - cl) < 0.5)
        res[snap_l] = ml[snap_l]
        done |= snap_l
        snap_r = ~done & (wr == 1.0) & ((cr - idx) < 0.5)
        res[snap_r] = mr[snap_r]
        done |= snap_r

        # linear interpolation with unit-singleton dead zones.  The
        # reference *guarantees* quantile is monotone in q
        # (quantile.rs:8-33), so the lerp must be monotone in floats too:
        #  - denom is computed idx-independently ((cr-cl)-dead, NOT
        #    toward_r+toward_l, which wobbles by an ulp as idx moves),
        #    making t = toward_r/denom monotone in idx (IEEE ops with one
        #    constant operand are monotone);
        #  - the result is clamped into the [ml, mr] bracket, whose
        #    endpoints are themselves monotone across brackets, so a
        #    1-ulp overshoot can never produce a dip at a bracket edge.
        dead_l = np.where(wl == 1.0, 0.5, 0.0)
        dead_r = np.where(wr == 1.0, 0.5, 0.0)
        toward_r = idx - cl - dead_l
        denom = (cr - cl) - dead_l - dead_r
        pos = denom > 0.0
        t = np.clip(
            np.where(pos, toward_r / np.where(pos, denom, 1.0), 0.5),
            0.0,
            1.0,
        )
        interp = np.clip(
            np.where(pos, ml + (mr - ml) * t, 0.5 * (ml + mr)), ml, mr
        )
        res[~done] = interp[~done]
        out[mid_mask] = res
        return out

    def cdf(self, vals) -> np.ndarray:
        """CDF at each probe (cdf.rs:61-203). Empty digest → all-NaN;
        NaN probe → NaN; below min → 0; above max → 1."""
        xs = np.atleast_1d(np.asarray(vals, dtype=np.float64))
        if self.is_effectively_empty:
            return np.full(xs.size, np.nan)
        m = self.means64
        w = self.weights64
        kinds = self.kinds
        n_c = m.size
        prefix = np.concatenate(([0.0], np.cumsum(w)))[:-1]
        total = float(prefix[-1] + w[-1])
        min_v, max_v = self.min, self.max

        out = np.full(xs.size, np.nan)
        ok = ~np.isnan(xs)
        x = xs[ok]
        res = np.empty(x.size)

        idx = np.searchsorted(m, x, side="left")
        exact = np.zeros(x.size, dtype=bool)
        inb = idx < n_c
        exact[inb] = m[idx[inb]] == x[inb]

        # exact centroid hit: midpoint mass
        ei = idx[exact]
        res[exact] = (prefix[ei] + 0.5 * w[ei]) / total

        rest = ~exact
        # left tail: idx == 0
        left = rest & (idx == 0)
        if np.any(left):
            xv = x[left]
            m0, w0 = m[0], w[0]
            gap = m0 - min_v
            r = np.empty(xv.size)
            below = xv < min_v
            r[below] = 0.0
            if gap > 0.0:
                at_min = ~below & (xv == min_v)
                r[at_min] = 0.5 / total
                ramp = ~below & ~at_min
                r[ramp] = (1.0 + (xv[ramp] - min_v) / gap * (w0 / 2.0 - 1.0)) / total
            else:
                r[~below] = 0.0
            res[left] = r

        # right tail: idx == n_c
        right = rest & (idx == n_c)
        if np.any(right):
            xv = x[right]
            mn_, wn_ = m[-1], w[-1]
            gap = max_v - mn_
            r = np.empty(xv.size)
            above = xv > max_v
            r[above] = 1.0
            if gap > 0.0:
                at_max = ~above & (xv == max_v)
                r[at_max] = 1.0 - 0.5 / total
                ramp = ~above & ~at_max
                dq = (1.0 + (max_v - xv[ramp]) / gap * (wn_ / 2.0 - 1.0)) / total
                r[ramp] = 1.0 - dq
            else:
                r[~above] = 1.0
            res[right] = r

        # between centroids
        mid = rest & (idx > 0) & (idx < n_c)
        if np.any(mid):
            xv = x[mid]
            li = idx[mid] - 1
            ri = idx[mid]
            ml, mr = m[li], m[ri]
            wl, wr = w[li], w[ri]
            gap = mr - ml
            dw_center = 0.5 * (wl + wr)
            degenerate = gap <= 0.0
            left_excl = np.where(kinds[li] == KIND_ATOMIC, wl * 0.5, 0.0)
            right_excl = np.where(kinds[ri] == KIND_ATOMIC, wr * 0.5, 0.0)
            dw_span = dw_center - left_excl - right_excl
            base = prefix[li] + wl * 0.5 + left_excl
            frac = np.where(degenerate, 0.0, (xv - ml) / np.where(gap <= 0, 1.0, gap))
            val = (base + dw_span * frac) / total
            val = np.where(degenerate, (prefix[li] + dw_center) / total, val)
            res[mid] = val

        out[ok] = res
        return out

    def median(self) -> float:
        """Median with the even-count branch (quantile.rs:219-233)."""
        total = self.count
        if total <= 0.0:
            return math.nan
        if int(total) % 2 != 0:
            return self.quantile(0.5)
        li, ri = self._bracket_for_median()
        return 0.5 * (float(self.means64[li]) + float(self.means64[ri]))

    def _bracket_for_median(self) -> Tuple[int, int]:
        m = self.means64
        n_c = m.size
        if n_c == 1:
            return 0, 0
        total = self.count
        if n_c == 2 or total <= 2.0:
            return 0, 1
        index = 0.5 * total
        if index < 1.0:
            return 0, 1
        if index > total - 1.0:
            return n_c - 2, n_c - 1
        w = self.weights64
        prefix = np.concatenate(([0.0], np.cumsum(w)))[:-1]
        centers = prefix + 0.5 * w
        li = int(np.searchsorted(centers[1:], index, side="right"))
        li = min(li, n_c - 2)
        return li, li + 1

    def trimmed_mean(self, lower: float, upper: float) -> float:
        """Weight-proportional mean of mass in [lower, upper] quantile
        bounds (quantile.rs:238-287). Invalid bounds / empty → NaN."""
        if not (math.isfinite(lower) and math.isfinite(upper)):
            return math.nan
        if not (0.0 <= lower <= 1.0 and 0.0 <= upper <= 1.0 and lower <= upper):
            return math.nan
        total = self.count
        if total <= 0.0 or self.means.size == 0:
            return math.nan
        min_w = lower * total
        max_w = upper * total
        if max_w <= min_w:
            return math.nan
        w = self.weights64
        m = self.means64
        cum_hi = np.cumsum(w)
        cum_lo = cum_hi - w
        take = np.maximum(
            np.minimum(cum_hi, max_w) - np.maximum(cum_lo, min_w), 0.0
        )
        acc_w = float(np.sum(take))
        if acc_w <= 0.0:
            return math.nan
        return float(np.dot(m, take) / acc_w)

    # ------------------------------------------------------------------ #
    # transforms
    # ------------------------------------------------------------------ #

    def scale_weights(self, factor: float) -> "TDigest":
        """Multiply weights/count/sum by ``factor`` (tdigest.rs:661-675)."""
        _ensure_scale_factor(factor)
        out = self.copy()
        if out.means.size == 0 or out.count == 0.0:
            return out
        w = out.weights64 * factor
        # kind handling mirrors rescaled_centroid (tdigest.rs:112-135)
        out.weights = w
        out.count *= factor
        out.sum *= factor
        out._store()
        return out

    def scale_values(self, factor: float) -> "TDigest":
        """Multiply means/min/max/sum by ``factor`` > 0 (tdigest.rs:685-701)."""
        _ensure_scale_factor(factor)
        out = self.copy()
        if out.means.size == 0 or out.count == 0.0:
            return out
        out.means = out.means64 * factor
        out.min = out.min * factor
        out.max = out.max * factor
        out.sum *= factor
        out._store()
        return out

    def cast_precision(self, precision: str) -> "TDigest":
        """Explicit f32⇄f64 conversion (tdigest.rs:383-406)."""
        if precision not in ("f32", "f64"):
            raise ValueError("cast_precision requires 'f32' or 'f64'")
        out = self.copy()
        out.precision = precision
        out._store()
        return out

    def summary(self) -> str:
        """One-line render (polars_expr.rs:420-443 analogue)."""
        if self.is_effectively_empty:
            return (
                f"TDigest(n=0, k={self.max_size}, empty, "
                f"scale={self.scale}, policy={self.policy}, {self.precision})"
            )
        return (
            f"TDigest(n={self.count:g}, k={self.max_size}, min={self.min:g}, "
            f"p50={self.quantile(0.5):g}, max={self.max:g}, "
            f"centroids={len(self)}, scale={self.scale}, "
            f"policy={self.policy}, {self.precision})"
        )

    # ------------------------------------------------------------------ #
    # serialization
    # ------------------------------------------------------------------ #

    def to_bytes(self, version: int = 3) -> bytes:
        """Encode to the TDIG wire format (default v3 — wire.rs:440-441)."""
        from gr_tdigest_spark.sketches.wire import encode

        return encode(self, version)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "TDigest":
        """Decode any TDIG version at its wire precision (wire.rs:628-953)."""
        from gr_tdigest_spark.sketches.wire import decode

        return decode(blob)

    # pickle via wire bytes (reference __init__.py:460-468)
    def __reduce__(self):
        from gr_tdigest_spark.sketches.wire import decode, encode

        return (decode, (encode(self),))


def _edge_run_len(kinds: np.ndarray, k: int, from_left: bool) -> int:
    """Count up to k consecutive atomic centroids on one edge
    (compressor.rs:516-539)."""
    if k == 0 or kinds.size == 0:
        return 0
    seq = kinds if from_left else kinds[::-1]
    nonatomic = np.flatnonzero(seq != KIND_ATOMIC)
    run = int(nonatomic[0]) if nonatomic.size else int(seq.size)
    return min(run, k)


def _ensure_scale_factor(factor: float) -> None:
    if not (math.isfinite(factor) and factor > 0.0):
        raise ValueError("scale factor must be finite and > 0")
