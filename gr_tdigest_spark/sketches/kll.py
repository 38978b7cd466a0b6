"""KLL quantile sketch kernel (rank queries with uniform guarantees).

Companion sketch per BASELINE.json#north_rule; algorithm follows the
published KLL description (Karnin–Lang–Liberty, FOCS'16) in its simple
practical form: geometric level capacities c_i = max(k·(2/3)^(H-1-i), 8),
items at level i carry weight 2^i, full levels compact by keeping every
other item of the sorted buffer (offset chosen by a deterministic
counter-seeded RNG so runs are reproducible while staying unbiased
across compactions).

Rank error is O(1/k) with high probability; the bound test uses 3/k.

Query semantics: ``quantile(q)`` returns the smallest item whose
cumulative weight reaches ceil(q·N) — identical to SQL ``quantile_disc``
when the sketch is uncompacted (n ≤ k).

Mergeable monoid: level-wise concatenation + recompaction.
Wire: ``GSKL`` + version + k + seed + n + level sizes + items (f64).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field
from typing import List

import numpy as np

__all__ = ["KLL"]

_MAGIC = b"GSKL"
_MIN_CAP = 8


@dataclass
class KLL:
    k: int = 200
    seed: int = 17
    levels: List[np.ndarray] = field(default=None)
    n: float = 0.0
    compactions: int = 0

    def __post_init__(self):
        if self.k < 8:
            raise ValueError("KLL k must be >= 8")
        if self.levels is None:
            self.levels = [np.empty(0)]

    # ---------------- capacities / compaction ----------------

    def _capacity(self, level: int) -> int:
        h = len(self.levels)
        return max(int(math.ceil(self.k * (2.0 / 3.0) ** (h - 1 - level))), _MIN_CAP)

    def _total_budget(self) -> int:
        return sum(self._capacity(i) for i in range(len(self.levels)))

    def _size(self) -> int:
        return sum(lv.size for lv in self.levels)

    def _compact_level(self, i: int) -> None:
        """Halve level i into level i+1, weight-preserving: an odd buffer
        retains one element at level i (standard KLL odd-size rule)."""
        buf = np.sort(self.levels[i])
        rng = np.random.default_rng([self.seed, i, self.compactions])
        off = int(rng.integers(0, 2))
        self.compactions += 1
        if buf.size % 2 == 1:
            # retain one end (chosen by the same deterministic draw)
            if int(rng.integers(0, 2)) == 0:
                retain, buf = buf[:1], buf[1:]
            else:
                retain, buf = buf[-1:], buf[:-1]
        else:
            retain = np.empty(0)
        keep = buf[off::2]
        self.levels[i] = retain
        if i + 1 == len(self.levels):
            self.levels.append(np.empty(0))
        self.levels[i + 1] = np.concatenate((self.levels[i + 1], keep))

    def _compact_once(self) -> None:
        # compact the lowest over-capacity level (standard KLL sweep)
        for i in range(len(self.levels)):
            if self.levels[i].size > self._capacity(i):
                self._compact_level(i)
                return
        # nothing individually over capacity but total over budget:
        # compact the largest level
        sizes = [lv.size for lv in self.levels]
        i = int(np.argmax(sizes))
        if self.levels[i].size >= 2:
            self._compact_level(i)

    def _maybe_compact(self) -> None:
        guard = 0
        while self._size() > self._total_budget() and guard < 64:
            self._compact_once()
            guard += 1

    # ---------------- ingest / merge ----------------

    def add(self, values) -> None:
        v = np.asarray(values, dtype=np.float64).ravel()
        if v.size == 0:
            return
        if not np.all(np.isfinite(v)):
            raise ValueError("sample value (NaN or ±inf) is not allowed")
        self.levels[0] = np.concatenate((self.levels[0], v))
        self.n += float(v.size)
        self._maybe_compact()

    def merge(self, other: "KLL") -> "KLL":
        if self.k != other.k or self.seed != other.seed:
            raise ValueError("KLL merge: incompatible (k, seed)")
        h = max(len(self.levels), len(other.levels))
        levels = []
        for i in range(h):
            a = self.levels[i] if i < len(self.levels) else np.empty(0)
            b = other.levels[i] if i < len(other.levels) else np.empty(0)
            levels.append(np.concatenate((a, b)))
        out = KLL(self.k, self.seed, levels, self.n + other.n,
                  self.compactions + other.compactions)
        out._maybe_compact()
        return out

    # ---------------- queries ----------------

    def _weighted_items(self):
        items = []
        weights = []
        for i, lv in enumerate(self.levels):
            if lv.size:
                items.append(lv)
                weights.append(np.full(lv.size, 2.0 ** i))
        if not items:
            return np.empty(0), np.empty(0)
        it = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], w[order]

    def quantile(self, q) -> np.ndarray:
        """Smallest item with cumulative weight ≥ ceil(q·N); NaN when empty."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        it, w = self._weighted_items()
        if it.size == 0 or self.n <= 0:
            return np.full(qs.size, np.nan)
        cum = np.cumsum(w)
        total = cum[-1]
        target = np.ceil(np.clip(qs, 0.0, 1.0) * total)
        target = np.maximum(target, 1.0)
        target = np.minimum(target, total)
        idx = np.searchsorted(cum, target, side="left")
        out = it[np.minimum(idx, it.size - 1)]
        out[np.isnan(qs)] = np.nan
        return out

    def rank(self, x) -> np.ndarray:
        """Estimated fraction of items ≤ x."""
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        it, w = self._weighted_items()
        if it.size == 0 or self.n <= 0:
            return np.full(xs.size, np.nan)
        cum = np.concatenate(([0.0], np.cumsum(w)))
        idx = np.searchsorted(it, xs, side="right")
        return cum[idx] / cum[-1]

    @property
    def rank_error(self) -> float:
        """Empirical high-probability rank error bound."""
        return 3.0 / self.k

    # ---------------- wire ----------------

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack(
            "<BIqdqI", 1, self.k, self.seed, self.n, self.compactions,
            len(self.levels),
        )
        sizes = struct.pack(f"<{len(self.levels)}I", *[lv.size for lv in self.levels])
        payload = b"".join(lv.astype("<f8").tobytes() for lv in self.levels)
        return head + sizes + payload

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KLL":
        blob = bytes(blob)
        if blob[:4] != _MAGIC:
            raise ValueError("invalid GSKL magic")
        off = 4 + struct.calcsize("<BIqdqI")
        if len(blob) < off:
            raise ValueError("truncated GSKL header")
        version, k, seed, n, compactions, h = struct.unpack_from("<BIqdqI", blob, 4)
        if version != 1:
            raise ValueError(f"unsupported GSKL version {version}")
        if len(blob) < off + 4 * h:
            raise ValueError("truncated GSKL level sizes")
        sizes = struct.unpack_from(f"<{h}I", blob, off)
        off += 4 * h
        if len(blob) != off + 8 * sum(sizes):
            raise ValueError("GSKL payload length mismatch")
        levels = []
        for s in sizes:
            levels.append(
                np.frombuffer(blob, dtype="<f8", offset=off, count=s).copy()
            )
            off += 8 * s
        return cls(int(k), int(seed), levels, float(n), int(compactions))

    def __reduce__(self):
        return (KLL.from_bytes, (self.to_bytes(),))
