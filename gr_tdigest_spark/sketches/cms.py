"""Count-min sketch kernel (heavy hitters over tool/event columns).

Companion sketch per BASELINE.json#north_rule. Standard Cormode–
Muthukrishnan CMS: depth×width int64 matrix, estimate = min over rows;
point-estimate error ≤ ε·N with probability ≥ 1−δ where ε = e/width,
δ = e^−depth.

Mergeable monoid: merge = elementwise add (same shape+seed required).
Wire: ``GSCM``, sparse v2 or dense v1, written only by ``encode_cms``.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from gr_tdigest_spark.sketches.hashing import hash_pair

__all__ = ["CMS", "encode_cms"]

_MAGIC = b"GSCM"

# sparse (v2) wire is offered only up to this table size; above it the
# dense v1 wire is used on BOTH encode and decode, keeping the decode
# guard and the encoder in exact agreement (2^28 cells = 2 GiB dense —
# far beyond any practical CMS config)
_SPARSE_MAX_CELLS = 1 << 28

# version, depth, width, seed, total
_HEAD = "<BIIqd"


def encode_cms(depth: int, width: int, seed: int, total: float,
               idx: np.ndarray, counts: np.ndarray,
               table: np.ndarray = None) -> bytes:
    """The GSCM blob of a depth×width sketch whose non-zero counters
    are at flat indices ``idx`` (sorted ascending) holding ``counts``:

    - v2 sparse: header + u32 nnz + u32 flat indices + i64 counts, when
      depth·width ≤ ``_SPARSE_MAX_CELLS`` and that is smaller than the
      dense table;
    - v1 dense: header + the depth·width i64 counters (``table``, if
      the caller holds the dense counters, else scattered from the
      cells).

    A group with d distinct values touches at most depth·d counters, so
    a small group's partial is ~12 B per touched counter instead of a
    fixed depth·width·8 (320 KB at the 5×8192 default). The dense
    ``CMS.to_bytes`` and the columnar ``CMSSpec`` builder both write
    through here.
    """
    cells = depth * width
    if cells <= _SPARSE_MAX_CELLS and 4 + 12 * idx.size < 8 * cells:
        return (
            _MAGIC + struct.pack(_HEAD, 2, depth, width, seed, total)
            + struct.pack("<I", idx.size)
            + idx.astype("<u4").tobytes() + counts.astype("<i8").tobytes()
        )
    if table is None:
        table = np.zeros(cells, dtype=np.int64)
        table[idx] = counts
    return (_MAGIC + struct.pack(_HEAD, 1, depth, width, seed, total)
            + table.astype("<i8").tobytes())


@dataclass
class CMS:
    depth: int = 5
    width: int = 8192
    seed: int = 7
    table: np.ndarray = field(default=None)
    total: float = 0.0

    def __post_init__(self):
        if self.depth < 1 or self.width < 8:
            raise ValueError("CMS requires depth >= 1 and width >= 8")
        if self.table is None:
            self.table = np.zeros((self.depth, self.width), dtype=np.int64)

    @property
    def epsilon(self) -> float:
        return math.e / self.width

    @property
    def delta(self) -> float:
        return math.exp(-self.depth)

    def _cols(self, values) -> np.ndarray:
        h1, h2 = hash_pair(np.asarray(values), seed=self.seed)
        rows = np.arange(self.depth, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            cols = (h1[None, :] + rows * h2[None, :]) % np.uint64(self.width)
        return cols.astype(np.int64)

    def add(self, values, counts=None) -> None:
        arr = np.asarray(values)
        if arr.size == 0:
            return
        cols = self._cols(arr)
        if counts is None:
            c = np.ones(arr.size, dtype=np.int64)
        else:
            c = np.asarray(counts, dtype=np.int64)
        for r in range(self.depth):
            np.add.at(self.table[r], cols[r], c)
        self.total += float(np.sum(c))

    def estimate(self, values) -> np.ndarray:
        arr = np.asarray(values)
        if arr.size == 0:
            return np.empty(0, dtype=np.int64)
        cols = self._cols(arr)
        ests = np.min(
            np.stack([self.table[r][cols[r]] for r in range(self.depth)]),
            axis=0,
        )
        return ests

    def inner_product(self, other: "CMS") -> int:
        """Estimated inner product of the two sketched frequency vectors
        (Cormode–Muthukrishnan §4.2): min over rows of the row-wise dot
        product. For two tables sketched on their join keys this is the
        equi-join SIZE estimate. Guarantee: a·b ≤ est ≤ a·b + ε·N_a·N_b
        with probability ≥ 1−δ (ε = e/width, δ = e^−depth); the lower
        bound is deterministic (counters are non-negative, so every
        row's dot over-counts via collisions only)."""
        if (self.depth, self.width, self.seed) != (
            other.depth, other.width, other.seed,
        ):
            raise ValueError(
                "CMS inner_product: incompatible (depth, width, seed)"
            )
        # int64 accumulation overflows when width·max_a·max_b ≥ 2^63
        # (possible at 10^12-row totals); fall back to float64 there —
        # the fp error is negligible against the ε·N_a·N_b bound
        ma, mb = int(self.table.max()), int(other.table.max())
        exact = ma * mb * self.width < (1 << 62)
        dots = []
        for r in range(self.depth):
            a, b = self.table[r], other.table[r]
            if exact:
                dots.append(int(np.dot(a, b)))
            else:
                dots.append(int(np.dot(a.astype(np.float64),
                                       b.astype(np.float64))))
        return min(dots)

    def merge(self, other: "CMS") -> "CMS":
        if (self.depth, self.width, self.seed) != (
            other.depth, other.width, other.seed,
        ):
            raise ValueError("CMS merge: incompatible (depth, width, seed)")
        return CMS(
            self.depth, self.width, self.seed,
            self.table + other.table, self.total + other.total,
        )

    # ---------------- wire ----------------

    def to_bytes(self) -> bytes:
        flat = self.table.reshape(-1)
        nz = np.flatnonzero(flat)
        return encode_cms(self.depth, self.width, self.seed, self.total,
                          nz, flat[nz], flat)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CMS":
        blob = bytes(blob)
        if blob[:4] != _MAGIC:
            raise ValueError("invalid GSCM magic")
        off = 4 + struct.calcsize(_HEAD)
        if len(blob) < off:
            raise ValueError("truncated GSCM header")
        version, depth, width, seed, total = struct.unpack_from(
            _HEAD, blob, 4
        )
        if version == 1:
            table = np.frombuffer(blob, dtype="<i8", offset=off)
            if table.size != depth * width:
                raise ValueError("GSCM payload length mismatch")
            return cls(depth, width, seed,
                       table.reshape(depth, width).copy(), total)
        if version == 2:
            # amplification guard, mirroring the ENCODER's cap exactly
            # so every legitimate blob round-trips: sparse encode never
            # fires above _SPARSE_MAX_CELLS (ultra-wide tables use the
            # dense v1 wire, whose blob IS the payload — no
            # amplification possible); anything larger here is forged
            if depth * width > _SPARSE_MAX_CELLS:
                raise ValueError("GSCM sparse dims implausibly large")
            if len(blob) < off + 4:
                raise ValueError("truncated GSCM header")
            (nnz,) = struct.unpack_from("<I", blob, off)
            off += 4
            if len(blob) != off + 12 * nnz:
                raise ValueError("GSCM sparse payload length mismatch")
            idx = np.frombuffer(blob, dtype="<u4", offset=off, count=nnz)
            vals = np.frombuffer(
                blob, dtype="<i8", offset=off + 4 * nnz, count=nnz
            )
            if nnz and int(idx.max()) >= depth * width:
                raise ValueError("GSCM sparse index out of range")
            flat = np.zeros(depth * width, dtype=np.int64)
            flat[idx.astype(np.int64)] = vals
            return cls(depth, width, seed,
                       flat.reshape(depth, width), total)
        raise ValueError(f"unsupported GSCM version {version}")

    def __reduce__(self):
        return (CMS.from_bytes, (self.to_bytes(),))
