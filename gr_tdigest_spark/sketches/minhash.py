"""MinHash signature kernel (set-similarity sketch).

Completes the companion-sketch family (SURVEY §2.7 pattern): where HLL
answers |A|, Bloom answers x∈A, and CMS answers count(x), MinHash
answers J(A,B) = |A∩B|/|A∪B| between two SETS summarized independently
— e.g. "how similar are two tools' conversation populations" without
ever joining the raw 10^12-turn table.

k independent hash slots via the Kirsch–Mitzenmacher ``h1 + i·h2``
construction over the shared splitmix64 base hashes (sketches/hashing.py
— same family CMS/Bloom use). Slot i stores min over the set of the
i-th derived hash; duplicates are free (min is idempotent), so the
sketch is invariant under multiplicity, exactly like HLL.

Mergeable monoid (same k + seed required):
  merge = elementwise min  — and sig(A∪B) == min(sig(A), sig(B)) EXACTLY,
  so merge is associative, commutative, and idempotent with the empty
  signature (all slots = 2^64−1) as identity.

Estimator: Ĵ(A,B) = (# matching slots)/k. Each slot matches with
probability J (the min of a uniform hash over A∪B lands in A∩B), so
k·Ĵ ~ Binomial(k, J): std error sqrt(J(1−J)/k) ≤ 1/(2√k).

Wire: ``GSMH`` + version + k + seed + n_items + k little-endian uint64
slots. (Same magic+struct-header style as GSHL/GSCM.)
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from gr_tdigest_spark.sketches.hashing import dedupe_hash_pairs, hash_pair

__all__ = ["MinHash"]

_MAGIC = b"GSMH"
_EMPTY_SLOT = np.uint64(0xFFFFFFFFFFFFFFFF)
# bound the k×chunk hash matrix: 256 slots × 8192 values × 8 B = 16 MiB
_CHUNK = 8192


@dataclass
class MinHash:
    k: int = 256  # 256 slots → std error ≤ 1/(2√256) ≈ 3.1%
    seed: int = 23
    sig: np.ndarray = field(default=None)
    n_items: float = 0.0  # items ingested (not distinct; bookkeeping only)

    def __post_init__(self):
        if not (8 <= self.k <= 65536):
            raise ValueError("MinHash k must be in [8, 65536]")
        if self.sig is None:
            self.sig = np.full(self.k, _EMPTY_SLOT, dtype=np.uint64)

    def add(self, values) -> None:
        arr = np.asarray(values)
        if arr.size == 0:
            return
        h1, h2 = hash_pair(arr, seed=self.seed)
        # every slot hash derives from (h1, h2) alone and min is
        # multiplicity-invariant, so duplicate hash pairs contribute
        # nothing: dedupe BEFORE the O(k·n) slot expansion — exactly
        # result-preserving, and the expansion then costs O(k·n_distinct)
        h1, h2 = dedupe_hash_pairs(h1, h2)
        rows = np.arange(self.k, dtype=np.uint64)[:, None]
        for lo in range(0, h1.size, _CHUNK):
            s = slice(lo, lo + _CHUNK)
            with np.errstate(over="ignore"):
                hv = h1[None, s] + rows * h2[None, s]
            np.minimum(self.sig, hv.min(axis=1), out=self.sig)
        self.n_items += float(arr.size)

    def merge(self, other: "MinHash") -> "MinHash":
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError("MinHash merge: incompatible (k, seed)")
        return MinHash(
            self.k, self.seed,
            np.minimum(self.sig, other.sig),
            self.n_items + other.n_items,
        )

    def jaccard(self, other: "MinHash") -> float:
        """Estimated Jaccard similarity. Two empty sketches estimate 1.0
        (all slots agree on the empty sentinel) — callers that need
        empty-set semantics should branch on ``is_empty`` first."""
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError("MinHash jaccard: incompatible (k, seed)")
        return float(np.count_nonzero(self.sig == other.sig)) / self.k

    @property
    def is_empty(self) -> bool:
        return bool(np.all(self.sig == _EMPTY_SLOT))

    @property
    def std_error(self) -> float:
        """Worst-case (J=1/2) standard error of the Jaccard estimate."""
        return 1.0 / (2.0 * math.sqrt(self.k))

    # ---------------- wire ----------------

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<BIqd", 1, self.k, self.seed,
                                    self.n_items)
        return head + self.sig.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "MinHash":
        blob = bytes(blob)
        if blob[:4] != _MAGIC:
            raise ValueError("invalid GSMH magic")
        off = 4 + struct.calcsize("<BIqd")
        if len(blob) < off:
            raise ValueError("truncated GSMH header")
        version, k, seed, n_items = struct.unpack_from("<BIqd", blob, 4)
        if version != 1:
            raise ValueError(f"unsupported GSMH version {version}")
        sig = np.frombuffer(blob, dtype="<u8", offset=off)
        if sig.size != k:
            raise ValueError("GSMH signature payload length mismatch")
        return cls(k, seed, sig.copy(), n_items)

    def __reduce__(self):
        return (MinHash.from_bytes, (self.to_bytes(),))
