"""Bloom filter kernel (membership over conv_id/key columns).

Companion sketch per BASELINE.json#north_rule. m bits / k hashes via
Kirsch–Mitzenmacher double hashing; FPR ≈ (1 − e^{−kn/m})^k, zero false
negatives. Mergeable monoid: merge = bitwise OR (same m, k, seed).

Wire: ``GSBF`` + version + m + k + seed + n_added + bit words.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from gr_tdigest_spark.sketches.hashing import hash_pair

__all__ = ["BloomFilter", "SparseBloom", "optimal_bloom"]

_MAGIC = b"GSBF"

# 256-entry per-byte popcount table (uint16 keeps the indexed-sum small)
_POPCNT8 = np.array([bin(i).count("1") for i in range(256)],
                    dtype=np.uint16)


def optimal_bloom(n_expected: int, fpr: float = 0.01, seed: int = 11) -> "BloomFilter":
    """Size a filter for ``n_expected`` keys at the target false-positive
    rate: m = −n·ln(p)/ln(2)², k = (m/n)·ln 2."""
    n = max(int(n_expected), 1)
    m = int(math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = max(64, 1 << (m - 1).bit_length())  # round up to power of two
    k = max(1, round(m / n * math.log(2)))
    return BloomFilter(m_bits=m, k=k, seed=seed)


@dataclass
class BloomFilter:
    m_bits: int = 1 << 20
    k: int = 7
    seed: int = 11
    words: np.ndarray = field(default=None)
    n_added: int = 0

    def __post_init__(self):
        if self.m_bits % 64 != 0:
            raise ValueError("m_bits must be a multiple of 64")
        if self.k < 1:
            raise ValueError("k must be >= 1")
        if self.words is None:
            self.words = np.zeros(self.m_bits // 64, dtype=np.uint64)

    def _bit_positions(self, values) -> np.ndarray:
        h1, h2 = hash_pair(np.asarray(values), seed=self.seed)
        ks = np.arange(self.k, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            return ((h1[None, :] + ks * h2[None, :]) % np.uint64(self.m_bits))

    def add(self, values) -> None:
        arr = np.asarray(values)
        if arr.size == 0:
            return
        pos = self._bit_positions(arr).ravel()
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        np.bitwise_or.at(self.words, word, bit)
        self.n_added += int(arr.size)

    def contains(self, values) -> np.ndarray:
        arr = np.asarray(values)
        if arr.size == 0:
            return np.empty(0, dtype=bool)
        pos = self._bit_positions(arr)
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos & np.uint64(63))
        hits = (self.words[word] & bit) != 0
        return np.all(hits, axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.m_bits, self.k, self.seed) != (
            other.m_bits, other.k, other.seed,
        ):
            raise ValueError("Bloom merge: incompatible (m_bits, k, seed)")
        return BloomFilter(
            self.m_bits, self.k, self.seed,
            self.words | other.words, self.n_added + other.n_added,
        )

    @property
    def design_fpr(self) -> float:
        """(1 − e^{−kn/m})^k at the observed n_added."""
        if self.n_added == 0:
            return 0.0
        return (1.0 - math.exp(-self.k * self.n_added / self.m_bits)) ** self.k

    # ---------------- wire ----------------
    #
    # v1 dense: header + m_bits/8 word bytes
    # v2 sparse: header + u32 n_set + u32 set-bit positions
    #
    # to_bytes picks whichever is smaller (sparse only when m_bits fits
    # u32 indices). Same scale rationale as the HLL sparse mode: a
    # nearly-empty per-group filter's shuffle partial is ~4 B per set
    # bit, not a fixed m_bits/8 (128 KB at the 2^20 default).

    _HEAD = "<BQIqq"

    def to_bytes(self) -> bytes:
        # popcount via byte LUT (no numpy>=2 bitwise_count, no 8×
        # unpackbits expansion) — to_bytes runs once per group in the
        # final merge, so the cheap decision path matters at 150k groups
        byte_view = self.words.astype("<u8").view(np.uint8)
        n_set = int(_POPCNT8[byte_view].sum())
        if self.m_bits < (1 << 32) and 4 + 4 * n_set < self.m_bits // 8:
            bits = np.unpackbits(byte_view, bitorder="little")
            pos = np.flatnonzero(bits).astype("<u4")
            return (
                _MAGIC
                + struct.pack(self._HEAD, 2, self.m_bits, self.k,
                              self.seed, self.n_added)
                + struct.pack("<I", pos.size)
                + pos.tobytes()
            )
        return (
            _MAGIC
            + struct.pack(self._HEAD, 1, self.m_bits, self.k,
                          self.seed, self.n_added)
            + self.words.astype("<u8").tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        blob = bytes(blob)
        if blob[:4] != _MAGIC:
            raise ValueError("invalid GSBF magic")
        version, m_bits, k, seed, n_added = struct.unpack_from(
            cls._HEAD, blob, 4
        )
        off = 4 + struct.calcsize(cls._HEAD)
        if version == 1:
            words = np.frombuffer(blob, dtype="<u8", offset=off)
            if words.size != m_bits // 64:
                raise ValueError("GSBF payload length mismatch")
            return cls(int(m_bits), int(k), int(seed), words.copy(),
                       int(n_added))
        if version == 2:
            # amplification guard (see GSCM): sparse encode only fires
            # STRICTLY below 2^32 bits; refuse forged headers at or
            # above it (legit ≥2^32-bit filters always use dense v1,
            # whose blob is the payload itself)
            if m_bits >= (1 << 32):
                raise ValueError("GSBF sparse m_bits implausibly large")
            (n_set,) = struct.unpack_from("<I", blob, off)
            pos = np.frombuffer(
                blob, dtype="<u4", offset=off + 4, count=n_set
            )
            if len(blob) != off + 4 + 4 * n_set:
                raise ValueError("GSBF sparse payload length mismatch")
            if n_set and int(pos.max()) >= m_bits:
                raise ValueError("GSBF sparse bit position out of range")
            words = np.zeros(m_bits // 64, dtype=np.uint64)
            w = (pos >> np.uint32(6)).astype(np.int64)
            b = np.uint64(1) << pos.astype(np.uint64) % np.uint64(64)
            np.bitwise_or.at(words, w, b)
            return cls(int(m_bits), int(k), int(seed), words, int(n_added))
        raise ValueError(f"unsupported GSBF version {version}")

    def __reduce__(self):
        return (BloomFilter.from_bytes, (self.to_bytes(),))


class SparseBloom:
    """Lightweight partial state: sorted unique set-bit positions for
    ONE group, produced by the vectorized multi-group builder
    (BloomSpec.build_from_codes). ``to_bytes`` emits the identical blob a
    dense filter with the same bits would (positions are sorted,
    matching the unpackbits scan order)."""

    __slots__ = ("m_bits", "k", "seed", "pos", "n_added")

    def __init__(self, m_bits, k, seed, pos, n_added):
        self.m_bits, self.k, self.seed = m_bits, k, seed
        self.pos, self.n_added = pos, n_added

    def to_dense(self) -> BloomFilter:
        bf = BloomFilter(self.m_bits, self.k, self.seed)
        # cast BEFORE shifting: int64 >> uint64 promotes to float64
        # under NumPy 2 (NEP 50) and right_shift then raises
        pos = self.pos.astype(np.uint64)
        word = (pos >> np.uint64(6)).astype(np.int64)
        bit = np.uint64(1) << (pos % np.uint64(64))
        np.bitwise_or.at(bf.words, word, bit)
        bf.n_added = int(self.n_added)
        return bf

    def to_bytes(self) -> bytes:
        if self.m_bits < (1 << 32) and 4 + 4 * self.pos.size < self.m_bits // 8:
            return (
                _MAGIC
                + struct.pack(BloomFilter._HEAD, 2, self.m_bits, self.k,
                              self.seed, int(self.n_added))
                + struct.pack("<I", self.pos.size)
                + self.pos.astype("<u4").tobytes()
            )
        return self.to_dense().to_bytes()
