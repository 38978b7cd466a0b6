"""Bloom filter kernel (membership over conv_id/key columns).

Companion sketch per BASELINE.json#north_rule. m bits / k hashes via
Kirsch–Mitzenmacher double hashing; FPR ≈ (1 − e^{−kn/m})^k, zero false
negatives. Mergeable monoid: merge = bitwise OR (same m, k, seed).

Wire: ``GSBF``, sparse v2 or dense v1, written only by ``encode_bloom``.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from gr_tdigest_spark.sketches.hashing import hash_pair

__all__ = ["BloomFilter", "encode_bloom", "optimal_bloom"]

_MAGIC = b"GSBF"

# 256-entry per-byte popcount table (uint16 keeps the indexed-sum small)
_POPCNT8 = np.array([bin(i).count("1") for i in range(256)],
                    dtype=np.uint16)


# version, m_bits, k, seed, n_added
_HEAD = "<BQIqq"


def _set_words(m_bits: int, pos: np.ndarray) -> np.ndarray:
    """The m_bits/64 uint64 words with the bits at ``pos`` set."""
    # cast BEFORE shifting: int64 >> uint64 promotes to float64 under
    # NumPy 2 (NEP 50) and right_shift then raises
    p64 = pos.astype(np.uint64)
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    np.bitwise_or.at(words, (p64 >> np.uint64(6)).astype(np.int64),
                     np.uint64(1) << (p64 % np.uint64(64)))
    return words


def encode_bloom(m_bits: int, k: int, seed: int, n_added: int,
                 pos: np.ndarray = None, words: np.ndarray = None) -> bytes:
    """The GSBF blob of an ``m_bits``-bit filter whose set bits are
    given either as ``pos`` (sorted ascending bit positions) or as the
    dense uint64 ``words``:

    - v2 sparse: header + u32 n_set + u32 set-bit positions, when
      m_bits < 2^32 and that is smaller than the m_bits/8 dense bytes;
    - v1 dense: header + the m_bits/64 little-endian words.

    Given ``words``, the set bits are counted with a byte popcount
    table and expanded to positions only for the sparse form, so a
    dense filter never pays the 8× ``unpackbits``. A nearly-empty
    per-group filter's partial is ~4 B per set bit, not a fixed m_bits/8
    (128 KB at the 2^20 default). The dense ``BloomFilter.to_bytes`` and
    the columnar ``BloomSpec`` builder both write through here.
    """
    if pos is None:
        byte_view = words.astype("<u8").view(np.uint8)
        n_set = int(_POPCNT8[byte_view].sum())
    else:
        n_set = pos.size
    if m_bits < (1 << 32) and 4 + 4 * n_set < m_bits // 8:
        if pos is None:
            pos = np.flatnonzero(np.unpackbits(byte_view, bitorder="little"))
        return (
            _MAGIC + struct.pack(_HEAD, 2, m_bits, k, seed, n_added)
            + struct.pack("<I", n_set) + pos.astype("<u4").tobytes()
        )
    if words is None:
        words = _set_words(m_bits, pos)
    return (_MAGIC + struct.pack(_HEAD, 1, m_bits, k, seed, n_added)
            + words.astype("<u8").tobytes())


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

    def to_bytes(self) -> bytes:
        return encode_bloom(self.m_bits, self.k, self.seed, self.n_added,
                            words=self.words)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        blob = bytes(blob)
        if blob[:4] != _MAGIC:
            raise ValueError("invalid GSBF magic")
        off = 4 + struct.calcsize(_HEAD)
        if len(blob) < off:
            raise ValueError("truncated GSBF header")
        version, m_bits, k, seed, n_added = struct.unpack_from(
            _HEAD, blob, 4
        )
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
            if len(blob) < off + 4:
                raise ValueError("truncated GSBF header")
            (n_set,) = struct.unpack_from("<I", blob, off)
            if len(blob) != off + 4 + 4 * n_set:
                raise ValueError("GSBF sparse payload length mismatch")
            pos = np.frombuffer(
                blob, dtype="<u4", offset=off + 4, count=n_set
            )
            if n_set and int(pos.max()) >= m_bits:
                raise ValueError("GSBF sparse bit position out of range")
            return cls(int(m_bits), int(k), int(seed),
                       _set_words(m_bits, pos), int(n_added))
        raise ValueError(f"unsupported GSBF version {version}")

    def __reduce__(self):
        return (BloomFilter.from_bytes, (self.to_bytes(),))
