"""HyperLogLog kernel (dense, 2^p byte registers).

Companion sketch required by BASELINE.json#north_rule ("distinct conv_id
counts"). Standard Flajolet–Fusy–Gandouet–Meunier HLL with the 64-bit
variant's corrections: relative standard error 1.04/√m.

Mergeable monoid: merge = elementwise register max (same p required).
Wire: ``GSHL``, sparse v2 or dense v1, written only by ``encode_hll``.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from gr_tdigest_spark.sketches.hashing import hash64

__all__ = ["HLL", "encode_hll", "idx_rank"]

_MAGIC = b"GSHL"


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def encode_hll(p: int, idx: np.ndarray, ranks: np.ndarray,
               registers: np.ndarray = None) -> bytes:
    """The GSHL blob of a precision-``p`` sketch whose non-zero
    registers are ``idx`` (sorted ascending) holding ``ranks``:

    - v2 sparse: magic + (2, p) + u32 nnz + u32 indices + u8 ranks,
      when that is smaller than 2^p bytes;
    - v1 dense: magic + (1, p) + the 2^p register bytes (``registers``,
      if the caller holds the dense array, else scattered from the
      cells).

    This is the scale lever for high-cardinality groupings
    (per-conversation HLLs over 10^12 turns): a small group's partial
    is ~5 B per touched register instead of a fixed 2^p. The dense
    ``HLL.to_bytes`` and the columnar ``HLLSpec`` builder both write
    through here, so a group's blob does not depend on which built it.
    """
    m = 1 << p
    if 4 + 5 * idx.size < m:
        return (
            _MAGIC + struct.pack("<BBI", 2, p, idx.size)
            + idx.astype("<u4").tobytes() + ranks.astype(np.uint8).tobytes()
        )
    if registers is None:
        registers = np.zeros(m, dtype=np.uint8)
        registers[idx] = ranks
    return _MAGIC + struct.pack("<BB", 1, p) + registers.tobytes()


def idx_rank(h: np.ndarray, p: int):
    """Vectorized (register index, rank) for a batch of uint64 hashes —
    shared by the per-object ``add_hashes`` and the multi-group
    columnar builder in HLLSpec."""
    idx = (h >> np.uint64(64 - p)).astype(np.int64)
    # remaining bits after the register index; force low p bits to 1 so
    # the value is never 0 (max observable rank = 64 - p + 1)
    rest = (h << np.uint64(p)) | np.uint64((1 << p) - 1)
    # vectorized count-leading-zeros: split into 32-bit halves (uint32
    # fits exactly in f64, so floor(log2) is exact there)
    hi = (rest >> np.uint64(32)).astype(np.uint32)
    lo = (rest & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    clz_hi = 31 - np.floor(
        np.log2(np.maximum(hi, 1).astype(np.float64))
    ).astype(np.int64)
    clz_lo = 31 - np.floor(
        np.log2(np.maximum(lo, 1).astype(np.float64))
    ).astype(np.int64)
    clz = np.where(hi != 0, clz_hi, 32 + clz_lo)
    return idx, (clz + 1).astype(np.uint8)


@dataclass
class HLL:
    p: int = 14  # 2^14 registers → ±0.81% typical error
    registers: np.ndarray = field(default=None)

    def __post_init__(self):
        if not (4 <= self.p <= 18):
            raise ValueError("HLL precision p must be in [4, 18]")
        if self.registers is None:
            self.registers = np.zeros(1 << self.p, dtype=np.uint8)

    @property
    def m(self) -> int:
        return 1 << self.p

    def add_hashes(self, h: np.ndarray) -> None:
        idx, rank = idx_rank(h, self.p)
        np.maximum.at(self.registers, idx, rank)

    def add(self, values) -> None:
        arr = np.asarray(values)
        if arr.size == 0:
            return
        self.add_hashes(hash64(arr))

    def merge(self, other: "HLL") -> "HLL":
        if other.p != self.p:
            raise ValueError(
                f"HLL merge: precision mismatch (p={self.p} vs p={other.p})"
            )
        out = HLL(self.p, np.maximum(self.registers, other.registers))
        return out

    def estimate(self) -> float:
        m = self.m
        regs = self.registers.astype(np.float64)
        e = _alpha(m) * m * m / np.sum(np.exp2(-regs))
        if e <= 2.5 * m:
            v = int(np.count_nonzero(self.registers == 0))
            if v > 0:
                return m * math.log(m / v)  # linear counting
        return float(e)

    @property
    def std_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    # ---------------- wire ----------------

    def to_bytes(self) -> bytes:
        nz = np.flatnonzero(self.registers)
        return encode_hll(self.p, nz, self.registers[nz], self.registers)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HLL":
        blob = bytes(blob)
        if blob[:4] != _MAGIC:
            raise ValueError("invalid GSHL magic")
        if len(blob) < 6:
            raise ValueError("truncated GSHL header")
        version, p = struct.unpack_from("<BB", blob, 4)
        # validate p BEFORE any 2^p allocation: a forged header with
        # p=40 would otherwise attempt a 1 TB np.zeros (same
        # amplification guard as GSCM/GSBF)
        if not (4 <= p <= 18):
            raise ValueError(f"GSHL precision {p} out of range")
        if version == 1:
            regs = np.frombuffer(blob, dtype=np.uint8, offset=6)
            if regs.size != (1 << p):
                raise ValueError("GSHL register payload length mismatch")
            return cls(p, regs.copy())
        if version == 2:
            if len(blob) < 10:
                raise ValueError("truncated GSHL header")
            (nnz,) = struct.unpack_from("<I", blob, 6)
            off = 10
            if len(blob) != off + 5 * nnz:
                raise ValueError("GSHL sparse payload length mismatch")
            idx = np.frombuffer(blob, dtype="<u4", offset=off, count=nnz)
            ranks = np.frombuffer(
                blob, dtype=np.uint8, offset=off + 4 * nnz, count=nnz
            )
            if nnz and int(idx.max()) >= (1 << p):
                raise ValueError("GSHL sparse index out of range")
            regs = np.zeros(1 << p, dtype=np.uint8)
            regs[idx.astype(np.int64)] = ranks
            return cls(p, regs)
        raise ValueError(f"unsupported GSHL version {version}")

    def __reduce__(self):
        return (HLL.from_bytes, (self.to_bytes(),))
