"""Bottom-k (KMV) sketch: uniform distinct-sample + distinct-count.

Training-data pipelines need cheap uniform samples ("show me 64 random
documents per language over 100 TB") and the k-minimum-values sketch
gives exactly that in one mergeable pass: keep the k values whose
64-bit hashes are smallest.  Because the hash is a uniform permutation
of the value space, the survivors are a uniform sample WITHOUT
replacement of the *distinct* values, and the kth-smallest hash is a
distinct-count estimator (Bar-Yossef et al., RANDOM'02):

    D̂ = (k−1) / U_(k),   U_(k) = h_k / 2^64,
    relative std error ≈ 1/sqrt(k−2).

Mergeable monoid (same (k, seed) required):
  merge = union of (hash, value) pairs, dedupe by hash, keep k smallest
  — sig(A∪B) == merge(sig(A), sig(B)) EXACTLY, so merge is associative
  and commutative with the empty sketch as identity, and the stored
  sample is identical no matter how the data was partitioned (the
  deterministic hash IS the priority; there is no RNG state).  The
  sampled (hash, value) state is also idempotent under self-merge; the
  ``n_items`` bookkeeping counter sums, so only disjoint shard splits
  reproduce the single-build blob byte-for-byte.

Collision semantics: values are identified by their 64-bit hash, like
HLL — two distinct values colliding (~2⁻⁶⁴ per pair) count once.
Float values canonicalize −0.0 → +0.0 at ingest so the surviving
representative can never depend on input order (same contract as the
t-digest kernel, sketches/tdigest.py:_normalize).

Wire: ``GSBK`` + version + k + seed + n_items + count + hashes +
value-type tag + typed payload (int64/float64/utf-8 strings/bytes).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np

from gr_tdigest_spark.sketches.hashing import hash64

__all__ = ["BottomK", "WeightedBottomK", "overlap_estimate"]

_MAGIC = b"GSBK"
_HEAD = "<BIqd"  # version, k, seed, n_items
_MAX_K = 65536


def _canon_values(arr: np.ndarray) -> np.ndarray:
    """-0.0 → +0.0 for float inputs (hash64 already canonicalizes the
    HASH; this canonicalizes the stored representative too, so blobs
    are partition-layout independent)."""
    if arr.dtype.kind == "f":
        return arr + 0.0
    return arr


@dataclass
class BottomK:
    k: int = 64
    seed: int = 29
    hashes: np.ndarray = field(default=None)   # uint64 ascending distinct
    values: np.ndarray = field(default=None)   # object, aligned
    n_items: float = 0.0  # rows ingested (not distinct; bookkeeping)

    # wire identity + hash-order rule; WeightedBottomK overrides both
    # (its priorities are race keys, where duplicates are legal and
    # ties break on the value)
    wire_magic = _MAGIC
    _strict_hash_order = True

    def __post_init__(self):
        # k ≥ 2: the KMV estimator (k−1)/U_(k) degenerates to 0 at k=1
        if not (2 <= self.k <= _MAX_K):
            raise ValueError(f"BottomK k must be in [2, {_MAX_K}]")
        if self.hashes is None:
            self.hashes = np.empty(0, dtype=np.uint64)
        if self.values is None:
            self.values = np.empty(0, dtype=object)

    # ---------------- build / merge ----------------

    def _combine(self, h_new: np.ndarray, v_new: np.ndarray) -> None:
        h_all = np.concatenate((self.hashes, h_new.astype(np.uint64)))
        v_all = np.concatenate(
            (self.values, np.asarray(v_new, dtype=object))
        )
        # stable sort: on (impossibly rare) cross-value hash ties the
        # EXISTING entry wins, keeping merge deterministic
        order = np.argsort(h_all, kind="stable")
        h_all, v_all = h_all[order], v_all[order]
        if h_all.size > 1:
            keep = np.empty(h_all.size, dtype=bool)
            keep[0] = True
            np.not_equal(h_all[1:], h_all[:-1], out=keep[1:])
            h_all, v_all = h_all[keep], v_all[keep]
        self.hashes = h_all[: self.k]
        self.values = v_all[: self.k]

    def add(self, values) -> None:
        arr = _canon_values(np.asarray(values))
        if arr.size == 0:
            return
        self._combine(hash64(arr, seed=self.seed), arr)
        self.n_items += float(arr.size)

    def merge(self, other: "BottomK") -> "BottomK":
        if type(self) is not type(other):
            raise ValueError("BottomK merge: incompatible sketch kinds")
        if (self.k, self.seed) != (other.k, other.seed):
            raise ValueError("BottomK merge: incompatible (k, seed)")
        out = type(self)(self.k, self.seed, self.hashes.copy(),
                         self.values.copy(),
                         self.n_items + other.n_items)
        out._combine(other.hashes, other.values)
        return out

    # ---------------- queries ----------------

    def sample(self) -> list:
        """The stored uniform sample of distinct values (≤ k items,
        ordered by hash — i.e. in uniform-random order)."""
        return list(self.values)

    def distinct_estimate(self) -> float:
        """Exact below capacity; KMV estimator (k−1)/U_(k) at it."""
        if self.hashes.size < self.k:
            return float(self.hashes.size)
        u_k = float(self.hashes[-1]) / 2.0 ** 64
        if u_k <= 0.0:
            return float(self.hashes.size)
        return (self.k - 1) / u_k

    @property
    def std_error(self) -> float:
        """Relative standard error of the distinct estimate."""
        return 1.0 / math.sqrt(max(self.k - 2, 1))

    @property
    def is_empty(self) -> bool:
        return self.hashes.size == 0

    # ---------------- wire ----------------

    def to_bytes(self) -> bytes:
        n = int(self.hashes.size)
        head = (
            type(self).wire_magic
            + struct.pack(_HEAD, 1, self.k, self.seed, self.n_items)
            + struct.pack("<I", n)
            + self.hashes.astype("<u8").tobytes()
        )
        if n == 0:
            return head + b"n"
        first = self.values[0]
        if isinstance(first, (bool, np.bool_)):
            raise ValueError("BottomK wire: bool values unsupported")

        def _homogeneous(types) -> None:
            # the tag is dispatched on values[0]; a mixed object array
            # would otherwise be silently COERCED (e.g. 2.5 → int 2),
            # corrupting the sample while its hash stays hash64(2.5)
            for v in self.values:
                if not isinstance(v, types) or isinstance(
                    v, (bool, np.bool_)
                ):
                    raise ValueError(
                        "BottomK wire: mixed value types "
                        f"({type(first).__name__} vs {type(v).__name__}); "
                        "columns must be homogeneous"
                    )

        if isinstance(first, (int, np.integer)):
            _homogeneous((int, np.integer))
            return head + b"i" + np.asarray(
                self.values, dtype=np.int64
            ).astype("<i8").tobytes()
        if isinstance(first, (float, np.floating)):
            _homogeneous((float, np.floating))
            return head + b"f" + np.asarray(
                self.values, dtype=np.float64
            ).astype("<f8").tobytes()
        if isinstance(first, (str, np.str_)):
            _homogeneous((str, np.str_))
            enc = [str(v).encode("utf-8") for v in self.values]
            lens = np.asarray([len(b) for b in enc], dtype="<u4")
            return head + b"s" + lens.tobytes() + b"".join(enc)
        if isinstance(first, (bytes, np.bytes_)):
            _homogeneous((bytes, np.bytes_))
            enc = [bytes(v) for v in self.values]
            lens = np.asarray([len(b) for b in enc], dtype="<u4")
            return head + b"b" + lens.tobytes() + b"".join(enc)
        raise ValueError(
            f"BottomK wire: unsupported value type {type(first).__name__} "
            "(int/float/str/bytes columns only)"
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BottomK":
        blob = bytes(blob)
        if blob[:4] != cls.wire_magic:
            raise ValueError(f"invalid {cls.wire_magic.decode()} magic")
        # the fixed header and the u32 entry count
        off = 4 + struct.calcsize(_HEAD)
        if len(blob) < off + 4:
            raise ValueError(f"truncated {cls.wire_magic.decode()} header")
        version, k, seed, n_items = struct.unpack_from(_HEAD, blob, 4)
        if version != 1:
            raise ValueError(
                f"unsupported {cls.wire_magic.decode()} version {version}"
            )
        # validate header dims BEFORE any allocation (amplification
        # guard — same rule as the sparse companion wires). Lower bound
        # matches the constructor (k ≥ 2): a k=1 header can never come
        # from a legal encoder, so reject it at the wire level with the
        # wire-level message rather than letting __post_init__ raise a
        # different one later.
        if not (2 <= k <= _MAX_K):
            raise ValueError(f"{cls.wire_magic.decode()} k out of range")
        (n,) = struct.unpack_from("<I", blob, off)
        if n > k:
            raise ValueError(f"{cls.wire_magic.decode()} count exceeds k")
        off += 4
        if len(blob) < off + 8 * n + 1:
            raise ValueError(
                f"{cls.wire_magic.decode()} truncated hash payload"
            )
        hashes = np.frombuffer(blob, dtype="<u8", offset=off, count=n)
        off += 8 * n
        tag = blob[off:off + 1]
        off += 1
        if tag == b"n":
            if n != 0:
                raise ValueError(
                    f"{cls.wire_magic.decode()} empty tag with nonzero count"
                )
            values = np.empty(0, dtype=object)
        elif tag in (b"i", b"f"):
            dt = "<i8" if tag == b"i" else "<f8"
            if len(blob) != off + 8 * n:
                raise ValueError(
                    f"{cls.wire_magic.decode()} numeric payload length mismatch"
                )
            arr = np.frombuffer(blob, dtype=dt, offset=off, count=n)
            values = np.empty(n, dtype=object)
            py = int if tag == b"i" else float
            values[:] = [py(v) for v in arr]
        elif tag in (b"s", b"b"):
            if len(blob) < off + 4 * n:
                raise ValueError(
                    f"{cls.wire_magic.decode()} truncated length table"
                )
            lens = np.frombuffer(blob, dtype="<u4", offset=off, count=n)
            off += 4 * n
            total = int(lens.sum())
            if len(blob) != off + total:
                raise ValueError(
                    f"{cls.wire_magic.decode()} string payload length mismatch"
                )
            values = np.empty(n, dtype=object)
            pos = off
            for i, ln in enumerate(lens):
                chunk = blob[pos:pos + int(ln)]
                values[i] = (
                    chunk.decode("utf-8") if tag == b"s" else chunk
                )
                pos += int(ln)
        else:
            raise ValueError(
                f"{cls.wire_magic.decode()} unknown value tag {tag!r}"
            )
        out = cls(int(k), int(seed), hashes.astype(np.uint64).copy(),
                  values, float(n_items))
        if out.hashes.size > 1:
            h = out.hashes
            bad = (
                np.any(h[1:] <= h[:-1]) if cls._strict_hash_order
                else np.any(h[1:] < h[:-1])
            )
            if bad:
                raise ValueError(
                    f"{cls.wire_magic.decode()} hashes not "
                    f"{'strictly ' if cls._strict_hash_order else ''}"
                    "ascending"
                )
        return out

    def __reduce__(self):
        return (type(self).from_bytes, (self.to_bytes(),))


class WeightedBottomK(BottomK):
    """Bottom-k by a CALLER-SUPPLIED uint64 priority with VALUE
    tie-break — the state behind per-group weighted sampling
    (operators/sample.py ``weighted_sample(keys=, method='sketch')``,
    priority = the Efraimidis–Spirakis race key's IEEE-754 bit view).

    Two semantic differences from the KMV base:

    - Only exact duplicate ``(priority, value)`` pairs collapse.
      Distinct values that TIE on priority each keep a slot, ordered by
      value — ties are real here (every ``w=+inf`` row races at E=0;
      53-bit-u collisions are expected in 10⁹-row groups with few
      distinct weights), and collapsing them would both drop
      should-be-sampled ids and make the survivor depend on partition
      layout / merge order.  With the value tie-break the selected set
      is a pure function of the (priority, value) multiset.
    - Wire magic ``GSWK``: priorities may repeat, so the decoder
      requires non-decreasing (not strictly ascending) hashes, and the
      distinct magic keeps these blobs out of KMV decoders (whose
      strict-ascent validation and distinct-count estimator would both
      be wrong here) and vice versa.

    ``add()`` is inherited but meaningless (it would hash values);
    states are built by ``WeightedBottomKSpec`` with explicit
    priorities.  ``distinct_estimate`` is likewise not meaningful on
    race priorities.
    """

    wire_magic = b"GSWK"
    _strict_hash_order = False

    def add(self, values) -> None:
        raise TypeError(
            "WeightedBottomK.add: values carry no race keys — states "
            "are built by WeightedBottomKSpec with explicit priorities "
            "(hash64 priorities would silently corrupt the race)"
        )

    def _combine(self, h_new: np.ndarray, v_new: np.ndarray) -> None:
        h_all = np.concatenate((self.hashes, h_new.astype(np.uint64)))
        v_all = np.concatenate(
            (self.values, np.asarray(v_new, dtype=object))
        )
        # lexicographic (priority, value): value-stable argsort first
        # (object-safe; values within one sketch are homogeneous), then
        # a stable sort by priority preserves the value order on ties
        ov = np.argsort(v_all, kind="stable")
        h_all, v_all = h_all[ov], v_all[ov]
        oh = np.argsort(h_all, kind="stable")
        h_all, v_all = h_all[oh], v_all[oh]
        if h_all.size > 1:
            keep = np.empty(h_all.size, dtype=bool)
            keep[0] = True
            keep[1:] = (h_all[1:] != h_all[:-1]) | np.asarray(
                v_all[1:] != v_all[:-1], dtype=bool
            )
            h_all, v_all = h_all[keep], v_all[keep]
        self.hashes = h_all[: self.k]
        self.values = v_all[: self.k]


def overlap_estimate(a: "BottomK", b: "BottomK") -> dict:
    """KMV set-operation estimates from two bottom-k sketches built
    over the same hash domain (same seed; enforced by ``merge``).

    The classical KMV composition (Beyer et al., SIGMOD'07): the
    merged sketch U holds the k smallest hashes of A∪B — a uniform
    sample of the union — so the fraction of U's hashes present in
    BOTH input sketches estimates Jaccard, and scaling by U's
    distinct estimate gives the intersection size::

        Ĵ = |{h ∈ U : h ∈ A_k ∧ h ∈ B_k}| / |U|
        |A∩B| ≈ Ĵ · D̂(A∪B)

    Exact whenever the union has fewer than k distinct values (every
    sketch below capacity).  Returns a dict with ``distinct_a/b``,
    ``union``, ``intersection``, ``jaccard``, ``containment_a_in_b``
    (= |A∩B|/|A|, how much of A also appears in B) and
    ``containment_b_in_a``; the intersection is clamped to
    ``min(distinct_a, distinct_b)`` so containments stay in [0, 1].
    Both sketches empty → NaN jaccard/containments, zeros elsewhere.
    """
    u = a.merge(b)
    da = a.distinct_estimate()
    db = b.distinct_estimate()
    union = u.distinct_estimate()
    if u.hashes.size == 0:
        nan = float("nan")
        return {
            "distinct_a": 0.0, "distinct_b": 0.0, "union": 0.0,
            "intersection": 0.0, "jaccard": nan,
            "containment_a_in_b": nan, "containment_b_in_a": nan,
        }
    both = np.isin(u.hashes, a.hashes) & np.isin(u.hashes, b.hashes)
    j = float(both.sum()) / float(u.hashes.size)
    if u.hashes.size < u.k:
        # exact regime: U holds every distinct hash, so the match
        # count IS the intersection — don't round-trip it through
        # (i/u)·u, which need not return the integer exactly
        inter = float(both.sum())
    else:
        inter = min(j * union, da, db)
        if inter < j * union and union > 0:
            # the clamp re-derives jaccard so the returned triple
            # stays internally consistent: intersection == jaccard ×
            # union always holds (a consumer deriving one from the
            # others must not exceed the dict's own containments)
            j = inter / union
    return {
        "distinct_a": da,
        "distinct_b": db,
        "union": union,
        "intersection": inter,
        "jaccard": j,
        "containment_a_in_b": inter / da if da > 0 else float("nan"),
        "containment_b_in_a": inter / db if db > 0 else float("nan"),
    }
