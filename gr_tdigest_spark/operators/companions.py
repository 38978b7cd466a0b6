"""SketchSpec adapters for the companion sketches (HLL / CMS / Bloom /
KLL / MinHash / bottom-k / weighted bottom-k) — each plugs its kernel
monoid into the shared two-phase ``sketch_agg`` plan through one
columnar ``build_blobs_from_codes`` that returns every group's blob
(see operators/agg.py), plus convenience aggregates. HLL, CMS and Bloom
groups are encoded straight from their set cells by the kernel's one
encoder (``encode_hll`` / ``encode_cms`` / ``encode_bloom``), never via a
dense per-group state.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gr_tdigest_spark.functions import (
    _COMPANION_PROBES, _PROBES, _as_str, _merge_udf, _register,
)
from gr_tdigest_spark.operators.agg import (
    SketchSpec, _arrow_array, _KeyIds, _PartitionBuild, _project_input,
    _rebalance_input, _rows_batch, _value_numpy, sketch_agg,
)
from gr_tdigest_spark.sketches.bloom import BloomFilter, encode_bloom
from gr_tdigest_spark.sketches.bottomk import BottomK, WeightedBottomK
from gr_tdigest_spark.sketches.cms import CMS, encode_cms
from gr_tdigest_spark.sketches.hll import HLL, encode_hll
from gr_tdigest_spark.sketches.kll import KLL
from gr_tdigest_spark.sketches.minhash import MinHash

__all__ = [
    "HLLSpec", "CMSSpec", "BloomSpec", "KLLSpec", "MinHashSpec",
    "BottomKSpec", "WeightedBottomKSpec",
    "hll_agg", "cms_agg", "bloom_agg", "kll_agg", "minhash_agg",
    "bottomk_agg",
    "hll_estimate", "hll_intersect_estimate", "cms_estimate",
    "bloom_contains", "minhash_jaccard", "cms_inner_product",
    "minhash_hll_intersect_estimate", "merge_sketches",
    "register_companion_sql",
    "kll_quantile", "kll_rank", "kll_count", "cms_topk",
    "bloom_filter_rows",
    "bottomk_distinct", "bottomk_sample",
]


def _missing_mask(arr: np.ndarray):
    """Keep-mask for missing values (None/NaN), or None when the dtype
    cannot hold them. THE single definition of companion-sketch missing
    semantics: every build path routes through ``_drop_missing``."""
    if arr.dtype == object:
        return np.array([v is not None and v == v for v in arr],
                        dtype=bool)
    if arr.dtype.kind == "f":
        return ~np.isnan(arr)
    return None


def _drop_missing(values, *aligned):
    """``values`` without its missing entries, followed by each array
    aligned with it (group codes, weights; None passes through) masked
    the same way."""
    arr = np.asarray(values)
    mask = _missing_mask(arr)
    if mask is None:
        return (arr, *aligned)
    return (arr[mask], *(
        None if a is None else np.asarray(a)[mask] for a in aligned
    ))


class _KernelSpec(SketchSpec):
    """Shared shape for the companion kernels: a state IS the kernel
    object (each exposes ``merge``/``to_bytes``/``from_bytes``), used
    by merges and the per-group reference; each subclass's
    ``build_blobs_from_codes`` emits the blobs of a whole batch."""

    kernel = None  # class with .from_bytes
    # nulls are SKIPPED (not errors) for the hash-family sketches;
    # the input projection pushes the null filter into the JVM so batch
    # dtypes never flip int64→float64 on nullable columns
    skips_null_values = True

    def _new(self):
        raise NotImplementedError

    def clean_values(self, values, weights=None):
        return _drop_missing(values)[0], None

    def build_state(self, values, weights=None):
        sk = self._new()
        if values.size:
            sk.add(values)
        return sk

    def merge_states(self, a, b):
        return a.merge(b)

    def blob_to_state(self, blob: bytes):
        return self.kernel.from_bytes(blob)


def _group_bounds(gcodes: np.ndarray):
    """Run boundaries over a sorted group-code array."""
    gstarts = np.flatnonzero(np.r_[True, gcodes[1:] != gcodes[:-1]])
    return gstarts, np.append(gstarts, gcodes.size)


class HLLSpec(_KernelSpec):
    name = "hll"
    kernel = HLL

    def __init__(self, p: int = 14):
        self.p = p

    def _new(self):
        return HLL(p=self.p)

    def build_blobs_from_codes(self, codes, key_tuples, values, weights):
        """Columnar multi-group build (the HLL analogue of the
        t-digest columnar partial): ONE hash pass over the whole batch,
        one sort, reduceat-max per (group, register) run, then each
        group's sorted (register, rank) cells go straight to
        ``encode_hll`` — no per-group numpy-call overhead and no dense
        2^p array unless the dense wire is the smaller. At 150k
        single-digit-row groups this is the difference between a ~20 s
        and a ~2 s partial stage."""
        from gr_tdigest_spark.sketches.hashing import hash64
        from gr_tdigest_spark.sketches.hll import idx_rank

        arr, codes = _drop_missing(values, codes)
        if not arr.size:
            return [], []
        idx, rank = idx_rank(hash64(arr), self.p)
        m = 1 << self.p
        combined = codes * m + idx
        order = np.argsort(combined, kind="stable")
        comb_s = combined[order]
        rank_s = rank[order]
        starts = np.flatnonzero(np.r_[True, comb_s[1:] != comb_s[:-1]])
        max_rank = np.maximum.reduceat(rank_s, starts)
        ukeys = comb_s[starts]
        gcodes = ukeys // m
        ridx = ukeys % m
        gstarts, bounds = _group_bounds(gcodes)
        keys = [key_tuples[g] for g in gcodes[gstarts]]
        return keys, [
            encode_hll(self.p, ridx[lo:hi], max_rank[lo:hi])
            for lo, hi in zip(bounds[:-1], bounds[1:])
        ]


class CMSSpec(_KernelSpec):
    name = "cms"
    kernel = CMS

    def __init__(self, depth: int = 5, width: int = 8192, seed: int = 7):
        self.depth, self.width, self.seed = depth, width, seed

    def _new(self):
        return CMS(self.depth, self.width, self.seed)

    def clean_values(self, values, weights=None):
        """Weight-aware cleaning: CMS accepts (value, count) piles from
        the pre-aggregated plan — keep the weights aligned with the
        null/NaN filter."""
        return _drop_missing(values, weights)

    def build_state(self, values, weights=None):
        sk = self._new()
        if values.size:
            if weights is not None:
                sk.add(values, counts=weights.astype(np.int64))
            else:
                sk.add(values)
        return sk

    def build_blobs_from_codes(self, codes, key_tuples, values, weights):
        """Columnar multi-group build: one depth×n column pass, one
        sort of (group, cell) keys, reduceat-sum of (pile) weights, then
        each group's sorted (cell, count) pairs go straight to
        ``encode_cms`` — the pre_aggregate pile path and the raw-row
        path both route through it."""
        arr, codes, ws = _drop_missing(values, codes, weights)
        if not arr.size:
            return [], []
        w = (
            np.ones(arr.size, dtype=np.int64) if ws is None
            else np.asarray(ws).astype(np.int64)
        )
        cols = self._new()._cols(arr)  # depth × n int64 column indices
        cells = self.depth * self.width
        cell = (
            np.arange(self.depth, dtype=np.int64)[:, None] * self.width
            + cols
        )
        combined = (codes[None, :] * cells + cell).ravel()
        w_rep = np.broadcast_to(w, (self.depth, arr.size)).ravel()
        order = np.argsort(combined, kind="stable")
        comb_s = combined[order]
        w_s = w_rep[order]
        starts = np.flatnonzero(np.r_[True, comb_s[1:] != comb_s[:-1]])
        sums = np.add.reduceat(w_s, starts)
        ucells = comb_s[starts]
        gcodes = ucells // cells
        cidx = ucells % cells
        totals = np.bincount(
            codes, weights=w.astype(np.float64),
            minlength=len(key_tuples),
        )
        gstarts, bounds = _group_bounds(gcodes)
        groups = gcodes[gstarts]
        return [key_tuples[g] for g in groups], [
            encode_cms(self.depth, self.width, self.seed, float(totals[g]),
                       cidx[lo:hi], sums[lo:hi])
            for g, lo, hi in zip(groups, bounds[:-1], bounds[1:])
        ]


class BloomSpec(_KernelSpec):
    name = "bloom"
    kernel = BloomFilter

    def __init__(self, m_bits: int = 1 << 20, k: int = 7, seed: int = 11):
        self.m_bits, self.k, self.seed = m_bits, k, seed

    def _new(self):
        return BloomFilter(self.m_bits, self.k, self.seed)

    def build_blobs_from_codes(self, codes, key_tuples, values, weights):
        """Columnar multi-group build: one k×n bit-position pass, one
        unique over (group, bit) keys, then each group's sorted set-bit
        positions go straight to ``encode_bloom`` — same shape (and same
        ~10× high-cardinality win) as the HLL builder."""
        arr, codes = _drop_missing(values, codes)
        if not arr.size:
            return [], []
        pos = self._new()._bit_positions(arr).astype(np.int64)  # k × n
        combined = codes[None, :] * self.m_bits + pos
        uniq = np.unique(combined.ravel())  # sorted unique (group, bit)
        gcodes = uniq // self.m_bits
        bits = uniq % self.m_bits
        n_per_group = np.bincount(codes, minlength=len(key_tuples))
        gstarts, bounds = _group_bounds(gcodes)
        groups = gcodes[gstarts]
        return [key_tuples[g] for g in groups], [
            encode_bloom(self.m_bits, self.k, self.seed,
                         int(n_per_group[g]), pos=bits[lo:hi])
            for g, lo, hi in zip(groups, bounds[:-1], bounds[1:])
        ]


class MinHashSpec(_KernelSpec):
    name = "minhash"
    kernel = MinHash

    def __init__(self, k: int = 256, seed: int = 23):
        self.k, self.seed = k, seed

    def _new(self):
        return MinHash(k=self.k, seed=self.seed)

    def build_blobs_from_codes(self, codes, key_tuples, values, weights):
        """Columnar multi-group build: hash the batch once, sort rows
        by group ONCE, then one `minimum.reduceat` per signature slot
        (slot-chunked to bound the k×n temp). Signatures are dense by
        nature (k uint64s), so each group's blob is a plain MinHash's
        ``to_bytes``; the win is removing the per-group numpy-call
        overhead at high group cardinality."""
        from gr_tdigest_spark.sketches.hashing import (
            dedupe_hash_pairs, hash_pair,
        )

        arr, codes = _drop_missing(values, codes)
        if not arr.size:
            return [], []
        h1, h2 = hash_pair(arr, seed=self.seed)
        # dedupe (group, h1, h2) before the k×n slot expansion: slot
        # hashes derive from (h1, h2) alone and min ignores multiplicity,
        # so this is byte-identical and the expensive expansion runs on
        # distinct values only (codes stay the primary sort key, so the
        # group-bounds walk below is unchanged)
        codes_s, h1s, h2s = dedupe_hash_pairs(h1, h2, codes)
        gstarts, bounds = _group_bounds(codes_s)
        n_groups = gstarts.size
        sigs = np.empty((self.k, n_groups), dtype=np.uint64)
        # chunk slots: k_chunk × n_distinct × 8 B temp stays ~8 MB per
        # flush (sized AFTER dedup — a heavily-duplicated batch gets
        # wide chunks, not k tiny reduceat flushes)
        k_chunk = max(1, (1 << 20) // max(h1s.size, 1))
        rows = np.arange(self.k, dtype=np.uint64)[:, None]
        for lo in range(0, self.k, k_chunk):
            hi = min(lo + k_chunk, self.k)
            with np.errstate(over="ignore"):
                hv = h1s[None, :] + rows[lo:hi] * h2s[None, :]
            # unsigned minimum per group run, per slot
            sigs[lo:hi] = np.minimum.reduceat(hv, gstarts, axis=1)
        n_per_group = np.bincount(codes, minlength=len(key_tuples))
        groups = codes_s[gstarts]
        return [key_tuples[g] for g in groups], [
            MinHash(self.k, self.seed, sigs[:, i].copy(),
                    float(n_per_group[g])).to_bytes()
            for i, g in enumerate(groups)
        ]


class BottomKSpec(_KernelSpec):
    """Bottom-k / KMV sketch: uniform distinct-sample + distinct-count
    in one mergeable state (sketches/bottomk.py).  The deterministic
    hash is the sampling priority, so the stored sample is identical
    under ANY partition layout — no RNG state to synchronize."""

    name = "bottomk"
    kernel = BottomK

    def __init__(self, k: int = 64, seed: int = 29):
        self.k, self.seed = k, seed

    def _new(self):
        return BottomK(k=self.k, seed=self.seed)

    def _priority(self, arr: np.ndarray,
                  ws: "np.ndarray | None") -> np.ndarray:
        """uint64 sampling priority per value. Base spec: the value's
        deterministic hash (uniform distinct sampling + KMV)."""
        from gr_tdigest_spark.sketches.hashing import hash64

        return hash64(arr, seed=self.seed)

    def _order_and_dedupe(self, codes, h, vals):
        """Sort to (group, priority) and collapse duplicate (group,
        priority) runs — the KMV rule: a priority identifies a value
        (hash collisions count once)."""
        order = np.lexsort((h, codes))
        codes_s, h_s = codes[order], h[order]
        # permute/dedupe in the NATIVE dtype — boxing to object happens
        # only on each group's ≤ k surviving entries, never the batch
        vals_s = vals[order]
        if codes_s.size > 1:
            keep = np.empty(codes_s.size, dtype=bool)
            keep[0] = True
            keep[1:] = (codes_s[1:] != codes_s[:-1]) | (h_s[1:] != h_s[:-1])
            codes_s, h_s, vals_s = codes_s[keep], h_s[keep], vals_s[keep]
        return codes_s, h_s, vals_s

    def build_blobs_from_codes(self, codes, key_tuples, values, weights):
        """Columnar multi-group build (the per-conversation sampling
        shape at high group cardinality): hash the batch once, one
        lexsort over (group, priority), dedupe per the spec's rule
        (``_order_and_dedupe``), then each group's blob is the kernel
        state of a pure ≤ k-entry slice — no per-group numpy dispatch.
        Byte-identical to the per-group path (same stable tie order,
        same truncation)."""
        from gr_tdigest_spark.sketches.bottomk import _canon_values

        arr, codes, ws = _drop_missing(values, codes, weights)
        if not arr.size:
            return [], []
        arr = _canon_values(np.asarray(arr))
        h = self._priority(arr, ws)
        codes_s, h_s, vals_s = self._order_and_dedupe(codes, h, arr)
        n_per_group = np.bincount(codes, minlength=len(key_tuples))
        gstarts, bounds = _group_bounds(codes_s)
        keys, blobs = [], []
        for i in range(gstarts.size):
            b0, b1 = int(bounds[i]), int(bounds[i + 1])
            g = int(codes_s[b0])
            hi = min(b1, b0 + self.k)
            keys.append(key_tuples[g])
            blobs.append(self.kernel(
                self.k, self.seed,
                h_s[b0:hi].astype(np.uint64).copy(),
                np.asarray(vals_s[b0:hi], dtype=object).copy(),
                float(n_per_group[g]),
            ).to_bytes())
        return keys, blobs


class WeightedBottomKSpec(BottomKSpec):
    """Bounded-state per-group WEIGHTED sampler (Efraimidis–Spirakis
    A-ES via the exponential race): the priority is not a hash of the
    value but the caller-computed race key ``E = -ln(u)/w`` (a
    non-negative double, delivered through the weight column), viewed
    as its IEEE-754 uint64 bit pattern — order-preserving for
    non-negative doubles, so "k smallest bit patterns" ≡ "k smallest
    race keys" ≡ a weighted sample without replacement.  The state is a
    :class:`WeightedBottomK` (value tie-break: priority TIES are real
    — every ``w=+inf`` row races at E=0, and 53-bit-u collisions are
    expected in 10⁹-row groups with few distinct weights — and must
    neither drop ids nor resolve layout-dependently).  Same scale shape
    as ``stratified_sample(method='sketch')``: ≤ k entries of
    map-side-combinable state per group per executor, so a hot group
    with 10⁹ rows shuffles the same few hundred bytes as a 10-row one.

    Internal to :func:`gr_tdigest_spark.operators.sample.weighted_sample`
    — the race key must be a deterministic pure function of
    (id, seed, weight) or layout independence is lost, so it is always
    built by that operator's JVM expressions, never user-supplied.
    """

    name = "wbottomk"
    kernel = WeightedBottomK

    def _new(self):
        return WeightedBottomK(k=self.k, seed=self.seed)

    def _priority(self, arr, ws):
        if ws is None:
            raise ValueError(
                "WeightedBottomKSpec needs the race-key column "
                "(sketch_agg weight_col)"
            )
        # +0.0 canonicalization first (a -0.0 race key would bit-view
        # to 2^63 and sort LAST instead of first), then the uint64
        # view: non-negative doubles sort identically to their bits
        return np.ascontiguousarray(
            np.asarray(ws, dtype=np.float64) + 0.0
        ).view(np.uint64)

    def _order_and_dedupe(self, codes, h, vals):
        """Lexicographic (group, priority, VALUE) with ties KEPT: only
        exact duplicate (group, priority, value) triples collapse, so
        the per-group slice selects the same set the kernel's
        tie-break merge would."""
        # value-stable argsort first (object-safe), then a stable
        # lexsort on (group, priority) preserves value order on ties
        ov = np.argsort(vals, kind="stable")
        codes1, h1, vals1 = codes[ov], h[ov], vals[ov]
        order = np.lexsort((h1, codes1))
        codes_s, h_s, vals_s = codes1[order], h1[order], vals1[order]
        if codes_s.size > 1:
            keep = np.empty(codes_s.size, dtype=bool)
            keep[0] = True
            keep[1:] = (
                (codes_s[1:] != codes_s[:-1])
                | (h_s[1:] != h_s[:-1])
                | np.asarray(vals_s[1:] != vals_s[:-1], dtype=bool)
            )
            codes_s, h_s, vals_s = codes_s[keep], h_s[keep], vals_s[keep]
        return codes_s, h_s, vals_s


class KLLSpec(_KernelSpec):
    name = "kll"
    kernel = KLL

    def __init__(self, k: int = 200, seed: int = 17):
        self.k, self.seed = k, seed

    def _new(self):
        return KLL(k=self.k, seed=self.seed)

    def clean_values(self, values, weights=None):
        v = np.asarray(values, dtype=np.float64)
        return v[np.isfinite(v)], None

    def build_blobs_from_codes(self, codes, key_tuples, values, weights):
        """Columnar multi-group build: sort rows by group once, then
        every group at-or-under the sketch capacity (n ≤ k — the
        high-cardinality regime) is an UNCOMPACTED level-0 state, i.e.
        a pure slice; only over-capacity groups pay the kernel's
        compaction loop. Each group's blob is its state's ``to_bytes``,
        byte-identical to the per-group path (same level-0 ordering,
        same compaction sequence)."""
        arr, codes = _drop_missing(values, codes)
        if not arr.size:
            return [], []
        v = np.asarray(arr, dtype=np.float64)
        finite = np.isfinite(v)
        if not finite.all():
            v = v[finite]
            codes = codes[finite]
            if not v.size:
                return [], []
        order = np.argsort(codes, kind="stable")
        codes_s = codes[order]
        v_s = v[order]
        gstarts, bounds = _group_bounds(codes_s)
        keys, blobs = [], []
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            vals = v_s[lo:hi]
            if vals.size <= self.k:
                st = KLL(self.k, self.seed, [vals], float(vals.size))
            else:
                st = self._new()
                st.add(vals)
            keys.append(key_tuples[codes_s[lo]])
            blobs.append(st.to_bytes())
        return keys, blobs


# ------------------------------------------------------------------ #
# aggregates (same two-phase plan as tdigest_agg)
# ------------------------------------------------------------------ #

def hll_agg(df: DataFrame, keys, col: str, p: int = 14, out_col: str = "hll",
            salt_buckets: Optional[int] = None,
            pre_aggregate: bool = False) -> DataFrame:
    """Distinct-count sketch per group (oracle: countDistinct ±1.04/√m).

    ``pre_aggregate=True``: JVM ``distinct()`` first — HLL registers
    are invariant under duplicates, so the result is identical while
    only distinct values cross Arrow (the scale plan for skewed
    repeated values, e.g. conv_id over 10^12 turns)."""
    if pre_aggregate:
        df = df.select(*(list(keys) if keys else []), col).distinct()
    return sketch_agg(df, keys, col, HLLSpec(p), out_col=out_col,
                      salt_buckets=salt_buckets)


def cms_agg(df: DataFrame, keys, col: str, depth: int = 5, width: int = 8192,
            seed: int = 7, out_col: str = "cms",
            salt_buckets: Optional[int] = None,
            pre_aggregate: bool = False) -> DataFrame:
    """Heavy-hitter count sketch per group (ε=e/width, δ=e^−depth).

    ``pre_aggregate=True``: JVM ``groupBy(keys, value).count()`` piles
    feed weighted CMS adds — identical tables (counter addition is
    exact), only distinct values cross Arrow."""
    spec = CMSSpec(depth, width, seed)
    if pre_aggregate:
        grp = list(keys) if keys else []
        df = df.groupBy(*grp, F.col(col)).agg(
            F.count("*").alias("__pile_w")
        )
        return sketch_agg(df, keys, col, spec, weight_col="__pile_w",
                          out_col=out_col, salt_buckets=salt_buckets)
    return sketch_agg(df, keys, col, spec,
                      out_col=out_col, salt_buckets=salt_buckets)


def bloom_agg(df: DataFrame, keys, col: str, m_bits: int = 1 << 20,
              k: int = 7, seed: int = 11, out_col: str = "bloom",
              salt_buckets: Optional[int] = None,
              pre_aggregate: bool = False) -> DataFrame:
    """Membership filter per group (FPR (1−e^{−kn/m})^k, no false negatives).

    ``pre_aggregate=True``: JVM ``distinct()`` first — Bloom words are
    invariant under duplicates (identical filters, fewer Arrow rows)."""
    if pre_aggregate:
        df = df.select(*(list(keys) if keys else []), col).distinct()
    return sketch_agg(df, keys, col, BloomSpec(m_bits, k, seed),
                      out_col=out_col, salt_buckets=salt_buckets)


def kll_agg(df: DataFrame, keys, col: str, k: int = 200, seed: int = 17,
            out_col: str = "kll",
            salt_buckets: Optional[int] = None) -> DataFrame:
    """Rank/quantile sketch with uniform guarantees per group."""
    return sketch_agg(df, keys, col, KLLSpec(k, seed), out_col=out_col,
                      salt_buckets=salt_buckets)


def minhash_agg(df: DataFrame, keys, col: str, k: int = 256,
                seed: int = 23, out_col: str = "minhash",
                salt_buckets: Optional[int] = None,
                pre_aggregate: bool = False) -> DataFrame:
    """MinHash set signature per group — answers pairwise Jaccard
    similarity BETWEEN groups from sketch-sized state (e.g. "which
    tools serve the same conversations" over 10^12 turns: each group's
    element set collapses to k uint64s; the pairwise comparison then
    touches only the n_groups-row sketch table, never the fact table).

    ``pre_aggregate=True``: JVM ``distinct()`` first — signatures are
    invariant under duplicates (slot min is idempotent), so the result
    is identical while only distinct (group, element) pairs cross
    Arrow; the scale plan when elements repeat heavily per group."""
    if pre_aggregate:
        df = df.select(*(list(keys) if keys else []), col).distinct()
    return sketch_agg(df, keys, col, MinHashSpec(k, seed), out_col=out_col,
                      salt_buckets=salt_buckets)


def bottomk_agg(df: DataFrame, keys, col: str, k: int = 64,
                seed: int = 29, out_col: str = "bottomk",
                salt_buckets: Optional[int] = None,
                pre_aggregate: bool = False) -> DataFrame:
    """Bottom-k (KMV) sketch per group: a uniform sample of k distinct
    values AND a distinct-count estimate in one bounded, mergeable
    state.  The 100 TB sampling plan: facts are scanned once with
    map-side combine (partial sketches are ≤ k entries regardless of
    group size — a hot group costs the same as a cold one), and only
    sketch-sized states shuffle.

    ``pre_aggregate=True``: JVM ``distinct()`` first — the sampled
    hashes/values are identical (the sketch is duplicate-invariant)
    while only distinct (group, value) pairs cross Arrow. NOTE: the
    ``n_items`` bookkeeping field in the blob then records the
    distinct-pair count rather than the row count, so blobs are NOT
    byte-equal to the non-pre-aggregated build when duplicates exist —
    compare samples/estimates, not raw bytes, across the two modes."""
    if pre_aggregate:
        df = df.select(*(list(keys) if keys else []), col).distinct()
    return sketch_agg(df, keys, col, BottomKSpec(k, seed), out_col=out_col,
                      salt_buckets=salt_buckets)


# ------------------------------------------------------------------ #
# query functions: rows of the shared probe table (functions._PROBES)
# ------------------------------------------------------------------ #

def hll_estimate(col) -> Column:
    """Distinct-count estimate per HLL blob; NULL blob → NULL."""
    return _PROBES["hll_estimate"](col)


def hll_intersect_estimate(col_a, col_b) -> Column:
    """Inclusion–exclusion intersection estimator over two HLL columns:
    ``|A∩B| ≈ est(A) + est(B) − est(A∪B)`` (union = register-wise max —
    exact for HLL), clamped at 0.

    CAVEAT (SURVEY §2.8): unlike the union, the intersection has no
    bounded relative error — each term carries ±1.04/√m of ITS OWN
    cardinality, so the absolute error scales with |A∪B|. A small
    intersection of two large sets can be estimated as 0 (after the
    clamp) or off by multiples of itself. Use for intersections that
    are a non-trivial fraction of the union; for rare-overlap joins use
    Bloom semi-filters instead."""
    return _PROBES["hll_intersect_estimate"](col_a, col_b)


def register_companion_sql(spark) -> None:
    """SQL names for the companion surface — the analogue of
    ``functions.register_sql`` for t-digest: the companion rows of the
    probe table that have a SQL name, plus one grouped-aggregate merge
    per family (``hll/cms/bloom/minhash/kll/bottomk_merge``, the UDF
    ``merge_sketches`` builds), so a pure-SQL user can roll up and query
    sketch tables end to end:

        SELECT g, hll_estimate(hll_merge(hll)) FROM sketches GROUP BY g
        SELECT minhash_jaccard(a.mh, b.mh) FROM ...

    Merges need no config arguments: every blob carries its own header
    and the kernels enforce merge compatibility (mismatched configs
    raise, same contract as the Python surface). SQL
    ``cms_estimate(blob, key)`` is the DataFrame ``cms_estimate_col``.
    Probe keys for ``bloom_contains``/``cms_estimate`` are STRING columns
    here — SQL-side probing of a sketch ingested from a non-string column
    must cast consistently on both sides (hashing is dtype-aware)."""
    for spec in (HLLSpec(), CMSSpec(), BloomSpec(), MinHashSpec(),
                 KLLSpec(), BottomKSpec()):
        spark.udf.register(f"{spec.name}_merge", _merge_udf(spec))
    _register(spark, _COMPANION_PROBES)


def merge_sketches(col, spec: SketchSpec) -> Column:
    """Grouped-aggregate merge of ANY sketch blob column — the generic
    analogue of ``functions.merge_tdigests``. Usable anywhere Spark
    accepts an aggregate expression: ``groupBy``, ``cube``, ``rollup``,
    grouping sets, window frames — so a fine-grained sketch table
    (e.g. per-(role, tool) HLLs) rolls up to every coarser grouping by
    merging blobs, never rescanning facts. That is the 100 TB shape
    for OLAP-style subtotals: facts are read once at the finest grain;
    the cube is computed entirely on sketch-sized rows.

    Each group is ``spec.merge_blobs`` of its blobs: NULL blobs are
    skipped, a single blob comes back as is, and an all-NULL (or empty)
    group yields NULL (the canonical empty digest for a ``TDigestSpec``).
    Merge-compatibility is enforced by the kernels
    (mismatched configs raise, same contract as every other surface)."""
    return _merge_udf(spec)(col)


def minhash_jaccard(col_a, col_b) -> Column:
    """Estimated Jaccard similarity between two MinHash signature
    columns: (# matching slots)/k — k·Ĵ ~ Binomial(k, J), std error
    ≤ 1/(2√k). NULL if either side is NULL. Signatures must share
    (k, seed); incompatible pairs raise (merge-compatibility contract,
    same as every other sketch)."""
    return _PROBES["minhash_jaccard"](col_a, col_b)


def minhash_hll_intersect_estimate(mh_a, mh_b, hll_a, hll_b) -> Column:
    """Intersection-size estimator composing the two set sketches:
    ``|A∩B| ≈ Ĵ(A,B) · |A∪B|`` with Ĵ from the MinHash signatures and
    the union cardinality from the merged HLLs (register-wise max —
    exact union semantics). All four sketches must be built over the
    SAME two sets.

    Why this beats HLL inclusion–exclusion (``hll_intersect_estimate``)
    for small overlaps: I–E's absolute error is ~1.04/√m of EACH
    operand's cardinality regardless of the overlap, so a small
    intersection of two large sets drowns in it. Here the error is
    ≈ |A∪B|·(σ_J + J·1.04/√m) with σ_J = sqrt(J(1−J)/k) — it SHRINKS
    with J, so rare overlaps stay resolvable (SURVEY §2.8 caveat
    addressed by composition rather than by a bigger m)."""
    return _PROBES["minhash_hll_intersect_estimate"](mh_a, mh_b,
                                                     hll_a, hll_b)


def cms_inner_product(col_a, col_b) -> Column:
    """Estimated inner product of two CMS-sketched frequency vectors —
    for sketches built on each table's join key this is the equi-JOIN
    SIZE estimate (a·b ≤ est ≤ a·b + ε·N_a·N_b w.p. ≥ 1−δ): the
    100 TB use is costing a join between two fact tables from two
    sketch blobs, without shuffling either side."""
    return _PROBES["cms_inner_product"](col_a, col_b)


def cms_estimate(col, candidates: Sequence) -> Column:
    """Estimated counts for a fixed candidate list → array<long>.

    NOTE: candidate dtype must match the ingested column dtype (ints stay
    ints) — hashing is dtype-aware."""
    cand = np.asarray(candidates)
    if cand.dtype.kind == "U":
        cand = cand.astype(object)
    return _PROBES["cms_estimate"](col, consts=(cand,))


def cms_estimate_col(blob_col, key_col) -> Column:
    """Per-row estimate: sketch blob column × per-row key column.
    Key dtype must match the ingested column dtype (hashing is
    dtype-aware). NULL blobs yield 0."""
    return _PROBES["cms_estimate_col"](blob_col, key_col)


def bloom_contains(blob_col, key_col) -> Column:
    """Membership probe: sketch blob column × per-row key column.
    Key dtype must match the ingested column dtype (hashing is
    dtype-aware). NULL blobs yield false."""
    return _PROBES["bloom_contains"](blob_col, key_col)


def kll_quantile(col, q: float) -> Column:
    return _PROBES["kll_quantile"](col, F.lit(float(q)))


def kll_rank(col, x: float) -> Column:
    return _PROBES["kll_rank"](col, consts=(float(x),))


def kll_count(col) -> Column:
    return _PROBES["kll_count"](col)


def bottomk_distinct(col) -> Column:
    """Distinct-count estimate from a bottom-k blob column (exact below
    capacity; KMV (k−1)/U_(k) at it — rel. std error ≈ 1/√(k−2))."""
    return _PROBES["bottomk_distinct"](col)


_SAMPLE_TYPES = {
    "string": (StringType(), _as_str), "long": (LongType(), int),
    "double": (DoubleType(), float),
}


def _sketch_sample_col(col, dtype: str, kernel) -> Column:
    """Shared decode for the sample-bearing bottom-k wires: the stored
    sample as an array column, decoded with ``kernel.from_bytes``
    (BottomK for GSBK KMV blobs, WeightedBottomK for GSWK race blobs —
    the magics differ, so the right decoder must be picked)."""
    if dtype not in _SAMPLE_TYPES:
        raise ValueError(
            f"bottomk_sample dtype must be string/long/double, got {dtype!r}"
        )
    elem, conv = _SAMPLE_TYPES[dtype]
    row = replace(_PROBES["bottomk_sample"], decode=(kernel.from_bytes,),
                  return_type=ArrayType(elem))
    return row(col, consts=(conv,))


def bottomk_sample(col, dtype: str = "string") -> Column:
    """The stored uniform sample as an array column.  ``dtype`` names
    the element type of the sampled column: 'string', 'long', or
    'double' (sampled values are returned with their original type;
    'string' additionally stringifies non-string values for generic
    inspection)."""
    return _sketch_sample_col(col, dtype, BottomK)


# ------------------------------------------------------------------ #
# distributed heavy-hitter top-k
# ------------------------------------------------------------------ #

class _SpaceSaving:
    """SpaceSaving candidate tracker for one key: at most
    ``m·cap_factor`` counted values; past the cap the smallest are
    evicted, the eviction FLOOR rises to the largest evicted count, and
    a value (re-)entering afterwards starts at ``floor + c``. Stored
    counts therefore never fall below true counts, so eviction and
    re-arrival cannot forget a value: every value whose true count
    exceeds the final floor is kept, and the top-m holds every heavy
    hitter above it. Ties rank by value, so candidates do not depend on
    row order. The reported counts come from the CMS, not from here."""

    def __init__(self, m: int, cap_factor: int = 8):
        self.m, self.cap = m, m * cap_factor
        self.counts: dict = {}
        self.floor = 0

    def _ranked(self) -> list:
        return sorted(self.counts.items(), key=lambda t: (-t[1], t[0]))

    def add(self, values, counts) -> None:
        """One batch's exact (value, count) pairs."""
        d, f = self.counts, self.floor
        for v, c in zip(values, counts):
            d[v] = d.get(v, f) + int(c)
        if len(d) > self.cap:
            ranked = self._ranked()
            self.floor = max(f, ranked[self.cap][1])
            self.counts = dict(ranked[:self.cap])

    def top(self) -> list:
        return [v for v, _ in self._ranked()[:self.m]]


def _track_batch(trackers: dict, m: int, key_tuples: list,
                 codes: np.ndarray, values, cap_factor: int = 8) -> None:
    """Feed one Arrow value column (row keys ``key_tuples[codes]``; no
    nulls, the input projection filters them in the JVM) into the
    per-key trackers: exact (key, value) counts from one ``np.unique``,
    then one ``add`` per key. NaN values are skipped, as in the CMS."""
    enc = values.dictionary_encode()
    vocab = enc.dictionary.to_pylist()
    vidx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    keep = _missing_mask(_value_numpy(enc.dictionary))
    if keep is not None:
        rows = keep[vidx]
        codes, vidx = codes[rows], vidx[rows]
    if not vidx.size:
        return
    pairs, counts = np.unique(codes * len(vocab) + vidx, return_counts=True)
    gcodes, vcodes = pairs // len(vocab), pairs % len(vocab)
    gstarts, bounds = _group_bounds(gcodes)
    for lo, hi in zip(gstarts, bounds[1:]):
        key = key_tuples[gcodes[lo]]
        if key not in trackers:
            trackers[key] = _SpaceSaving(m, cap_factor)
        trackers[key].add([vocab[j] for j in vcodes[lo:hi]], counts[lo:hi])


def _topk_batch(groups, k: int, vtype, arrow_schema):
    """Top-k rows of ``(key, candidates, CMS)`` groups, taken one at a
    time: the candidates' estimates against the key's own CMS, ranked
    by (estimate desc, value asc). ``vtype`` is the Arrow type the CMS
    hashed (hashing is dtype-aware)."""
    keys, vals, ests = [], [], []
    for key, cands, cms in groups:
        est = cms.estimate(_value_numpy(_arrow_array(cands, vtype)))
        ranked = sorted(zip(est.tolist(), cands),
                        key=lambda t: (-t[0], t[1]))[:k]
        for e, v in ranked:
            keys.append(key)
            vals.append(v)
            ests.append(e)
    return _rows_batch(keys, [vals, ests], arrow_schema)


def _topk_partials(spec, key_cols, col, m, k, out_schema):
    """mapInArrow over raw rows: each key's CMS partial (the
    ``sketch_agg`` partial build) and SpaceSaving candidates in one
    pass. With ``k`` (single-phase: every key is complete in its
    partition) it emits the top-k rows, else one ``(keys, cms blob,
    candidates)`` partial per key."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)

    def build(batches):
        part = _PartitionBuild(spec, key_cols, col, None)
        trackers: dict = {}
        for batch in batches:
            codes = part.add(batch)
            vtype = batch.column(col).type
            _track_batch(trackers, m, part.ids.keys, codes,
                         batch.column(col))
        keys, blobs = part.blobs()
        if not keys:
            return
        if k is not None:
            yield _topk_batch(((key, trackers[key].top(),
                                spec.blob_to_state(blob))
                               for key, blob in zip(keys, blobs)),
                              k, vtype, arrow_schema)
        else:
            yield _rows_batch(keys, [
                blobs, [trackers[key].top() for key in keys],
            ], arrow_schema)

    return build


def _topk_merger(spec, key_cols, k, out_schema):
    """mapInArrow over key-partitioned partials: per key, merge the CMS
    blobs, union the candidates, and emit the top-k rows."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)
    n = len(key_cols)

    def merge(batches):
        ids = _KeyIds(key_cols)
        codes, blobs, cands = [], [], []
        for batch in batches:
            codes.append(ids.codes(batch))
            blobs += batch.column(n).to_pylist()
            cands += batch.column(n + 1).to_pylist()
            vtype = batch.column(n + 1).type.value_type
        if not blobs:
            return
        codes = np.concatenate(codes)
        order = np.argsort(codes, kind="stable")
        runs = np.split(order, np.flatnonzero(np.diff(codes[order])) + 1)
        groups = ((
            ids.keys[codes[rows[0]]],
            list(set().union(*(cands[r] for r in rows))),
            spec.merge_many([spec.blob_to_state(blobs[r]) for r in rows]),
        ) for rows in runs)
        yield _topk_batch(groups, k, vtype, arrow_schema)

    return merge


def cms_topk(
    df: DataFrame,
    keys,
    col: str,
    k: int,
    m: Optional[int] = None,
    depth: int = 5,
    width: int = 1 << 16,
    seed: int = 7,
    out_col: str = "est_count",
) -> DataFrame:
    """Heavy-hitter top-k per group — fully distributed, no driver
    round-trip (the reference exposes CMS estimates only; the north_rule
    asks for heavy-hitter *tools*, which needs candidate discovery too).

    Plan, on the ``sketch_agg`` projection, rebalance gate and partial
    build: one mapInArrow pass builds, per (partition, key), the CMS
    partial and the SpaceSaving top-m candidates (≤ m·8 counted values
    per key). When the gate repartitions a small input by key
    (single-phase), that pass also estimates the candidates against the
    key's CMS and emits the top-k rows. Otherwise the ``(keys, cms
    blob, candidates)`` partials repartition by key (one partition when
    global) and one merge stage merges the CMS, unions the candidates
    and emits the top-k. Nothing reaches the driver or is broadcast,
    and building the plan runs no job (beyond the gate's key-count
    probe on mid-size inputs). Rows per key come by estimate
    descending, then value ascending.

    Completeness: a value with true share > 1/m of a key's rows in some
    partition is among that partition's top-m candidates; Zipf-skewed
    heavy hitters are heavy in most partitions. Estimates are CMS upper
    bounds (ε = e/width, δ = e^−depth). A task estimates one key at a
    time, so it holds one dense depth × width × 8-byte table whatever
    the number of keys. ``m`` defaults to max(4k, 64); ``k >= 1`` and
    ``m >= k`` are required.
    """
    m = max(4 * k, 64) if m is None else m
    if not (k >= 1 and m >= k):
        raise ValueError(f"cms_topk needs k >= 1 and m >= k, got k={k}, m={m}")
    key_cols = list(keys) if keys else []
    spec = CMSSpec(depth=depth, width=width, seed=seed)
    src = _project_input(df, key_cols, col, None, spec)
    src, single_phase = _rebalance_input(src, key_cols, col)
    key_fields = [src.schema[c] for c in key_cols]
    out_schema = StructType(key_fields + [
        src.schema[col], StructField(out_col, LongType(), True),
    ])
    if single_phase:
        return src.mapInArrow(
            _topk_partials(spec, key_cols, col, m, k, out_schema),
            schema=out_schema,
        )
    part_schema = StructType(key_fields + [
        StructField("__cms", BinaryType(), True),
        StructField("__cands", ArrayType(src.schema[col].dataType), True),
    ])
    partials = src.mapInArrow(
        _topk_partials(spec, key_cols, col, m, None, part_schema),
        schema=part_schema,
    )
    partials = (partials.repartition(*key_cols) if key_cols
                else partials.repartition(1))
    return partials.mapInArrow(
        _topk_merger(spec, key_cols, k, out_schema), schema=out_schema,
    )


def bloom_filter_rows(
    df: DataFrame,
    key_col: str,
    bloom_df: DataFrame,
    blob_col: str = "bloom",
    negate: bool = False,
    key_dtype: Optional[str] = None,
) -> DataFrame:
    """Semi-join reduction via a Bloom filter — ship the filter, not
    the shuffle: the (single-row) Bloom table collects to a broadcast
    variable and the big side filters locally; no shuffle of ``df``, no
    blob-per-row join. False positives pass (no false negatives), so
    this is the standard pre-filter before an exact join at 100 TB —
    it cuts the exact join's shuffle volume by the true selectivity.

    ``negate=True`` keeps definite non-members (useful for
    "new keys only" ingestion). Hashing is dtype-aware: a NULLABLE
    integer key column crosses the Arrow boundary as float64, so pass
    ``key_dtype="int64"`` (or pre-filter nulls) to probe with the
    ingested dtype. A Bloom table with no rows (built over empty input)
    or a NULL blob (a keyless merge of NULL rows) is the empty filter:
    no row passes, ``negate=True`` keeps all. A table of more than one
    row (a keyed Bloom table) raises ``ValueError``: merge it without
    keys first.
    """
    rows = bloom_df.select(blob_col).limit(2).collect()
    if len(rows) > 1:
        raise ValueError(
            "bloom_filter_rows needs a one-row Bloom table, got "
            f"{len(rows)} or more rows; merge_sketch_tables it without "
            "keys first"
        )
    if not rows or rows[0][0] is None:
        return df if negate else df.where(F.lit(False))
    bc = df.sparkSession.sparkContext.broadcast(bytes(rows[0][0]))

    @F.pandas_udf(BooleanType())
    def _member(keys: pd.Series) -> pd.Series:
        sk = BloomFilter.from_bytes(bc.value)
        out = np.zeros(len(keys), dtype=bool)
        mask = keys.notna().to_numpy()
        vals = keys.to_numpy()[mask]
        if key_dtype is not None:
            vals = vals.astype(np.dtype(key_dtype))
        if vals.size:
            out[mask] = sk.contains(vals)
        return pd.Series(out)

    cond = _member(F.col(key_col))
    return df.where(~cond if negate else cond)
