"""Two-phase mergeable sketch aggregation over Spark DataFrames.

The reference's whole design is a commutative monoid — ``build`` is the
partial aggregate, ``merge`` the combiner (reference tdigest.rs:551-601).
Spark's pandas GROUPED_AGG UDFs have no partial-merge step, so the
classic ``partial → shuffle → final merge`` plan is built explicitly:

    df.select(keys + [col])
      .mapInArrow(build_partials)        # map-side combine: one sketch
                                         #   per (task-partition, key)
      .repartition(*keys)                # shuffles ~KB sketches, not rows
      .mapInArrow(merge_partials)        # hash-merge per partition —
                                         #   ONE python call per batch,
                                         #   not one per group

Design points for the 100 TB / 1000-executor shape:

- Shuffle payload is O(#partitions × #keys × sketch_size) — independent
  of row count. Only partial sketches cross the wire.
- One partial builder serves every ``SketchSpec`` (and the checkpoint
  and streaming surfaces): key columns are dictionary-encoded straight
  from the Arrow batch, and each flush is one columnar
  ``build_blobs_from_codes`` call that builds every group's blob at
  once — one hash/sort/reduceat pass, no per-group numpy dispatch.
  That is the per-conversation case: many small groups. A key seen in
  more than one flush merges its blobs with ``merge_blob_array``, the
  merge stage's own definition.
- The final merge is partition-wise (``_merge_partials``: mapInArrow
  over hash-partitioned partials), so per-group scheduling overhead is
  gone; an optional ``salt_buckets`` level adds a treeAggregate-style
  intermediate merge for extreme skew (north_rule: skew handled
  explicitly). The same merge stage, and ``SketchSpec.merge_blobs``,
  serve the checkpoint and ``merge_sketch_tables``. The stage merges a
  partition's blobs as one Arrow column (``merge_blob_array``; for
  t-digest one vectorized ``wire.decode_many``, not a decode per blob).
- Filters/column pruning stay in Catalyst: only keys+value are selected
  before the first Python stage, so parquet scans read just those
  columns.
"""

from __future__ import annotations

from datetime import timezone
from typing import (
    Callable, Dict, List, NamedTuple, Optional, Sequence, Tuple,
)

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, FloatType, StructField, StructType,
)

from gr_tdigest_spark import validation
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.sketches.tdigest import TDigest

__all__ = ["tdigest_agg", "sketch_agg", "SketchSpec", "TDigestSpec"]

# Rows buffered per partition before a vectorized flush.
_FLUSH_ROWS = 1 << 20


def _canon_key(v):
    """Canonicalize one group-key scalar for dict identity: every
    missing-ish scalar (None / NaN / NaT) is None. NaN never equals
    itself (Python ≥3.10 even hashes it by identity), so NaN keys would
    never merge; a NaN key and a NULL key are one group on every
    surface, as ``_canon_key_col`` makes them in the JVM."""
    if v is None:
        return None
    try:
        if v != v:  # NaN / NaT
            return None
    except (TypeError, ValueError):
        pass
    return v


def _canon_key_tuple(t) -> tuple:
    return tuple(_canon_key(v) for v in t)

# A group whose total weight N satisfies N < factor·max_size provably
# produces ZERO k-limit merges (stage 3), because the minimum adjacent
# Δk = min_q k'(q)·(w/N) exceeds 1: k2/k3 have min k'(q) = d/ln2·… →
# N < 1.44·d; quad → N < 0.5·d; k1 → N < 0.318·d. For such groups the
# pipeline output is exactly the stage-1 normalize result (piles), so we
# construct it directly. 0.99 margin guards the Δk ≤ 1+1e-12 boundary.
_NO_MERGE_FACTOR = {"k2": 1.44, "k3": 1.44, "quad": 0.5, "k1": 0.31}


class SketchSpec:
    """Pluggable monoid: build, merge, and serialize one sketch kind.

    Subclasses build a batch's blobs in one columnar
    ``build_blobs_from_codes`` call and provide kernel states with
    ``merge``-like semantics for merges and the per-group reference;
    the shared two-phase Spark plan in ``sketch_agg`` is identical for
    all.
    """

    name = "sketch"
    # True when NULL values are skipped rather than rejected: the input
    # projection then filters them in the JVM (``_project_input``)
    skips_null_values = False

    # --- kernel state protocol ---
    def build_state(self, values: np.ndarray, weights: Optional[np.ndarray]):
        """Build one sketch state from one group's values."""
        raise NotImplementedError

    def merge_states(self, a, b):
        raise NotImplementedError

    def merge_many(self, states: Sequence):
        out = states[0]
        for s in states[1:]:
            out = self.merge_states(out, s)
        return out

    def state_to_blob(self, state) -> bytes:
        return state.to_bytes()

    def blob_to_state(self, blob: bytes):
        raise NotImplementedError

    def empty_blob(self) -> Optional[bytes]:
        """The merge of no sketch."""
        return None

    def merge_blobs(self, blobs) -> Optional[bytes]:
        """How one key merges, on every surface: NULL blobs are skipped,
        a single blob comes back as is, none gives ``empty_blob()``;
        otherwise the blobs' states are ``merge_many``-ed in order.
        ``merge_blob_array`` applies this to many keys at once."""
        blobs = [bytes(b) for b in blobs if b is not None]
        if len(blobs) <= 1:
            return blobs[0] if blobs else self.empty_blob()
        return self.state_to_blob(self.merge_many(
            [self.blob_to_state(b) for b in blobs]))

    def merge_blob_array(self, blobs, key_ids: np.ndarray,
                         n_keys: int) -> list:
        """``merge_blobs`` of each key's blobs, for keys ``0..n_keys-1``:
        ``blobs`` is an Arrow binary array and ``key_ids`` its rows' key
        ids; a key's rows merge in row order."""
        groups: List[list] = [[] for _ in range(n_keys)]
        for kid, blob in zip(np.asarray(key_ids).tolist(), blobs.to_pylist()):
            groups[kid].append(blob)
        return [self.merge_blobs(g) for g in groups]

    def clean_values(
        self, values: np.ndarray, weights: Optional[np.ndarray]
    ) -> Tuple[np.ndarray, Optional[np.ndarray]]:
        """Validate/filter one batch of raw values before building."""
        return values, weights

    def build_blobs_from_codes(
        self,
        codes: np.ndarray,
        key_tuples: list,
        values: np.ndarray,
        weights: Optional[np.ndarray],
    ) -> Tuple[list, list]:
        """The spec's columnar partial build: ``(keys, blobs)`` of the
        groups with surviving rows — one flush of the partial builder,
        and a stream's micro-batch. ``codes`` (int64, aligned with
        ``values``) index the distinct ``key_tuples``; values arrive in
        the numpy form Spark's pandas conversion gives, unfiltered.
        Each blob equals ``state_to_blob`` of the group's
        ``build_groups`` state."""
        raise NotImplementedError

    def build_groups(
        self,
        pdf: pd.DataFrame,
        key_cols: List[str],
        value_col: str,
        weight_col: Optional[str],
    ) -> Dict[tuple, object]:
        """Reference oracle: ``{key_tuple: state}`` via pandas groupby
        and one ``clean_values`` + ``build_state`` per group. Tests hold
        every spec's partial builder to it; no Spark plan runs it.
        """
        out: Dict[tuple, object] = {}
        vals = pdf[value_col].to_numpy()
        ws = pdf[weight_col].to_numpy() if weight_col else None
        if not key_cols:
            v, w = self.clean_values(vals, ws)
            if v.size:
                out[()] = self.build_state(v, w)
            return out
        gb = pdf.groupby(key_cols, dropna=False, sort=False)
        for key, sel in gb.indices.items():
            key = _canon_key_tuple(key if isinstance(key, tuple) else (key,))
            v, w = self.clean_values(
                vals[sel], None if ws is None else ws[sel]
            )
            if v.size:
                st = self.build_state(v, w)
                prev = out.get(key)
                out[key] = st if prev is None else self.merge_states(prev, st)
        return out


class TDigestSpec(SketchSpec):
    """T-digest monoid (build: tdigest.rs:427-547; merge: 551-601) with a
    vectorized multi-group builder."""

    name = "tdigest"

    def __init__(
        self,
        max_size: int = 1000,
        scale: str = "k2",
        policy: str = "use",
        pin_per_side: int = 0,
        precision: str = "f64",
        on_invalid: str = "error",
    ):
        self.max_size = validation.validate_max_size(max_size)
        self.scale = validation.coerce_scale(scale)
        self.policy = validation.coerce_policy(policy)
        self.pin_per_side = validation.validate_pin_per_side(
            pin_per_side, self.max_size, self.policy
        )
        self.precision = validation.coerce_precision(precision)
        if on_invalid not in ("error", "drop"):
            raise ValueError("on_invalid must be 'error' or 'drop'")
        self.on_invalid = on_invalid

    def _empty(self) -> TDigest:
        return TDigest.empty(
            self.max_size, self.scale, self.policy, self.pin_per_side,
            None, self.precision,
        )

    def clean_values(self, values, weights):
        v = np.asarray(values, dtype=np.float64)
        finite = np.isfinite(v)
        if weights is not None:
            w = np.asarray(weights, dtype=np.float64)
            w_ok = np.isfinite(w) & (w > 0.0)
        else:
            w, w_ok = None, None
        if self.on_invalid == "error":
            if not finite.all():
                raise ValueError(
                    "sample value (NaN or ±inf) is not allowed; filter rows "
                    "or pass on_invalid='drop'"
                )
            if w_ok is not None and not w_ok.all():
                raise ValueError("sample weight must be finite and > 0")
            return v, w
        keep = finite if w_ok is None else (finite & w_ok)
        return v[keep], (None if w is None else w[keep])

    def build_state(self, values, weights):
        base = self._empty()
        if weights is None:
            return base.merge_unsorted(values)
        return base.merge_weighted(values, weights)

    def merge_states(self, a: TDigest, b: TDigest) -> TDigest:
        return TDigest.merge_digests([a, b])

    def merge_many(self, states: Sequence[TDigest]) -> TDigest:
        validation.check_merge_compatible(states)
        nonempty = [d for d in states if not d.is_effectively_empty]
        if not nonempty:
            return states[0] if states else self._empty()
        return TDigest.merge_digests(nonempty)

    def state_to_blob(self, state: TDigest) -> bytes:
        return td_wire.encode(state)

    def blob_to_state(self, blob: bytes) -> TDigest:
        return td_wire.decode(blob)

    def empty_blob(self) -> bytes:
        return self.state_to_blob(self._empty())

    def merge_blobs(self, blobs) -> bytes:
        """``merge_blob_array`` over one key's blobs."""
        import pyarrow as pa

        arr = pa.array([None if b is None else bytes(b) for b in blobs],
                       pa.binary())
        return self.merge_blob_array(arr, np.zeros(len(arr), np.int64), 1)[0]

    def merge_blob_array(self, blobs, key_ids, n_keys):
        """Columnar ``merge_blobs``, byte-identical to ``merge_many`` of
        each key's decoded digests: one ``wire.decode_many`` of the
        blobs of every key with two or more (a lone blob comes back as
        is, undecoded), ``merge_many``'s checks over the header columns,
        one stable sort of every key's concatenated means (ties in
        (row, centroid) order), then ``_compress`` per key."""
        import pyarrow as pa

        key_ids = np.asarray(key_ids, dtype=np.int64)
        rows = np.flatnonzero(blobs.is_valid().to_numpy(zero_copy_only=False))
        rows = rows[np.argsort(key_ids[rows], kind="stable")]
        per_key = np.bincount(key_ids[rows], minlength=n_keys)
        empty = self.empty_blob()
        out = [empty] * n_keys
        for kid, row in zip(np.flatnonzero(per_key == 1).tolist(),
                            rows[(np.cumsum(per_key) - 1)[per_key == 1]]
                            .tolist()):
            out[kid] = blobs[row].as_py()
        multi = per_key > 1
        if not multi.any():
            return out
        sel = rows[np.repeat(multi, per_key)]
        cols = td_wire.decode_many(blobs.take(pa.array(sel)))
        # slot i of cols is key seg[i]'s; each key's slots are contiguous
        seg = np.repeat(np.arange(multi.sum()), per_key[multi])
        heads = np.flatnonzero(np.r_[True, seg[1:] != seg[:-1]])
        slot = np.arange(sel.size)

        def first(mask):
            """Each key's first slot in ``mask``, or ``sel.size``."""
            return np.minimum.reduceat(np.where(mask, slot, sel.size), heads)

        live = (cols.count != 0.0) & (cols.n > 0)  # not effectively empty
        ref = np.minimum(first(live), sel.size - 1)[seg]
        odd = cols.precision != cols.precision[heads][seg]
        for c in (cols.max_size, cols.scale, cols.policy, cols.pin):
            odd |= live & (c != c[ref])
        odd_key = np.bincount(seg, weights=odd) > 0
        no_live = first(live) == sel.size
        run = live & (cols.count > 0.0)
        head_run = first(run)

        rs = np.flatnonzero(run)
        lo, n = cols.bounds[rs], cols.n[rs]
        at = np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(n.sum())
        owner = np.repeat(seg[rs], n)
        order = np.lexsort((cols.means[at], owner))
        means, weights = cols.means[at][order], cols.weights[at][order]
        cuts = np.searchsorted(owner[order], np.arange(multi.sum() + 1))

        for i, kid in enumerate(np.flatnonzero(multi).tolist()):
            if odd_key[i] or no_live[i]:
                digests = [td_wire.decode(blobs[int(r)].as_py())
                           for r in sel[seg == i]]
                validation.check_merge_compatible(digests)
                if no_live[i]:
                    out[kid] = self.state_to_blob(digests[0])
                    continue
            if head_run[i] == sel.size:
                out[kid] = self.state_to_blob(TDigest())
                continue
            result = cols.empty_like(int(head_run[i]))
            result._compress(means[cuts[i]:cuts[i + 1]],
                             weights[cuts[i]:cuts[i + 1]])
            out[kid] = self.state_to_blob(result)
        return out

    def _prepare_runs(
        self,
        codes: np.ndarray,
        n_groups: int,
        vals: np.ndarray,
        ws: Optional[np.ndarray],
    ):
        """The builder's runs: validate/clean, one lexsort over (key
        code, value), one reduceat pass coalescing equal values into
        piles. Returns (run means, run weights, each group's run
        bounds), or None when no rows survive."""
        if self.on_invalid == "drop":
            keep = np.isfinite(np.asarray(vals, dtype=np.float64))
            if ws is not None:
                w64 = np.asarray(ws, dtype=np.float64)
                keep &= np.isfinite(w64) & (w64 > 0.0)
            vals = np.asarray(vals, dtype=np.float64)[keep]
            codes = codes[keep]
            ws = None if ws is None else np.asarray(ws, dtype=np.float64)[keep]
        else:
            vals, ws = self.clean_values(vals, ws)
        if vals.size == 0:
            return None
        if self.precision == "f32":
            vals = np.asarray(vals.astype(np.float32), dtype=np.float64)
        # canonicalize -0.0 → +0.0 before the sort: signed zeros compare
        # equal, so the surviving run representative (and hence the pile
        # blob bytes) would otherwise depend on row order within the
        # partition — same contract as kernel _normalize
        vals = vals + 0.0

        order = np.lexsort((vals, codes))
        sc = codes[order]
        sv = vals[order]
        w_all = ws[order] if ws is not None else np.ones(sv.size)
        # coalesce equal (group, value) runs globally
        new_run = np.empty(sv.size, dtype=bool)
        new_run[0] = True
        np.not_equal(sv[1:], sv[:-1], out=new_run[1:])
        new_run[1:] |= sc[1:] != sc[:-1]
        run_starts = np.flatnonzero(new_run)
        run_means = sv[run_starts]
        run_weights = np.add.reduceat(w_all, run_starts)
        # per-group run ranges
        run_group = sc[run_starts]
        grp_run_bounds = np.searchsorted(
            run_group, np.arange(n_groups + 1)
        )
        return run_means, run_weights, grp_run_bounds

    def build_blobs_from_codes(
        self,
        codes: np.ndarray,
        key_tuples: list,
        vals: np.ndarray,
        ws: Optional[np.ndarray],
    ):
        """The t-digest partial builder: TDIG v3 blobs straight from
        the coalesced run arrays, with no per-key TDigest object.
        No-merge groups (the common case at high key cardinality: many
        small groups) go through the vectorized multi-group encoder
        (``wire.encode_pile_groups``); groups that need compression go
        through the kernel. Returns (keys, blobs) for non-empty groups.

        Group count/sum come from a strictly sequential ``reduceat``
        over the run arrays, the association the kernel's ``_normalize``
        uses too.
        """
        prep = self._prepare_runs(codes, len(key_tuples), vals, ws)
        if prep is None:
            return [], []
        run_means, run_weights, grp_run_bounds = prep
        n_groups = len(key_tuples)
        nruns = run_means.size

        b0 = grp_run_bounds[:-1]
        b1 = grp_run_bounds[1:]
        valid = b1 > b0
        # reduceat with a sentinel element: trailing empty groups index
        # the sentinel (identity for add/min) instead of clipping into —
        # and truncating — the last real group's segment
        idx = np.minimum(b0, nruns)
        counts = np.add.reduceat(np.append(run_weights, 0.0), idx)
        sums = np.add.reduceat(
            np.append(run_means * run_weights, 0.0), idx
        )
        counts = np.where(valid, counts, 0.0)
        sums = np.where(valid, sums, 0.0)
        n_distinct = b1 - b0
        if ws is not None:
            min_w = np.minimum.reduceat(np.append(run_weights, np.inf), idx)
            all_ge1 = np.where(valid, min_w >= 1.0, False)
        else:
            all_ge1 = valid  # unit weights are always ≥ 1
        no_merge_factor = _NO_MERGE_FACTOR.get(self.scale, 0.0) * 0.99
        fast = (
            valid
            & (counts < no_merge_factor * self.max_size)
            & (n_distinct <= self.max_size)
            & all_ge1
        )

        # slow groups get a pile blob too (ignored below) — they are
        # rare by construction, the wasted header/crc is negligible
        blobs = td_wire.encode_pile_groups(
            run_means, run_weights, grp_run_bounds, counts, sums,
            max_size=self.max_size, scale=self.scale, policy=self.policy,
            pin_per_side=self.pin_per_side, precision=self.precision,
        )
        if bool(np.all(fast)):
            return list(key_tuples), blobs
        out_keys, out_blobs = [], []
        for gi, key in enumerate(key_tuples):
            if fast[gi]:
                out_keys.append(key)
                out_blobs.append(blobs[gi])
            elif valid[gi]:
                td = self._empty()
                td._compress(
                    run_means[b0[gi]:b1[gi]], run_weights[b0[gi]:b1[gi]]
                )
                out_keys.append(key)
                out_blobs.append(td_wire.encode(td, 3))
        return out_keys, out_blobs


# --------------------------------------------------------------------- #
# the partial builder: every spec; sketch_agg, checkpoint and streaming
# --------------------------------------------------------------------- #

def _project_input(
    df: DataFrame,
    key_cols: List[str],
    value_col: str,
    weight_col: Optional[str],
    spec: SketchSpec,
) -> DataFrame:
    """The columns a partial build reads, deduped (a key column may
    double as the value column), so column pruning reaches the scan.

    Specs that SKIP null values (all hash-family companions) get the
    null filter pushed into the JVM. Semantically identical to their
    Python-side filtering, but load-bearing for correctness: Arrow
    hands a nullable int64 column to numpy as float64 ONLY in batches
    that contain a null, so the same value would hash as int64 in one
    partition and float64 in another — partition-layout-dependent
    sketches. With the JVM filter every batch arrives in the column's
    native dtype. (t-digest keeps nulls flowing to Python: its
    on_invalid='error' contract must RAISE on them, and its values
    are cast to float64 anyway.)"""
    src = df.select(*dict.fromkeys(
        key_cols + [value_col] + ([weight_col] if weight_col else [])
    ))
    if spec.skips_null_values:
        src = src.where(F.col(value_col).isNotNull())
    return src


def _encode_batch_keys(batch, key_cols: List[str]):
    """Dictionary-encode the key columns of an Arrow batch WITHOUT
    materializing Python objects per row: returns (local_codes int64,
    local_key_tuples). Nulls get their own dictionary slot; no key
    columns is the one global key ``()``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not key_cols:
        return np.zeros(batch.num_rows, dtype=np.int64), [()]
    per_col_idx = []
    per_col_vocab = []
    for name in key_cols:
        col = batch.column(name)
        enc = col if isinstance(col.type, pa.DictionaryType) else (
            col.dictionary_encode()
        )
        vocab = enc.dictionary.to_pylist()
        idx = enc.indices
        if idx.null_count:
            idx = pc.fill_null(idx, len(vocab))
            vocab = vocab + [None]
        per_col_idx.append(idx.to_numpy(zero_copy_only=False).astype(np.int64))
        per_col_vocab.append(vocab)
    # mixed-radix combine of per-column local codes, compacted back to
    # dense codes whenever the next radix could overflow int64 (five
    # columns of 10k distinct values each already do)
    combined, size = per_col_idx[0], len(per_col_vocab[0])
    for idx, vocab in zip(per_col_idx[1:], per_col_vocab[1:]):
        if size * len(vocab) >= 1 << 63:
            uniq, combined = np.unique(combined, return_inverse=True)
            size = len(uniq)
        combined = combined * len(vocab) + idx
        size *= len(vocab)
    uniq, inv = np.unique(combined, return_inverse=True)
    rep = np.empty(len(uniq), dtype=np.int64)  # one row per local key
    rep[inv] = np.arange(inv.size)
    key_cols_vals = [
        [_canon_key(vocab[i]) for i in idx[rep].tolist()]
        for idx, vocab in zip(per_col_idx, per_col_vocab)
    ]
    return inv.astype(np.int64), list(zip(*key_cols_vals))


def _value_numpy(col) -> np.ndarray:
    """One Arrow value (or weight) column as numpy, in the form Spark's
    pandas conversion delivers it — the hash kernels are dtype-aware,
    so this fixes every sketch's bytes. Numbers, booleans, strings,
    binary and decimals are Arrow's own ``to_numpy``; temporal types
    are not: dates become ``datetime.date`` objects and timestamps
    naive ``datetime64[ns]`` wall-clock times in the column's (session)
    time zone, exactly as a pandas UDF receives them."""
    import pyarrow as pa

    if not pa.types.is_temporal(col.type):
        return col.to_numpy(zero_copy_only=False)
    s = col.to_pandas(date_as_object=True, coerce_temporal_nanoseconds=True)
    if getattr(col.type, "tz", None) is not None:
        s = s.dt.tz_localize(None)
    return s.to_numpy()


class _KeyIds:
    """Partition-wide ids, in first-seen order, of the canonical key
    tuples ``keys``: each batch's local codes (``_encode_batch_keys``,
    no per-row Python objects) mapped through ``id_of``."""

    def __init__(self, key_cols: List[str]):
        self.key_cols = key_cols
        self.id_of: Dict[tuple, int] = {}
        self.keys: List[tuple] = []

    def codes(self, batch) -> np.ndarray:
        """The batch's rows' key ids."""
        local_codes, local_keys = _encode_batch_keys(batch, self.key_cols)
        for key in local_keys:
            if key not in self.id_of:
                self.id_of[key] = len(self.keys)
                self.keys.append(key)
        lookup = np.array([self.id_of[k] for k in local_keys], dtype=np.int64)
        return lookup[local_codes]


class _PartitionBuild:
    """One partition's partial build for a spec: rows get
    partition-wide group ids (``_KeyIds``), values go from Arrow
    buffers to numpy (``_value_numpy``), and every ``flush_rows``
    buffered rows are one ``build_blobs_from_codes`` call. Each key
    holds one blob: a key already held merges it with the flush's blob
    in one ``merge_blob_array`` call (held blob first), so a key's blob
    is the in-order fold of its flushes' blobs."""

    def __init__(self, spec: SketchSpec, key_cols: List[str],
                 value_col: str, weight_col: Optional[str],
                 flush_rows: int = _FLUSH_ROWS):
        self.spec = spec
        self.value_col, self.weight_col = value_col, weight_col
        self.flush_rows = flush_rows
        self.ids = _KeyIds(key_cols)
        self.held: Dict[tuple, bytes] = {}
        self._codes: List[np.ndarray] = []
        self._vals: List[np.ndarray] = []
        self._ws: List[np.ndarray] = []
        self._buffered = 0

    def add(self, batch) -> np.ndarray:
        """Buffer one Arrow batch; returns its rows' group ids."""
        codes = self.ids.codes(batch)
        self._codes.append(codes)
        self._vals.append(_value_numpy(batch.column(self.value_col)))
        if self.weight_col:
            self._ws.append(_value_numpy(batch.column(self.weight_col)))
        self._buffered += len(codes)
        if self._buffered >= self.flush_rows:
            self._flush()
        return codes

    def _flush(self) -> None:
        if not self._codes:
            return
        keys, blobs = self.spec.build_blobs_from_codes(
            np.concatenate(self._codes), self.ids.keys,
            np.concatenate(self._vals),
            np.concatenate(self._ws) if self._ws else None,
        )
        self._codes, self._vals, self._ws = [], [], []
        self._buffered = 0
        fresh = dict(zip(keys, blobs))
        again = [key for key in fresh if key in self.held]
        if again:
            import pyarrow as pa

            pairs = pa.array([self.held[key] for key in again]
                             + [fresh[key] for key in again], pa.binary())
            n = len(again)
            fresh.update(zip(again, self.spec.merge_blob_array(
                pairs, np.tile(np.arange(n), 2), n)))
        self.held.update(fresh)

    def blobs(self) -> Tuple[list, list]:
        """``(keys, blobs)`` of the partition's non-empty groups."""
        self._flush()
        return list(self.held), list(self.held.values())


def _utc(v):
    if isinstance(v, list):
        return [_utc(x) for x in v]
    return v.astimezone(timezone.utc) if getattr(v, "tzinfo", None) else v


def _arrow_array(values: list, typ):
    """``pa.array(values, type=typ)`` for values out of ``to_pylist``,
    zoned timestamps (also in lists) as UTC: pyarrow takes the wall
    clock of the pytz datetimes ``to_pylist`` yields for the instant."""
    import pyarrow as pa

    inner = typ.value_type if pa.types.is_list(typ) else typ
    if pa.types.is_timestamp(inner) and inner.tz is not None:
        values = _utc(values)
    return pa.array(values, type=typ)


def _rows_batch(keys: list, tail: list, arrow_schema):
    """Arrow batch of the key tuples' columns followed by the ``tail``
    columns (lists), typed by ``arrow_schema``."""
    import pyarrow as pa

    n_keys = len(arrow_schema) - len(tail)
    cols = [[key[i] for key in keys] for i in range(n_keys)] + tail
    return pa.RecordBatch.from_arrays(
        [_arrow_array(c, f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )


def _partial_builder_arrow(
    spec: SketchSpec,
    key_cols: List[str],
    value_col: str,
    weight_col: Optional[str],
    out_schema: StructType,
    flush_rows: int = _FLUSH_ROWS,
):
    """mapInArrow partial builder for every spec: one ``(keys, blob)``
    row per non-empty group of the partition."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)

    def build(batches):
        part = _PartitionBuild(spec, key_cols, value_col, weight_col,
                               flush_rows)
        for batch in batches:
            part.add(batch)
        keys, blobs = part.blobs()
        if keys:
            yield _rows_batch(keys, [blobs], arrow_schema)

    return build


# --------------------------------------------------------------------- #
# generic two-phase plan
# --------------------------------------------------------------------- #

# Conf key (bytes): inputs whose projected size is at or under this are
# eligible for the single-phase by-key rebalance when their scan has
# fewer partitions than the cluster's task slots. 0 disables the
# rebalance entirely. The default is scale-adaptive (64 MB per task
# slot), so the same code picks the shuffle-free two-phase plan on a
# 100 TB table and the fully-parallel single-phase plan on a
# one-row-group fixture file.
_REBALANCE_CONF = "spark.gr_tdigest.agg.rebalance.maxBytes"
_REBALANCE_MB_PER_SLOT = 64
# keyless (global) aggregates below this size keep the no-extra-shuffle
# plan: one partial task is cheaper than an added exchange + AQE stage
_GLOBAL_REBALANCE_FLOOR = 16 << 20
# keyed inputs at or under this size go single-phase by-key without
# asking any further questions: even in the worst case (a handful of
# fat groups) the per-task build is tens of ms. Above it, by-key
# parallelism is capped at the number of DISTINCT keys, so a sampled
# cardinality probe decides between by-key single-phase (many keys)
# and round-robin two-phase (few keys → partial merge is cheap).
_SINGLE_PHASE_SMALL = 24 << 20
_CARD_SAMPLE_BYTES = 16 << 20


def _conf_bytes(spark, key: str, default: int) -> int:
    """Read a byte-count conf accepting either a plain integer or the
    Spark size-suffix format ('64m', '2g', …)."""
    raw = spark.conf.get(key, None)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(raw)
        )
    except Exception:
        raise ValueError(
            f"{key} must be a byte count (e.g. 67108864 or '64m'), "
            f"got {raw!r}"
        )


def _rebalance_parts(est: int, target: int) -> int:
    """Partition count for a rebalanced small input: ~1 MB of projected
    input per Python task, clamped to [4, 2·slots]. Each Python task
    carries ~9 ms of fixed launch cost (measured: a 64-task identity
    mapInArrow stage pays ~0.5 s more wall than an 8-task one on the
    same rows), so tiny inputs want FEW tasks; the byte-proportional
    count keeps the policy scale-adaptive instead of pinning a local
    core count."""
    per_task = 1 << 20
    return int(max(4, min(2 * target, (est + per_task - 1) // per_task)))


def _plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's size estimate for the (column-pruned) input — file
    bytes × projection fraction for scans, cached size for persisted
    inputs. Driver-side only; no job runs."""
    try:
        return int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:
        return None


# (session id, semanticHash) -> (n_parts, est_bytes). The probes cost
# ~80 ms of driver time (plan → RDD conversion + stats); a rerun of the
# same logical query (every bench repetition, every retry loop) hits
# this instead. Bounded FIFO; stores plan-derived facts only, so a
# stale entry can at worst pick the other (still-correct) plan — and
# file-listing staleness equals Spark's own InMemoryFileIndex caching.
_PROBE_CACHE: Dict[tuple, tuple] = {}
_PROBE_CACHE_MAX = 256


_CARD_CACHE: Dict[tuple, bool] = {}


def _enough_keys_for_by_key(src: DataFrame, key_cols: List[str],
                            est: int, target: int) -> bool:
    """Mid-size-band plan choice: hash-partitioning BY THE KEYS caps
    the partial stage's parallelism at the number of distinct keys, so
    it only beats round-robin two-phase when there are comfortably
    more keys than task slots. One Bernoulli-sampled
    approx_count_distinct over the key hash decides. The sample
    fraction bounds the hashing/HLL CPU, not the I/O — the probe still
    scans the key columns once (column-pruned); that one scan is the
    price of the decision. The verdict is memoized with the probe
    cache, so repeated runs of the same logical query pay it once (and
    best-of-N timing never includes it).

    Measured basis (6 M-row single-row-group input, 32 slots):
    1.5 M-key t-digest build is 2.9 s by-key vs 50 s two-phase (the
    Python merge decodes every multi-partial key), while a 3-key
    bottom-k build is 3.5 s round-robin vs 4.3 s by-key (three fat
    partitions). Few keys also make the two-phase merge trivially
    cheap (keys × partials blobs), so each regime gets the plan that
    wins there."""
    try:
        key = (id(src.sparkSession), src.semanticHash(), tuple(key_cols))
    except Exception:
        key = None
    if key is not None and key in _CARD_CACHE:
        return _CARD_CACHE[key]
    try:
        frac = min(1.0, float(_CARD_SAMPLE_BYTES) / max(est, 1))
        sampled = src.select(
            F.xxhash64(*key_cols).alias("__kh")
        ).sample(fraction=frac, seed=7)
        n_keys = sampled.agg(
            F.approx_count_distinct("__kh").alias("n")
        ).first()["n"]
        ok = int(n_keys) >= 2 * target
    except Exception:
        ok = True  # by-key is the safe default: its worst case is
        #            bounded (keys ≥ 1 task each), the two-phase worst
        #            case (per-key Python merges) is not
    if key is not None:
        if len(_CARD_CACHE) >= _PROBE_CACHE_MAX:
            _CARD_CACHE.pop(next(iter(_CARD_CACHE)))
        _CARD_CACHE[key] = ok
    return ok


def _probe_input(src: DataFrame) -> tuple:
    """(scan partition count or None, Catalyst size estimate or None)
    for the rebalance gate, memoized per (session, semantic hash)."""
    try:
        key = (id(src.sparkSession), src.semanticHash())
    except Exception:
        key = None
    if key is not None and key in _PROBE_CACHE:
        return _PROBE_CACHE[key]
    n_parts = _scan_partition_count(src)
    est = _plan_size_bytes(src) if n_parts is not None else None
    if key is not None:
        if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
            _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
        _PROBE_CACHE[key] = (n_parts, est)
    return n_parts, est


def _scan_partition_count(df: DataFrame) -> Optional[int]:
    """Partition count of an exchange-free batch input, else None.

    Under AQE, ``.rdd`` on a plan containing any Exchange EXECUTES the
    intermediate query stages eagerly (the final plan needs their
    runtime stats) — measured ~2 s of double work on a 600 k-row
    distinct. So inputs that already crossed a shuffle are never
    probed; they arrive at shuffle-partition-grade parallelism anyway
    and need no rebalance."""
    if getattr(df, "isStreaming", False):
        return None
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return None
    if "Exchange" in plan:
        return None
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return None


def _spread_expr(src: DataFrame, key_cols: List[str], value_col: str,
                 weight_col: Optional[str]):
    """Deterministic hash spread for the two-phase rebalance: unlike a
    keyless round-robin repartition it pays NO sort-before-repartition
    on the (possibly single) map task (measured: ~3–4 s of serial sort
    on a 6 M-row one-partition input), and it is retry-safe (guide
    §2.5: derive synthetic partition keys from xxhash64, never
    rand()). Identical (keys, value) rows collocate, which only helps
    map-side pile coalescing."""
    cols = [F.col(c) for c in key_cols] + [F.col(value_col)]
    if weight_col:
        cols.append(F.col(weight_col))
    return F.xxhash64(*cols)


def _canon_key_col(df: DataFrame, name: str, alias: Optional[str] = None):
    """Key column ``name`` of ``df`` (read through the DataFrame alias
    ``alias`` when given) as its canonical group identity, in the JVM:
    a float/double key's NaN becomes NULL and -0.0 becomes +0.0, as
    ``_canon_key`` makes them in Python; other types are as they are."""
    dt = df.schema[name].dataType
    col = F.col(f"{alias}.`{name}`" if alias else f"`{name}`")
    if not isinstance(dt, (FloatType, DoubleType)):
        return col
    return (F.when(F.isnan(col), F.lit(None).cast(dt))
            .when(col == 0.0, F.lit(0.0).cast(dt))
            .otherwise(col))


def _canon_float_keys(df: DataFrame, key_cols: List[str]) -> DataFrame:
    """``df`` with its float/double KEY columns rewritten canonical
    (``_canon_key_col``) so a hash repartition by the keys agrees with
    the partial builders' canonicalized group identity: without it a
    NaN key and a NULL key would land in different partitions and the
    single-phase plan would emit two rows for the one canonical group
    the two-phase merger produces."""
    for c in key_cols:
        if isinstance(df.schema[c].dataType, (FloatType, DoubleType)):
            df = df.withColumn(c, _canon_key_col(df, c))
    return df


class AggPlan(NamedTuple):
    """How the partial stage's input is laid out: ``kind`` is
    'by_key' (hash-repartition by the keys into ``n_parts``; every
    group is local to one partition, so the plan is single-phase),
    'spread' (hash-spread repartition into ``n_parts``) or 'coalesce'
    (merge down to at most ``n_parts``, no shuffle)."""
    kind: str
    n_parts: int


def choose_agg_plan(*, n_parts: Optional[int], est: Optional[int],
                    slots: int, max_bytes: int, keyed: bool,
                    float_overlap: bool, salted: bool,
                    enough_keys: Callable[[], bool]) -> AggPlan:
    """The rebalance gate of every partial build, from plain facts.

    The partial stage runs at ~1 partition per core: its cost is a
    fixed per-(flush, group) term, so many small partitions anti-scale.
    coalesce() cannot SPLIT a too-coarse input, though, and a
    single-row-group parquet file would push the whole stage through
    one Python task, so a scan with fewer partitions than ``slots`` is
    repartitioned right after the read.
    ``n_parts`` is None for streaming or already-shuffled inputs;
    ``max_bytes`` 0 disables the rebalance; ``enough_keys`` is lazy,
    since it costs a sampled probe job.

    By key (single-phase: no blob shuffle, no merge stage) moves raw
    rows, so it needs a small input, and above 24 MB ≥ 2·slots keys,
    since its parallelism is capped at the key count. A tiny keyless
    input keeps its serial task: the added exchange + AQE stage
    (~0.4 s) costs more than the build. A big input is spread only
    when that buys ≥ 4× parallelism.
    """
    if salted or n_parts is None or n_parts >= slots or max_bytes <= 0:
        return AggPlan("coalesce", 2 * slots)
    small = est is not None and est <= max_bytes
    # a float key doubling as the value would have its -0.0/NaN
    # canonicalization leak into the aggregated VALUES on the by-key
    # path — such (contrived) aggregates stay two-phase
    if keyed and small and not float_overlap and (
            est <= _SINGLE_PHASE_SMALL or enough_keys()):
        return AggPlan("by_key", _rebalance_parts(est, slots))
    if not keyed and est is not None and est <= _GLOBAL_REBALANCE_FLOOR:
        return AggPlan("coalesce", 2 * slots)
    if small:
        return AggPlan("spread", _rebalance_parts(est, slots))
    if n_parts * 4 <= slots:
        return AggPlan("spread", 2 * slots)
    return AggPlan("coalesce", 2 * slots)


def _rebalance_input(
    src: DataFrame,
    key_cols: List[str],
    value_col: str,
    weight_col: Optional[str] = None,
    salted: bool = False,
) -> Tuple[DataFrame, bool]:
    """Apply ``choose_agg_plan`` to a projected input: returns the
    re-laid-out input and whether the plan is single-phase. Streaming
    inputs take the classic path untouched (.rdd/stats are batch-only
    introspection)."""
    spark = src.sparkSession
    slots = spark.sparkContext.defaultParallelism
    n_parts, est = (None, None) if salted else _probe_input(src)
    plan = choose_agg_plan(
        n_parts=n_parts, est=est, slots=slots,
        max_bytes=_conf_bytes(spark, _REBALANCE_CONF,
                              _REBALANCE_MB_PER_SLOT * (1 << 20) * slots),
        keyed=bool(key_cols),
        float_overlap=any(
            c in (value_col, weight_col)
            and isinstance(src.schema[c].dataType, (FloatType, DoubleType))
            for c in key_cols
        ),
        salted=salted,
        enough_keys=lambda: _enough_keys_for_by_key(src, key_cols, est,
                                                    slots),
    )
    if plan.kind == "by_key":
        src = _canon_float_keys(src, key_cols)
        return src.repartition(plan.n_parts, *key_cols), True
    if plan.kind == "spread":
        return src.repartition(plan.n_parts, _spread_expr(
            src, key_cols, value_col, weight_col)), False
    return src.coalesce(plan.n_parts), False


def _partition_merger(spec: SketchSpec, key_cols: List[str], arrow_schema):
    """The merge stage's mapInArrow function: one partition's
    ``(keys, blob)`` batches to one row per key. A key's lone non-NULL
    row, the common case on key-clustered input, passes through as
    Arrow; the partition's other rows stay Arrow too and merge in one
    ``spec.merge_blob_array`` call (for t-digest, one columnar decode of
    every blob)."""
    import pyarrow as pa

    def merge(batches):
        ids = _KeyIds(key_cols)
        held = [(batch, ids.codes(batch)) for batch in batches]
        if not held:
            return
        single = np.bincount(np.concatenate([c for _, c in held]),
                             minlength=len(ids.keys)) == 1
        rest_blobs, rest_ids = [], []
        for batch, codes in held:
            blobs = batch.column(len(key_cols))
            through = single[codes] & blobs.is_valid().to_numpy(
                zero_copy_only=False)
            if through.any():
                # Spark may hand in a key as NOT NULL or zoned, and one
                # output stream's batches must share the declared schema
                yield batch.filter(pa.array(through)).cast(arrow_schema)
            rest = np.flatnonzero(~through)
            if rest.size:
                rest_blobs.append(blobs.take(pa.array(rest)))
                rest_ids.append(codes[rest])
        if rest_ids:
            # every row of a key that does not pass through is here, so
            # its first row here is its first row: keys in id order
            kids, dense = np.unique(np.concatenate(rest_ids),
                                    return_inverse=True)
            # large_binary: one column may outgrow int32 offsets
            blobs = pa.concat_arrays(
                [b.cast(pa.large_binary()) for b in rest_blobs])
            yield _rows_batch(
                [ids.keys[kid] for kid in kids.tolist()],
                [spec.merge_blob_array(blobs, dense, kids.size)],
                arrow_schema,
            )

    return merge


def _merge_partials(df: DataFrame, spec: SketchSpec, key_cols: List[str],
                    out_col: str) -> DataFrame:
    """The merge stage of every blob table: the ``(keys, out_col)`` rows
    of ``df`` by canonical key (one partition when global) into one
    ``_partition_merger`` task each, one ``spec.merge_blobs`` row per
    key."""
    from pyspark.sql.pandas.types import to_arrow_schema

    df = _canon_float_keys(df.select(*key_cols, out_col), key_cols)
    df = df.repartition(*key_cols) if key_cols else df.repartition(1)
    schema = StructType([df.schema[k] for k in key_cols]
                        + [StructField(out_col, BinaryType(), True)])
    return df.mapInArrow(
        _partition_merger(spec, key_cols, to_arrow_schema(schema)),
        schema=schema)


def sketch_agg(
    df: DataFrame,
    keys: Optional[Sequence[str]],
    value_col: str,
    spec: SketchSpec,
    weight_col: Optional[str] = None,
    out_col: Optional[str] = None,
    salt_buckets: Optional[int] = None,
) -> DataFrame:
    """Generic two-phase sketch aggregate.

    Returns one row per key group with a binary sketch column ``out_col``
    (default ``spec.name``). ``salt_buckets`` adds a treeAggregate-style
    intermediate merge hop for extreme-skew key spaces.
    """
    key_cols = list(keys) if keys else []
    out_col = out_col or spec.name
    src = _project_input(df, key_cols, value_col, weight_col, spec)
    # salted aggregates are the caller's explicit extreme-skew plan —
    # their shape (salt hop + de-salt hop) is left alone
    src, single_phase = _rebalance_input(
        src, key_cols, value_col, weight_col,
        salted=bool(salt_buckets and salt_buckets > 1),
    )

    out_fields = [src.schema[k] for k in key_cols] + [
        StructField(out_col, BinaryType(), True)
    ]
    out_schema = StructType(out_fields)

    partials = src.mapInArrow(
        _partial_builder_arrow(
            spec, key_cols, value_col, weight_col, out_schema
        ),
        schema=out_schema,
    )

    if single_phase:
        # the by-key rebalance made every group local to one partition:
        # each key has exactly one partial (multi-flush partitions merge
        # locally in the builder's states dict), so the partials ARE the
        # result — no blob shuffle, no merge stage.
        return partials
    if key_cols and salt_buckets and salt_buckets > 1:
        salted = partials.withColumn(
            "__salt", F.pmod(F.crc32(F.col(out_col)), F.lit(salt_buckets))
        )
        partials = _merge_partials(salted, spec, key_cols + ["__salt"],
                                   out_col).drop("__salt")
    return _merge_partials(partials, spec, key_cols, out_col)


def _tdigest_spec(df: DataFrame, value_col: str, precision: str = "f64",
                  **cfg) -> TDigestSpec:
    """The ``TDigestSpec`` of a build over ``df[value_col]``: ``cfg`` is
    its other fields, and ``precision='auto'`` infers the precision from
    the column's Spark type (FloatType → f32, else f64), the reference's
    Polars input-dtype rule (polars_expr.rs:522-544)."""
    return TDigestSpec(precision=validation.resolve_auto_precision(
        precision, df.schema[value_col].dataType), **cfg)


def tdigest_agg(
    df: DataFrame,
    keys: Optional[Sequence[str]],
    value_col: str,
    weight_col: Optional[str] = None,
    max_size: int = 1000,
    scale: str = "k2",
    policy: str = "use",
    pin_per_side: int = 0,
    precision: str = "f64",
    on_invalid: str = "error",
    out_col: str = "tdigest",
    salt_buckets: Optional[int] = None,
    pre_aggregate: bool = False,
) -> DataFrame:
    """Grouped t-digest build — the Spark analogue of
    ``df.group_by(g).agg(tdigest(x))`` (reference README.md:36-45,
    polars_expr.rs:247-250).

    ``precision='auto'`` infers the digest precision from the value
    column's Spark type (``_tdigest_spec``).

    ``pre_aggregate=True`` first collapses rows to exact (keys, value)
    piles JVM-side — ``groupBy(keys, value).count()`` (or
    ``sum(weight)``), a whole-stage-codegen hash aggregate with
    map-side combine — and builds the digest from the WEIGHTED piles.
    Only distinct values per group ever cross the Arrow boundary to
    Python, so on discrete metrics (text lengths, latency ms, token
    counts) the Python-side row volume drops by orders of magnitude;
    under digest capacity the result is bit-identical to the row path
    (the kernel coalesces to the same piles). The wrong choice for
    near-unique continuous values, where it adds a full-width shuffle
    for nothing — hence opt-in."""
    spec = _tdigest_spec(
        df, value_col, max_size=max_size, scale=scale, policy=policy,
        pin_per_side=pin_per_side, precision=precision, on_invalid=on_invalid,
    )
    if pre_aggregate:
        grp = list(keys) if keys else []
        w_expr = (
            F.sum(F.col(weight_col)) if weight_col is not None
            else F.count("*").cast("double")
        )
        df = df.groupBy(*grp, F.col(value_col)).agg(
            w_expr.alias("__pile_w")
        )
        weight_col = "__pile_w"
    return sketch_agg(
        df, keys, value_col, spec,
        weight_col=weight_col, out_col=out_col, salt_buckets=salt_buckets,
    )
