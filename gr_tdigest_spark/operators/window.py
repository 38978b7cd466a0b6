"""Per-row group-sketch attachment — the Spark analogue of Polars
``tdigest(...).over(g)`` / ``quantile(...).over(g)``
(reference __init__.py:643-656, test_contract_behavior.py:200-254).

Digest state is far too heavy for Spark ``Window`` frames, so the plans
here never attach a blob to a fact row:

- group-constant probes (``with_group_quantile``): evaluate on the tiny
  digest table, broadcast-join the SCALAR result — pure JVM join.
- per-row probes (``with_group_cdf``): one iterator Arrow UDF over
  the key, value and probe columns (the other columns stay in the JVM)
  attaches the CDF, in one of two layouts chosen from the input. A
  small input, or one with many keys, is hash-repartitioned by its
  canonical keys and each task builds its groups' digests from its own
  rows: nothing is collected and, for a small input, no job runs when
  the DataFrame is built; a task holds one shuffle partition's narrow
  columns, or its largest group. Few keys over a larger input keep the
  facts where they are: ``tdigest_agg``'s digests, at most 2 x task
  slots of them, are collected once and the rows stream through the
  UDF. Both layouts probe a ``{key: blob}`` map, decoding a group's
  digest once, on first use.
"""

from __future__ import annotations

import functools
from typing import Iterator, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators import agg
from gr_tdigest_spark.operators.agg import (
    _KeyIds, _PartitionBuild, _canon_key_col, _tdigest_spec, tdigest_agg,
)

__all__ = [
    "with_group_quantile",
    "with_group_cdf",
    "filter_by_group_quantile",
]


def with_group_quantile(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    q: float,
    out_col: Optional[str] = None,
    **cfg,
) -> DataFrame:
    """Attach each group's quantile-q of ``value_col`` to every row —
    ``quantile(tdigest(x), q).over(keys)``. The probe is group-constant,
    so only the SCALAR result joins back (broadcast hash join, no
    shuffle of the fact table, no Python on the fact rows).

    The join-back is NULL-safe on the keys: a NULL (or float-NaN —
    canonicalized to NULL, matching the aggregate) group key is a real
    group and its rows get that group's scalar, instead of silently
    receiving NULL from an equi-join that can never match. Output
    columns are ``df``'s, in order, plus ``out_col``."""
    out_col = out_col or f"q{q}_{value_col}"
    key_cols = list(keys)
    digests = tdigest_agg(df, key_cols, value_col, **cfg)
    scalars = digests.select(
        *key_cols, Fn.tdigest_quantile("tdigest", q).alias(out_col)
    )
    fact, dim = df.alias("__gqf"), F.broadcast(scalars).alias("__gqs")
    cond = None
    for k in key_cols:
        e = _canon_key_col(df, k, "__gqf").eqNullSafe(
            _canon_key_col(scalars, k, "__gqs")
        )
        cond = e if cond is None else (cond & e)
    return fact.join(dim, cond, "left").select(
        *[F.col(f"__gqf.`{c}`") for c in df.columns],
        # backticks: the default out_col embeds the q value's dot
        F.col(f"__gqs.`{out_col}`").alias(out_col),
    )


def filter_by_group_quantile(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    q: float,
    keep: str = "above",
    strict: bool = False,
    **cfg,
) -> DataFrame:
    """Keep rows whose ``value_col`` clears the group's quantile-q
    threshold — the standard pretraining-filter shape ("top 30% quality
    per language" is ``q=0.7, keep='above'``). Output schema == input
    schema.

    Built on :func:`with_group_quantile`: the threshold is ONE scalar
    per group computed on the digest table and broadcast-joined back,
    so the fact table is never shuffled and the comparison is pure JVM.
    ``keep='above'`` retains value ≥ threshold (> when ``strict``);
    ``'below'`` the mirror. Rows with a NULL or NaN value never clear
    the filter on EITHER side (Spark sorts NaN above every number, so
    without an explicit guard NaN garbage would pass ``keep='above'``),
    and rows of groups whose threshold is NULL (an all-NULL-value
    group) are dropped. NULL/NaN values trip the strict validation
    default while building the digests — pass ``on_invalid='drop'``
    (forwarded via ``cfg``) for a corpus that contains them.
    """
    if keep not in ("above", "below"):
        raise ValueError(f"keep must be 'above' or 'below', got {keep!r}")
    thr_col = "__gq_threshold"
    out = with_group_quantile(df, keys, value_col, q, thr_col, **cfg)
    v, t = F.col(value_col), F.col(thr_col)
    if keep == "above":
        cond = (v > t) if strict else (v >= t)
    else:
        cond = (v < t) if strict else (v <= t)
    cond = cond & ~F.isnan(v.cast("double"))
    return out.where(cond).drop(thr_col).select(*df.columns)


def _group_cdf_udf(spec, names, key_cols, value_col, weight_col,
                   probe_col, blobs=None):
    """The iterator Arrow UDF of ``with_group_cdf`` over the columns
    ``names``: yields the CDF of each row's probe under its group's
    digest, NaN as NULL, a digest decoded once from a ``{canonical key:
    blob}`` map. With ``blobs`` the batches stream through against it;
    without, the task holds its by-key partition's batches, builds the
    map from them (``_PartitionBuild``) and then probes."""

    def probes(batch):
        return (batch.column(probe_col).cast(pa.float64(), safe=False)
                .to_numpy(zero_copy_only=False))

    def lookup(blob_of):
        """Each key's digest, decoded from ``blob_of`` once; None when
        the key has no blob."""
        return functools.cache(
            lambda key: blob_of.get(key) and spec.blob_to_state(blob_of[key]))

    def cdfs(codes, keys, digest_of, xs):
        out = np.full(codes.size, np.nan)
        order = np.argsort(codes, kind="stable")
        bounds = np.searchsorted(codes[order], np.arange(len(keys) + 1))
        for gid, key in enumerate(keys):
            td = digest_of(key) if bounds[gid] < bounds[gid + 1] else None
            if td is not None:  # None: no valid value in the group
                rows = order[bounds[gid]:bounds[gid + 1]]
                out[rows] = td.cdf(xs[rows])
        return pa.array(out, mask=np.isnan(out))

    def by_key(batches):
        part = _PartitionBuild(spec, key_cols, value_col, weight_col)
        held = [(batch, part.add(batch)) for batch in batches]
        if not held:
            return
        out = cdfs(np.concatenate([c for _, c in held]), part.ids.keys,
                   lookup(dict(zip(*part.blobs()))),
                   np.concatenate([probes(b) for b, _ in held]))
        start = 0
        for batch, _ in held:
            yield out.slice(start, batch.num_rows)
            start += batch.num_rows

    def from_map(batches):
        ids, digest_of = _KeyIds(key_cols), lookup(blobs)
        for batch in batches:
            yield cdfs(ids.codes(batch), ids.keys, digest_of, probes(batch))

    def run(arrays: Iterator[Tuple[pa.Array, ...]]) -> Iterator[pa.Array]:
        batches = (pa.RecordBatch.from_arrays(
            list(a) if isinstance(a, tuple) else [a], names=names)
            for a in arrays)
        return by_key(batches) if blobs is None else from_map(batches)

    return run


def _few_group_digests(src, key_cols, value_col, weight_col, spec):
    """``{canonical key: blob}`` of ``src``'s groups when the by-key pass
    would not serve them, else None. ``src`` is the columns the pass
    reads. The by-key pass holds a group per task and runs as many tasks
    as there are keys, so it is right for a small input (Catalyst
    estimate <= ``_SINGLE_PHASE_SMALL``) or many keys (the sampled
    probe of ``sketch_agg``'s gate). Few keys over a larger input are
    built by ``sketch_agg``'s own layout; at most 2 x task slots + 1
    digest rows are collected, and more rows than 2 x slots (the probe
    sampled too few keys) fall back to the by-key pass."""
    spark = src.sparkSession
    slots = spark.sparkContext.defaultParallelism
    est = agg._plan_size_bytes(src)
    if est is not None and est <= agg._SINGLE_PHASE_SMALL:
        return None
    # an RDD-backed input's estimate is Long.MaxValue: probe every row
    if agg._enough_keys_for_by_key(src, key_cols,
                                   est if est and est < 1 << 62 else 0,
                                   slots):
        return None
    cap = 2 * slots
    table = agg.sketch_agg(src, key_cols, value_col, spec,
                           weight_col=weight_col).limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    ids, blobs = _KeyIds(key_cols), {}
    for batch in table.to_batches():
        keys = [ids.keys[c] for c in ids.codes(batch).tolist()]
        blobs.update(zip(keys, batch.column(spec.name).to_pylist()))
    return blobs


def with_group_cdf(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    probe_col: Optional[str] = None,
    out_col: str = "cdf",
    weight_col: Optional[str] = None,
    **cfg,
) -> DataFrame:
    """Attach the group's CDF evaluated at each row's own value (or at
    ``probe_col``) — ``cdf(tdigest(x), probe).over(keys)``.

    Only the key, value, weight and probe columns cross into Python, in
    one iterator Arrow UDF (``withColumn``: a column named ``out_col``
    is replaced). ``_few_group_digests`` picks the layout: a small
    input, or one with many keys, is hash-repartitioned by its
    canonical keys (each row keeps its own key values) and each task
    builds and probes its groups' digests, so the largest group must
    fit a worker; few keys over a larger input stream unshuffled
    against ``tdigest_agg``'s collected digests. A row's CDF is
    ``tdigest_cdf_col`` over ``tdigest_agg``'s digest of its group
    whenever that aggregate builds the group the same way. ``cfg``
    holds the ``TDigestSpec`` fields (``precision='auto'`` too). A
    NULL or NaN probe, or a group with no valid value, gives NULL.
    Strict-mode (``on_invalid='error'``) errors surface where the
    digests are built: at the action on the by-key layout, in this
    call on the few-keys one."""
    key_cols = list(keys or [])
    if not key_cols:
        raise ValueError(
            "with_group_cdf needs at least one key column; for one "
            "digest over all rows use tdigest_agg(df, None, value_col) "
            "and probe it with tdigest_cdf_col"
        )
    probe_col = probe_col or value_col
    spec = _tdigest_spec(df, value_col, **cfg)
    names = list(dict.fromkeys(
        key_cols + [value_col, probe_col] + ([weight_col] if weight_col else [])
    ))
    blobs = _few_group_digests(df.select(*names), key_cols, value_col,
                               weight_col, spec)
    if blobs is None:
        df = df.repartition(*[_canon_key_col(df, k) for k in key_cols])
    cdf = F.arrow_udf(
        _group_cdf_udf(spec, names, key_cols, value_col, weight_col,
                       probe_col, blobs),
        DoubleType(),
    )
    return df.withColumn(out_col, cdf(*[F.col(f"`{n}`") for n in names]))
