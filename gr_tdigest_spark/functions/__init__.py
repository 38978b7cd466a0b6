"""Column-level query functions for every sketch, on the DataFrame and
SQL surfaces.

Spark analogue of the reference's Polars expression plugin
(polars_expr.rs:119-443; names mirrored from __init__.py:547-802):
``tdigest_quantile / tdigest_cdf / tdigest_median / tdigest_trimmed_mean /
merge_tdigests / tdigest_scale_weights / tdigest_scale_values /
tdigest_cast_precision / tdigest_to_bytes / tdigest_from_bytes /
tdigest_summary / tdigest_wire_precision`` plus cheap header-level stats
(count/sum/min/max/mean).

Every probe and transform is one row of the ``_PROBES`` table —
``(name, decode, kernel, Spark return type, NULL policy, SQL name)`` —
and one constructor, ``_Probe.udf``, turns a row into an
Arrow-vectorized pandas UDF that decodes each distinct blob once per
Arrow batch (``_group_rows_by_blob``). The DataFrame functions here and
in ``operators.companions`` validate their constant arguments when the
plan is built, then call the row's UDF; ``register_sql`` (t-digest rows)
and ``companions.register_companion_sql`` (companion rows and merges)
register the same UDFs under the rows' SQL names, so the two surfaces
share one definition. NULL policy, one per family: t-digest probes raise
``null TDIG blob`` (reference polars_expr.rs:376-383); companion probes
return NULL, except ``cms_estimate_col`` (0) and ``bloom_contains``
(false). Merges skip NULL blobs; a t-digest merge of no digest is the
canonical empty digest, a companion merge of no sketch is NULL.

The TDIG v3 blob is the canonical in-DataFrame digest representation
(~17 KB at max_size=1000, shuffle- and store-friendly). Digest-level
stats decode only the 64-byte header, not the payload.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass
from operator import itemgetter
from typing import Callable, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

from gr_tdigest_spark import validation
from gr_tdigest_spark.operators.agg import TDigestSpec
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.sketches.bloom import BloomFilter
from gr_tdigest_spark.sketches.bottomk import BottomK
from gr_tdigest_spark.sketches.cms import CMS
from gr_tdigest_spark.sketches.hll import HLL
from gr_tdigest_spark.sketches.kll import KLL
from gr_tdigest_spark.sketches.minhash import MinHash
from gr_tdigest_spark.sketches.tdigest import TDigest

__all__ = [
    "empty_tdigest",
    "tdigest_quantile",
    "tdigest_quantiles",
    "tdigest_cdf",
    "tdigest_cdfs",
    "tdigest_cdf_col",
    "register_sql",
    "tdigest_median",
    "tdigest_trimmed_mean",
    "tdigest_count",
    "tdigest_sum",
    "tdigest_min",
    "tdigest_max",
    "tdigest_mean",
    "tdigest_n_centroids",
    "tdigest_summary",
    "tdigest_wire_precision",
    "tdigest_scale_weights",
    "tdigest_scale_values",
    "tdigest_cast_precision",
    "tdigest_to_version",
    "tdigest_to_struct",
    "tdigest_from_struct",
    "infer_column_precision",
    "merge_tdigests",
    "TDIGEST_STRUCT",
]


# ---------------------------------------------------------------------- #
# the probe table and its UDF constructor
# ---------------------------------------------------------------------- #

_RAISE = "raise"  # NULL policy: a NULL blob is an error

_PANDAS_DTYPE = {
    DoubleType: "float64", LongType: "int64", IntegerType: "int32",
    BooleanType: "bool",
}


def _group_rows_by_blob(*blob_cols: pd.Series):
    """Yield ``(blobs, rows)`` once per distinct tuple of blobs in an
    Arrow batch (NULL blobs as None), so each distinct sketch decodes
    once and its rows share one kernel call. After a broadcast
    sketch⋈fact join every fact row carries its group's identical blob;
    a per-row decode would cost a whole blob per row."""
    uniq: dict = {}
    cols = [[None if b is None else bytes(b) for b in c] for c in blob_cols]
    for i, blobs in enumerate(zip(*cols)):
        uniq.setdefault(blobs, []).append(i)
    for blobs, rows in uniq.items():
        yield blobs, np.asarray(rows, dtype=np.int64)


@dataclass(frozen=True)
class _Probe:
    """One query function, shared by the DataFrame and SQL surfaces.

    ``decode`` holds one decoder per blob column. The UDF's columns are
    the blobs followed by optional per-row argument columns; with
    argument columns the kernel gets each distinct blob's rows of them
    and returns one value per row, without them it returns one value
    per blob. DataFrame-only constants are appended to the kernel call.
    ``on_null`` fills the rows with a NULL blob, or ``_RAISE``.
    ``check_args`` validates the argument columns once per batch — the
    SQL twin of the DataFrame functions' plan-time checks."""

    name: str
    decode: Tuple[Callable, ...]
    kernel: Callable
    return_type: DataType
    on_null: object
    sql: Optional[str] = None
    check_args: Optional[Callable] = None

    def udf(self, *consts):
        n_blobs = len(self.decode)
        dtype = _PANDAS_DTYPE.get(type(self.return_type), object)

        def probe(*cols: pd.Series) -> pd.Series:
            args = [c.to_numpy() for c in cols[n_blobs:]]
            if self.check_args is not None:
                self.check_args(*args)
            out = np.empty(len(cols[0]), dtype=object)
            cell = np.empty(1, dtype=object)  # broadcasts lists too
            for blobs, rows in _group_rows_by_blob(*cols[:n_blobs]):
                if None in blobs:
                    if self.on_null == _RAISE:
                        raise ValueError(
                            "null TDIG blob (reference polars_expr.rs:376-383)"
                        )
                    cell[0] = self.on_null
                else:
                    states = [d(b) for d, b in zip(self.decode, blobs)]
                    if args:
                        out[rows] = self.kernel(
                            *states, *(a[rows] for a in args), *consts
                        )
                        continue
                    cell[0] = self.kernel(*states, *consts)
                out[rows] = cell
            if isinstance(self.return_type, StructType):
                return pd.DataFrame(list(out))
            return pd.Series(out, dtype=dtype)

        probe.__name__ = self.name
        return F.pandas_udf(probe, self.return_type)

    def __call__(self, *cols, consts=()) -> Column:
        return self.udf(*consts)(*cols)


def _register(spark, rows) -> None:
    for p in rows:
        if p.sql:
            spark.udf.register(p.sql, p.udf())


def _merge_udf(spec):
    """Grouped-aggregate merge of one sketch family's blob column,
    through ``spec.merge_many``. NULL blobs are skipped; a group with no
    blob merges to the canonical empty digest (t-digest) or NULL."""

    @F.pandas_udf(BinaryType())
    def merge(blobs: pd.Series) -> Optional[bytes]:
        states = [
            spec.blob_to_state(bytes(b)) for b in blobs if b is not None
        ]
        if not states and not isinstance(spec, TDigestSpec):
            return None
        return spec.state_to_blob(spec.merge_many(states))

    return merge


# --- t-digest kernels ---

def _header(blob: bytes) -> tuple:
    """(count, min, max, sum, n_centroids) from the 64-byte v3 header
    without decoding the centroids; older wire versions decode fully."""
    if blob[:4] == b"TDIG" and blob[4] == 3:
        count, lo, hi, n, total = struct.unpack_from("<dddQd", blob, 20)
        return count, lo, hi, total, n
    td = td_wire.decode(blob)
    return td.count, td.min, td.max, td.sum, len(td)


def _check_quantiles(q):
    q = np.asarray(q, dtype=np.float64)
    ok = (q >= 0.0) & (q <= 1.0)  # NaN fails too
    if not ok.all():
        validation.validate_quantile_probe(q[~ok][0])


def _td_quantile(td, q):
    if td.is_effectively_empty:
        return np.full(len(q), np.nan)
    return td.quantile(q)


def _td_quantiles(td, qs):
    return None if td.is_effectively_empty else td.quantile(qs).tolist()


def _td_median(td):
    return None if td.is_effectively_empty else float(td.median())


def _td_trimmed_mean(td, lo, hi):
    if td.is_effectively_empty:
        return None
    v = td.trimmed_mean(lo, hi)
    return None if math.isnan(v) else float(v)


def _td_mean(h):
    return h[3] / h[0] if h[0] > 0 else 0.0


def _td_struct(td) -> dict:
    return {
        "centroids": [
            {"mean": float(m), "weight": float(w), "kind": int(k)}
            for m, w, k in zip(td.means64, td.weights64, td.kinds)
        ],
        "sum": td.sum, "count": td.count, "min": td.min, "max": td.max,
        "max_size": td.max_size, "scale": td.scale, "policy": td.policy,
        "pin_per_side": td.pin_per_side, "precision": td.precision,
    }


# --- companion kernels ---

def _hll_intersect(a, b):
    return max(a.estimate() + b.estimate() - a.merge(b).estimate(), 0.0)


def _minhash_hll_intersect(ma, mb, ha, hb):
    return ma.jaccard(mb) * ha.merge(hb).estimate()


def _as_str(v):
    return v if isinstance(v, str) else str(v)


def _bottomk_sample(sk, conv=_as_str):
    return [conv(v) for v in sk.sample()]


_TD = (td_wire.decode,)
_HDR = (_header,)
_HLL, _CMS, _KLL = (HLL.from_bytes,), (CMS.from_bytes,), (KLL.from_bytes,)
_BK, _MH = (BottomK.from_bytes,), (MinHash.from_bytes,)
_F64, _BIN, _STR = DoubleType(), BinaryType(), StringType()

_TDIGEST_PROBES = (
    # name, decode, kernel, return type, NULL policy, SQL name
    _Probe("tdigest_quantile", _TD, _td_quantile, _F64, _RAISE,
           "tdigest_quantile", _check_quantiles),
    _Probe("tdigest_quantiles", _TD, _td_quantiles, ArrayType(_F64),
           _RAISE),
    _Probe("tdigest_cdf", _TD, lambda td, x: td.cdf(x), _F64, _RAISE,
           "tdigest_cdf"),
    _Probe("tdigest_cdfs", _TD, lambda td, xs: td.cdf(xs).tolist(),
           ArrayType(_F64), _RAISE),
    _Probe("tdigest_median", _TD, _td_median, _F64, _RAISE,
           "tdigest_median"),
    _Probe("tdigest_trimmed_mean", _TD, _td_trimmed_mean, _F64, _RAISE),
    _Probe("tdigest_count", _HDR, itemgetter(0), _F64, _RAISE,
           "tdigest_count"),
    _Probe("tdigest_min", _HDR, itemgetter(1), _F64, _RAISE, "tdigest_min"),
    _Probe("tdigest_max", _HDR, itemgetter(2), _F64, _RAISE, "tdigest_max"),
    _Probe("tdigest_sum", _HDR, itemgetter(3), _F64, _RAISE, "tdigest_sum"),
    _Probe("tdigest_mean", _HDR, _td_mean, _F64, _RAISE),
    _Probe("tdigest_n_centroids", _HDR, itemgetter(4), IntegerType(),
           _RAISE),
    _Probe("tdigest_summary", _TD, lambda td: td.summary(), _STR, _RAISE),
    _Probe("tdigest_wire_precision", (td_wire.wire_precision,),
           lambda p: p, _STR, _RAISE),
    _Probe("tdigest_scale_weights", _TD,
           lambda td, f: td_wire.encode(td.scale_weights(f)), _BIN, _RAISE),
    _Probe("tdigest_scale_values", _TD,
           lambda td, f: td_wire.encode(td.scale_values(f)), _BIN, _RAISE),
    _Probe("tdigest_cast_precision", _TD,
           lambda td, p: td_wire.encode(td.cast_precision(p)), _BIN, _RAISE),
    _Probe("tdigest_to_version", _TD, td_wire.encode, _BIN, _RAISE),
)

_COMPANION_PROBES = (
    # name, decode, kernel, return type, NULL policy, SQL name
    _Probe("hll_estimate", _HLL, lambda sk: sk.estimate(), _F64, None,
           "hll_estimate"),
    _Probe("hll_intersect_estimate", _HLL * 2, _hll_intersect, _F64, None,
           "hll_intersect"),
    _Probe("kll_quantile", _KLL, lambda sk, q: sk.quantile(q), _F64, None,
           "kll_quantile"),
    _Probe("kll_rank", _KLL, lambda sk, x: float(sk.rank(x)[0]), _F64, None),
    _Probe("kll_count", _KLL, lambda sk: float(sk.n), _F64, None),
    _Probe("cms_estimate", _CMS, lambda sk, c: sk.estimate(c).tolist(),
           ArrayType(LongType()), None),
    _Probe("cms_estimate_col", _CMS, lambda sk, keys: sk.estimate(keys),
           LongType(), 0, "cms_estimate"),
    _Probe("cms_inner_product", _CMS * 2,
           lambda a, b: float(a.inner_product(b)), _F64, None,
           "cms_inner_product"),
    _Probe("bloom_contains", (BloomFilter.from_bytes,),
           lambda sk, keys: sk.contains(keys), BooleanType(), False,
           "bloom_contains"),
    _Probe("minhash_jaccard", _MH * 2, lambda a, b: a.jaccard(b), _F64,
           None, "minhash_jaccard"),
    _Probe("minhash_hll_intersect_estimate", _MH * 2 + _HLL * 2,
           _minhash_hll_intersect, _F64, None),
    _Probe("bottomk_distinct", _BK, lambda sk: sk.distinct_estimate(),
           _F64, None, "bottomk_distinct"),
    _Probe("bottomk_sample", _BK, _bottomk_sample, ArrayType(_STR), None,
           "bottomk_sample"),
)

_PROBES = {p.name: p for p in _TDIGEST_PROBES + _COMPANION_PROBES}


# ---------------------------------------------------------------------- #
# t-digest DataFrame functions
# ---------------------------------------------------------------------- #

def empty_tdigest(
    max_size: int = 1000,
    scale: str = "k2",
    policy: str = "use",
    pin_per_side: int = 0,
    precision: str = "f64",
) -> Column:
    """Literal empty-digest blob — use with ``F.coalesce`` after outer
    joins so empty groups behave like the reference's empty digests
    (quantile → null, cdf → NaN) instead of erroring on null blobs."""
    td = TDigest.empty(
        validation.validate_max_size(max_size),
        validation.coerce_scale(scale),
        validation.coerce_policy(policy),
        validation.validate_pin_per_side(
            pin_per_side, max_size, validation.coerce_policy(policy)
        ),
        None,
        validation.coerce_precision(precision),
    )
    return F.lit(td_wire.encode(td))


def tdigest_quantile(col, q: float) -> Column:
    """Quantile of each digest row; strict probe validation
    (frontends.rs:152-160); empty digest → null (polars_expr.rs:1149-1170)."""
    qv = validation.validate_quantile_probe(q)
    return _PROBES["tdigest_quantile"](col, F.lit(qv))


def tdigest_quantiles(col, qs: Sequence[float]) -> Column:
    """Vector of quantiles per digest row → array<double>."""
    qarr = np.asarray([validation.validate_quantile_probe(q) for q in qs])
    return _PROBES["tdigest_quantiles"](col, consts=(qarr,))


def tdigest_cdf(col, x: float) -> Column:
    """CDF at a constant probe; empty digest → NaN (tdigest.rs:349-360)."""
    return _PROBES["tdigest_cdf"](col, F.lit(float(x)))


def tdigest_cdfs(col, xs: Sequence[float]) -> Column:
    """CDF at several probes → array<double>."""
    xarr = np.asarray(xs, dtype=np.float64)
    return _PROBES["tdigest_cdfs"](col, consts=(xarr,))


def tdigest_cdf_col(digest_col, probe_col) -> Column:
    """CDF with a per-row probe column (digest ⋈ probe pattern,
    reference polars_expr.rs:920-983)."""
    return _PROBES["tdigest_cdf"](digest_col, probe_col)


def tdigest_median(col) -> Column:
    """Median with even-count branch (quantile.rs:219-233); empty → null."""
    return _PROBES["tdigest_median"](col)


def tdigest_trimmed_mean(col, lower: float, upper: float) -> Column:
    lo, hi = validation.validate_trimmed_bounds(lower, upper)
    return _PROBES["tdigest_trimmed_mean"](col, consts=(lo, hi))


def tdigest_count(col) -> Column:
    """Total weight ∑w (v3 header bytes 20..28)."""
    return _PROBES["tdigest_count"](col)


def tdigest_min(col) -> Column:
    return _PROBES["tdigest_min"](col)


def tdigest_max(col) -> Column:
    return _PROBES["tdigest_max"](col)


def tdigest_sum(col) -> Column:
    """∑x over raw data (v3 header bytes 52..60)."""
    return _PROBES["tdigest_sum"](col)


def tdigest_mean(col) -> Column:
    return _PROBES["tdigest_mean"](col)


def tdigest_n_centroids(col) -> Column:
    return _PROBES["tdigest_n_centroids"](col)


def tdigest_summary(col) -> Column:
    """One-line debug render (polars_expr.rs:420-443)."""
    return _PROBES["tdigest_summary"](col)


def tdigest_wire_precision(col) -> Column:
    """'f32'/'f64' header sniff (wire.rs:224-272)."""
    return _PROBES["tdigest_wire_precision"](col)


def tdigest_scale_weights(col, factor: float) -> Column:
    """Multiply all weights/count/sum by factor (tdigest.rs:661-675)."""
    return _PROBES["tdigest_scale_weights"](col, consts=(float(factor),))


def tdigest_scale_values(col, factor: float) -> Column:
    """Multiply means/min/max/sum by factor > 0 (tdigest.rs:685-701)."""
    return _PROBES["tdigest_scale_values"](col, consts=(float(factor),))


def tdigest_cast_precision(col, precision: str) -> Column:
    """Explicit f32⇄f64 cast (tdigest.rs:383-406)."""
    p = validation.coerce_precision(precision)
    return _PROBES["tdigest_cast_precision"](col, consts=(p,))


def tdigest_to_version(col, version: int) -> Column:
    """Re-encode blobs at an explicit wire version (1|2|3)."""
    return _PROBES["tdigest_to_version"](col, consts=(int(version),))


def register_sql(spark) -> None:
    """Register the t-digest rows of the probe table that have a SQL
    name — ``tdigest_quantile/cdf/median/count/min/max/sum`` — for
    ``spark.sql`` use, the SQL-string analogue of the reference's
    CLI/JNI layers:

        SELECT g, tdigest_quantile(td, 0.5) FROM digests

    Probe arguments are per-row columns/literals here; the DataFrame
    functions validate the same arguments as constants at plan time and
    call the same UDFs."""
    _register(spark, _TDIGEST_PROBES)


# digest struct schema — unlike the reference's Polars codec
# (codecs.rs:214-230) this carries the centroid `kind` flag and the
# full config, fixing the documented kind-loss defect (SURVEY §1.3)
TDIGEST_STRUCT = (
    "struct<centroids: array<struct<mean: double, weight: double, "
    "kind: tinyint>>, sum: double, count: double, min: double, "
    "max: double, max_size: bigint, scale: string, policy: string, "
    "pin_per_side: int, precision: string>"
)


def tdigest_to_struct(col) -> Column:
    """Expand a TDIG blob into an inspectable struct column (keeps kind
    + config, unlike the reference's Polars struct — codecs.rs:446-456)."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(TDIGEST_STRUCT)
    return _Probe("tdigest_to_struct", _TD, _td_struct, schema, _RAISE)(col)


def tdigest_from_struct(col) -> Column:
    """Rebuild a TDIG blob from the struct form (round-trips exactly)."""

    @F.pandas_udf(BinaryType())
    def _b(structs: pd.DataFrame) -> pd.Series:
        # struct-typed input arrives as a DataFrame of its fields
        out = []
        for _, s in structs.iterrows():
            td = TDigest.__new__(TDigest)
            cents = s["centroids"]
            cents = [] if cents is None else list(cents)
            td.means = np.array([c["mean"] for c in cents])
            td.weights = np.array([c["weight"] for c in cents])
            td.kinds = np.array([c["kind"] for c in cents], dtype=np.uint8)
            td.sum = float(s["sum"])
            td.count = float(s["count"])
            td.min = float(s["min"])
            td.max = float(s["max"])
            td.max_size = int(s["max_size"])
            td.scale = s["scale"]
            td.policy = s["policy"]
            td.pin_per_side = int(s["pin_per_side"])
            td.delta = None
            td.precision = s["precision"]
            td._store()
            out.append(td_wire.encode(td))
        return pd.Series(out)

    return _b(col)


def infer_column_precision(
    df, col: str, sample: int = 64, strict: bool = True
) -> str:
    """Sample ≤``sample`` non-null blobs and sniff their wire precision
    (reference __init__.py:207-257): uniform → that precision; mixed →
    raise (strict) or 'f64'; all-null → 'f64'."""
    rows = (
        df.select(col).where(F.col(col).isNotNull()).limit(sample).collect()
    )
    kinds = {td_wire.wire_precision(bytes(r[0])) for r in rows if r[0]}
    if not kinds:
        return "f64"
    if len(kinds) > 1:
        if strict:
            raise ValueError(
                f"Mixed TDIG wire precisions in column {col!r}: "
                f"{sorted(kinds)}"
            )
        return "f64"
    return kinds.pop()


def merge_tdigests(col) -> Column:
    """Grouped-aggregate merge of a digest column — the Polars
    ``merge_tdigests(...).over(g)`` rollup (polars_expr.rs:147-156,
    __init__.py:643-656). Use in ``df.groupBy(g).agg(merge_tdigests("td"))``
    to re-aggregate e.g. day digests into month digests without
    rescanning raw data. NULL blobs are skipped; a group of only NULL
    or empty digests yields an empty digest."""
    return _merge_udf(TDigestSpec())(col)
