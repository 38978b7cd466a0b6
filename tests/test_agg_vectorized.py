"""The vectorized multi-group builder must match the kernel exactly."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from arrow_build import build_states
from gr_tdigest_spark.operators.agg import TDigestSpec, _encode_batch_keys
from gr_tdigest_spark.sketches import wire
from gr_tdigest_spark.sketches.tdigest import TDigest


def _pdf(keys, values, weights=None):
    d = {"g": keys, "x": values}
    if weights is not None:
        d["w"] = weights
    return pd.DataFrame(d)


@pytest.mark.parametrize("max_size", [100, 1000])
@pytest.mark.parametrize("policy", ["use", "off"])
def test_vectorized_matches_kernel_small_groups(max_size, policy):
    rng = np.random.default_rng(1)
    n = 20000
    keys = rng.integers(0, 500, n)  # ~40 rows/group → fast path
    vals = np.round(rng.lognormal(3, 1, n), 2)
    spec = TDigestSpec(max_size=max_size, policy=policy)
    built = build_states(spec, _pdf(keys, vals), ["g"], "x", None)
    for g in [0, 17, 499]:
        sel = vals[keys == g]
        ref = TDigest.from_values(sel, max_size=max_size, policy=policy)
        got = built[(g,)]
        np.testing.assert_array_equal(got.means64, ref.means64)
        np.testing.assert_array_equal(got.weights64, ref.weights64)
        np.testing.assert_array_equal(got.kinds, ref.kinds)
        assert got.count == ref.count
        assert got.sum == ref.sum
        assert got.min == ref.min and got.max == ref.max
        qs = np.linspace(0, 1, 41)
        np.testing.assert_array_equal(got.quantile(qs), ref.quantile(qs))


def test_vectorized_matches_kernel_large_groups():
    """Groups big enough to compress: pipeline path over piles must match
    kernel build from raw values."""
    rng = np.random.default_rng(2)
    n = 60000
    keys = rng.integers(0, 3, n)  # 20k rows/group, max_size=100 → compress
    vals = rng.standard_normal(n)
    spec = TDigestSpec(max_size=100)
    built = build_states(spec, _pdf(keys, vals), ["g"], "x", None)
    for g in range(3):
        sel = vals[keys == g]
        ref = TDigest.from_values(sel, max_size=100)
        got = built[(g,)]
        np.testing.assert_array_equal(got.means64, ref.means64)
        np.testing.assert_array_equal(got.weights64, ref.weights64)
        assert got.count == ref.count


def test_vectorized_weighted_matches_kernel():
    rng = np.random.default_rng(3)
    n = 5000
    keys = rng.integers(0, 50, n)
    vals = np.round(rng.uniform(0, 100, n), 1)
    ws = rng.integers(1, 10, n).astype(float)
    spec = TDigestSpec(max_size=500)
    built = build_states(spec, _pdf(keys, vals, ws), ["g"], "x", "w")
    for g in [0, 25, 49]:
        sel = keys == g
        ref = TDigest.from_weighted(vals[sel], ws[sel], max_size=500)
        got = built[(g,)]
        np.testing.assert_array_equal(got.means64, ref.means64)
        np.testing.assert_allclose(got.weights64, ref.weights64, rtol=1e-12)
        assert got.count == pytest.approx(ref.count)
        qs = np.linspace(0, 1, 21)
        np.testing.assert_allclose(
            got.quantile(qs), ref.quantile(qs), rtol=1e-12
        )


def test_vectorized_multi_key_columns():
    rng = np.random.default_rng(4)
    n = 3000
    k1 = rng.integers(0, 4, n)
    k2 = np.array(["a", "b", "c"], dtype=object)[rng.integers(0, 3, n)]
    vals = rng.uniform(size=n)
    pdf = pd.DataFrame({"g1": k1, "g2": k2, "x": vals})
    spec = TDigestSpec(max_size=200)
    built = build_states(spec, pdf, ["g1", "g2"], "x", None)
    sel = vals[(k1 == 2) & (k2 == "b")]
    ref = TDigest.from_values(sel, max_size=200)
    got = built[(2, "b")]
    np.testing.assert_array_equal(got.means64, ref.means64)


def test_nan_raises_in_strict_mode():
    pdf = _pdf([1, 1, 2], [1.0, np.nan, 3.0])
    spec = TDigestSpec(max_size=100)
    with pytest.raises(ValueError, match="NaN"):
        build_states(spec, pdf, ["g"], "x", None)


def test_drop_mode_filters():
    pdf = _pdf([1, 1, 2], [1.0, np.nan, 3.0])
    spec = TDigestSpec(max_size=100, on_invalid="drop")
    built = build_states(spec, pdf, ["g"], "x", None)
    assert built[(1,)].count == 1.0
    assert built[(2,)].count == 1.0


def test_f32_precision_vectorized():
    rng = np.random.default_rng(5)
    vals = rng.uniform(size=2000)
    pdf = _pdf(np.zeros(2000, dtype=int), vals)
    spec = TDigestSpec(max_size=20000, policy="off", precision="f32")
    built = build_states(spec, pdf, ["g"], "x", None)
    ref = TDigest.from_values(vals, max_size=20000, policy="off",
                              precision="f32")
    got = built[(0,)]
    assert got.precision == "f32"
    np.testing.assert_array_equal(got.means, ref.means)


@pytest.mark.parametrize("n_cols", [2, 5])
def test_encode_batch_keys_wide_key_space(n_cols):
    """Five key columns of 10k distinct values each span 10^20 key
    combinations, past int64: the mixed-radix combine must still give
    every row its own key tuple (and nulls their own slot)."""
    rng = np.random.default_rng(6)
    n = 10_000
    cols = {f"k{i}": rng.permutation(n).tolist() for i in range(n_cols)}
    cols["k0"][::7] = [None] * len(cols["k0"][::7])
    codes, keys = _encode_batch_keys(
        pa.RecordBatch.from_pydict(cols), list(cols)
    )
    assert [keys[c] for c in codes] == list(zip(*cols.values()))
    assert len(set(keys)) == len(keys) == n


class TestColumnarBlobPath:
    """Every blob build_blobs_from_codes emits re-encodes to itself
    through its decode, the property the partial builder's blob fold
    and the merge stage rely on: f32/f64, unit/weighted, and a group
    that needs compression."""

    def _round_trip(self, prec, weighted, seed):
        rng = np.random.default_rng(seed)
        n = 30000
        codes = rng.integers(0, 2000, n)
        keys = [(int(i),) for i in range(2100)]  # trailing empty groups
        vals = rng.lognormal(0, 1, n)
        ws = rng.integers(1, 5, n).astype(float) if weighted else None
        spec = TDigestSpec(max_size=100, precision=prec)
        got, blobs = spec.build_blobs_from_codes(codes, keys, vals, ws)
        assert sorted(got) == [(int(i),) for i in np.unique(codes)]
        for key, blob in zip(got, blobs):
            assert wire.encode(wire.decode(blob), 3) == blob, key

    def test_f64_unit(self):
        self._round_trip("f64", False, 1)

    def test_f64_weighted(self):
        self._round_trip("f64", True, 2)

    def test_f32_unit(self):
        self._round_trip("f32", False, 3)

    def test_f32_weighted(self):
        self._round_trip("f32", True, 4)

    def test_slow_group_byte_equal(self):
        rng = np.random.default_rng(5)
        vals = rng.lognormal(0, 1, 5000)
        codes = np.zeros(5000, dtype=np.int64)
        spec = TDigestSpec(max_size=100)
        _, blobs = spec.build_blobs_from_codes(codes, [(0,)], vals, None)
        assert len(wire.decode(blobs[0])) <= 100  # compressed
        assert wire.encode(wire.decode(blobs[0]), 3) == blobs[0]

    def test_drop_mode_and_empty(self):
        spec = TDigestSpec(max_size=50, on_invalid="drop")
        vals = np.array([np.nan, np.inf, 1.0, 2.0])
        k, blobs = spec.build_blobs_from_codes(
            np.array([0, 0, 1, 1]), [(0,), (1,)], vals, None
        )
        assert k == [(1,)]
        assert wire.decode(blobs[0]).count == 2.0


class TestAutoPrecision:
    """precision='auto' infers digest precision from the value column's
    Spark type, mirroring the reference Polars input-dtype rule
    (polars_expr.rs:522-544, 65-77): FloatType -> f32, else f64."""

    def test_float_column_yields_f32(self, spark):
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators import tdigest_agg
        from gr_tdigest_spark.sketches import wire

        df = spark.range(200).select(
            (F.col("id") % 4).alias("g"),
            F.col("id").cast("float").alias("x"),
        )
        out = tdigest_agg(df, ["g"], "x", max_size=100, precision="auto")
        blobs = [r["tdigest"] for r in out.collect()]
        assert blobs and all(
            wire.wire_precision(bytes(b)) == "f32" for b in blobs
        )

    def test_double_and_int_columns_yield_f64(self, spark):
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators import tdigest_agg
        from gr_tdigest_spark.sketches import wire

        for cast in ("double", "int"):
            df = spark.range(100).select(
                F.lit(0).alias("g"), F.col("id").cast(cast).alias("x")
            )
            out = tdigest_agg(df, ["g"], "x", max_size=100, precision="auto")
            b = bytes(out.collect()[0]["tdigest"])
            assert wire.wire_precision(b) == "f64", cast

    def test_explicit_precision_still_strict(self):
        import pytest
        from gr_tdigest_spark import validation

        assert validation.coerce_precision("f32") == "f32"
        with pytest.raises(ValueError):
            validation.coerce_precision("auto")  # only the agg surface resolves it


class TestPileGroupByPreAggregate:
    """pre_aggregate=True: JVM groupBy(keys, value) piles feed the
    weighted builder — only distinct values cross Arrow. Under digest
    capacity the result must be BYTE-identical to the row path (the
    kernel coalesces rows to the same piles)."""

    def test_uncompressed_byte_equal(self, spark, sf_dir):
        from gr_tdigest_spark.operators import tdigest_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        kw = dict(max_size=20000, policy="off")
        a = {
            r["l_returnflag"]: bytes(r["tdigest"])
            for r in tdigest_agg(
                li, ["l_returnflag"], "l_quantity", **kw
            ).collect()
        }
        b = {
            r["l_returnflag"]: bytes(r["tdigest"])
            for r in tdigest_agg(
                li, ["l_returnflag"], "l_quantity", pre_aggregate=True, **kw
            ).collect()
        }
        assert a == b and len(a) == 3

    def test_weighted_input_composes(self, spark, sf_dir):
        """With an explicit weight column the piles carry sum(weight):
        equal to the weighted row path in uncompressed mode."""
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators import tdigest_agg
        import gr_tdigest_spark.functions as Fn

        li = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .withColumn("w", (F.col("l_linenumber") % 3 + 1).cast("double"))
        )
        kw = dict(max_size=20000, policy="off")
        a = tdigest_agg(
            li, ["l_returnflag"], "l_quantity", weight_col="w", **kw
        ).select("l_returnflag", Fn.tdigest_quantile("tdigest", 0.37),
                 Fn.tdigest_count("tdigest")).collect()
        b = tdigest_agg(
            li, ["l_returnflag"], "l_quantity", weight_col="w",
            pre_aggregate=True, **kw
        ).select("l_returnflag", Fn.tdigest_quantile("tdigest", 0.37),
                 Fn.tdigest_count("tdigest")).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_compressed_quantiles_match(self, spark, sf_dir):
        from gr_tdigest_spark.operators import tdigest_agg
        import gr_tdigest_spark.functions as Fn

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        qa = {
            r[0]: r[1]
            for r in tdigest_agg(li, ["l_returnflag"], "l_extendedprice",
                                 max_size=200)
            .select("l_returnflag", Fn.tdigest_quantile("tdigest", 0.5))
            .collect()
        }
        qb = {
            r[0]: r[1]
            for r in tdigest_agg(li, ["l_returnflag"], "l_extendedprice",
                                 max_size=200, pre_aggregate=True)
            .select("l_returnflag", Fn.tdigest_quantile("tdigest", 0.5))
            .collect()
        }
        for k in qa:
            assert abs(qa[k] - qb[k]) / qa[k] < 0.01, k

    def test_invalid_values_still_raise(self, spark):
        import pytest
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators import tdigest_agg

        df = spark.range(10).select(
            F.lit("g").alias("g"),
            F.when(F.col("id") == 5, float("nan"))
            .otherwise(F.col("id").cast("double")).alias("x"),
        )
        with pytest.raises(Exception, match="NaN|not allowed"):
            tdigest_agg(df, ["g"], "x", pre_aggregate=True).collect()
