"""Cross-surface contract coherence (reference
integration/api_coherence/: every surface must agree on the canonical
pins and error contracts).

Surfaces: (1) kernel class, (2) Spark two-phase aggregate, (3) TDIG
wire round-trip, (4) spark.sql registered UDFs, (5) struct codec.
Canonical dataset [0,1,2,3] pins: Q50=1.5, CDF(2.0)=0.625
(conftest.py:19-24)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators import tdigest_agg
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.sketches.tdigest import TDigest

DATA = [0.0, 1.0, 2.0, 3.0]
PIN_Q50 = 1.5
PIN_CDF2 = 0.625

# constant arguments of the DataFrame functions behind the probe table;
# for SQL-registered rows their repr is the SQL literal of the same call
_DF_ARGS = {
    "tdigest_quantile": (0.5,), "tdigest_quantiles": ([0.25, 0.5],),
    "tdigest_cdf": (1.5,), "tdigest_cdfs": ([0.5, 1.5],),
    "tdigest_trimmed_mean": (0.1, 0.9), "tdigest_scale_weights": (2.0,),
    "tdigest_scale_values": (2.0,), "tdigest_cast_precision": ("f32",),
    "tdigest_to_version": (2,), "kll_quantile": (0.5,), "kll_rank": (1.5,),
    "cms_estimate": (["a", "b"],), "bloom_contains": ("a",),
    "cms_estimate_col": ("a",),
}
_KEY_COLUMN_ARGS = ("bloom_contains", "cms_estimate_col")


def _df_call(name, *cols):
    """The DataFrame function of probe-table row ``name`` over ``cols``."""
    from gr_tdigest_spark.operators import companions as C

    fn = getattr(Fn, name, None) or getattr(C, name)
    args = _DF_ARGS.get(name, ())
    if name in _KEY_COLUMN_ARGS:
        args = tuple(F.lit(a) for a in args)
    return fn(*cols, *args)


@pytest.fixture(scope="module")
def spark_digest(spark):
    pdf = spark.createDataFrame([(x,) for x in DATA], "x double")
    dg = tdigest_agg(pdf, None, "x", max_size=10)
    return dg


class TestCanonicalPinsAcrossSurfaces:
    def test_kernel(self):
        td = TDigest.from_values(DATA, max_size=10)
        assert td.quantile(0.5) == PIN_Q50
        assert td.cdf([2.0])[0] == PIN_CDF2

    def test_spark_aggregate(self, spark_digest):
        row = spark_digest.select(
            Fn.tdigest_quantile("tdigest", 0.5).alias("q"),
            Fn.tdigest_cdf("tdigest", 2.0).alias("c"),
        ).collect()[0]
        assert row["q"] == PIN_Q50
        assert row["c"] == PIN_CDF2

    def test_wire_roundtrip_all_versions(self, spark_digest):
        blob = bytes(spark_digest.collect()[0]["tdigest"])
        for v in (1, 2, 3):
            td = td_wire.decode(td_wire.encode(td_wire.decode(blob), v))
            assert td.quantile(0.5) == PIN_Q50
            assert td.cdf([2.0])[0] == PIN_CDF2

    def test_sql_surface(self, spark, spark_digest):
        Fn.register_sql(spark)
        spark_digest.createOrReplaceTempView("cs_digest")
        row = spark.sql(
            "SELECT tdigest_quantile(tdigest, 0.5) q, "
            "tdigest_cdf(tdigest, 2.0) c FROM cs_digest"
        ).collect()[0]
        assert row["q"] == PIN_Q50
        assert row["c"] == PIN_CDF2

    def test_struct_codec_surface(self, spark_digest):
        rt = spark_digest.select(
            Fn.tdigest_from_struct(
                Fn.tdigest_to_struct("tdigest")
            ).alias("tdigest")
        )
        row = rt.select(
            Fn.tdigest_quantile("tdigest", 0.5).alias("q")
        ).collect()[0]
        assert row["q"] == PIN_Q50

    def test_kernel_vector_cdf_pin(self):
        td = TDigest.from_values(DATA, max_size=10)
        np.testing.assert_array_equal(
            td.cdf([0.0, 1.5, 3.0]), [0.125, 0.5, 0.875]
        )


class TestErrorContractsAcrossSurfaces:
    """test_contract_probe_validation.py analogue."""

    def test_quantile_probe_validation_kernel_vs_function(self):
        td = TDigest.from_values(DATA)
        # core clamps finite q (quantile.rs:61); the strict frontend and
        # every public surface reject out-of-range/non-finite
        assert td.quantile(2.0) == td.max  # kernel-level clamp
        for bad in (-0.1, 1.5, math.inf, math.nan):
            with pytest.raises(ValueError):
                Fn.tdigest_quantile(F.col("c"), bad)

    def test_trimmed_bounds_strict(self):
        for lo, hi in [(0.9, 0.1), (-0.1, 0.5), (0.0, math.nan)]:
            with pytest.raises(ValueError):
                Fn.tdigest_trimmed_mean(F.col("c"), lo, hi)

    def test_empty_digest_queries(self, spark):
        dg = spark.range(1).select(
            Fn.empty_tdigest(max_size=10).alias("tdigest")
        )
        row = dg.select(
            Fn.tdigest_quantile("tdigest", 0.5).alias("q"),
            Fn.tdigest_cdf("tdigest", 1.0).alias("c"),
            Fn.tdigest_median("tdigest").alias("m"),
        ).collect()[0]
        assert row["q"] is None
        # kernel yields NaN (reference tdigest.rs:349-360); pandas NaN
        # crosses the Arrow boundary as SQL NULL — the Spark-idiomatic
        # missing value
        assert row["c"] is None or math.isnan(row["c"])
        assert row["m"] is None

    @pytest.mark.parametrize(
        "name", [p.name for p in Fn._TDIGEST_PROBES]
    )
    def test_null_blob_errors(self, spark, name):
        """Every t-digest row raises the same reference error on a NULL
        blob (no bare TypeError from decoding None)."""
        dg = spark.range(1).select(F.lit(None).cast("binary").alias("b"))
        with pytest.raises(Exception, match="null TDIG blob"):
            dg.select(_df_call(name, "b")).collect()

    def test_empty_bytes_blob_errors(self, spark):
        dg = spark.range(1).select(F.lit(b"").alias("b"))
        with pytest.raises(Exception, match="TDIG"):
            dg.select(Fn.tdigest_quantile("b", 0.5)).collect()

    def test_mixed_precision_merge_errors(self, spark):
        pdf = spark.createDataFrame([("A", 1.0), ("A", 2.0)], "g string, x double")
        d64 = tdigest_agg(pdf, ["g"], "x", max_size=100, precision="f64")
        d32 = tdigest_agg(pdf, ["g"], "x", max_size=100, precision="f32")
        with pytest.raises(Exception, match="precision"):
            d64.union(d32).groupBy("g").agg(
                Fn.merge_tdigests("tdigest").alias("m")
            ).collect()

    def test_infer_column_precision(self, spark):
        pdf = spark.createDataFrame([("A", 1.0)], "g string, x double")
        d32 = tdigest_agg(pdf, ["g"], "x", max_size=100, precision="f32")
        assert Fn.infer_column_precision(d32, "tdigest") == "f32"
        d64 = tdigest_agg(pdf, ["g"], "x", max_size=100)
        mixed = d32.union(d64)
        with pytest.raises(ValueError, match="Mixed"):
            Fn.infer_column_precision(mixed, "tdigest")
        assert Fn.infer_column_precision(mixed, "tdigest", strict=False) == "f64"


class TestArgumentMatrix:
    """scale × policy × precision matrix (test_contract_behavior.py
    argument matrix): every combination builds and answers coherently
    between kernel and Spark."""

    @pytest.mark.parametrize("scale", ["quad", "k1", "k2", "k3"])
    @pytest.mark.parametrize("policy", ["off", "use"])
    def test_matrix(self, spark, scale, policy):
        rng = np.random.default_rng(13)
        vals = np.round(rng.uniform(0, 100, 500), 2)
        kernel = TDigest.from_values(
            vals, max_size=50, scale=scale, policy=policy
        )
        pdf = spark.createDataFrame([(float(v),) for v in vals], "x double")
        dg = tdigest_agg(pdf, None, "x", max_size=50, scale=scale,
                         policy=policy)
        got = dg.select(
            Fn.tdigest_quantile("tdigest", 0.5).alias("q"),
            Fn.tdigest_count("tdigest").alias("n"),
        ).collect()[0]
        assert got["n"] == kernel.count
        # single-partition createDataFrame may still split; allow fp-level
        # difference from shard-order effects
        assert got["q"] == pytest.approx(kernel.quantile(0.5), rel=1e-2)


class TestCompanionSQLSurface:
    def test_all_registered_names_run_in_sql(self, spark, sf_dir):
        """Every register_companion_sql name executes in a SQL string
        and agrees with the Python surface."""
        import numpy as np
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import (
            bloom_agg, cms_agg, hll_agg, kll_agg, minhash_agg,
            register_companion_sql,
        )
        from gr_tdigest_spark.sketches.hll import HLL

        register_companion_sql(spark)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        hll_agg(li, ["l_returnflag"], "l_orderkey", p=12) \
            .createOrReplaceTempView("t_hll")
        cms_agg(li, None, "l_returnflag").createOrReplaceTempView("t_cms")
        bloom_agg(li, None, "l_returnflag", m_bits=1 << 14) \
            .createOrReplaceTempView("t_bloom")
        kll_agg(li, None, "l_extendedprice").createOrReplaceTempView("t_kll")
        minhash_agg(li, ["l_returnflag"], "l_orderkey", k=64) \
            .createOrReplaceTempView("t_mh")

        # merge + estimate round-trip equals python-side estimate
        est = spark.sql(
            "SELECT hll_estimate(hll_merge(hll)) AS e FROM t_hll"
        ).collect()[0]["e"]
        whole = HLL(p=12)
        pdf = li.select("l_orderkey").toPandas()
        whole.add(pdf["l_orderkey"].to_numpy())
        assert est == whole.estimate()

        ship = li.select("l_returnflag").first()["l_returnflag"]
        row = spark.sql(
            f"SELECT cms_estimate(cms, '{ship}') AS c, "
            f"bloom_contains(bloom, '{ship}') AS b "
            "FROM t_cms CROSS JOIN t_bloom"
        ).collect()[0]
        exact = li.where(F.col("l_returnflag") == ship).count()
        assert row["b"] is True and row["c"] >= exact > 0

        q = spark.sql(
            "SELECT kll_quantile(kll, 0.5) AS q FROM t_kll"
        ).collect()[0]["q"]
        assert q == float(np.float64(q)) and q > 0

        jrow = spark.sql(
            "SELECT minhash_jaccard(a.minhash, b.minhash) AS j, "
            "hll_intersect(ha.hll, hb.hll) AS ix "
            "FROM t_mh a, t_mh b, t_hll ha, t_hll hb "
            "WHERE a.l_returnflag='A' AND b.l_returnflag='A' "
            "AND ha.l_returnflag='A' AND hb.l_returnflag='A'"
        ).collect()[0]
        assert jrow["j"] == 1.0  # identical signatures
        assert jrow["ix"] >= 0.0

        ip = spark.sql(
            "SELECT cms_inner_product(a.cms, b.cms) AS ip "
            "FROM t_cms a, t_cms b"
        ).collect()[0]["ip"]
        assert ip > 0

        from gr_tdigest_spark.operators.companions import bottomk_agg

        bottomk_agg(li, ["l_returnflag"], "l_orderkey", k=16) \
            .createOrReplaceTempView("t_bk")
        bk = spark.sql(
            "SELECT l_returnflag, "
            "bottomk_distinct(bottomk_merge(bottomk)) AS d, "
            "size(bottomk_sample(bottomk_merge(bottomk))) AS s "
            "FROM t_bk GROUP BY l_returnflag"
        ).collect()
        assert len(bk) == 3
        for r in bk:
            assert r["s"] == 16 and r["d"] >= 16.0


def _sketches(family):
    """(sketch, empty sketch, sketch under another config) blobs."""
    from gr_tdigest_spark.sketches.bloom import BloomFilter
    from gr_tdigest_spark.sketches.bottomk import BottomK
    from gr_tdigest_spark.sketches.cms import CMS
    from gr_tdigest_spark.sketches.hll import HLL
    from gr_tdigest_spark.sketches.kll import KLL
    from gr_tdigest_spark.sketches.minhash import MinHash

    if family == "tdigest":
        return tuple(
            td_wire.encode(TDigest.from_values(v, max_size=m))
            for v, m in ((DATA, 10), ([], 10), (DATA, 20))
        )
    new = {
        "hll": lambda c: HLL(p=10 + 2 * c),
        "cms": lambda c: CMS(4, 64 << c, 7),
        "bloom": lambda c: BloomFilter(1024 << c, 3, 11),
        "minhash": lambda c: MinHash(k=16 << c, seed=23),
        "kll": lambda c: KLL(k=50 + c, seed=17),
        "bottomk": lambda c: BottomK(k=4 + c, seed=29),
    }[family]
    vals = (np.asarray(DATA) if family == "kll"
            else np.array(["a", "b", "c", "a"], dtype=object))
    full, empty, other = new(0), new(0), new(1)
    full.add(vals)
    other.add(vals)
    return full.to_bytes(), empty.to_bytes(), other.to_bytes()


def _values(df):
    """Column ``v`` ordered by ``id``/``g`` (NaN as None), or the kernel
    error both surfaces must share."""
    import re

    from pyspark.errors import PythonException

    try:
        rows = df.collect()
    except PythonException as e:
        errs = re.findall(r"ValueError: ([^\n]*)", str(e))
        return "raised: " + (errs[-1] if errs else str(e).splitlines()[0])
    out = [r["v"] for r in rows]
    return [None if isinstance(v, float) and math.isnan(v) else
            bytes(v) if isinstance(v, (bytes, bytearray)) else v
            for v in out]


class TestProbeTable:
    """One probe table serves both surfaces: every SQL-registered row
    answers the same on the DataFrame and SQL surfaces over the same
    blobs, NULL and empty sketches included."""

    SQL_NAMES = sorted([
        "tdigest_quantile", "tdigest_cdf", "tdigest_median",
        "tdigest_count", "tdigest_min", "tdigest_max", "tdigest_sum",
        "hll_merge", "cms_merge", "bloom_merge", "minhash_merge",
        "kll_merge", "bottomk_merge",
        "hll_estimate", "kll_quantile", "bottomk_distinct",
        "bottomk_sample", "bloom_contains", "cms_estimate",
        "minhash_jaccard", "hll_intersect", "cms_inner_product",
    ])

    def test_registered_sql_names_pinned(self):
        from gr_tdigest_spark.operators.companions import (
            register_companion_sql,
        )

        names = []

        class _Spark:
            class udf:
                @staticmethod
                def register(name, fn):
                    names.append(name)

        Fn.register_sql(_Spark)
        register_companion_sql(_Spark)
        assert sorted(names) == self.SQL_NAMES

    @pytest.mark.parametrize(
        "name", [p.name for p in Fn._PROBES.values() if p.sql]
    )
    def test_surfaces_agree(self, spark, name):
        from gr_tdigest_spark.operators.companions import (
            register_companion_sql,
        )

        Fn.register_sql(spark)
        register_companion_sql(spark)
        row = Fn._PROBES[name]
        family = name.split("_")[0]
        full, empty, other = _sketches(family)
        cols = [f"b{i}" for i in range(len(row.decode))]
        schema = "id int, " + ", ".join(f"{c} binary" for c in cols)
        sql_args = ", ".join(cols + [repr(a) for a in _DF_ARGS.get(name, ())])

        def both(cases):
            df = spark.createDataFrame(
                [(i, *c) for i, c in enumerate(cases)], schema
            ).orderBy("id")
            df.createOrReplaceTempView("probe_rows")
            return (
                _values(df.select(_df_call(name, *cols).alias("v"))),
                _values(spark.sql(
                    f"SELECT {row.sql}({sql_args}) AS v FROM probe_rows "
                    "ORDER BY id"
                )),
            )

        if len(cols) == 1:
            sketches, nulls = [(full,), (empty,)], [(None,)]
        else:
            sketches = [(full, full), (full, empty), (empty, full)]
            nulls = [(None, full), (full, None)]
        df_out, sql_out = both(sketches)
        assert df_out == sql_out and not isinstance(df_out, str)
        df_out, sql_out = both(nulls)
        assert df_out == sql_out
        if family == "tdigest":
            assert df_out.startswith("raised: null TDIG blob")
        else:
            assert df_out == [row.on_null] * len(nulls)
        if len(cols) == 2:
            df_out, sql_out = both([(full, other)])
            assert df_out == sql_out and df_out.startswith("raised: ")

    @pytest.mark.parametrize(
        "family", ["hll", "cms", "bloom", "minhash", "kll", "bottomk"]
    )
    def test_merges_agree(self, spark, family):
        from gr_tdigest_spark.operators import companions as C

        spec = {
            "hll": C.HLLSpec, "cms": C.CMSSpec, "bloom": C.BloomSpec,
            "minhash": C.MinHashSpec, "kll": C.KLLSpec,
            "bottomk": C.BottomKSpec,
        }[family]()
        C.register_companion_sql(spark)
        full, empty, other = _sketches(family)

        def both(rows):
            df = spark.createDataFrame(rows, "g int, v binary")
            df.createOrReplaceTempView("merge_rows")
            return (
                _values(df.groupBy("g").agg(
                    C.merge_sketches("v", spec).alias("v")).orderBy("g")),
                _values(spark.sql(
                    f"SELECT g, {family}_merge(v) AS v FROM merge_rows "
                    "GROUP BY g ORDER BY g"
                )),
            )

        df_out, sql_out = both([
            (0, full), (0, full), (1, empty), (1, full), (1, None),
            (2, None), (3, empty),
        ])
        assert df_out == sql_out and not isinstance(df_out, str)
        assert df_out[2] is None and df_out[3] == empty
        df_out, sql_out = both([(0, full), (0, other)])
        assert df_out == sql_out and df_out.startswith("raised: ")

    def test_sql_quantile_probe_validation(self, spark, spark_digest):
        Fn.register_sql(spark)
        spark_digest.createOrReplaceTempView("cs_digest")
        for bad in ("1.5", "-0.1", "CAST('NaN' AS DOUBLE)"):
            out = spark.sql(
                f"SELECT tdigest_quantile(tdigest, {bad}) AS v FROM cs_digest"
            )
            assert _values(out).startswith("raised: q must be")

    def test_tdigest_merge_of_no_digest_is_empty_digest(self, spark):
        df = spark.createDataFrame([(0, None), (0, None)], "g int, v binary")
        out = df.groupBy("g").agg(Fn.merge_tdigests("v").alias("v"))
        assert _values(out) == [td_wire.encode(TDigest())]

    @pytest.mark.parametrize(
        "name", [p.name for p in Fn._COMPANION_PROBES]
    )
    def test_companion_null_blob(self, spark, name):
        """Companion probes return their NULL policy value on a NULL
        blob on the DataFrame surface too (NULL, or 0 / false for
        ``cms_estimate_col`` / ``bloom_contains``)."""
        row = Fn._PROBES[name]
        assert row.on_null in (None, 0, False)
        dg = spark.range(1).select(F.lit(None).cast("binary").alias("b"))
        v = dg.select(_df_call(name, *["b"] * len(row.decode)).alias("v"))
        assert _values(v) == [row.on_null]
