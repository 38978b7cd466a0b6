"""One merge definition for every blob table.

``SketchSpec.merge_blobs`` says how one key merges (NULL blobs skipped,
a single blob returned as is, no blob is ``empty_blob()``), and
``_merge_partials`` is the one merge stage behind ``sketch_agg``, the
checkpoint and keyed ``merge_sketch_tables``. These tests hold every
surface to that definition: identity on one sketch, the NULL policy,
float-key canonicalization, the stage's output schema, and timestamp
keys in a non-UTC session.
"""

import datetime as dt
import math

import numpy as np
import pytest

from pyspark.sql import functions as F

import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators.agg import TDigestSpec, sketch_agg
from gr_tdigest_spark.operators.companions import (
    BloomSpec, HLLSpec, KLLSpec, cms_topk, merge_sketches,
)
from gr_tdigest_spark.operators.rollup import merge_sketch_tables
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.sketches.hll import HLL
from gr_tdigest_spark.sketches.tdigest import TDigest

_REBALANCE = "spark.gr_tdigest.agg.rebalance.maxBytes"


def _digest(seed: int) -> bytes:
    """A max_size-100 digest of Cauchy values: decoding and
    re-compressing it changes its bytes."""
    vals = np.random.default_rng(seed).standard_cauchy(2000)
    return td_wire.encode(TDigest.from_values(vals, max_size=100))


@pytest.fixture
def confs(spark):
    """Set session confs for one test, restoring them afterwards."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _tdigest_surfaces(spark, df):
    """``{surface: {g: blob}}`` of the t-digest merge of ``df``'s
    ``(g, v)`` rows on every merge surface."""
    Fn.register_sql(spark)
    df.createOrReplaceTempView("merge_identity")
    outs = {
        "merge_tdigests": df.groupBy("g").agg(
            Fn.merge_tdigests("v").alias("v")),
        "sql": spark.sql("SELECT g, tdigest_merge(v) AS v "
                         "FROM merge_identity GROUP BY g"),
        "merge_sketch_tables": merge_sketch_tables([df], ["g"], "v"),
    }
    return {
        name: {r["g"]: None if r["v"] is None else bytes(r["v"])
               for r in out.collect()}
        for name, out in outs.items()
    }


class TestMergeOfOneIsIdentity:
    def test_one_row_group_returns_its_blob(self, spark):
        blobs = [_digest(s) for s in range(4)]
        df = spark.createDataFrame(
            [(0, blobs[0]), (1, blobs[1]), (1, blobs[2]),
             (2, blobs[3]), (2, None)],
            "g int, v binary",
        )
        for name, got in _tdigest_surfaces(spark, df).items():
            assert got[0] == blobs[0], name
            assert got[2] == blobs[3], name
            merged = td_wire.decode(got[1])
            assert merged.count == 4000.0, name

    def test_null_only_group_is_empty_digest(self, spark):
        df = spark.createDataFrame(
            [(0, None), (0, None), (1, _digest(0))], "g int, v binary")
        for name, got in _tdigest_surfaces(spark, df).items():
            assert got[0] == td_wire.encode(TDigest()), name

    @pytest.mark.parametrize("spec", [HLLSpec(p=10), KLLSpec(k=32),
                                      BloomSpec(m_bits=1024, k=3)],
                             ids=["hll", "kll", "bloom"])
    def test_companion_null_only_group_is_null(self, spark, spec):
        one = spec.state_to_blob(spec.build_state(
            np.array([1.0, 2.0, 2.0]), None))
        df = spark.createDataFrame(
            [(0, None), (1, one), (1, None)], "g int, v binary")
        for out in (merge_sketch_tables([df], ["g"], "v", spec),
                    df.groupBy("g").agg(merge_sketches("v", spec)
                                        .alias("v"))):
            got = {r["g"]: r["v"] for r in out.collect()}
            assert got[0] is None
            assert bytes(got[1]) == one

    def test_merge_blobs_definition(self):
        spec = TDigestSpec()
        a, b = _digest(0), _digest(1)
        assert spec.merge_blobs([None, a, None]) == a
        assert spec.merge_blobs([]) == td_wire.encode(TDigest())
        assert spec.merge_blobs([None]) == spec.empty_blob()
        assert HLLSpec().merge_blobs([None]) is None
        both = td_wire.decode(spec.merge_blobs([a, b]))
        assert both.count == 4000.0


class TestMergeStageSchema:
    def test_pass_through_and_merged_batches_share_schema(
            self, spark, confs):
        """A key Spark hands in as NOT NULL (a filter on it sits right
        under the shuffle) in one shuffle partition, with a single-row
        key passing through and a multi-row key merged: both batches
        reach Spark under the declared, nullable schema."""
        confs("spark.sql.shuffle.partitions", "1")
        confs(_REBALANCE, "0")
        day1, day2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
        raw = spark.range(0, 40, 1, 4).select(
            F.when(F.col("id") == 0, F.lit(day1))
            .when(F.col("id") > 0, F.lit(day2)).alias("day"),
            F.col("id").cast("double").alias("v"),
        )
        spec = TDigestSpec(max_size=50)

        def counts(out):
            return sorted((r["day"], td_wire.decode(bytes(r["b"])).count)
                          for r in out.collect())

        built = sketch_agg(raw, ["day"], "v", spec, out_col="b")
        assert counts(built) == [(day1, 1.0), (day2, 39.0)]
        table = built.unionByName(
            built.where(F.col("day") == F.lit(day2))
        ).where(F.col("day") > F.lit(dt.date(2000, 1, 1)))
        assert counts(merge_sketch_tables([table], ["day"], "b", spec)) == [
            (day1, 1.0), (day2, 78.0)]


class TestFloatKeys:
    def test_merge_sketch_tables_folds_float_keys(self, spark):
        """NaN folds into NULL and -0.0 into 0.0, as ``_canon_key``
        documents: one row per canonical key, equal to ``sketch_agg``
        over the raw rows. (Spark's own groupBy keeps NaN apart.)"""
        raw = spark.createDataFrame(
            [(0, float("nan"), "a"), (1, None, "b"), (2, -0.0, "c"),
             (3, 0.0, "d"), (4, 1.5, "e"), (5, 1.5, "f"),
             (6, float("nan"), "a")],
            "rid long, k double, v string",
        )
        spec = HLLSpec(p=10)
        per_row = sketch_agg(raw, ["rid"], "v", spec, out_col="b").join(
            raw.select("rid", "k"), "rid")
        merged = merge_sketch_tables([per_row], ["k"], "b", spec)
        direct = sketch_agg(raw, ["k"], "v", spec, out_col="b")

        def rows(out):
            return sorted(((r["k"], bytes(r["b"])) for r in out.collect()),
                          key=lambda t: (t[0] is not None, t[0] or 0.0))

        got = rows(merged)
        assert [k for k, _ in got] == [None, 0.0, 1.5]
        assert math.copysign(1.0, got[1][0]) == 1.0
        assert got == rows(direct)
        null_key = HLL.from_bytes(got[0][1])
        assert round(null_key.estimate()) == 2  # 'a' twice, 'b'


class TestTimestampKeys:
    """Key and value timestamps keep their instant in a non-UTC session
    zone on the build, merge and top-k paths."""

    @pytest.fixture
    def la(self, spark, confs):
        confs("spark.sql.session.timeZone", "America/Los_Angeles")
        return spark.range(30).select(
            (F.lit(1704067200) + (F.col("id") % 3) * 3600)
            .cast("timestamp").alias("ts"),
            F.col("id").cast("double").alias("v"),
        )

    @pytest.mark.parametrize("max_bytes", [None, "0"],
                             ids=["gate", "two_phase"])
    def test_sketch_agg_and_merge_keep_keys(self, spark, confs, la,
                                            max_bytes):
        if max_bytes is not None:
            confs(_REBALANCE, max_bytes)
        want = sorted(r["ts"] for r in la.select("ts").distinct().collect())
        spec = TDigestSpec(max_size=50)
        built = sketch_agg(la, ["ts"], "v", spec, out_col="b")
        first = built.where(F.col("ts") == F.lit(want[0]))
        merged = merge_sketch_tables([built, built.exceptAll(first)],
                                     ["ts"], "b", spec)
        for out, counts in ((built, [10.0] * 3),
                            (merged, [10.0, 20.0, 20.0])):
            got = sorted((r["ts"], td_wire.decode(bytes(r["b"])).count)
                         for r in out.collect())
            assert got == list(zip(want, counts))

    def test_cms_topk_timestamp_values(self, spark, confs, la):
        confs(_REBALANCE, "0")
        # 9, 8 and 8 rows of the three instants
        df = la.where(F.col("v") < 25).select(F.lit("g").alias("g"), "ts")
        want = sorted(((r["ts"], r["n"]) for r in
                       df.groupBy("ts").agg(F.count("*").alias("n"))
                       .collect()), key=lambda t: (-t[1], t[0]))[:2]
        got = [(r["ts"], r["est_count"])
               for r in cms_topk(df, ["g"], "ts", k=2).collect()]
        assert got == want
