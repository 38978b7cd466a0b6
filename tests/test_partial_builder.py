"""The one partial-build path: the values it hashes and the blobs it
emits on every surface that runs it (sketch_agg, checkpoint, stream)."""

from functools import reduce

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gr_tdigest_spark.operators.agg import SketchSpec, TDigestSpec, sketch_agg
from gr_tdigest_spark.operators.companions import (
    BloomSpec, BottomKSpec, CMSSpec, HLLSpec, KLLSpec, MinHashSpec,
)
from gr_tdigest_spark.sources.checkpoint import checkpointed_sketch_agg
from gr_tdigest_spark.streaming import sketch_stream_agg

# one column per Spark type, as SQL over id in [0, 60)
_TYPED = {
    "long": "id * 1000003",
    "int": "CAST(id * 7 AS INT)",
    "string": "CONCAT('s', CAST(id % 17 AS STRING))",
    "double": "CASE WHEN id % 5 = 0 THEN CAST('-0.0' AS DOUBLE) "
              "WHEN id % 5 = 1 THEN 0.0D ELSE id / 4.0D END",
    "boolean": "id % 3 = 0",
    "date": "DATE_ADD(DATE'2024-02-27', CAST(id AS INT))",
    "timestamp": "TIMESTAMP_MICROS(1700000000123456 + id * 3600000001)",
    "decimal": "CAST(id / 8 AS DECIMAL(10, 3))",
    "binary": "CAST(CONCAT('b', CAST(id % 11 AS STRING)) AS BINARY)",
}

_HASH_SPECS = {
    "hll": HLLSpec(p=10),
    "cms": CMSSpec(depth=3, width=64),
    "bloom": BloomSpec(m_bits=1024, k=3),
    "minhash": MinHashSpec(k=16),
    # the bottom-k wire stores the sampled values: int/float/str/bytes
    # only (timestamps arrive from pandas as int64 nanoseconds)
    "bottomk": BottomKSpec(k=8),
}
_BOTTOMK_TYPES = ("long", "int", "string", "double", "timestamp", "binary")


def _typed_frame(spark) -> DataFrame:
    return spark.range(0, 60, 1, 1).selectExpr(
        "CAST(id % 3 AS STRING) AS g",
        *(f"{expr} AS {name}" for name, expr in _TYPED.items()),
    )


@pytest.mark.parametrize("name", sorted(_HASH_SPECS))
def test_value_representation_per_type(spark, name):
    """Hash sketches are dtype-aware, so the partial builder must hand
    each type to the kernel exactly as Spark's pandas conversion does
    (a timestamp as datetime64[ns] wall-clock time, not Arrow's
    datetime64[us]): every sketch_agg blob equals the per-group
    reference built inside mapInPandas over the same rows."""
    spec = _HASH_SPECS[name]
    cols = _BOTTOMK_TYPES if name == "bottomk" else tuple(_TYPED)
    df = _typed_frame(spark)

    def reference(pdfs):
        pdf = pd.concat(list(pdfs), ignore_index=True)
        rows = [
            (col, key[0], spec.state_to_blob(st))
            for col in cols
            for key, st in
            SketchSpec.build_groups(spec, pdf, ["g"], col, None).items()
        ]
        yield pd.DataFrame(rows, columns=["col", "g", "b"])

    exp = {
        (r["col"], r["g"]): bytes(r["b"]) for r in
        df.mapInPandas(reference, "col string, g string, b binary")
        .collect()
    }
    got_df = reduce(DataFrame.unionByName, [
        sketch_agg(df, ["g"], col, spec, out_col="b")
        .select(F.lit(col).alias("col"), "g", "b")
        for col in cols
    ])
    got = {(r["col"], r["g"]): bytes(r["b"]) for r in got_df.collect()}
    assert len(exp) == 3 * len(cols)
    assert got == exp


# (spec, value column): every spec the stream accepts (no weights)
_SURFACE_CASES = {
    "tdigest": (TDigestSpec(max_size=50), "v"),
    "tdigest_drop": (TDigestSpec(max_size=50, on_invalid="drop"), "v_nan"),
    "hll": (HLLSpec(p=10), "v"),
    "cms": (CMSSpec(depth=3, width=64), "v"),
    "bloom": (BloomSpec(m_bits=1024, k=3), "v"),
    "kll": (KLLSpec(k=16), "v_nan"),
    "minhash": (MinHashSpec(k=16), "v"),
    "bottomk": (BottomKSpec(k=8), "v"),
}


@pytest.fixture(scope="module")
def surface_src(spark, tmp_path_factory):
    """One single-file parquet source: 4 groups of 100 rows with
    repeated values, and a copy of the values with NaNs."""
    path = str(tmp_path_factory.mktemp("surfaces") / "src")
    (spark.range(0, 400, 1, 1)
     .selectExpr(
         "CONCAT('g', CAST(id % 4 AS STRING)) AS g",
         "CAST(id * 37 % 101 AS DOUBLE) / 4 AS v",
         "IF(id % 9 = 0, CAST('NaN' AS DOUBLE), "
         "CAST(id * 37 % 101 AS DOUBLE) / 4) AS v_nan",
     )
     .write.parquet(path))
    return path


@pytest.fixture
def small_arrow_batches(spark):
    """Split every key's 100 rows over several Arrow batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "64")
    yield
    spark.conf.set(key, prev)


@pytest.mark.parametrize("name", sorted(_SURFACE_CASES))
def test_surfaces_emit_identical_blobs(spark, surface_src, tmp_path, name,
                                       small_arrow_batches):
    """sketch_agg, the checkpoint and a single-micro-batch stream run
    the same partial build — one build per key per partition or
    micro-batch, however many Arrow batches carry its rows — so each
    key's blob is byte-identical on all three surfaces for every spec."""
    spec, col = _SURFACE_CASES[name]
    df = spark.read.parquet(surface_src)
    agg = {r["g"]: bytes(r["b"]) for r in
           sketch_agg(df, ["g"], col, spec, out_col="b").collect()}
    ckpt = {r["g"]: bytes(r["b"]) for r in checkpointed_sketch_agg(
        df, ["g"], col, spec, str(tmp_path / "ckpt"), n_shards=4,
        out_col="b", resume=False,
    ).collect()}

    streamed = {}
    q = (
        sketch_stream_agg(
            spark.readStream.schema(df.schema).parquet(surface_src),
            ["g"], col, spec, out_col="b",
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda b, _: streamed.update(
            (r["g"], bytes(r["b"])) for r in b.collect()))
        .option("checkpointLocation", str(tmp_path / "stream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    assert sorted(agg) == ["g0", "g1", "g2", "g3"]
    assert ckpt == agg
    assert streamed == agg
