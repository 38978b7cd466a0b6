"""The one partial-build path: the values it hashes and the blobs it
emits on every surface that runs it (sketch_agg, checkpoint, stream)."""

import hashlib
from functools import reduce

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arrow_build import build_blobs
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


# the multi-flush partition: four flushes of 300 rows, each a shuffle
# of its keys' rows; 'a' is in every flush, 'b', 'c' and 'd' in some,
# and 'e''s values in flush 1 are all NaN (no rows survive for the
# specs that drop NaN)
_FLUSHES = (
    {"a": 150, "b": 100, "e": 50},
    {"a": 150, "c": 20, "e": 130},
    {"a": 100, "b": 150, "e": 50},
    {"a": 200, "d": 100},
)
_FLUSH_ROWS = 300

# (spec, value column, weight column) per case: the surface specs
# above, plus weighted (weights below and above 1) and f32 t-digests
_FLUSH_CASES = {
    **{name: (spec, col, None) for name, (spec, col) in
       _SURFACE_CASES.items()},
    "tdigest_weighted": (TDigestSpec(max_size=50), "v", "w"),
    "tdigest_f32": (TDigestSpec(max_size=50, precision="f32"), "v", None),
}

# sha256 of each case's sorted (key, sha256(blob)) list, as the
# partial builder emitted it before t-digest states became the decode
# of the blob encoder's output
_FLUSH_SHA = {
    "bloom":
        "384968979c6d7181c5522e80b346b88f72b7cee89ed685c6835e8693128dc723",
    "bottomk":
        "c5855cc2ca18fc062a9eee095c478fc88c9474371523f6a5990fd56615a1f1f8",
    "cms":
        "2ff0d4c11e3d27fc896e8004c908978198479e72837289b8ecaf1a4ae4d7ecfa",
    "hll":
        "6e317adf89e25f278a40d202205e2525b5e8641927829691ec6a4b1adfa1138e",
    "kll":
        "e81fd26005edafadcd7fcecf547289c90609d0a50b0c4daa0703b806a550922b",
    "minhash":
        "c06ca3d79cb0317ec4616113b82652f57b45a4ad8b61110d482a890bbb3539bd",
    "tdigest":
        "de9e7f2454d79ed10ac43f3b5d00853c37918fbf601eaa7ad29b29410d634520",
    "tdigest_drop":
        "1b542d2057e5c61d66a39455e47fe1e1981d6d1d300381cd99238ff8ebcd7e42",
    "tdigest_f32":
        "9466ded35f0b36fe974004207f2f2df847151061b656cb777f4d3b236270e196",
    "tdigest_weighted":
        "b480befac8593a8dfb3a7cc445dde37990a4e818f7bf94be7baee4c032f9b104",
}


def _flush_frame() -> pd.DataFrame:
    rng = np.random.default_rng(29)
    frames = []
    for i, sizes in enumerate(_FLUSHES):
        g = np.concatenate([[k] * n for k, n in sizes.items()])
        v = np.round(rng.standard_cauchy(g.size), 1)
        v_nan = np.where(np.arange(g.size) % 9 == 0, np.nan, v)
        if i == 1:
            v_nan[g == "e"] = np.nan
        frames.append(pd.DataFrame({
            "g": g, "v": v, "v_nan": v_nan,
            "w": (np.arange(g.size) % 4 + 1) * 0.5,
        }).sample(frac=1.0, random_state=i))
    return pd.concat(frames, ignore_index=True)


def _blobs_sha(blobs: dict) -> str:
    return hashlib.sha256(repr(sorted(
        (key, hashlib.sha256(blob).hexdigest())
        for key, blob in blobs.items()
    )).encode()).hexdigest()


@pytest.mark.parametrize("name", sorted(_FLUSH_CASES))
def test_multi_flush_partition(name):
    """A partition of four ``flush_rows`` flushes folds each key's
    per-flush blobs through ``merge_blob_array``: every key with a
    surviving row gets one blob, the order-free monoids equal the
    one-flush build, and every blob matches its recorded hash."""
    spec, col, w = _FLUSH_CASES[name]
    pdf = _flush_frame()
    multi = build_blobs(spec, pdf, ["g"], col, w,
                        batch_rows=_FLUSH_ROWS, flush_rows=_FLUSH_ROWS)
    single = build_blobs(spec, pdf, ["g"], col, w)
    assert sorted(multi) == sorted(single) == [(k,) for k in "abcde"]
    if name in ("hll", "cms", "bloom", "minhash", "bottomk"):
        assert multi == single
    assert _blobs_sha(multi) == _FLUSH_SHA[name]
