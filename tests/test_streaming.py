"""Streaming t-digest: incremental micro-batch ingest must converge to
the same digest as an incremental batch build, including state recovery
from the checkpoint across query restarts."""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gr_tdigest_spark.operators.agg import TDigestSpec, sketch_agg
from gr_tdigest_spark.operators.companions import HLLSpec, KLLSpec
from gr_tdigest_spark.sketches.tdigest import TDigest
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.streaming import sketch_stream_agg, tdigest_stream_agg


def test_streaming_matches_incremental_batch(spark, tmp_path):
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    rng = np.random.default_rng(7)
    batches = []
    for b in range(3):
        ks = rng.integers(0, 3, 500)
        vs = np.round(rng.uniform(0, 100, 500), 1)
        batches.append(list(zip([f"g{k}" for k in ks], vs.tolist())))

    schema = "g string, x double"
    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            tdigest_stream_agg(stream, ["g"], "x", max_size=200)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # run 1: two micro-batch files
    spark.createDataFrame(batches[0], schema).write.mode("append").parquet(src)
    spark.createDataFrame(batches[1], schema).write.mode("append").parquet(src)
    run_once()

    # run 2: restart from checkpoint with one more file — state recovers
    spark.createDataFrame(batches[2], schema).write.mode("append").parquet(src)
    run_once()

    latest = {}
    for r in collected:
        latest[r["g"]] = r  # later epochs overwrite

    all_rows = [row for b in batches for row in b]
    for g in ["g0", "g1", "g2"]:
        vals = np.array([x for (k, x) in all_rows if k == g])
        got = td_wire.decode(bytes(latest[g]["tdigest"]))
        assert got.count == vals.size, g
        assert latest[g]["n"] == float(vals.size)
        assert abs(got.quantile(0.5) - np.quantile(vals, 0.5)) < 5.0
        assert got.min == vals.min() and got.max == vals.max()


def test_streaming_hll_matches_batch(spark, tmp_path):
    """The generic sketch_stream_agg streams ANY SketchSpec: streamed
    HLL state equals the batch HLL over the same rows byte-for-byte
    (same monoid, same fold)."""
    from gr_tdigest_spark.operators.companions import HLLSpec, hll_agg
    from gr_tdigest_spark.sketches.hll import HLL
    from gr_tdigest_spark.streaming import sketch_stream_agg

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rng = np.random.default_rng(9)
    schema = "g string, uid long"
    rows = [
        (f"g{k}", int(u))
        for k, u in zip(rng.integers(0, 2, 800), rng.integers(0, 500, 800))
    ]
    spark.createDataFrame(rows[:400], schema).write.mode("append").parquet(src)
    spark.createDataFrame(rows[400:], schema).write.mode("append").parquet(src)

    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sketch_stream_agg(stream, ["g"], "uid", HLLSpec(p=12))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    latest = {}
    for r in collected:
        latest[r["g"]] = r
    batch = {
        r["g"]: bytes(r["hll"])
        for r in hll_agg(
            spark.createDataFrame(rows, schema), ["g"], "uid", p=12
        ).collect()
    }
    for g, blob in batch.items():
        streamed = HLL.from_bytes(bytes(latest[g]["hll"]))
        expect = HLL.from_bytes(blob)
        assert streamed.estimate() == expect.estimate(), g
        n_rows = sum(1 for (k, _) in rows if k == g)
        assert latest[g]["n"] == float(n_rows)


def test_streaming_windowed_with_watermark(spark, tmp_path):
    """north_star: watermarks + windowed aggs for late data. Windowed
    digests compose by keying the stream on F.window(event_time): late
    rows inside the watermark still fold into their window's digest."""
    from gr_tdigest_spark.streaming import tdigest_stream_agg

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "ts timestamp, x double"

    import datetime as dt
    base = dt.datetime(2026, 1, 1, 0, 0, 0)

    def rows(minutes_vals):
        return [(base + dt.timedelta(minutes=m), float(v))
                for m, v in minutes_vals]

    # batch 1: two 10-minute windows
    b1 = rows([(1, 10.0), (2, 20.0), (11, 100.0), (12, 110.0)])
    # batch 2: a LATE row for window 0 (inside the 30-min watermark)
    # plus a new window
    b2 = rows([(3, 30.0), (25, 200.0)])
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)

    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "30 minutes")
        .withColumn("win", F.window("ts", "10 minutes").start)
    )
    q = (
        tdigest_stream_agg(stream, ["win"], "x", max_size=200)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    latest = {}
    for r in collected:
        latest[r["win"]] = r
    got = {w.isoformat(): (r["n"],
                           td_wire.decode(bytes(r["tdigest"])).max)
           for w, r in latest.items()}
    w0 = base.isoformat()
    w1 = (base + dt.timedelta(minutes=10)).isoformat()
    w2 = (base + dt.timedelta(minutes=20)).isoformat()
    # late row (minute 3, value 30) folded into window 0
    assert got[w0] == (3.0, 30.0), got
    assert got[w1] == (2.0, 110.0), got
    assert got[w2] == (1.0, 200.0), got


def test_streaming_minhash_matches_batch(spark, tmp_path):
    """MinHash through the same generic streaming plan: streamed
    signature equals the batch signature slot-for-slot (elementwise-min
    monoid is order-insensitive, so the micro-batch fold is exact)."""
    from gr_tdigest_spark.operators.companions import MinHashSpec, minhash_agg
    from gr_tdigest_spark.sketches.minhash import MinHash
    from gr_tdigest_spark.streaming import sketch_stream_agg

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rng = np.random.default_rng(11)
    schema = "g string, conv long"
    rows = [
        (f"g{k}", int(u))
        for k, u in zip(rng.integers(0, 2, 600), rng.integers(0, 300, 600))
    ]
    spark.createDataFrame(rows[:300], schema).write.mode("append").parquet(src)
    spark.createDataFrame(rows[300:], schema).write.mode("append").parquet(src)

    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sketch_stream_agg(stream, ["g"], "conv", MinHashSpec(k=128))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    latest = {}
    for r in collected:
        latest[r["g"]] = r
    batch = {
        r["g"]: bytes(r["minhash"])
        for r in minhash_agg(
            spark.createDataFrame(rows, schema), ["g"], "conv", k=128
        ).collect()
    }
    for g, blob in batch.items():
        streamed = MinHash.from_bytes(bytes(latest[g]["minhash"]))
        np.testing.assert_array_equal(
            streamed.sig, MinHash.from_bytes(blob).sig
        )


def test_streaming_bottomk_matches_batch(spark, tmp_path):
    """Bottom-k through the same generic streaming plan: the streamed
    sample/distinct state equals the batch sketch byte-for-byte (the
    keep-k-smallest monoid is order-insensitive — the 'running uniform
    sample over a stream' shape)."""
    from gr_tdigest_spark.operators.companions import (
        BottomKSpec, bottomk_agg,
    )
    from gr_tdigest_spark.streaming import sketch_stream_agg

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    rng = np.random.default_rng(13)
    schema = "g string, doc long"
    rows = [
        (f"g{k}", int(u))
        for k, u in zip(rng.integers(0, 2, 600), rng.integers(0, 400, 600))
    ]
    spark.createDataFrame(rows[:300], schema).write.mode("append").parquet(src)
    spark.createDataFrame(rows[300:], schema).write.mode("append").parquet(src)

    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sketch_stream_agg(stream, ["g"], "doc", BottomKSpec(k=32))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    latest = {}
    for r in collected:
        latest[r["g"]] = r
    batch = {
        r["g"]: bytes(r["bottomk"])
        for r in bottomk_agg(
            spark.createDataFrame(rows, schema), ["g"], "doc", k=32
        ).collect()
    }
    for g, blob in batch.items():
        assert bytes(latest[g]["bottomk"]) == blob, g


def test_streaming_hll_stable_dtype_across_null_batches(spark, tmp_path):
    """Regression (review finding): a value ingested in a null-bearing
    micro-batch must hash identically to one ingested in a clean batch
    (the JVM null filter keeps micro-batch dtypes native) — otherwise
    HLL double-counts and Bloom probes can miss."""
    from gr_tdigest_spark.operators.companions import HLLSpec
    from gr_tdigest_spark.sketches.hll import HLL
    from gr_tdigest_spark.streaming import sketch_stream_agg

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    schema = "g string, v long"
    # batch 1 contains a null alongside value 7; batch 2 is clean 7
    spark.createDataFrame([("a", 7), ("a", None)], schema) \
        .write.mode("append").parquet(src)
    spark.createDataFrame([("a", 7)], schema) \
        .write.mode("append").parquet(src)

    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sketch_stream_agg(stream, ["g"], "v", HLLSpec(p=12))
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    latest = {r["g"]: r for r in collected}
    got = HLL.from_bytes(bytes(latest["a"]["hll"]))
    ref = HLL(p=12)
    ref.add(np.array([7], dtype=np.int64))
    np.testing.assert_array_equal(got.registers, ref.registers)
    assert round(got.estimate()) == 1


def test_stream_dedup_exact_matches_batch_identity(spark, tmp_path):
    """Streaming dedup keeps exactly one row per content fingerprint
    across micro-batches AND across a checkpoint restart, and the
    surviving fingerprint SET equals batch dedup_exact's."""
    import pandas as pd  # noqa: F401  (parity with suite imports)
    from gr_tdigest_spark.operators.dedup import dedup_exact
    from gr_tdigest_spark.operators.text import with_fingerprint
    from gr_tdigest_spark.streaming import stream_dedup_exact

    src = str(tmp_path / "in_dd")
    ckpt = str(tmp_path / "ckpt_dd")
    os.makedirs(src)

    schema = "doc_id long, text string"
    b1 = [(1, "alpha doc"), (2, "beta doc"), (3, "Alpha   DOC")]
    b2 = [(4, "beta doc"), (5, "gamma doc"), (6, "alpha doc")]

    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_dedup_exact(stream, "text")
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    run_once()
    # restart from checkpoint: cross-run duplicates must still drop
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    run_once()

    # one survivor per fingerprint: 'alpha doc' ~ 'Alpha   DOC' (the
    # batch normalization), 'beta doc' deduped across runs
    batch = spark.createDataFrame(b1 + b2, schema)
    exp_fps = {
        r["fp"] for r in with_fingerprint(batch, "text", "fp")
        .select("fp").distinct().collect()
    }
    got_fps = [
        r["fp"] for r in with_fingerprint(
            spark.createDataFrame(collected, schema), "text", "fp"
        ).select("fp").collect()
    ]
    assert sorted(got_fps) == sorted(set(got_fps)), "dup fingerprint kept"
    assert set(got_fps) == exp_fps
    # and the batch operator sees the same identity partition
    assert dedup_exact(batch, "doc_id", "text").count() == len(exp_fps)
    # within-run + cross-run dedup actually dropped rows
    assert len(collected) == 3


def test_bloom_contamination_is_stream_safe(spark, tmp_path):
    """The bloom contamination path is stateless/shuffle-free, so it
    runs unchanged on a stream; per-row scores equal the batch run."""
    from gr_tdigest_spark.operators.contamination import (
        contamination_scores,
    )

    src = str(tmp_path / "in_ct")
    ckpt = str(tmp_path / "ckpt_ct")
    os.makedirs(src)

    schema = "doc_id long, text string"
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "totally novel words that never appeared anywhere else"),
        (3, "prefix words then the quick brown fox jumps over the end"),
    ]
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], ["text"]
    )
    spark.createDataFrame(rows, schema).write.mode("append").parquet(src)

    collected = []

    def sink(df, epoch_id):
        collected.extend(df.collect())

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        contamination_scores(stream, "doc_id", bench, n=3,
                             method="bloom", bloom_fpr=1e-9)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {r["doc_id"]: (r["n_grams"], r["n_hit"]) for r in collected}
    exp = {
        r["doc_id"]: (r["n_grams"], r["n_hit"])
        for r in contamination_scores(
            spark.createDataFrame(rows, schema), "doc_id", bench,
            n=3, method="bloom", bloom_fpr=1e-9
        ).collect()
    }
    assert got == exp
    assert got[1][1] == got[1][0] > 0   # benchmark copy fully hit
    assert got[2][1] == 0               # clean doc


def test_stream_dedup_null_text_passthrough(spark):
    """NULL-text docs have no content identity: ALL pass through
    (regression: dropDuplicates on the NULL fingerprint used to keep
    only the first).  stream_dedup_exact runs on batch DataFrames with
    the same plan, so this pins the semantics cheaply."""
    from gr_tdigest_spark.streaming import stream_dedup_exact

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x y"), (4, "x y")],
        "doc_id long, text string",
    )
    got = sorted(r["doc_id"] for r in
                 stream_dedup_exact(df, "text").collect()
                 if r["doc_id"] in (1, 2))
    assert got == [1, 2]
    assert stream_dedup_exact(df, "text").count() == 3


# sha256 of each spec's sorted (key, sha256(final blob)) list, as the
# stream emitted it when micro-batches merged as decoded states; the
# blob merge (merge_blobs) must keep every byte
_FOLD_SHA = {
    "hll":
        "2f98c8cee95695d1fecb1ac154b39a21a4ecc17982ed5a245a58aeb502e6e301",
    "kll":
        "5a7dca1e203f04eaa6a9edbcdbdde2e53d8ca26aec11e41cc67588dc15777eb1",
    "tdigest":
        "72fb479a95e7f08109f465bdfbd96f97b2c7300987301c99895d6b95c3515e0e",
}


_FOLD_SPECS = {
    "tdigest": TDigestSpec(max_size=50),
    "kll": KLLSpec(k=16),
    "hll": HLLSpec(p=10),
}


@pytest.mark.parametrize("name", sorted(_FOLD_SPECS))
def test_stream_state_folds_micro_batches(spark, tmp_path, name):
    """Three files read one per trigger are three micro-batches. Each
    key's final state is the in-order ``merge_blobs`` fold of the
    files' own ``sketch_agg`` blobs (over the files holding the key:
    'b' skips the last, 'c' the middle, 'd' is only in the last), and
    every final blob matches its recorded hash."""
    spec = _FOLD_SPECS[name]
    src = tmp_path / "in"
    src.mkdir()
    rng = np.random.default_rng(31)
    files = []
    for i, keys in enumerate(("abc", "ab", "acd")):
        g = rng.choice(list(keys), 240)
        x = np.round(rng.standard_cauchy(240), 2)
        files.append(str(src / f"part{i}.parquet"))
        pq.write_table(pa.table({"g": g, "x": x}), files[-1])
        # the file source orders files by modification time
        os.utime(files[-1], (1_700_000_000 + i,) * 2)

    epochs, latest = [], {}

    def sink(df, epoch_id):
        rows = df.collect()
        epochs.append(epoch_id)
        latest.update((r["g"], bytes(r["b"])) for r in rows)

    q = (
        sketch_stream_agg(
            spark.readStream.schema("g string, x double")
            .option("maxFilesPerTrigger", 1).parquet(str(src)),
            ["g"], "x", spec, out_col="b",
        )
        .writeStream.outputMode("update").foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(epochs) == 3

    per_file = [
        {r["g"]: bytes(r["b"]) for r in sketch_agg(
            spark.read.parquet(f), ["g"], "x", spec, out_col="b"
        ).collect()}
        for f in files
    ]
    assert sorted(latest) == list("abcd")
    for key, blob in latest.items():
        parts = [blobs[key] for blobs in per_file if key in blobs]
        acc = parts[0]
        for part in parts[1:]:
            acc = spec.merge_blobs([acc, part])
        assert blob == acc, key
    got = hashlib.sha256(repr(sorted(
        (key, hashlib.sha256(blob).hexdigest())
        for key, blob in latest.items()
    )).encode()).hexdigest()
    assert got == _FOLD_SHA[name]
