"""Blob digests of every build and merge surface, for byte-identity
checks across commits.

Builds each spec (t-digest in 'error', 'drop' and weighted form, HLL,
CMS, weighted CMS piles, Bloom, KLL, MinHash, bottom-k, weighted
bottom-k) over a fixture's lineitem table with three key sets (two
string columns, one high-cardinality long, global) through every build
and merge surface, and writes, per case, the sorted (key, sha256(blob))
list as JSON. The surfaces are ``sketch_agg`` as the gate plans it
(``agg``), forced two-phase with the rebalance disabled (``agg2``),
salted with ``salt_buckets=3`` (``salt``, keyed only),
``checkpointed_sketch_agg`` (``ckpt``) and ``merge_sketch_tables`` of
the odd and even ``l_orderkey`` halves (``mst``; keyless for the
global key set, t-digest with the default spec) and, for keyed
unweighted cases, ``sketch_stream_agg`` over the rows written as three
parquet files by ``l_orderkey % 3`` and read one file per trigger, so
each key's state merges micro-batch by micro-batch (``stream``; each
key's last emitted blob). ``rollup`` cases
build a per-``(l_returnflag, l_orderkey)`` t-digest table (default spec,
and ``max_size=100, precision='f32'``) and ``merge_sketch_tables`` it by
``l_returnflag``: thousands of blobs per key. ``cms_topk`` cases
(global, grouped with a small ``m``, grouped by a float key) record
their (keys, value, est_count) rows in output order. ``group_cdf`` cases
run ``with_group_cdf`` for both keyed key sets, over ``l_extendedprice``
in 'error' mode and over ``x_bad`` in 'drop' mode, and record the row
count and the sha256 of the sorted (l_orderkey, l_linenumber, cdf)
rows. The ``flush`` surface runs without Spark: every case goes
through the partial builder (``_partial_builder_arrow``) over the
lineitem rows as one partition, fed in ``FLUSH_ROWS``-row batches with
``flush_rows=FLUSH_ROWS``, so each key's blob folds across many
flushes. A case that raises is recorded as ``["ERROR <type>"]``. Run
it from the root of each checkout and diff the outputs (``flush`` as a
third argument runs only the Spark-free surface):

    python tools/blob_digests.py <sf_dir> <out.json> [flush]
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import SparkSession, functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    BinaryType, StructField, StructType,
)

from gr_tdigest_spark.operators.agg import (  # noqa: E402
    TDigestSpec, _partial_builder_arrow, sketch_agg,
)
from gr_tdigest_spark.operators.companions import (  # noqa: E402
    BloomSpec, BottomKSpec, CMSSpec, HLLSpec, KLLSpec, MinHashSpec,
    WeightedBottomKSpec, cms_topk,
)
from gr_tdigest_spark.operators.rollup import (  # noqa: E402
    merge_sketch_tables,
)
from gr_tdigest_spark.operators.window import with_group_cdf  # noqa: E402
from gr_tdigest_spark.sources.checkpoint import (  # noqa: E402
    checkpointed_sketch_agg,
)
from gr_tdigest_spark.streaming import sketch_stream_agg  # noqa: E402

KEY_SETS = (["l_returnflag", "l_linestatus"], ["l_suppkey"], None)
SURFACES = ("agg", "ckpt", "agg2", "salt", "mst", "stream")
STREAM_FILES = 3
FLUSH_ROWS = 997
REBALANCE_CONF = "spark.gr_tdigest.agg.rebalance.maxBytes"

# (name, spec) per rollup case
ROLLUP_CASES = (
    ("tdigest", TDigestSpec()),
    ("tdigest_f32", TDigestSpec(max_size=100, precision="f32")),
)

# (keys, value column, k, m) per cms_topk case
TOPK_CASES = (
    (None, "l_returnflag", 3, None),
    (["l_returnflag", "l_linestatus"], "l_suppkey", 5, 8),
    (["l_discount"], "l_suppkey", 3, None),
)

# (name, value column, cfg) per group_cdf case
CDF_CASES = (
    ("error", "l_extendedprice", dict(max_size=100)),
    ("drop", "x_bad", dict(max_size=100, on_invalid="drop")),
)


def cases():
    """(name, spec, value column, weight column) per spec and column."""
    return [
        ("tdigest_error", TDigestSpec(max_size=100), "l_extendedprice", None),
        ("tdigest_drop", TDigestSpec(max_size=100, on_invalid="drop"),
         "x_bad", None),
        ("tdigest_weighted", TDigestSpec(max_size=100), "l_quantity",
         "pile_w"),
        ("hll", HLLSpec(p=12), "l_orderkey", None),
        ("hll", HLLSpec(p=12), "l_shipdate", None),
        ("hll", HLLSpec(p=12), "l_returnflag", None),
        ("cms", CMSSpec(depth=3, width=512), "l_partkey", None),
        ("cms_piles", CMSSpec(depth=3, width=512), "l_partkey", "pile_w"),
        ("bloom", BloomSpec(m_bits=1 << 14, k=3), "l_orderkey", None),
        ("bloom", BloomSpec(m_bits=1 << 14, k=3), "l_shipdate", None),
        ("kll", KLLSpec(k=64), "l_extendedprice", None),
        ("kll", KLLSpec(k=64), "x_bad", None),
        ("minhash", MinHashSpec(k=32), "l_partkey", None),
        ("bottomk", BottomKSpec(k=16), "l_orderkey", None),
        ("bottomk", BottomKSpec(k=16), "l_shipdate", None),
        ("wbottomk", WeightedBottomKSpec(k=16), "l_orderkey", "race"),
    ]


def stream_source(li, keys, col, tmp) -> str:
    """Directory of ``STREAM_FILES`` parquet files holding ``li``'s
    (keys, col) rows split by ``l_orderkey % STREAM_FILES``, their
    modification times in split order (the order the file source reads
    them); written once per (keys, col)."""
    src = os.path.join(tmp, "stream_" + "+".join(keys + [col]))
    if os.path.isdir(src):
        return src
    os.makedirs(src)
    for i in range(STREAM_FILES):
        part = os.path.join(tmp, f"part{i}")
        (li.where(F.col("l_orderkey") % STREAM_FILES == i)
         .select(*dict.fromkeys(keys + [col])).coalesce(1)
         .write.parquet(part))
        dst = os.path.join(src, f"part{i}.parquet")
        shutil.move(glob.glob(os.path.join(part, "part-*.parquet"))[0], dst)
        shutil.rmtree(part)
        os.utime(dst, (1_700_000_000 + i,) * 2)
    return src


def stream(li, keys, col, spec, ckpt_dir):
    """The ``(keys, b)`` table of each key's last blob emitted by
    ``sketch_stream_agg`` over ``stream_source``, one file per
    trigger."""
    spark = li.sparkSession
    src = stream_source(li, keys, col, os.path.dirname(ckpt_dir))
    schema = spark.read.parquet(src).schema
    latest = {}
    q = (
        sketch_stream_agg(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
            keys, col, spec, out_col="b",
        )
        .writeStream.outputMode("update")
        .foreachBatch(lambda b, _: latest.update(
            (tuple(r[k] for k in keys), r["b"]) for r in b.collect()))
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        [(*k, b) for k, b in latest.items()],
        StructType([schema[k] for k in keys]
                   + [StructField("b", BinaryType())]),
    )


def build(li, surface, keys, spec, col, w, ckpt_dir):
    """The ``(keys, b)`` blob table of one case on one surface."""
    if surface == "stream":
        return stream(li, keys, col, spec, ckpt_dir)
    if surface == "ckpt":
        return checkpointed_sketch_agg(
            li, keys, col, spec, ckpt_dir, n_shards=8, weight_col=w,
            out_col="b", resume=False,
        )
    if surface == "mst":
        halves = [
            sketch_agg(li.where(F.col("l_orderkey") % 2 == odd), keys, col,
                       spec, weight_col=w, out_col="b")
            for odd in (1, 0)
        ]
        return merge_sketch_tables(
            halves, keys or [], "b",
            None if isinstance(spec, TDigestSpec) else spec,
        )
    if surface == "agg2":
        li.sparkSession.conf.set(REBALANCE_CONF, "0")
    return sketch_agg(li, keys, col, spec, weight_col=w, out_col="b",
                      salt_buckets=3 if surface == "salt" else None)


def digest_rows(rows, keys) -> list:
    """The sorted (key, sha256(blob)) rows of ``(keys, b)`` rows."""
    return sorted(
        [repr(tuple(r[k] for k in keys or [])),
         hashlib.sha256(bytes(r["b"])).hexdigest()]
        for r in rows
    )


def flush_digests(sf_dir: str) -> dict:
    """The ``flush`` surface: per case, the digest rows of the partial
    builder's output over the lineitem rows (with the Spark surfaces'
    derived columns and JVM null filter) as one partition of
    ``FLUSH_ROWS``-row batches, flushing every ``FLUSH_ROWS`` rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    li = pq.read_table(f"{sf_dir}/lineitem.parquet")
    line = li["l_linenumber"].to_numpy()
    price = li["l_extendedprice"].to_numpy()
    derived = {
        "x_bad": pa.array(np.where(line == 5, np.nan, price),
                          mask=line == 3),
        "race": pa.array(np.abs(li["l_discount"].to_numpy())
                         + li["l_orderkey"].to_numpy() * 1e-9),
        "pile_w": pa.array((line % 3 + 1).astype(np.float64)),
    }
    for name, arr in derived.items():
        li = li.append_column(name, arr)
    res = {}
    for keys in KEY_SETS:
        kn = "+".join(keys) if keys else "global"
        for name, spec, col, w in cases():
            case = f"flush/{name}/{kn}/{col}"
            t = li.select(list(dict.fromkeys(
                (keys or []) + [col] + ([w] if w else []))))
            if spec.skips_null_values:
                t = t.filter(pc.is_valid(t[col]))
            types = from_arrow_schema(t.schema)
            schema = StructType([types[k] for k in keys or []]
                                + [StructField("b", BinaryType())])
            try:
                build = _partial_builder_arrow(
                    spec, keys or [], col, w, schema, flush_rows=FLUSH_ROWS)
                rows = digest_rows(
                    [r for out in build(iter(t.to_batches(FLUSH_ROWS)))
                     for r in out.to_pylist()], keys)
            except Exception as e:  # recorded, not fatal
                rows = [f"ERROR {type(e).__name__}"]
            res[case] = rows
            print(case, len(rows), hashlib.sha256(
                repr(rows).encode()).hexdigest()[:12], flush=True)
    return res


def spark_digests(sf_dir: str) -> dict:
    """Every case on every Spark surface."""
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "America/Los_Angeles")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "*",
        # NULLs and NaNs for the 'drop' t-digest and KLL masking
        F.when(F.col("l_linenumber") == 3, F.lit(None).cast("double"))
        .when(F.col("l_linenumber") == 5, F.lit(float("nan")))
        .otherwise(F.col("l_extendedprice")).alias("x_bad"),
        (F.abs(F.col("l_discount")) + F.col("l_orderkey") * 1e-9)
        .alias("race"),
        (F.col("l_linenumber") % 3 + 1).cast("double").alias("pile_w"),
    )
    res = {}
    with tempfile.TemporaryDirectory() as tmp:
        for keys in KEY_SETS:
            kn = "+".join(keys) if keys else "global"
            for name, spec, col, w in cases():
                for surface in SURFACES:
                    if surface == "salt" and not keys:
                        continue
                    if surface == "stream" and (not keys or w):
                        continue
                    case = f"{surface}/{name}/{kn}/{col}"
                    try:
                        rows = digest_rows(build(
                            li, surface, keys, spec, col, w,
                            os.path.join(tmp, case.replace("/", "_"))
                        ).collect(), keys)
                    except Exception as e:  # recorded, not fatal
                        rows = [f"ERROR {type(e).__name__}"]
                    finally:
                        li.sparkSession.conf.unset(REBALANCE_CONF)
                    res[case] = rows
                    print(case, len(rows), hashlib.sha256(
                        repr(rows).encode()).hexdigest()[:12], flush=True)
    for name, spec in ROLLUP_CASES:
        case = f"rollup/{name}/l_returnflag/l_extendedprice"
        try:
            fine = sketch_agg(li, ["l_returnflag", "l_orderkey"],
                              "l_extendedprice", spec, out_col="b")
            rows = digest_rows(merge_sketch_tables(
                [fine], ["l_returnflag"], "b", spec).collect(),
                ["l_returnflag"])
        except Exception as e:  # recorded, not fatal
            rows = [f"ERROR {type(e).__name__}"]
        res[case] = rows
        print(case, len(rows), hashlib.sha256(
            repr(rows).encode()).hexdigest()[:12], flush=True)
    for keys, col, k, m in TOPK_CASES:
        kn = "+".join(keys) if keys else "global"
        case = f"topk/{kn}/{col}/k={k}/m={m}"
        try:
            got = [tuple(r) for r in cms_topk(
                li, keys, col, k=k, m=m).collect()]
            # groups come out in partition order, each in rank order
            got.sort(key=lambda r: repr(r[:len(keys or [])]))
            rows = [repr(r) for r in got]
        except Exception as e:  # recorded, not fatal
            rows = [f"ERROR {type(e).__name__}"]
        res[case] = rows
        print(case, len(rows), hashlib.sha256(
            repr(rows).encode()).hexdigest()[:12], flush=True)
    for keys in KEY_SETS[:2]:
        for name, col, cfg in CDF_CASES:
            case = f"group_cdf/{name}/{'+'.join(keys)}/{col}"
            try:
                got = sorted(repr(tuple(r)) for r in with_group_cdf(
                    li, keys, col, **cfg,
                ).select("l_orderkey", "l_linenumber", "cdf").collect())
                rows = [len(got), hashlib.sha256(
                    "\n".join(got).encode()).hexdigest()]
            except Exception as e:  # recorded, not fatal
                rows = [f"ERROR {type(e).__name__}"]
            res[case] = rows
            print(case, rows, flush=True)
    spark.stop()
    return res


def main(sf_dir: str, out: str, only: str = "") -> None:
    res = flush_digests(sf_dir)
    if only != "flush":
        res.update(spark_digests(sf_dir))
    with open(out, "w") as f:
        json.dump(res, f, indent=0)


if __name__ == "__main__":
    main(*sys.argv[1:4])
