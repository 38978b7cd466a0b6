"""Checkpointed / resumable sketch builds.

Mirrors the reference CLI's ``--to-digest`` / ``--from-digest`` /
``--merge-digest`` batch flow (tdigest_cli.rs:734-778) at cluster scale:
partial sketch state is persisted per shard to a table with
**per-partition lineage and metrics**, and a rerun skips shards that
already checkpointed (north_rule resumability).

``ckpt_dir`` is either a filesystem path (parquet layout below) or a
catalog table ref like ``db.ckpt`` — table refs run through
``spark.read.table`` / ``writeTo`` via sources/tables.py, which is the
Iceberg API surface the north_rule names (point the session at an
Iceberg catalog and the checkpoint becomes transactional; the sandbox
exercises the built-in session catalog).

    partials/  (or <ref>_partials)
                shard_id int, <keys...>, <out_col> binary,
                rows_ingested long, n_keys long, wall_ms double,
                attempt string

Sharding is deterministic: rows are hash-repartitioned into
``n_shards`` by key (round-robin on values for global aggregates), so
shard N always receives the same rows for the same input — a resumed
run reprocesses only the missing shards and merges byte-identical
state.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import List, Optional, Sequence

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from gr_tdigest_spark.operators.agg import (
    SketchSpec, _merge_partials, _PartitionBuild, _project_input,
    _rows_batch,
)
from gr_tdigest_spark.sources.tables import (
    drop_table, is_table_ref, read_table, write_table,
)

__all__ = [
    "checkpointed_sketch_agg",
    "build_partials_checkpointed",
    "merge_from_checkpoint",
    "checkpoint_lineage",
]


def _partials_path(ckpt_dir: str) -> str:
    """Partials location: ``<dir>/partials`` for filesystem checkpoints,
    ``<table>_partials`` when ``ckpt_dir`` is a catalog-table ref
    (Iceberg surface — see sources/tables.py)."""
    if is_table_ref(ckpt_dir):
        return f"{ckpt_dir}_partials"
    return os.path.join(ckpt_dir, "partials")


def _clear_partials(spark: SparkSession, ckpt_dir: str) -> None:
    """Delete any existing partials (fresh, non-resuming run).

    Without this, ``mode('append')`` would leave prior-attempt rows in
    place and ``merge_from_checkpoint`` would double-count every shard.
    Uses the Hadoop FS API so the same code works on local paths, HDFS
    and object stores.
    """
    drop_table(spark, _partials_path(ckpt_dir))


def _completed_shards(spark: SparkSession, ckpt_dir: str) -> set:
    path = _partials_path(ckpt_dir)
    try:
        existing = read_table(spark, path)
    except Exception:
        return set()
    return {
        r[0] for r in existing.select("shard_id").distinct().collect()
    }


def build_partials_checkpointed(
    df: DataFrame,
    keys: Optional[Sequence[str]],
    value_col: str,
    spec: SketchSpec,
    ckpt_dir: str,
    n_shards: int = 64,
    weight_col: Optional[str] = None,
    out_col: Optional[str] = None,
    resume: bool = True,
) -> List[int]:
    """Build and persist per-shard partial sketches; returns the shard
    ids processed in THIS run (already-checkpointed shards are skipped
    when ``resume``)."""
    spark = df.sparkSession
    key_cols = list(keys) if keys else []
    out_col = out_col or spec.name
    attempt = uuid.uuid4().hex[:12]

    if resume:
        done = _completed_shards(spark, ckpt_dir)
    else:
        _clear_partials(spark, ckpt_dir)
        done = set()

    # the same projection, null filter and partial builder as
    # sketch_agg, with shard_id as the leading key column
    src = _project_input(df, key_cols, value_col, weight_col, spec)
    # deterministic sharding: hash of keys (or value for global aggs)
    shard_on = key_cols if key_cols else [value_col]
    src = src.withColumn(
        "shard_id",
        F.pmod(F.abs(F.hash(*shard_on)), F.lit(n_shards)).cast("int"),
    )
    if done:
        src = src.where(~F.col("shard_id").isin(sorted(done)))
    src = src.repartition(n_shards, "shard_id")

    out_schema = StructType(
        [StructField("shard_id", IntegerType(), False)]
        + [src.schema[k] for k in key_cols]
        + [StructField(out_col, BinaryType(), True),
           StructField("rows_ingested", LongType(), False),
           StructField("n_keys", LongType(), False),
           StructField("wall_ms", DoubleType(), False),
           StructField("attempt", StringType(), False)]
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)

    def build(batches):
        """Partials of every shard in the partition, plus per-shard
        lineage: rows ingested, keys built, wall time, attempt id."""
        t0 = time.perf_counter()
        part = _PartitionBuild(spec, ["shard_id"] + key_cols, value_col,
                               weight_col)
        rows = np.zeros(n_shards, dtype=np.int64)
        for batch in batches:
            part.add(batch)
            rows += np.bincount(batch.column("shard_id").to_numpy(),
                                minlength=n_shards)
        keys, blobs = part.blobs()
        if not keys:
            return
        sid = np.array([key[0] for key in keys])
        n_keys = np.bincount(sid, minlength=n_shards)
        wall = (time.perf_counter() - t0) * 1000.0
        yield _rows_batch(keys, [
            blobs, rows[sid].tolist(), n_keys[sid].tolist(),
            [wall] * sid.size, [attempt] * sid.size,
        ], arrow_schema)

    partials = src.mapInArrow(build, schema=out_schema)
    write_table(partials, _partials_path(ckpt_dir), mode="append")
    # report the shards actually written by THIS attempt (a shard with no
    # data never materializes and needs no processing)
    written = (
        read_table(spark, _partials_path(ckpt_dir))
        .where(F.col("attempt") == attempt)
        .select("shard_id").distinct().collect()
    )
    return sorted(r[0] for r in written)


def merge_from_checkpoint(
    spark: SparkSession,
    ckpt_dir: str,
    spec: SketchSpec,
    keys: Optional[Sequence[str]] = None,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Read all checkpointed partials and produce the final merged
    sketch table through ``sketch_agg``'s merge stage."""
    return _merge_partials(read_table(spark, _partials_path(ckpt_dir)), spec,
                           list(keys) if keys else [], out_col or spec.name)


def checkpoint_lineage(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Per-shard lineage/metrics: rows ingested, keys, wall time,
    attempt id — the audit trail the north_rule asks for."""
    p = read_table(spark, _partials_path(ckpt_dir))
    return (
        p.groupBy("shard_id", "attempt")
        .agg(
            F.max("rows_ingested").alias("rows_ingested"),
            F.count("*").alias("n_partial_rows"),
            F.max("wall_ms").alias("wall_ms"),
        )
        .orderBy("shard_id")
    )


def checkpointed_sketch_agg(
    df: DataFrame,
    keys: Optional[Sequence[str]],
    value_col: str,
    spec: SketchSpec,
    ckpt_dir: str,
    n_shards: int = 64,
    weight_col: Optional[str] = None,
    out_col: Optional[str] = None,
    resume: bool = True,
) -> DataFrame:
    """One-call checkpointed aggregate: build (resuming past shards),
    then merge from the checkpoint."""
    build_partials_checkpointed(
        df, keys, value_col, spec, ckpt_dir, n_shards,
        weight_col, out_col, resume,
    )
    return merge_from_checkpoint(
        df.sparkSession, ckpt_dir, spec, keys, out_col
    )
