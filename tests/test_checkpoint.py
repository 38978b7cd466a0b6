"""Checkpoint/resume: interrupted builds resume without reprocessing
completed shards; results match the direct aggregate."""

import shutil

import pytest
from pyspark.sql import functions as F

import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators import tdigest_agg
from gr_tdigest_spark.operators.agg import TDigestSpec
from gr_tdigest_spark.sources.checkpoint import (
    build_partials_checkpointed,
    checkpoint_lineage,
    checkpointed_sketch_agg,
    merge_from_checkpoint,
)


@pytest.fixture
def ckpt(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_checkpointed_matches_direct(spark, sf_dir, ckpt):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = TDigestSpec(max_size=20000, policy="off")
    out = checkpointed_sketch_agg(
        li, ["l_returnflag"], "l_quantity", spec, ckpt, n_shards=8
    )
    got = {
        r[0]: r[1]
        for r in out.select(
            "l_returnflag", Fn.tdigest_quantile("tdigest", 0.314159)
        ).collect()
    }
    direct = tdigest_agg(
        li, ["l_returnflag"], "l_quantity", max_size=20000, policy="off"
    )
    exp = {
        r[0]: r[1]
        for r in direct.select(
            "l_returnflag", Fn.tdigest_quantile("tdigest", 0.314159)
        ).collect()
    }
    assert got == exp


def test_checkpointed_bottomk_matches_direct(spark, sf_dir, ckpt):
    """The checkpoint surface is spec-generic: a bottom-k build through
    shards + resume-store merges equals the direct aggregate blob-for-
    blob (the sketch's partition-layout independence makes the shard
    split invisible)."""
    from gr_tdigest_spark.operators.companions import (
        BottomKSpec, bottomk_agg,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = BottomKSpec(k=32)
    out = checkpointed_sketch_agg(
        li, ["l_returnflag"], "l_orderkey", spec, ckpt, n_shards=6,
        out_col="bottomk",
    )
    got = {r[0]: bytes(r[1]) for r in
           out.select("l_returnflag", "bottomk").collect()}
    exp = {r[0]: bytes(r[1]) for r in
           bottomk_agg(li, ["l_returnflag"], "l_orderkey", k=32)
           .collect()}
    assert got == exp


def test_resume_skips_completed_shards(spark, sf_dir, ckpt):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = TDigestSpec(max_size=1000)

    done = build_partials_checkpointed(
        li, ["l_returnflag"], "l_quantity", spec, ckpt, n_shards=8
    )
    # 3 distinct keys → at most 3 data-bearing shards
    assert 1 <= len(done) <= 3

    # second run resumes: nothing left to do
    done2 = build_partials_checkpointed(
        li, ["l_returnflag"], "l_quantity", spec, ckpt, n_shards=8
    )
    assert done2 == []

    # merged result equals direct
    out = merge_from_checkpoint(spark, ckpt, spec, ["l_returnflag"])
    n = {
        r[0]: r[1]
        for r in out.select(
            "l_returnflag", Fn.tdigest_count("tdigest")
        ).collect()
    }
    exact = {
        r[0]: float(r[1])
        for r in li.groupBy("l_returnflag").count().collect()
    }
    assert n == exact


def test_lineage_records_metrics(spark, sf_dir, ckpt):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = TDigestSpec(max_size=1000)
    build_partials_checkpointed(
        li, ["l_returnflag"], "l_quantity", spec, ckpt, n_shards=4
    )
    lin = checkpoint_lineage(spark, ckpt).collect()
    assert {r["shard_id"] for r in lin} <= set(range(4))
    assert all(r["rows_ingested"] > 0 for r in lin)
    assert all(r["wall_ms"] >= 0 for r in lin)
    assert sum(r["rows_ingested"] for r in lin) == li.count()


def test_fresh_run_clears_stale_partials(spark, sf_dir, ckpt):
    """resume=False must clear prior partials: append-mode leftovers would
    make merge_from_checkpoint double-count every shard."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spec = TDigestSpec(max_size=20000, policy="off")
    build_partials_checkpointed(
        li, ["l_returnflag"], "l_quantity", spec, ckpt, n_shards=4
    )
    build_partials_checkpointed(
        li, ["l_returnflag"], "l_quantity", spec, ckpt, n_shards=4,
        resume=False,
    )
    out = merge_from_checkpoint(spark, ckpt, spec, ["l_returnflag"])
    got = {
        r[0]: r[1]
        for r in out.select(
            "l_returnflag", Fn.tdigest_count("tdigest").alias("n")
        ).collect()
    }
    exp = {
        r[0]: r[1]
        for r in li.groupBy("l_returnflag").count().collect()
    }
    assert got == {k: float(v) for k, v in exp.items()}


class TestCatalogTableCheckpoint:
    """Iceberg-surface adapter: ckpt_dir as a catalog table ref goes
    through spark.read.table / writeTo (sources/tables.py)."""

    def test_checkpoint_via_table_ref(self, spark, sf_dir):
        from gr_tdigest_spark.sources.tables import drop_table

        ref = "default.gr_ckpt_test"
        drop_table(spark, f"{ref}_partials")
        try:
            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            spec = TDigestSpec(max_size=20000, policy="off")
            out = checkpointed_sketch_agg(
                li, ["l_returnflag"], "l_quantity", spec, ref, n_shards=4
            )
            got = {
                r[0]: r[1]
                for r in out.select(
                    "l_returnflag",
                    Fn.tdigest_count("tdigest").alias("n"),
                ).collect()
            }
            exp = {
                r[0]: float(r[1])
                for r in li.groupBy("l_returnflag").count().collect()
            }
            assert got == exp
            # lineage readable through the same surface
            lin = checkpoint_lineage(spark, ref)
            assert lin.count() > 0
            # resume skips everything (no new shards)
            done2 = build_partials_checkpointed(
                li, ["l_returnflag"], "l_quantity", spec, ref, n_shards=4
            )
            assert done2 == []
        finally:
            drop_table(spark, f"{ref}_partials")

    def test_adapter_roundtrip_and_modes(self, spark, tmp_path):
        import pandas as pd
        from gr_tdigest_spark.sources.tables import (
            drop_table, is_table_ref, read_table, write_table,
            table_exists,
        )

        assert is_table_ref("db.tbl") and is_table_ref("cat.db.tbl")
        assert not is_table_ref("/a/b") and not is_table_ref("x.parquet")
        # a bare relative name is a PATH (a checkpoint dir must never
        # silently route to the warehouse); table: prefix forces table
        assert not is_table_ref("my_ckpt")
        assert is_table_ref("table:my_ckpt")
        assert not is_table_ref("db.tbl.parquet")

    def test_table_prefix_and_quoting(self, spark):
        import pytest
        from gr_tdigest_spark.sources.tables import (
            drop_table, read_table, table_exists, write_table,
        )
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame({"a": [7]}))
        ref = "table:gr_prefix_test"
        drop_table(spark, ref)
        try:
            write_table(df, ref, mode="overwrite")
            assert table_exists(spark, ref)
            assert read_table(spark, ref).count() == 1
        finally:
            drop_table(spark, ref)
        # the ref reaches SQL, so non-identifier chars must be rejected
        with pytest.raises(ValueError, match="identifier"):
            drop_table(spark, "table:x; DROP TABLE y")

    def test_adapter_modes_table_and_path(self, spark, tmp_path):
        import pandas as pd
        from gr_tdigest_spark.sources.tables import (
            drop_table, read_table, table_exists, write_table,
        )

        df = spark.createDataFrame(pd.DataFrame({"a": [1, 2]}))
        ref = "default.gr_adapter_test"
        drop_table(spark, ref)
        try:
            write_table(df, ref, mode="append")   # creates via writeTo
            assert table_exists(spark, ref)
            write_table(df, ref, mode="append")   # v1 fallback append
            assert read_table(spark, ref).count() == 4
            write_table(df, ref, mode="overwrite")
            assert read_table(spark, ref).count() == 2
        finally:
            drop_table(spark, ref)
        # path mode unchanged
        p = str(tmp_path / "t.parquet")
        write_table(df, p, mode="overwrite")
        assert read_table(spark, p).count() == 2


def test_checkpointed_hll_matches_sketch_agg_on_nullable_column(
    spark, ckpt
):
    """Regression (review finding): the checkpoint surface must apply
    the same JVM null filter as sketch_agg — otherwise a null anywhere
    in a shard frame flips the whole frame's int64 column to float64
    and the shard's sketches hash differently from sketch_agg's."""
    from gr_tdigest_spark.operators.companions import HLLSpec
    from gr_tdigest_spark.sources.checkpoint import checkpointed_sketch_agg
    from gr_tdigest_spark.operators.agg import sketch_agg

    rows = (
        [("a", i) for i in range(100)]
        + [("b", None)]
        + [("b", i) for i in range(100)]
    )
    df = spark.createDataFrame(rows, "g string, v long")
    spec = HLLSpec(p=10)
    got = {
        r["g"]: bytes(r["hll"])
        for r in checkpointed_sketch_agg(
            df, ["g"], "v", spec, ckpt, n_shards=4
        ).collect()
    }
    direct = {
        r["g"]: bytes(r["hll"])
        for r in sketch_agg(df, ["g"], "v", HLLSpec(p=10)).collect()
    }
    assert got == direct


@pytest.mark.parametrize("spec_name", ["tdigest", "hll"])
def test_key_column_doubling_as_value(spark, ckpt, spec_name):
    """A key column may also be the value column: the checkpoint
    projects its input like sketch_agg (deduped columns) and returns
    sketch_agg's blobs."""
    from gr_tdigest_spark.operators.agg import sketch_agg
    from gr_tdigest_spark.operators.companions import HLLSpec

    df = spark.range(0, 30, 1, 1).select((F.col("id") % 3).alias("x"))
    spec = TDigestSpec() if spec_name == "tdigest" else HLLSpec(p=10)
    got = {
        r["x"]: bytes(r[spec.name])
        for r in checkpointed_sketch_agg(
            df, ["x"], "x", spec, ckpt, n_shards=4
        ).collect()
    }
    direct = {
        r["x"]: bytes(r[spec.name])
        for r in sketch_agg(df, ["x"], "x", spec).collect()
    }
    assert sorted(got) == [0, 1, 2]
    assert got == direct
