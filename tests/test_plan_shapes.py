"""Physical-plan shape guards.

PLANS.md documents the intended shapes; these tests pin them so a
refactor can't silently regress scan pruning, shuffle counts, or the
top-k strategy. Counting `Exchange` nodes in the final physical plan
is the cheap proxy for "no extra shuffles appeared"."""

import re

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    # NOTE: must be executedPlan, not sparkPlan — sparkPlan precedes the
    # EnsureRequirements preparation rule, so it only contains EXPLICIT
    # repartition Exchanges, never the ones Spark inserts for aggregates.
    # executedPlan before any action is the initial AQE plan
    # (isFinalPlan=false): stable, and includes ENSURE_REQUIREMENTS hops.
    return df._jdf.queryExecution().executedPlan().toString()


_optimized = _plan


def _n_exchanges(df) -> int:
    return len(re.findall(r"\bExchange\b", _optimized(df)))


class TestTDigestAggPlans:
    def test_row_path_single_sketch_exchange(self, spark, sf_dir):
        from gr_tdigest_spark.operators import tdigest_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        dg = tdigest_agg(li, ["l_returnflag"], "l_extendedprice",
                         max_size=200)
        # exactly ONE shuffle: partial blobs repartitioned by key
        assert _n_exchanges(dg) == 1

    def test_scan_pruned_to_needed_columns(self, spark, sf_dir):
        from gr_tdigest_spark.operators import tdigest_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        dg = tdigest_agg(li, ["l_returnflag"], "l_extendedprice",
                         max_size=200)
        plan = _plan(dg)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"l_returnflag", "l_extendedprice"}

    def test_pile_preagg_two_exchanges(self, spark, sf_dir):
        from gr_tdigest_spark.operators import tdigest_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        dg = tdigest_agg(li, ["l_returnflag"], "l_quantity",
                         max_size=200, pre_aggregate=True)
        # pile shuffle (keys, value) + sketch shuffle (keys)
        assert _n_exchanges(dg) == 2
        # and the pile aggregate is JVM codegen, with a map-side partial
        plan = _optimized(dg)
        assert "HashAggregate" in plan and "partial_count" in plan

    def test_salted_path_two_hops(self, spark, sf_dir):
        from gr_tdigest_spark.operators import tdigest_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        dg = tdigest_agg(li, ["l_returnflag"], "l_extendedprice",
                         max_size=200, salt_buckets=4)
        # salt hop + de-salt hop, both sketch-sized
        assert _n_exchanges(dg) == 2


class TestQueryPlans:
    def test_bottomk_agg_single_exchange_pruned(self, spark, sf_dir):
        """The bottom-k sampler aggregates like every other sketch:
        one shuffle of sketch-sized partials, scan pruned to
        (keys, value)."""
        from gr_tdigest_spark.operators.companions import bottomk_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        sk = bottomk_agg(li, ["l_returnflag"], "l_orderkey", k=32)
        assert _n_exchanges(sk) == 1
        m = re.search(r"ReadSchema: struct<([^>]*)>", _plan(sk))
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"l_returnflag", "l_orderkey"}

    def test_assign_split_zero_exchanges(self, spark, sf_dir):
        from gr_tdigest_spark.operators.sample import assign_split

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        out = assign_split(li, "l_orderkey", {"a": 0.5, "b": 0.5})
        assert _n_exchanges(out) == 0

    def test_weighted_sample_take_ordered(self, spark, sf_dir):
        from gr_tdigest_spark.operators.sample import weighted_sample

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        s = weighted_sample(li, 50, "l_orderkey", "l_quantity")
        assert "TakeOrderedAndProject" in _plan(s)

    def test_cosine_topk_is_take_ordered(self, spark, sf_dir):
        from gr_tdigest_spark.operators.similarity import cosine_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.first()["embedding"]
        plan = _optimized(cosine_topk(emb, q, k=5))
        # top-k must NOT materialize a global sort
        assert "TakeOrderedAndProject" in plan

    def test_group_cdf_one_exchange_one_udf(self, spark, sf_dir):
        """with_group_cdf on a small input is one by-key pass: building
        it runs no Spark job, and its plan is one hash Exchange under
        one ArrowEvalPython (key, value and probe columns only), with
        no broadcast and no mapInArrow of whole rows."""
        from gr_tdigest_spark.operators.window import with_group_cdf

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_returnflag", "l_extendedprice"
        )
        jobs = spark.sparkContext.statusTracker()
        before = set(jobs.getJobIdsForGroup(None))
        out = with_group_cdf(
            li, ["l_returnflag"], "l_extendedprice", max_size=200
        )
        assert set(jobs.getJobIdsForGroup(None)) == before
        plan = _plan(out)
        assert _n_exchanges(out) == 1
        assert len(re.findall(r"\bExchange hashpartitioning\b", plan)) == 1
        assert len(re.findall(r"\bArrowEvalPython\b", plan)) == 1
        assert "BroadcastExchange" not in plan
        assert "MapInArrow" not in plan

    def test_exact_dedup_single_exchange_semi_join(self, spark, sf_dir):
        from gr_tdigest_spark.operators.dedup import dedup_exact

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = dedup_exact(docs, "doc_id", "text")
        plan = _optimized(out)
        assert "LeftSemi" in plan


class TestCmsTopKPlans:
    """cms_topk is one sketch-sized plan: building it runs no Spark job,
    the single-phase plan has one Python map node and the two-phase
    plan two, and neither broadcasts nor evaluates a per-row UDF."""

    @staticmethod
    def _python_maps(spark, build) -> int:
        jobs = spark.sparkContext.statusTracker()
        before = set(jobs.getJobIdsForGroup(None))
        df = build()
        assert set(jobs.getJobIdsForGroup(None)) == before
        plan = _plan(df)
        assert "BroadcastExchange" not in plan
        assert "ArrowEvalPython" not in plan
        return len(re.findall(r"\bMapIn(?:Arrow|Pandas)\b", plan))

    def test_single_phase_one_python_stage(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import cms_topk

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        n = self._python_maps(
            spark, lambda: cms_topk(ev, ["event_type"], "user_id", k=3))
        assert n == 1

    @pytest.mark.parametrize("keys", [None, ["event_type"]],
                             ids=["global", "grouped"])
    def test_two_phase_two_python_stages(self, spark, sf_dir, keys):
        from gr_tdigest_spark.operators.companions import cms_topk

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        # a disabled rebalance keeps a grouped input off the by-key plan
        spark.conf.set("spark.gr_tdigest.agg.rebalance.maxBytes", "0")
        try:
            n = self._python_maps(
                spark, lambda: cms_topk(ev, keys, "user_id", k=3))
        finally:
            spark.conf.unset("spark.gr_tdigest.agg.rebalance.maxBytes")
        assert n == 2


class TestMergeStagePlans:
    """Every blob-table merge hop is one mapInArrow node over a
    by-key exchange: no pandas node, no grouped aggregate, no sort."""

    @staticmethod
    def _merge_nodes(df) -> int:
        plan = _plan(df)
        assert "MapInPandas" not in plan
        assert "AggregateInPandas" not in plan
        assert not re.search(r"\bSort\b", plan), plan
        return len(re.findall(r"\bMapInArrow merge\(", plan))

    def test_merge_sketch_tables_keyed(self, spark):
        from gr_tdigest_spark.operators.rollup import merge_sketch_tables
        from gr_tdigest_spark.sketches import wire
        from gr_tdigest_spark.sketches.tdigest import TDigest

        blob = wire.encode(TDigest.from_values([1.0, 2.0], max_size=50))
        table = spark.createDataFrame(
            [("a", blob), ("a", blob), ("b", blob)], "g string, td binary")
        assert self._merge_nodes(
            merge_sketch_tables([table], ["g"], "td")) == 1

    @pytest.mark.parametrize("salt, hops", [(None, 1), (3, 2)],
                             ids=["two_phase", "salted"])
    def test_sketch_agg(self, spark, sf_dir, salt, hops):
        from gr_tdigest_spark.operators import tdigest_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        spark.conf.set("spark.gr_tdigest.agg.rebalance.maxBytes", "0")
        try:
            dg = tdigest_agg(li, ["l_returnflag"], "l_extendedprice",
                             max_size=50, salt_buckets=salt)
        finally:
            spark.conf.unset("spark.gr_tdigest.agg.rebalance.maxBytes")
        assert self._merge_nodes(dg) == hops

    def test_merge_from_checkpoint(self, spark, sf_dir, tmp_path):
        from gr_tdigest_spark.operators import TDigestSpec
        from gr_tdigest_spark.sources.checkpoint import (
            build_partials_checkpointed, merge_from_checkpoint,
        )

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        spec = TDigestSpec(max_size=50)
        build_partials_checkpointed(li, ["l_returnflag"], "l_extendedprice",
                                    spec, str(tmp_path), n_shards=4)
        merged = merge_from_checkpoint(spark, str(tmp_path), spec,
                                       ["l_returnflag"])
        assert self._merge_nodes(merged) == 1


class TestAQESkewJoin:
    def test_skewed_join_is_split_by_aqe(self, spark):
        """north_rule: 'AQE skew handling made explicit for hot
        conversations'. A hot-key fact-fact join must show AQE's skew
        split in the FINAL adaptive plan (SortMergeJoin(skew=true)).
        Production knobs (SKETCH_CONFS enables skewJoin; thresholds
        here are shrunk to test scale): when a downstream stage masks
        the skew decision, forceOptimizeSkewedJoin opts into the split
        even if it adds a shuffle — the right trade at 100 TB where one
        hot conversation would otherwise pin a single reduce task."""
        saved = {}
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "10k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        }
        for k, v in confs.items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        try:
            left = spark.range(0, 300_000).select(
                F.when(F.col("id") < 280_000, F.lit("hot"))
                .otherwise((F.col("id") % 50).cast("string")).alias("k"),
                F.col("id").alias("v"),
            )
            right = (
                spark.range(0, 2_000).select(
                    (F.col("id") % 60).cast("string").alias("k"),
                    F.col("id").alias("w"),
                )
                .union(spark.range(0, 200).select(
                    F.lit("hot").alias("k"), F.col("id").alias("w")))
            )
            cnt = left.join(right, "k").groupBy().count()
            rows = cnt.collect()[0][0]
            plan = cnt._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan, plan
            # the split preserves results: same count with skew
            # optimization off
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            try:
                rows_noskew = (
                    left.join(right, "k").groupBy().count().collect()[0][0]
                )
            finally:
                spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
            assert rows == rows_noskew and rows > 0
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
