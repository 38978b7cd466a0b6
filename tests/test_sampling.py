"""Bottom-k (KMV) sketch + deterministic sampling operators.

Kernel laws, wire pins, the sketch_agg integration (layout
independence), and the plan shapes / contracts of uniform_sample and
stratified_sample."""

import os
import pickle
import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from gr_tdigest_spark.sketches.bottomk import BottomK

_SCALE = max(int(os.environ.get("HYP_EXAMPLES_SCALE", "1")), 1)


class TestBottomKKernel:
    def test_merge_equals_single_build_byte_exact(self):
        rng = np.random.default_rng(0)
        vals = rng.integers(0, 10_000, 50_000)
        whole = BottomK(k=128)
        whole.add(vals)
        for cut in (0, 1, 37, 25_000, 49_999):
            a, b = BottomK(k=128), BottomK(k=128)
            if cut:
                a.add(vals[:cut])
            if cut < len(vals):
                b.add(vals[cut:])
            assert a.merge(b).to_bytes() == whole.to_bytes()
            assert b.merge(a).to_bytes() == whole.to_bytes()

    @settings(max_examples=25 * _SCALE, deadline=None)
    @given(
        data=st.lists(st.integers(min_value=0, max_value=500),
                      min_size=1, max_size=400),
        split=st.integers(min_value=0, max_value=400),
    )
    def test_merge_law_property(self, data, split):
        split = min(split, len(data))
        arr = np.asarray(data)
        a, b = BottomK(k=32), BottomK(k=32)
        if split:
            a.add(arr[:split])
        if len(arr) - split:
            b.add(arr[split:])
        whole = BottomK(k=32)
        whole.add(arr)
        m = a.merge(b)
        assert m.to_bytes() == whole.to_bytes()
        assert m.n_items == len(arr)

    def test_distinct_exact_below_capacity(self):
        sk = BottomK(k=64)
        sk.add(np.arange(40))
        assert sk.distinct_estimate() == 40.0
        assert sorted(sk.sample()) == list(range(40))

    def test_distinct_estimate_within_bound(self):
        rng = np.random.default_rng(7)
        vals = rng.integers(0, 50_000, 300_000)
        sk = BottomK(k=256)
        sk.add(vals)
        exact = len(np.unique(vals))
        est = sk.distinct_estimate()
        assert abs(est - exact) / exact <= 5 * sk.std_error

    def test_duplicate_invariance(self):
        a = BottomK(k=16)
        a.add(np.array([1, 2, 3]))
        b = BottomK(k=16)
        b.add(np.array([1, 1, 2, 2, 3, 3, 3]))
        assert np.array_equal(a.hashes, b.hashes)
        assert a.sample() == b.sample()

    def test_signed_zero_canonical(self):
        a = BottomK(k=8)
        a.add(np.array([0.0, -0.0, 1.5]))
        b = BottomK(k=8)
        b.add(np.array([-0.0, 0.0, 1.5]))
        assert a.to_bytes() == b.to_bytes()

    def test_wire_roundtrip_types(self):
        for vals in (
            np.arange(10),
            np.linspace(0, 1, 10),
            np.array(["x", "yy", "zzz", ""], dtype=object),
            np.array([b"ab", b"", b"c"], dtype=object),
        ):
            sk = BottomK(k=8)
            sk.add(vals)
            rt = BottomK.from_bytes(sk.to_bytes())
            assert np.array_equal(rt.hashes, sk.hashes)
            assert rt.sample() == sk.sample()
            assert rt.n_items == sk.n_items

    def test_wire_corruption_matrix(self):
        sk = BottomK(k=8)
        sk.add(np.arange(20))
        blob = sk.to_bytes()
        with pytest.raises(ValueError, match="magic"):
            BottomK.from_bytes(b"XXXX" + blob[4:])
        with pytest.raises(ValueError):
            BottomK.from_bytes(blob[:-3])  # truncated payload
        forged = bytearray(blob)
        # count > k in the header
        struct.pack_into("<I", forged, 4 + struct.calcsize("<BIqd"), 99)
        with pytest.raises(ValueError, match="count exceeds k"):
            BottomK.from_bytes(bytes(forged))
        # k=1 in the header: no legal encoder writes it (constructor
        # requires k ≥ 2) — the decoder must reject it with the
        # wire-level message, not let __post_init__ raise later
        forged = bytearray(blob)
        struct.pack_into("<BIqd", forged, 4, 1, 1, 29, 2.0)
        with pytest.raises(ValueError, match="k out of range"):
            BottomK.from_bytes(bytes(forged))

    def test_golden_wire_bytes(self):
        """Hand-assembled GSBK v1 blob (change only with a version
        bump): k=2, seed=29, two int64 values."""
        sk = BottomK(k=2, seed=29)
        sk.add(np.array([5, 9], dtype=np.int64))
        h = sk.hashes
        vals = sk.sample()
        expect = (
            b"GSBK"
            + struct.pack("<BIqd", 1, 2, 29, 2.0)
            + struct.pack("<I", 2)
            + h.astype("<u8").tobytes()
            + b"i"
            + np.asarray(vals, dtype="<i8").tobytes()
        )
        assert sk.to_bytes() == expect

    def test_pickle_roundtrip(self):
        sk = BottomK(k=16)
        sk.add(np.array(["a", "b", "c"], dtype=object))
        rt = pickle.loads(pickle.dumps(sk))
        assert rt.to_bytes() == sk.to_bytes()

    def test_validation(self):
        with pytest.raises(ValueError, match="k must be"):
            BottomK(k=0)
        # k=1 rejected: the KMV estimator (k−1)/U_(k) degenerates to 0
        with pytest.raises(ValueError, match="k must be"):
            BottomK(k=1)
        with pytest.raises(ValueError, match="incompatible"):
            BottomK(k=8).merge(BottomK(k=16))

    def test_mixed_value_types_rejected_at_wire(self):
        """The wire tag dispatches on values[0]; a mixed object array
        must raise, never silently coerce (2.5 → int 2 would desync
        the stored value from its hash)."""
        sk = BottomK(k=8)
        sk.add(np.array([1, 2.5], dtype=object))
        with pytest.raises(ValueError, match="mixed value types"):
            sk.to_bytes()


class TestBottomKSpark:
    def test_agg_matches_kernel(self, spark):
        from gr_tdigest_spark.operators.companions import (
            bottomk_agg, bottomk_distinct,
        )
        from gr_tdigest_spark.sketches import bottomk as bk

        rows = [(chr(65 + i % 3), i % 500) for i in range(3000)]
        df = spark.createDataFrame(rows, "g string, v long")
        out = {
            r["g"]: bytes(r["bottomk"])
            for r in bottomk_agg(df, ["g"], "v", k=32).collect()
        }
        for g in "ABC":
            direct = bk.BottomK(k=32)
            direct.add(np.asarray(
                [v for gg, v in rows if gg == g], dtype=np.int64))
            assert out[g] == direct.to_bytes()
        est = {
            r["g"]: r["d"]
            for r in bottomk_agg(df, ["g"], "v", k=32)
            .select("g", bottomk_distinct("bottomk").alias("d")).collect()
        }
        # 500 distinct values round-robin over 3 groups
        for g in "ABC":
            exact = len({v for gg, v in rows if gg == g})
            assert abs(est[g] - exact) / exact <= 5 / np.sqrt(30)

    def test_layout_independence(self, spark):
        from gr_tdigest_spark.operators.companions import bottomk_agg

        rows = [(chr(65 + i % 2), f"id{i % 700}") for i in range(4000)]
        df = spark.createDataFrame(rows, "g string, v string")
        blobs = None
        for parts in (1, 2, 6):
            got = {
                r["g"]: bytes(r["bottomk"])
                for r in bottomk_agg(
                    df.repartition(parts), ["g"], "v", k=48
                ).collect()
            }
            if blobs is None:
                blobs = got
            else:
                assert got == blobs, parts


class TestSamplingOperators:
    def test_uniform_sample_plan_and_determinism(self, spark):
        from gr_tdigest_spark.operators.sample import uniform_sample

        df = spark.range(0, 20_000).withColumnRenamed("id", "doc_id")
        s = uniform_sample(df, 100, "doc_id", seed=1)
        plan = s._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        ids1 = sorted(r["doc_id"] for r in s.collect())
        assert len(ids1) == 100
        # deterministic under repartitioning
        ids2 = sorted(
            r["doc_id"] for r in
            uniform_sample(df.repartition(13), 100, "doc_id", seed=1)
            .collect()
        )
        assert ids1 == ids2
        # different seed → different draw
        ids3 = sorted(
            r["doc_id"] for r in
            uniform_sample(df, 100, "doc_id", seed=2).collect()
        )
        assert ids1 != ids3

    @pytest.mark.parametrize("method", ["sketch", "window"])
    def test_stratified_sample_contract(self, spark, method):
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = [(chr(65 + i % 3), i, f"payload{i}") for i in range(2000)]
        # group 'D' is tiny: fewer ids than k
        rows += [("D", 100_000 + i, "small") for i in range(4)]
        df = spark.createDataFrame(rows, "g string, doc_id long, txt string")
        out = stratified_sample(df, "g", 10, "doc_id", seed=3,
                                method=method).collect()
        by_g = {}
        for r in out:
            by_g.setdefault(r["g"], []).append(r["doc_id"])
        assert sorted(by_g) == ["A", "B", "C", "D"]
        for g in "ABC":
            assert len(by_g[g]) == 10
            assert len(set(by_g[g])) == 10
        assert sorted(by_g["D"]) == [100_000, 100_001, 100_002, 100_003]
        # rows come back with full width (semi-join / filter, no proj loss)
        assert {f.name for f in df.schema} == {
            f.name for f in
            stratified_sample(df, "g", 10, "doc_id", seed=3,
                              method=method).schema
        }

    def test_stratified_sketch_exact_expected_ids(self, spark):
        """The sketch method must return EXACTLY the k hash-smallest
        ids per group (not merely a deterministic set) — pinned against
        a driver-side numpy recomputation of the same hash."""
        from gr_tdigest_spark.operators.sample import stratified_sample
        from gr_tdigest_spark.sketches.hashing import hash64

        rows = [(chr(65 + i % 2), i) for i in range(400)]
        df = spark.createDataFrame(rows, "g string, doc_id long")
        seed = 6
        got = {}
        for r in stratified_sample(df, "g", 5, "doc_id",
                                   seed=seed).collect():
            got.setdefault(r["g"], set()).add(r["doc_id"])
        for g in "AB":
            ids = np.asarray([i for gg, i in rows if gg == g])
            h = hash64(ids, seed=seed)
            expect = set(ids[np.argsort(h)][:5].tolist())
            assert got[g] == expect, g

    def test_stratified_sketch_deterministic_across_layouts(self, spark):
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = [(chr(65 + i % 3), i) for i in range(3000)]
        df = spark.createDataFrame(rows, "g string, doc_id long")
        a = sorted(
            (r["g"], r["doc_id"]) for r in
            stratified_sample(df, "g", 7, "doc_id", seed=5).collect()
        )
        b = sorted(
            (r["g"], r["doc_id"]) for r in
            stratified_sample(df.repartition(11), "g", 7, "doc_id",
                              seed=5).collect()
        )
        assert a == b

    @pytest.mark.parametrize("method", ["sketch", "window"])
    def test_stratified_duplicate_ids_sample_distinct(self, spark, method):
        """Duplicate (group, id) rows: exactly min(k, DISTINCT ids)
        distinct ids survive, and every row carrying a sampled id comes
        back — same contract for both methods."""
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = [("A", i % 5, j) for i in range(20) for j in range(2)]
        df = spark.createDataFrame(rows, "g string, doc_id long, rep long")
        out = stratified_sample(df, "g", 3, "doc_id", seed=2,
                                method=method).collect()
        ids = [r["doc_id"] for r in out]
        assert len(set(ids)) == 3
        # each of the 5 candidate ids occurs 8 times in the input
        assert len(ids) == 3 * 8

    @pytest.mark.parametrize("method", ["sketch", "window"])
    def test_stratified_nonprimitive_id_types(self, spark, method):
        """Date/timestamp ids sample through an injective string cast
        instead of crashing in the sketch wire."""
        import datetime
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = [
            ("A", datetime.date(2024, 1, 1) + datetime.timedelta(days=i))
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "g string, d date")
        out = stratified_sample(df, "g", 5, "d", seed=1, method=method)
        got = out.collect()
        assert len(got) == 5
        assert {f.name for f in out.schema} == {"g", "d"}
        assert all(isinstance(r["d"], datetime.date) for r in got)

    @pytest.mark.parametrize("method", ["sketch", "window"])
    def test_stratified_null_ids_never_win_slots(self, spark, method):
        """NULL ids cannot survive the semi-join, so they must not
        occupy sample slots in either method (r4 review pin: the
        window method previously ranked NULL priorities)."""
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = [("A", i) for i in range(10)] + [("A", None)] * 5
        df = spark.createDataFrame(rows, "g string, doc_id long")
        out = stratified_sample(df, "g", 10, "doc_id", seed=1,
                                method=method).collect()
        ids = {r["doc_id"] for r in out}
        assert ids == set(range(10)), (method, sorted(ids))

    @pytest.mark.parametrize("method", ["sketch", "window"])
    def test_stratified_null_key_groups_sampled(self, spark, method):
        """NULL key VALUES form a real group on both methods (r5
        advice: the equi semi-join silently dropped NULL-key groups
        while the window partitionBy sampled them)."""
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = [("A", i) for i in range(20)] + [
            (None, 1000 + i) for i in range(20)
        ]
        df = spark.createDataFrame(rows, "g string, doc_id long")
        out = stratified_sample(df, "g", 5, "doc_id", seed=1,
                                method=method).collect()
        per = {}
        for r in out:
            per.setdefault(r["g"], set()).add(r["doc_id"])
        assert set(per) == {"A", None}, method
        assert len(per[None]) == 5 and len(per["A"]) == 5
        assert all(i >= 1000 for i in per[None])

    @pytest.mark.parametrize("method", ["sketch", "window"])
    def test_weighted_null_key_groups_sampled(self, spark, method):
        """Same NULL-key contract on the keyed weighted sampler."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        rows = [("A", i, 1.0) for i in range(20)] + [
            (None, 1000 + i, 1.0) for i in range(20)
        ]
        df = spark.createDataFrame(rows, "g string, doc_id long, w double")
        out = weighted_sample(df, 5, "doc_id", "w", seed=1, keys="g",
                              method=method).collect()
        per = {}
        for r in out:
            per.setdefault(r["g"], set()).add(r["doc_id"])
        assert set(per) == {"A", None}, method
        assert len(per[None]) == 5 and len(per["A"]) == 5

    def test_sketch_nan_float_keys_conflate_with_null(self, spark):
        """Float NaN keys: the sketch aggregate canonicalizes NaN →
        NULL (agg.py), so the sketch path samples {NaN ∪ NULL} keys as
        ONE conflated group and the null-safe join-back returns BOTH
        kinds of rows (documented method difference: the window path
        keeps NaN as its own group)."""
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = [(float("nan"), i) for i in range(10)] + [
            (None, 100 + i) for i in range(10)
        ]
        df = spark.createDataFrame(rows, "g double, doc_id long")
        out = stratified_sample(df, "g", 50, "doc_id", seed=1,
                                method="sketch").collect()
        # k > n: every row of the conflated group comes back
        assert len(out) == 20
        got_nan = {
            r["doc_id"] for r in out
            if r["g"] is not None and r["g"] != r["g"]
        }
        got_null = {r["doc_id"] for r in out if r["g"] is None}
        assert got_nan == set(range(10))
        assert got_null == {100 + i for i in range(10)}
        # partial k: the conflated group holds exactly k distinct ids
        small = stratified_sample(df, "g", 5, "doc_id", seed=1,
                                  method="sketch").collect()
        assert len({r["doc_id"] for r in small}) == 5

    def test_window_nan_float_keys_own_group(self, spark):
        """The window method keeps NaN as ITS OWN group — Spark's
        native NaN-equality matches it in the join-back (r6 review
        pin: applying the sketch path's NaN→NULL canonicalization to
        the window ids table dropped the NaN group entirely, worse
        than the pre-fix equi-join)."""
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = (
            [(float("nan"), i) for i in range(10)]
            + [(None, 100 + i) for i in range(10)]
            + [(1.0, 200 + i) for i in range(10)]
        )
        df = spark.createDataFrame(rows, "g double, doc_id long")
        out = stratified_sample(df, "g", 4, "doc_id", seed=1,
                                method="window").collect()
        nan_ids = {
            r["doc_id"] for r in out
            if r["g"] is not None and r["g"] != r["g"]
        }
        null_ids = {r["doc_id"] for r in out if r["g"] is None}
        one_ids = {r["doc_id"] for r in out if r["g"] == 1.0}
        assert len(nan_ids) == 4 and all(i < 100 for i in nan_ids)
        assert len(null_ids) == 4 and all(
            100 <= i < 200 for i in null_ids
        )
        assert len(one_ids) == 4 and all(i >= 200 for i in one_ids)

    def test_stratified_sketch_k1(self, spark):
        from gr_tdigest_spark.operators.sample import stratified_sample

        df = spark.createDataFrame(
            [(chr(65 + i % 3), i) for i in range(300)],
            "g string, doc_id long",
        )
        out = stratified_sample(df, "g", 1, "doc_id", seed=4).collect()
        per = {}
        for r in out:
            per.setdefault(r["g"], []).append(r["doc_id"])
        assert sorted(per) == ["A", "B", "C"]
        assert all(len(v) == 1 for v in per.values())

    def test_stratified_sketch_broadcast_plan(self, spark):
        from gr_tdigest_spark.operators.sample import stratified_sample

        df = spark.createDataFrame(
            [(chr(65 + i % 2), i) for i in range(500)],
            "g string, doc_id long",
        )
        s = stratified_sample(df, "g", 5, "doc_id")
        plan = s._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


class TestWeightedSample:
    def test_plan_size_determinism(self, spark):
        from gr_tdigest_spark.operators.sample import weighted_sample

        df = spark.range(0, 5000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7 + 1).cast("double").alias("w"),
        )
        s = weighted_sample(df, 50, "doc_id", "w", seed=3)
        plan = s._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        a = sorted(r["doc_id"] for r in s.collect())
        assert len(a) == 50
        b = sorted(
            r["doc_id"] for r in
            weighted_sample(df.repartition(9), 50, "doc_id", "w",
                            seed=3).collect()
        )
        assert a == b

    def test_weight_bias_and_eligibility(self, spark):
        """Inclusion tracks weight: a dominant-weight item is always
        sampled; weight-0/NULL rows never are; and across seeds the
        heavy stratum wins far more slots than the light one."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        rows = [(i, 100.0 if i < 50 else 1.0) for i in range(500)]
        rows += [(9_000, 1e9), (9_001, 0.0), (9_002, None)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        heavy_wins = 0
        for seed in range(8):
            got = {r["doc_id"] for r in
                   weighted_sample(df, 25, "doc_id", "w", seed=seed)
                   .collect()}
            assert 9_000 in got          # ~1e9 weight dominates
            assert 9_001 not in got and 9_002 not in got
            heavy_wins += sum(1 for d in got if d < 50)
        # 50 heavy (w=100) vs 450 light (w=1): heavy stratum holds
        # ~92% of total weight → expect the large majority of slots
        assert heavy_wins >= 0.6 * 8 * 25

    def test_per_group_window(self, spark):
        from gr_tdigest_spark.operators.sample import weighted_sample

        df = spark.createDataFrame(
            [(chr(65 + i % 3), i, float(1 + i % 4)) for i in range(600)],
            "g string, doc_id long, w double",
        )
        out = weighted_sample(df, 6, "doc_id", "w", seed=1, keys="g")
        per = {}
        for r in out.collect():
            per.setdefault(r["g"], set()).add(r["doc_id"])
        assert sorted(per) == ["A", "B", "C"]
        assert all(len(v) == 6 for v in per.values())


    def test_nan_weights_never_sampled(self, spark):
        """Spark orders NaN greater than any number, so `w > 0` alone
        would admit NaN rows whose NaN sort key dominates desc order —
        they must be filtered out (r4 review pin)."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        rows = [(i, 1.0) for i in range(100)]
        rows += [(1000 + i, float("nan")) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = {r["doc_id"] for r in
               weighted_sample(df, 20, "doc_id", "w", seed=0).collect()}
        assert len(got) == 20
        assert all(d < 1000 for d in got), "NaN-weight rows leaked in"


class TestWeightedSketchSample:
    """weighted_sample(keys=, method='sketch'): the bounded-state
    per-group path (WeightedBottomKSpec — a BottomK ordered on the
    exponential-race key's uint64 bit view)."""

    @staticmethod
    def _collect_sets(out):
        per = {}
        for r in out.collect():
            per.setdefault(r["g"], set()).add(r["doc_id"])
        return per

    def test_exact_aes_oracle_and_layout_independence(self, spark):
        """The sketch path must select EXACTLY the k smallest race keys
        E = -ln(u)/w per group — computable as a driver-side oracle from
        the same JVM expressions — and the selection must be identical
        under any partition layout."""
        from gr_tdigest_spark.operators.sample import (
            _WEIGHTED_SALT, _unit_uniform, weighted_sample,
        )

        df = spark.createDataFrame(
            [(chr(65 + i % 3), i, float(1 + i % 5)) for i in range(900)],
            "g string, doc_id long, w double",
        )
        per = self._collect_sets(
            weighted_sample(df, 7, "doc_id", "w", seed=4, keys="g")
        )
        assert sorted(per) == ["A", "B", "C"]
        assert all(len(v) == 7 for v in per.values())

        u = _unit_uniform(["doc_id"], 4 + _WEIGHTED_SALT)
        E = -F.log(u) / F.col("w")
        byg = {}
        for r in df.select("g", "doc_id", E.alias("E")).collect():
            byg.setdefault(r["g"], []).append((r["E"], r["doc_id"]))
        expect = {g: {d for _, d in sorted(v)[:7]} for g, v in byg.items()}
        assert expect == per

        for parts in (1, 2, 6, 13):
            got = self._collect_sets(
                weighted_sample(df.repartition(parts), 7, "doc_id", "w",
                                seed=4, keys="g")
            )
            assert got == per, parts

    def test_contract_sizes_and_eligibility(self, spark):
        """min(k, distinct eligible ids) distinct ids per group; NULL /
        NaN / non-positive weights and NULL ids never sampled; k=1
        (below the sketch's k≥2 floor) keeps exactly one id."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        rows = [("A", i, 1.0) for i in range(50)]
        rows += [("B", i, 2.0) for i in range(3)]          # under k
        rows += [("A", 900, 0.0), ("A", 901, None),
                 ("A", 902, float("nan")), ("A", None, 5.0)]
        df = spark.createDataFrame(rows, "g string, doc_id long, w double")
        per = self._collect_sets(
            weighted_sample(df, 10, "doc_id", "w", seed=2, keys="g")
        )
        assert len(per["A"]) == 10 and len(per["B"]) == 3
        assert all(d is not None and d < 900 for d in per["A"])

        one = self._collect_sets(
            weighted_sample(df, 1, "doc_id", "w", seed=2, keys="g")
        )
        assert len(one["A"]) == 1 and len(one["B"]) == 1

    def test_weight_bias(self, spark):
        """A dominant-weight id is always sampled; across seeds the
        heavy stratum wins far more slots (same law as the global
        path, now per group through the sketch)."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        rows = [("G", i, 100.0 if i < 40 else 1.0) for i in range(400)]
        rows += [("G", 9_000, 1e9)]
        df = spark.createDataFrame(rows, "g string, doc_id long, w double")
        heavy = 0
        for seed in range(6):
            got = self._collect_sets(
                weighted_sample(df, 20, "doc_id", "w", seed=seed,
                                keys="g")
            )["G"]
            assert 9_000 in got
            heavy += sum(1 for d in got if d < 40)
        # 40×w=100 vs 360×w=1 → heavy stratum holds ~92% of weight
        assert heavy >= 0.6 * 6 * 20

    def test_plan_no_window_bounded_state(self, spark):
        """The scale pin: no per-group Window anywhere in the plan —
        partial mapInPandas states (≤ k entries/group) + one keyed
        Exchange + a broadcast LEFT SEMI join back."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        df = spark.createDataFrame(
            [(chr(65 + i % 3), i, float(1 + i % 4)) for i in range(600)],
            "g string, doc_id long, w double",
        )
        out = weighted_sample(df, 6, "doc_id", "w", seed=1, keys="g")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        win = weighted_sample(df, 6, "doc_id", "w", seed=1, keys="g",
                              method="window")
        wplan = win._jdf.queryExecution().executedPlan().toString()
        assert "Window" in wplan  # the documented small-group path

    @pytest.mark.slow
    def test_hot_group_million_rows(self, spark):
        """The skew shape the sketch path exists for: one group with
        ≥ 10⁶ rows costs bounded per-executor state and returns the
        exact contract sizes."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        df = (
            spark.range(0, 1_200_000, 1, 16)
            .select(
                F.when(F.col("id") < 1_000_000, F.lit("hot"))
                .otherwise(F.lit("cold")).alias("g"),
                F.col("id").alias("doc_id"),
                (F.col("id") % 9 + 1).cast("double").alias("w"),
            )
        )
        per = self._collect_sets(
            weighted_sample(df, 100, "doc_id", "w", seed=5, keys="g")
        )
        assert len(per["hot"]) == 100 and len(per["cold"]) == 100
        # determinism at a different layout even at this size
        per2 = self._collect_sets(
            weighted_sample(df.repartition(7), 100, "doc_id", "w",
                            seed=5, keys="g")
        )
        assert per2 == per

    def test_multi_and_nonprimitive_id_cols(self, spark):
        """Multi-column ids sample through an injective JSON rendering;
        dates through a string cast — both deterministic and exact."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        df = spark.createDataFrame(
            [("A", i % 10, f"s{i}", float(1 + i % 3))
             for i in range(200)],
            "g string, part int, name string, w double",
        )
        out = weighted_sample(df, 5, ["part", "name"], "w", seed=3,
                              keys="g")
        rows = {(r["part"], r["name"]) for r in out.collect()}
        assert len(rows) == 5
        assert "__sample_id" not in out.columns
        rows2 = {
            (r["part"], r["name"])
            for r in weighted_sample(df.repartition(5), 5,
                                     ["part", "name"], "w", seed=3,
                                     keys="g").collect()
        }
        assert rows2 == rows

        # one weight per id (the A-ES model): duplicate ids carrying
        # different weights keep several race entries — documented
        dd = df.withColumn(
            "d", F.date_add(F.lit("2024-01-01").cast("date"), F.col("part"))
        ).withColumn("w", (F.col("part") % 3 + 1).cast("double"))
        od = weighted_sample(dd, 4, "d", "w", seed=3, keys="g")
        assert len({r["d"] for r in od.collect()}) == 4


class TestAssignSplit:
    def test_exhaustive_disjoint_stable(self, spark):
        from gr_tdigest_spark.operators.sample import assign_split

        df = spark.range(0, 20_000).withColumnRenamed("id", "doc_id")
        fr = {"train": 0.8, "val": 0.1, "test": 0.1}
        out = assign_split(df, "doc_id", fr, seed=7)
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count("*").alias("n"))
                  .collect()}
        assert sum(counts.values()) == 20_000
        assert abs(counts["train"] / 20_000 - 0.8) < 0.02
        assert abs(counts["val"] / 20_000 - 0.1) < 0.01
        # growth stability: assignments of the first 10k ids are
        # unchanged when 10k more rows exist
        small = {
            r["doc_id"]: r["split"] for r in
            assign_split(spark.range(0, 10_000)
                         .withColumnRenamed("id", "doc_id"),
                         "doc_id", fr, seed=7).collect()
        }
        big = {r["doc_id"]: r["split"] for r in out.collect()
               if r["doc_id"] < 10_000}
        assert small == big

    def test_no_shuffle_plan_and_validation(self, spark):
        import pytest
        from gr_tdigest_spark.operators.sample import assign_split

        df = spark.range(0, 100).withColumnRenamed("id", "doc_id")
        out = assign_split(df, "doc_id", {"a": 1.0, "b": 1.0})
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        with pytest.raises(ValueError, match="at least one"):
            assign_split(df, "doc_id", {})
        with pytest.raises(ValueError, match="positive"):
            assign_split(df, "doc_id", {"a": -1.0, "b": 2.0})
        # zero fractions are as unassignable as negative ones
        with pytest.raises(ValueError, match="positive"):
            assign_split(df, "doc_id", {"a": 0.0, "b": 1.0})

    def test_composes_with_weighted_sample_unbiased(self, spark):
        """r4 review pin: weighted_sample and assign_split use salted
        hash domains, so sampling then splitting at the SAME seed must
        still produce all splits in ~their fractions (a shared domain
        would pile every sampled row into the last split)."""
        from gr_tdigest_spark.operators.sample import (
            assign_split, weighted_sample,
        )

        df = spark.range(0, 20_000).select(
            F.col("id").alias("doc_id"), F.lit(1.0).alias("w")
        )
        sampled = weighted_sample(df, 2_000, "doc_id", "w", seed=0)
        out = assign_split(sampled, "doc_id",
                           {"train": 0.8, "val": 0.2}, seed=0)
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count("*").alias("n"))
                  .collect()}
        assert sum(counts.values()) == 2_000
        assert abs(counts.get("train", 0) / 2_000 - 0.8) < 0.05
        assert abs(counts.get("val", 0) / 2_000 - 0.2) < 0.05


class TestWeightedTieSemantics:
    """The race-key tie fixes (r5 review): priority ties are real
    (w=+inf ⇒ E=0; 53-bit-u collisions at 10⁹-row scale) and must
    neither drop ids nor resolve layout-dependently."""

    def test_kernel_keeps_distinct_values_on_priority_tie(self):
        from gr_tdigest_spark.sketches.bottomk import WeightedBottomK

        a = WeightedBottomK(k=4, seed=0)
        a._combine(np.array([5, 5, 9], dtype=np.uint64),
                   np.array([20, 10, 30], dtype=object))
        # both ids with priority 5 kept, value-ordered; exact duplicate
        # (priority, value) pairs collapse
        assert list(a.hashes) == [5, 5, 9]
        assert list(a.values) == [10, 20, 30]
        a._combine(np.array([5, 5], dtype=np.uint64),
                   np.array([10, 15], dtype=object))
        assert list(a.values) == [10, 15, 20, 30]  # k=4 cap, E=9 evicted

    def test_kernel_merge_order_independent_under_ties(self):
        from gr_tdigest_spark.sketches.bottomk import WeightedBottomK

        def mk(pairs):
            sk = WeightedBottomK(k=3, seed=0)
            sk._combine(
                np.array([p for p, _ in pairs], dtype=np.uint64),
                np.array([v for _, v in pairs], dtype=object),
            )
            return sk

        x = mk([(0, 7), (0, 3)])
        y = mk([(0, 5), (1, 1)])
        z = mk([(0, 9), (0, 3)])
        ab = x.merge(y).merge(z)
        ba = z.merge(x).merge(y)
        assert list(ab.hashes) == list(ba.hashes)
        assert list(ab.values) == list(ba.values) == [3, 5, 7]

    def test_wire_roundtrip_with_duplicate_priorities(self):
        from gr_tdigest_spark.sketches.bottomk import (
            BottomK, WeightedBottomK,
        )

        sk = WeightedBottomK(k=8, seed=3)
        sk._combine(np.array([0, 0, 0, 2], dtype=np.uint64),
                    np.array(["a", "b", "c", "d"], dtype=object))
        sk.n_items = 4.0
        blob = sk.to_bytes()
        assert blob[:4] == b"GSWK"
        rt = WeightedBottomK.from_bytes(blob)
        assert list(rt.hashes) == [0, 0, 0, 2]
        assert list(rt.values) == ["a", "b", "c", "d"]
        assert rt.to_bytes() == blob
        # cross-kind decode is rejected by magic on both sides
        with pytest.raises(ValueError, match="magic"):
            BottomK.from_bytes(blob)
        with pytest.raises(ValueError, match="magic"):
            WeightedBottomK.from_bytes(BottomK(k=2).to_bytes())
        # GSWK allows equal adjacent priorities but not descending ones
        forged = bytearray(blob)
        import struct as _st
        off = 4 + _st.calcsize("<BIqd") + 4
        _st.pack_into("<QQ", forged, off, 9, 1)
        with pytest.raises(ValueError, match="ascending"):
            WeightedBottomK.from_bytes(bytes(forged))
        # the KMV wire still requires STRICT ascent
        bk = BottomK(k=8, seed=3)
        bk.add(np.array([1, 2, 3], dtype=np.int64))
        forged = bytearray(bk.to_bytes())
        off = 4 + _st.calcsize("<BIqd") + 4
        _st.pack_into("<QQ", forged, off, 7, 7)
        with pytest.raises(ValueError, match="strictly"):
            BottomK.from_bytes(bytes(forged))

    def test_inf_weights_deterministic_and_match_window(self, spark):
        """All w=+inf rows race at E=+0.0: the sketch path must keep
        the k smallest ids (value tie-break) — the same set the window
        path's id-asc tie-break selects — under any layout."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        rows = [("G", i, float("inf")) for i in range(20)]
        rows += [("G", 100 + i, 1.0) for i in range(50)]
        df = spark.createDataFrame(rows, "g string, doc_id long, w double")
        want = set(range(8))  # 8 smallest inf-weight ids
        for parts in (1, 3, 7):
            got = {r["doc_id"] for r in
                   weighted_sample(df.repartition(parts), 8, "doc_id",
                                   "w", seed=2, keys="g").collect()}
            assert got == want, parts
        win = {r["doc_id"] for r in
               weighted_sample(df, 8, "doc_id", "w", seed=2, keys="g",
                               method="window").collect()}
        assert win == want

    def test_spec_tie_collision_layout_independent(self):
        """Drive the spec's build_blobs_from_codes directly with crafted
        race-key collisions split across flushes in different orders —
        the merged state must be identical."""
        import pandas as pd
        from arrow_build import build_states
        from gr_tdigest_spark.operators.companions import (
            WeightedBottomKSpec,
        )

        spec = WeightedBottomKSpec(k=3, seed=0)
        ids = [30, 10, 20, 40, 50]
        es = [0.5, 0.5, 0.5, 0.5, 7.0]  # four-way collision
        pdf = pd.DataFrame({"g": ["A"] * 5, "id": ids, "e": es})
        whole = build_states(spec, pdf, ["g"], "id", "e")[("A",)]
        assert list(whole.values) == [10, 20, 30]
        for split in ([2, 5], [1, 3, 5], [4, 5]):
            prev = 0
            state = None
            for hi in split:
                part = build_states(
                    spec, pdf.iloc[prev:hi], ["g"], "id", "e"
                ).get(("A",))
                if part is not None:
                    state = part if state is None else \
                        spec.merge_states(state, part)
                prev = hi
            assert list(state.values) == list(whole.values), split
            assert list(state.hashes) == list(whole.hashes), split

    @settings(max_examples=40 * _SCALE, deadline=None)
    @given(
        pairs=st.lists(
            st.tuples(st.integers(min_value=0, max_value=7),   # priority
                      st.integers(min_value=0, max_value=40)), # value
            min_size=0, max_size=60,
        ),
        split=st.integers(min_value=0, max_value=60),
    )
    def test_weighted_merge_law_property(self, pairs, split):
        """Monoid law under heavy ties: any shard split of a (priority,
        value) multiset merges to the same state as the single build —
        the tiny priority domain forces constant collisions, exercising
        exactly the tie-break path."""
        from gr_tdigest_spark.sketches.bottomk import WeightedBottomK

        split = min(split, len(pairs))

        def mk(ps):
            sk = WeightedBottomK(k=8, seed=0)
            if ps:
                sk._combine(
                    np.array([p for p, _ in ps], dtype=np.uint64),
                    np.array([v for _, v in ps], dtype=object),
                )
                sk.n_items = float(len(ps))
            return sk

        whole, a, b = mk(pairs), mk(pairs[:split]), mk(pairs[split:])
        m, n = a.merge(b), b.merge(a)
        assert m.to_bytes() == whole.to_bytes() == n.to_bytes()
        # idempotent under self-merge (n_items bookkeeping aside)
        again = m.merge(m)
        assert list(again.hashes) == list(m.hashes)
        assert list(again.values) == list(m.values)

    def test_k_capacity_validated_upfront(self, spark):
        from gr_tdigest_spark.operators.sample import (
            stratified_sample, weighted_sample,
        )

        df = spark.createDataFrame(
            [("A", 1, 1.0)], "g string, doc_id long, w double"
        )
        with pytest.raises(ValueError, match="sketch capacity"):
            weighted_sample(df, 100_000, "doc_id", "w", keys="g")
        with pytest.raises(ValueError, match="sketch capacity"):
            stratified_sample(df, "g", 100_000, "doc_id")
        # window has no such bound — plan construction must succeed
        weighted_sample(df, 100_000, "doc_id", "w", keys="g",
                        method="window")
        stratified_sample(df, "g", 100_000, "doc_id", method="window")

    def test_stratified_window_drops_nan_ids(self, spark):
        """r5 parity: stratified_sample's WINDOW path must exclude NaN
        float ids like its sketch path (_missing_mask) does."""
        from gr_tdigest_spark.operators.sample import stratified_sample

        rows = [("G", float(i)) for i in range(10)]
        rows += [("G", float("nan")), ("G", None)]
        df = spark.createDataFrame(rows, "g string, doc_id double")
        for method in ("sketch", "window"):
            got = [r["doc_id"] for r in
                   stratified_sample(df, "g", 5, "doc_id", seed=1,
                                     method=method).collect()]
            assert len(got) == 5, method
            assert all(d is not None and d == d for d in got), method

    def test_window_method_drops_nan_and_null_ids(self, spark):
        """r5 contract alignment: the keyed WINDOW path excludes NULL
        and NaN ids, matching the sketch path."""
        from gr_tdigest_spark.operators.sample import weighted_sample

        rows = [("G", float(i), 1.0) for i in range(10)]
        rows += [("G", float("nan"), 1e9), ("G", None, 1e9)]
        df = spark.createDataFrame(rows, "g string, doc_id double, w double")
        for method in ("sketch", "window"):
            got = [r["doc_id"] for r in
                   weighted_sample(df, 5, "doc_id", "w", seed=0,
                                   keys="g", method=method).collect()]
            assert len(got) == 5, method
            assert all(d is not None and d == d for d in got), method


class TestLargeKGlobalSampling:
    """The r5 verdict's large-k edge: the global samplers' TakeOrdered
    merge point held k·n_partitions FULL-WIDTH rows.  The 'ids' path
    samples over a skinny projection and semi-joins facts back."""

    def _wide(self, spark, n=30_000):
        return (
            spark.range(0, n).withColumnRenamed("id", "doc_id")
            .withColumn("payload", F.repeat(F.lit("x"), 500))
        )

    def test_ids_path_matches_rows_path_id_set(self, spark):
        """Both paths take the k hash-smallest ids — same ID SET when
        ids are row-unique, full row width preserved."""
        from gr_tdigest_spark.operators.sample import uniform_sample

        df = self._wide(spark)
        rows_ids = sorted(
            r["doc_id"] for r in
            uniform_sample(df, 500, "doc_id", seed=9,
                           method="rows").collect()
        )
        got = uniform_sample(df, 500, "doc_id", seed=9, method="ids")
        assert sorted(r["doc_id"] for r in got.collect()) == rows_ids
        assert set(got.columns) == {"doc_id", "payload"}
        # deterministic across layouts
        again = sorted(
            r["doc_id"] for r in
            uniform_sample(df.repartition(17), 500, "doc_id", seed=9,
                           method="ids").collect()
        )
        assert again == rows_ids

    def test_ids_path_plan_is_skinny_with_prefilter(self, spark):
        """Plan pin: the TakeOrdered consumes the skinny id projection
        (no payload column in its output) below a hash-threshold
        Filter — full-width rows never reach the merge point."""
        from gr_tdigest_spark.operators.sample import uniform_sample

        df = self._wide(spark)
        plan = (
            uniform_sample(df, 500, "doc_id", seed=9, method="ids")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "TakeOrderedAndProject" in plan
        take_line = next(
            ln for ln in plan.splitlines()
            if "TakeOrderedAndProject" in ln
        )
        assert "payload" not in take_line
        # the hash-threshold prefilter sits under the top-k
        assert any(
            "Filter" in ln and "xxhash64" in ln and "payload" not in ln
            for ln in plan.splitlines()
        )

    def test_ids_path_small_n_and_unjoinable_ids(self, spark):
        """n ≤ k returns every row carrying a non-NULL id; NULL ids
        are never sampled on the ids path (join-back contract)."""
        from gr_tdigest_spark.operators.sample import uniform_sample

        rows = [(i, "p") for i in range(10)] + [(None, "p")] * 3
        df = spark.createDataFrame(rows, "doc_id long, payload string")
        got = uniform_sample(df, 50, "doc_id", seed=1, method="ids")
        ids = [r["doc_id"] for r in got.collect()]
        assert sorted(ids) == list(range(10))

    def test_ids_path_prefilter_undershoot_retry(self, spark):
        """The hash-threshold window must widen until ≥ k survive —
        exercised by k close to n (frac starts ≥ 1 → no filter) and by
        a mid-size k where the 2k/n window is verified sufficient."""
        from gr_tdigest_spark.operators.sample import uniform_sample

        df = spark.range(0, 300).withColumnRenamed("id", "doc_id")
        for k in (250, 299, 120):
            got = sorted(
                r["doc_id"] for r in
                uniform_sample(df, k, "doc_id", seed=3,
                               method="ids").collect()
            )
            want = sorted(
                r["doc_id"] for r in
                uniform_sample(df, k, "doc_id", seed=3,
                               method="rows").collect()
            )
            assert got == want, k

    def test_weighted_global_large_k_skinny(self, spark, monkeypatch):
        """Above the threshold the global weighted sampler switches to
        the skinny projection + semi-join and draws the same ID SET as
        the rows path."""
        import gr_tdigest_spark.operators.sample as sample_mod
        from gr_tdigest_spark.operators.sample import weighted_sample

        df = self._wide(spark, 5_000).withColumn(
            "w", (F.col("doc_id") % 97 + 1).cast("double")
        )
        want = sorted(
            r["doc_id"] for r in
            weighted_sample(df, 300, "doc_id", "w", seed=4).collect()
        )
        monkeypatch.setattr(sample_mod, "_GLOBAL_TAKE_K", 10)
        got_df = weighted_sample(df, 300, "doc_id", "w", seed=4)
        got = sorted(r["doc_id"] for r in got_df.collect())
        assert got == want
        assert set(got_df.columns) == {"doc_id", "payload", "w"}
        take_line = next(
            ln for ln in got_df._jdf.queryExecution().executedPlan()
            .toString().splitlines() if "TakeOrderedAndProject" in ln
        )
        assert "payload" not in take_line

    def test_uniform_auto_threshold_switches(self, spark):
        from gr_tdigest_spark.operators.sample import uniform_sample
        import gr_tdigest_spark.operators.sample as sample_mod

        df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        plan_small = (
            uniform_sample(df, 5, "doc_id")._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "Join" not in plan_small  # rows path: plain TakeOrdered
        try:
            sample_mod._GLOBAL_TAKE_K = 10
            plan_big = (
                uniform_sample(df, 50, "doc_id")._jdf.queryExecution()
                .executedPlan().toString()
            )
        finally:
            sample_mod._GLOBAL_TAKE_K = 10_000
        assert "LeftSemi" in plan_big
