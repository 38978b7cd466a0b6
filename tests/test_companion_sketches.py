"""Companion sketch kernels: error-bound tests vs exact oracles
(FIXTURES.md §7) + merge laws + wire round-trips."""

import numpy as np
import pytest

from gr_tdigest_spark.sketches.bloom import BloomFilter, optimal_bloom
from gr_tdigest_spark.sketches.cms import CMS
from gr_tdigest_spark.sketches.hll import HLL
from gr_tdigest_spark.sketches.kll import KLL


class TestHLL:
    @pytest.mark.parametrize("n", [10, 1000, 100_000])
    def test_estimate_within_bound(self, n):
        """FIXTURES.md: ±1.04/√m · 5σ at universe sizes {10, 1k, 100k}."""
        h = HLL(p=14)
        keys = np.array([f"conv-{i:08d}" for i in range(n)], dtype=object)
        h.add(keys)
        est = h.estimate()
        assert abs(est - n) <= max(5 * h.std_error * n, 3), (est, n)

    def test_merge_equals_union(self):
        a, b = HLL(p=12), HLL(p=12)
        a.add(np.arange(5000))
        b.add(np.arange(2500, 7500))
        m = a.merge(b)
        whole = HLL(p=12)
        whole.add(np.arange(7500))
        assert m.estimate() == whole.estimate()  # identical registers
        np.testing.assert_array_equal(m.registers, whole.registers)

    def test_merge_commutative(self):
        a, b = HLL(p=10), HLL(p=10)
        a.add(np.arange(100))
        b.add(np.arange(50, 200))
        np.testing.assert_array_equal(
            a.merge(b).registers, b.merge(a).registers
        )

    def test_precision_mismatch_raises(self):
        with pytest.raises(ValueError):
            HLL(p=10).merge(HLL(p=12))

    def test_wire_roundtrip(self):
        h = HLL(p=12)
        h.add(np.arange(1000))
        back = HLL.from_bytes(h.to_bytes())
        np.testing.assert_array_equal(back.registers, h.registers)
        assert back.p == 12

    def test_duplicates_dont_change_estimate(self):
        a = HLL(p=12)
        a.add(np.arange(1000))
        e1 = a.estimate()
        a.add(np.arange(1000))  # same keys again
        assert a.estimate() == e1


class TestCMS:
    def _zipf_tools(self, n=50_000, seed=3):
        rng = np.random.default_rng(seed)
        ids = np.minimum(rng.zipf(1.5, size=n) - 1, 49)
        return np.array([f"tool_{i:02d}" for i in ids], dtype=object)

    def test_estimates_within_epsilon(self):
        tools = self._zipf_tools()
        c = CMS(depth=5, width=8192)
        c.add(tools)
        uniq, counts = np.unique(tools, return_counts=True)
        est = c.estimate(uniq)
        # overestimate-only, within eps*N
        assert np.all(est >= counts)
        assert np.all(est - counts <= c.epsilon * c.total)

    def test_exact_for_few_keys_wide_table(self):
        tools = self._zipf_tools()
        c = CMS(depth=5, width=8192)
        c.add(tools)
        uniq, counts = np.unique(tools, return_counts=True)
        # 50 keys in 8192 columns: collisions across all 5 rows ~ impossible
        np.testing.assert_array_equal(c.estimate(uniq), counts)

    def test_merge_equals_single_build(self):
        tools = self._zipf_tools()
        a, b = CMS(), CMS()
        a.add(tools[:25_000])
        b.add(tools[25_000:])
        m = a.merge(b)
        whole = CMS()
        whole.add(tools)
        np.testing.assert_array_equal(m.table, whole.table)
        assert m.total == whole.total

    def test_weighted_add(self):
        c = CMS()
        c.add(np.array(["x", "y"], dtype=object), counts=[10, 5])
        np.testing.assert_array_equal(
            c.estimate(np.array(["x", "y"], dtype=object)), [10, 5]
        )

    def test_incompatible_merge_raises(self):
        with pytest.raises(ValueError):
            CMS(width=1024).merge(CMS(width=2048))

    def test_wire_roundtrip(self):
        c = CMS()
        c.add(self._zipf_tools(1000))
        back = CMS.from_bytes(c.to_bytes())
        np.testing.assert_array_equal(back.table, c.table)
        assert back.total == c.total


class TestBloom:
    def test_no_false_negatives_and_fpr(self):
        bf = BloomFilter(m_bits=1 << 16, k=7)
        members = np.array([f"conv-{i:08d}" for i in range(2000)], dtype=object)
        bf.add(members)
        assert bf.contains(members).all(), "zero false negatives required"
        probes = np.array(
            [f"other-{i:08d}" for i in range(20_000)], dtype=object
        )
        fpr = bf.contains(probes).mean()
        assert fpr <= 1.5 * max(bf.design_fpr, 1e-4), (fpr, bf.design_fpr)

    def test_merge_is_union(self):
        a = BloomFilter(m_bits=1 << 14)
        b = BloomFilter(m_bits=1 << 14)
        xs = np.array(["a", "b", "c"], dtype=object)
        ys = np.array(["d", "e"], dtype=object)
        a.add(xs)
        b.add(ys)
        m = a.merge(b)
        assert m.contains(np.concatenate((xs, ys))).all()
        whole = BloomFilter(m_bits=1 << 14)
        whole.add(np.concatenate((xs, ys)))
        np.testing.assert_array_equal(m.words, whole.words)

    def test_optimal_sizing(self):
        bf = optimal_bloom(10_000, fpr=0.01)
        bf.add(np.arange(10_000))
        assert bf.design_fpr <= 0.02

    def test_incompatible_merge_raises(self):
        with pytest.raises(ValueError):
            BloomFilter(m_bits=64).merge(BloomFilter(m_bits=128))

    def test_wire_roundtrip(self):
        bf = BloomFilter(m_bits=1 << 12)
        bf.add(np.arange(100))
        back = BloomFilter.from_bytes(bf.to_bytes())
        np.testing.assert_array_equal(back.words, bf.words)
        assert back.n_added == 100


class TestKLL:
    def test_exact_when_uncompacted(self):
        rng = np.random.default_rng(5)
        v = rng.uniform(size=100)
        s = KLL(k=200)
        s.add(v)
        srt = np.sort(v)
        for q in [0.0, 0.1, 0.25, 0.5, 0.9, 1.0]:
            target = max(int(np.ceil(q * 100)), 1)
            assert s.quantile(q)[0] == srt[target - 1], q

    def test_rank_error_bound(self):
        rng = np.random.default_rng(6)
        v = rng.standard_normal(200_000)
        s = KLL(k=200)
        for chunk in np.array_split(v, 100):
            s.add(chunk)
        srt = np.sort(v)
        qs = np.linspace(0.01, 0.99, 99)
        got = s.quantile(qs)
        # measure rank error of each answer
        ranks = np.searchsorted(srt, got, side="right") / len(srt)
        err = np.abs(ranks - qs)
        assert err.max() <= s.rank_error, err.max()

    def test_merge_rank_error_bound(self):
        rng = np.random.default_rng(7)
        v = rng.uniform(size=100_000)
        shards = np.array_split(v, 16)
        sketches = []
        for sh in shards:
            s = KLL(k=200)
            s.add(sh)
            sketches.append(s)
        m = sketches[0]
        for s in sketches[1:]:
            m = m.merge(s)
        assert m.n == len(v)
        srt = np.sort(v)
        qs = np.linspace(0.05, 0.95, 19)
        ranks = np.searchsorted(srt, m.quantile(qs), side="right") / len(srt)
        assert np.abs(ranks - qs).max() <= 2 * m.rank_error

    def test_weights_preserved(self):
        s = KLL(k=64)
        s.add(np.arange(10_000))
        it, w = s._weighted_items()
        assert np.sum(w) == pytest.approx(10_000)

    def test_incompatible_merge_raises(self):
        with pytest.raises(ValueError):
            KLL(k=100).merge(KLL(k=200))

    def test_nonfinite_raises(self):
        with pytest.raises(ValueError):
            KLL().add([1.0, np.nan])

    def test_wire_roundtrip(self):
        s = KLL(k=128)
        s.add(np.random.default_rng(8).uniform(size=5000))
        back = KLL.from_bytes(s.to_bytes())
        assert back.n == s.n
        qs = np.linspace(0, 1, 21)
        np.testing.assert_array_equal(back.quantile(qs), s.quantile(qs))

    def test_deterministic_across_runs(self):
        def build():
            s = KLL(k=100)
            for chunk in np.array_split(np.arange(50_000.0), 50):
                s.add(chunk)
            return s

        a, b = build(), build()
        np.testing.assert_array_equal(
            a.quantile(np.linspace(0, 1, 11)), b.quantile(np.linspace(0, 1, 11))
        )


class TestCmsTopK:
    def test_global_topk_matches_exact(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import cms_topk
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        got = [tuple(r) for r in cms_topk(
            ev, None, "event_type", k=3, width=1 << 16
        ).collect()]
        exp = [tuple(r) for r in (
            ev.groupBy("event_type").count()
            .orderBy(F.desc("count"), "event_type").limit(3)
        ).collect()]
        assert got == exp

    def test_grouped_topk_zipf(self, spark):
        """Zipf-skewed values: heavy hitters found without m covering
        the full cardinality, across multiple partitions."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import cms_topk

        rng = np.random.default_rng(7)
        vals = np.minimum(rng.zipf(1.5, size=20000), 500)
        pdf = pd.DataFrame({
            "g": np.where(np.arange(20000) % 2 == 0, "a", "b"),
            "v": vals.astype("int64"),
        })
        df = spark.createDataFrame(pdf).repartition(8)
        got = {
            (r["g"], r["v"]): r["est_count"]
            for r in cms_topk(df, ["g"], "v", k=5, m=32,
                              width=1 << 16).collect()
        }
        exact = {
            (r["g"], r["v"]): r["n"]
            for r in df.groupBy("g", "v").agg(
                F.count("*").alias("n")
            ).collect()
        }
        # top-5 per group by exact count
        import collections
        per_g = collections.defaultdict(list)
        for (g, v), n in exact.items():
            per_g[g].append((n, -v))
        for g, lst in per_g.items():
            lst.sort(reverse=True)
            for n, negv in lst[:5]:
                assert (g, -negv) in got
                assert got[(g, -negv)] == n  # estimate exact at this width

    def test_tracker_prunes_bounded_memory(self):
        """The per-partition tracker never holds more than m*cap_factor
        values per group, yet still emits a partition-heavy value."""
        import numpy as np
        import pyarrow as pa
        from gr_tdigest_spark.operators.companions import _track_batch

        rng = np.random.default_rng(3)
        # one dominant value + a long uniform tail
        v = np.concatenate([
            np.full(5000, 42), rng.integers(1000, 9000, 20000)
        ])
        rng.shuffle(v)
        trackers = {}
        for i in range(4):
            batch = pa.array(v[i::4])
            _track_batch(trackers, 8, [()], np.zeros(len(batch), np.int64),
                         batch, cap_factor=4)
        cand = set(trackers[()].top())
        assert 42 in cand
        assert len(cand) <= 8

    @pytest.mark.parametrize("keys", [["g"], None], ids=["grouped", "global"])
    @pytest.mark.parametrize("k,m", [(10, 3), (0, None), (-1, None)])
    def test_invalid_k_m_raise(self, spark, keys, k, m):
        """k < 1 or m < k is rejected before any plan is built (a
        top-10 from 3 candidates per partition would return a count of
        rows that depends on the partition layout)."""
        from gr_tdigest_spark.operators.companions import cms_topk

        df = spark.createDataFrame(
            [(g, v) for g in "ab" for v in range(40)], "g string, v long"
        )
        with pytest.raises(ValueError, match="k >= 1 and m >= k"):
            cms_topk(df, keys, "v", k=k, m=m)


class TestBloomSemiFilter:
    def test_matches_exact_semi_join(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import (
            bloom_agg, bloom_filter_rows,
        )

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        hot = orders.where(F.col("o_totalprice") > 300000.0)
        bl = bloom_agg(hot, None, "o_orderkey", m_bits=1 << 20)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        got = bloom_filter_rows(li, "l_orderkey", bl).count()
        exact = li.join(
            hot.select("o_orderkey"),
            li["l_orderkey"] == F.col("o_orderkey"), "leftsemi"
        ).count()
        assert got == exact and exact > 0

    def test_negate_keeps_non_members(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import (
            bloom_agg, bloom_filter_rows,
        )

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        hot = orders.where(F.col("o_totalprice") > 300000.0)
        bl = bloom_agg(hot, None, "o_orderkey", m_bits=1 << 20)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        n_in = bloom_filter_rows(li, "l_orderkey", bl).count()
        n_out = bloom_filter_rows(li, "l_orderkey", bl, negate=True).count()
        assert n_in + n_out == li.count()

    def test_empty_filter(self, spark, sf_dir):
        """A Bloom table over empty input has no rows: it is the empty
        filter — no row passes, and negate keeps every row."""
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import (
            bloom_agg, bloom_filter_rows,
        )

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        none = orders.where(F.col("o_totalprice") < 0)
        bl = bloom_agg(none, None, "o_orderkey", m_bits=1 << 10)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        assert bloom_filter_rows(li, "l_orderkey", bl).count() == 0
        assert bloom_filter_rows(
            li, "l_orderkey", bl, negate=True
        ).count() == li.count()

    def test_null_blob_is_empty_filter(self, spark):
        """A keyless merge of NULL Bloom rows is a NULL blob: the empty
        filter, as a Bloom table with no rows is."""
        from gr_tdigest_spark.operators.companions import (
            BloomSpec, bloom_filter_rows,
        )
        from gr_tdigest_spark.operators.rollup import merge_sketch_tables

        nulls = spark.createDataFrame([(None,), (None,)], "bloom binary")
        bl = merge_sketch_tables([nulls], [], "bloom", BloomSpec())
        assert bl.collect()[0]["bloom"] is None
        facts = spark.range(10).withColumnRenamed("id", "k")
        assert bloom_filter_rows(facts, "k", bl).count() == 0
        assert bloom_filter_rows(facts, "k", bl, negate=True).count() == 10

    def test_multi_row_table_raises(self, spark):
        """A keyed Bloom table has one filter per key: probing one of
        them would drop the others' members, so it is refused."""
        from gr_tdigest_spark.operators.companions import (
            bloom_agg, bloom_filter_rows,
        )

        keyed = bloom_agg(
            spark.createDataFrame([(0, 1), (1, 7)], "g int, v long"),
            ["g"], "v", m_bits=1 << 10,
        )
        facts = spark.range(10).withColumnRenamed("id", "k")
        with pytest.raises(ValueError, match="2 or more rows"):
            bloom_filter_rows(facts, "k", keyed)


class TestCmsTopKCogroup:
    """Grouped top-k under near-uniform counts, with m above the
    per-group cardinality, equals the exact per-group top-k."""

    def test_cogroup_grouped_matches_exact(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window
        from gr_tdigest_spark.operators.companions import cms_topk

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        got = [
            (r["event_type"], r["user_id"])
            for r in cms_topk(
                ev, ["event_type"], "user_id", k=3, m=512, width=1 << 16,
            ).select("event_type", "user_id").collect()
        ]
        exp = [
            (r["event_type"], r["user_id"])
            for r in ev.groupBy("event_type", "user_id")
            .agg(F.count("*").alias("n"))
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy(
                        F.desc("n"), "user_id"
                    )
                ),
            )
            .where(F.col("rk") <= 3)
            .select("event_type", "user_id")
            .collect()
        ]
        assert sorted(got) == sorted(exp)


class TestHLLIntersect:
    """Inclusion–exclusion intersection estimator (SURVEY §2.8): bound
    check vs exact intersection counts, plus the documented caveat that
    the absolute error scales with the union size."""

    def test_intersection_within_bound(self, spark):
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import (
            hll_agg, hll_intersect_estimate,
        )

        # A = [0, 60k), B = [40k, 100k) → exact intersection 20k,
        # union 100k. p=14 → m=16384, σ = 1.04/√m ≈ 0.81%; the
        # intersection combines three estimates, each with error
        # relative to its own cardinality — allow 5σ of the UNION.
        a = spark.range(0, 60_000).select(F.col("id").alias("v"))
        b = spark.range(40_000, 100_000).select(F.col("id").alias("v"))
        ha = hll_agg(a, None, "v", p=14).select(
            F.col("hll").alias("hll_a")
        )
        hb = hll_agg(b, None, "v", p=14).select(
            F.col("hll").alias("hll_b")
        )
        est = (
            ha.crossJoin(hb)
            .select(
                hll_intersect_estimate("hll_a", "hll_b").alias("ix")
            )
            .collect()[0]["ix"]
        )
        sigma = 1.04 / (16384 ** 0.5)
        assert abs(est - 20_000) <= 5 * sigma * 100_000

    def test_disjoint_clamped_nonnegative(self, spark):
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import (
            hll_agg, hll_intersect_estimate,
        )

        a = spark.range(0, 5_000).select(F.col("id").alias("v"))
        b = spark.range(1_000_000, 1_005_000).select(F.col("id").alias("v"))
        ha = hll_agg(a, None, "v", p=12).select(F.col("hll").alias("hll_a"))
        hb = hll_agg(b, None, "v", p=12).select(F.col("hll").alias("hll_b"))
        est = (
            ha.crossJoin(hb)
            .select(hll_intersect_estimate("hll_a", "hll_b").alias("ix"))
            .collect()[0]["ix"]
        )
        sigma = 1.04 / (4096 ** 0.5)
        assert 0.0 <= est <= 5 * sigma * 10_000


class TestCandidateTrackerSpaceSaving:
    """Eviction must carry a SpaceSaving floor: a heavy value arriving
    interleaved with bursts of one-off fillers (each burst large enough
    to evict it) must still be emitted — with a plain reset-on-evict
    tracker its count restarts at 1 every round and it loses."""

    @staticmethod
    def _drive(batches, m, cap_factor):
        import numpy as np
        import pyarrow as pa
        from gr_tdigest_spark.operators.companions import _track_batch

        trackers = {}
        for b in batches:
            _track_batch(trackers, m, [()], np.zeros(len(b), np.int64),
                         pa.array(b), cap_factor=cap_factor)
        assert len(trackers) <= 1
        return set(trackers[()].top()) if trackers else set()

    def test_reentry_starts_at_floor(self):
        # cap = 4·1 = 4. Batch 1 evicts X at count 6 (floor → 6);
        # batch 2 re-adds X×3. With the SpaceSaving offset X re-enters
        # at 6+3=9 and displaces D(7); with reset-on-evict it would
        # re-enter at 3 and be evicted again, silently forgetting its
        # accumulated count.
        batches = [
            ["A"] * 10 + ["B"] * 9 + ["C"] * 8 + ["D"] * 7 + ["X"] * 6,
            ["X"] * 3,
        ]
        emitted = self._drive(batches, m=4, cap_factor=1)
        assert "X" in emitted

    def test_overestimate_invariant(self):
        """Stored counts are ≥ true counts — check via emission of every
        value whose true count exceeds the floor in a random stream."""
        import collections
        import numpy as np

        rng = np.random.default_rng(11)
        vals = [f"v{i}" for i in rng.integers(0, 200, 5000)]
        vals += ["HH"] * 400  # one clear heavy hitter
        rng.shuffle(vals)
        true = collections.Counter(vals)
        batches = [vals[i:i + 500] for i in range(0, len(vals), 500)]
        emitted = self._drive(batches, m=8, cap_factor=8)
        assert "HH" in emitted
        assert true["HH"] == 400

    def test_ties_rank_by_value(self):
        """Equal counts rank by value, so the candidates do not depend
        on the order the rows arrive in."""
        for batch in (["c", "b", "a", "c"], ["a", "c", "b", "c"]):
            assert self._drive([batch], m=2, cap_factor=1) == {"c", "a"}

    def test_grouped_counts_match_reference(self):
        """Below the cap, the per-key stored counts are the exact
        per-(key, value) counts over all batches, NaN skipped."""
        import collections
        import numpy as np
        import pyarrow as pa
        from gr_tdigest_spark.operators.companions import _track_batch

        rng = np.random.default_rng(5)
        keys = [("a",), ("b",), ("c",)]
        trackers, ref = {}, collections.Counter()
        for _ in range(6):
            codes = rng.integers(0, 3, 400)
            vals = rng.integers(0, 30, 400).astype(float)
            vals[rng.random(400) < 0.1] = np.nan
            _track_batch(trackers, 64, keys, codes, pa.array(vals))
            ref.update((keys[c], v) for c, v in zip(codes, vals) if v == v)
        got = collections.Counter({
            (key, v): c for key, t in trackers.items()
            for v, c in t.counts.items()
        })
        assert got == ref


class TestCompanionPreAggregate:
    """pre_aggregate plans must be EXACTLY equal to the row paths:
    HLL registers and Bloom words are duplicate-invariant; CMS counter
    addition from (value, count) piles is exact."""

    def test_hll_identical_blobs(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import hll_agg

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        a = {
            r["event_type"]: bytes(r["hll"])
            for r in hll_agg(ev, ["event_type"], "user_id", p=12).collect()
        }
        b = {
            r["event_type"]: bytes(r["hll"])
            for r in hll_agg(ev, ["event_type"], "user_id", p=12,
                             pre_aggregate=True).collect()
        }
        assert a == b and len(a) > 0

    def test_cms_identical_tables(self, spark, sf_dir):
        import numpy as np
        from gr_tdigest_spark.operators.companions import cms_agg
        from gr_tdigest_spark.sketches.cms import CMS

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        a = {
            r["event_type"]: CMS.from_bytes(bytes(r["cms"]))
            for r in cms_agg(ev, ["event_type"], "user_id").collect()
        }
        b = {
            r["event_type"]: CMS.from_bytes(bytes(r["cms"]))
            for r in cms_agg(ev, ["event_type"], "user_id",
                             pre_aggregate=True).collect()
        }
        assert set(a) == set(b) and len(a) > 0
        for k in a:
            np.testing.assert_array_equal(a[k].table, b[k].table)
            assert a[k].total == b[k].total

    def test_bloom_identical_words(self, spark, sf_dir):
        import numpy as np
        from gr_tdigest_spark.operators.companions import bloom_agg
        from gr_tdigest_spark.sketches.bloom import BloomFilter

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        a = BloomFilter.from_bytes(bytes(
            bloom_agg(ev, None, "user_id", m_bits=1 << 14)
            .collect()[0]["bloom"]
        ))
        b = BloomFilter.from_bytes(bytes(
            bloom_agg(ev, None, "user_id", m_bits=1 << 14,
                      pre_aggregate=True).collect()[0]["bloom"]
        ))
        np.testing.assert_array_equal(a.words, b.words)


class TestMinHash:
    """MinHash signature kernel: Jaccard accuracy bound, exact-union
    merge law, duplicate invariance, wire round-trip."""

    @staticmethod
    def _sets(overlap: float, n: int = 4000):
        shared = int(n * overlap)
        a = np.array([f"k-{i}" for i in range(n)], dtype=object)
        b = np.array(
            [f"k-{i}" for i in range(n - shared, 2 * n - shared)],
            dtype=object,
        )
        true_j = shared / (2 * n - shared)
        return a, b, true_j

    @pytest.mark.parametrize("overlap", [0.0, 0.25, 0.5, 0.9, 1.0])
    def test_jaccard_within_binomial_bound(self, overlap):
        from gr_tdigest_spark.sketches.minhash import MinHash

        a_vals, b_vals, true_j = self._sets(overlap)
        a, b = MinHash(k=512), MinHash(k=512)
        a.add(a_vals)
        b.add(b_vals)
        est = a.jaccard(b)
        # 5σ of Binomial(k, J)/k, floor for the degenerate ends
        bound = max(5 * (true_j * (1 - true_j) / 512) ** 0.5, 0.02)
        assert abs(est - true_j) <= bound, (est, true_j, overlap)

    def test_merge_is_exact_union_signature(self):
        from gr_tdigest_spark.sketches.minhash import MinHash

        a, b, whole = MinHash(), MinHash(), MinHash()
        a.add(np.arange(3000))
        b.add(np.arange(1500, 5000))
        whole.add(np.arange(5000))
        np.testing.assert_array_equal(a.merge(b).sig, whole.sig)
        np.testing.assert_array_equal(a.merge(b).sig, b.merge(a).sig)
        # identity + idempotence
        np.testing.assert_array_equal(a.merge(MinHash()).sig, a.sig)
        np.testing.assert_array_equal(a.merge(a).sig, a.sig)

    def test_duplicates_dont_change_signature(self):
        from gr_tdigest_spark.sketches.minhash import MinHash

        a = MinHash(k=64)
        a.add(np.array(["x", "y", "z"], dtype=object))
        sig1 = a.sig.copy()
        a.add(np.array(["z", "y", "x", "x"], dtype=object))
        np.testing.assert_array_equal(a.sig, sig1)

    def test_chunked_add_equals_single_add(self):
        from gr_tdigest_spark.sketches import minhash as mh

        a, b = mh.MinHash(k=32), mh.MinHash(k=32)
        vals = np.arange(mh._CHUNK * 2 + 17)
        a.add(vals)
        for lo in range(0, vals.size, 100):
            b.add(vals[lo:lo + 100])
        np.testing.assert_array_equal(a.sig, b.sig)

    def test_incompatible_raises(self):
        from gr_tdigest_spark.sketches.minhash import MinHash

        with pytest.raises(ValueError):
            MinHash(k=64).merge(MinHash(k=128))
        with pytest.raises(ValueError):
            MinHash(seed=1).jaccard(MinHash(seed=2))

    def test_wire_roundtrip(self):
        from gr_tdigest_spark.sketches.minhash import MinHash

        a = MinHash(k=128, seed=5)
        a.add(np.arange(1000))
        back = MinHash.from_bytes(a.to_bytes())
        np.testing.assert_array_equal(back.sig, a.sig)
        assert (back.k, back.seed, back.n_items) == (128, 5, 1000.0)
        with pytest.raises(ValueError):
            MinHash.from_bytes(b"XXXX" + a.to_bytes()[4:])

    def test_empty_semantics(self):
        from gr_tdigest_spark.sketches.minhash import MinHash

        e = MinHash(k=32)
        assert e.is_empty and e.jaccard(MinHash(k=32)) == 1.0
        f = MinHash(k=32)
        f.add(np.arange(100))
        assert not f.is_empty
        assert f.jaccard(e) == 0.0


class TestCMSInnerProduct:
    def test_upper_and_lower_bounds(self):
        """a·b ≤ est ≤ a·b + ε·Na·Nb (lower bound deterministic)."""
        rng = np.random.default_rng(3)
        a_keys = rng.integers(0, 2000, size=50_000)
        b_keys = rng.integers(1000, 3000, size=30_000)
        a, b = CMS(depth=7, width=1 << 14), CMS(depth=7, width=1 << 14)
        a.add(a_keys)
        b.add(b_keys)
        ca = np.bincount(a_keys, minlength=3000).astype(np.int64)
        cb = np.bincount(b_keys, minlength=3000).astype(np.int64)
        exact = int(np.dot(ca, cb))
        est = a.inner_product(b)
        assert est >= exact
        assert est <= exact + a.epsilon * a.total * b.total

    def test_disjoint_keys_small_estimate(self):
        a, b = CMS(width=1 << 16), CMS(width=1 << 16)
        a.add(np.arange(0, 5000))
        b.add(np.arange(10_000, 15_000))
        assert a.inner_product(b) <= a.epsilon * a.total * b.total

    def test_overflow_guard_falls_back_to_float(self):
        a = CMS(depth=2, width=8)
        b = CMS(depth=2, width=8)
        big = np.int64(1) << 40
        a.table[:, 0] = big
        b.table[:, 0] = big
        a.total = b.total = float(big)
        est = a.inner_product(b)
        assert est == float(big) * float(big)  # no int64 wraparound

    def test_incompatible_raises(self):
        with pytest.raises(ValueError):
            CMS(width=1024).inner_product(CMS(width=2048))


class TestMinHashAgg:
    def test_agg_equals_driver_build(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import minhash_agg
        from gr_tdigest_spark.sketches.minhash import MinHash

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        rows = minhash_agg(
            li, ["l_returnflag"], "l_orderkey", k=128
        ).collect()
        pdf = li.select("l_returnflag", "l_orderkey").toPandas()
        for r in rows:
            ref = MinHash(k=128)
            vals = pdf.loc[
                pdf["l_returnflag"] == r["l_returnflag"], "l_orderkey"
            ].to_numpy()
            ref.add(vals)
            got = MinHash.from_bytes(bytes(r["minhash"]))
            np.testing.assert_array_equal(got.sig, ref.sig)

    def test_pre_aggregate_identical_signature(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import minhash_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        base = {
            r["l_returnflag"]: bytes(r["minhash"])
            for r in minhash_agg(li, ["l_returnflag"], "l_suppkey").collect()
        }
        pre = {
            r["l_returnflag"]: bytes(r["minhash"])
            for r in minhash_agg(
                li, ["l_returnflag"], "l_suppkey", pre_aggregate=True
            ).collect()
        }
        # signatures (not headers: n_items differs by design) must agree
        from gr_tdigest_spark.sketches.minhash import MinHash

        assert base.keys() == pre.keys()
        for k in base:
            np.testing.assert_array_equal(
                MinHash.from_bytes(base[k]).sig,
                MinHash.from_bytes(pre[k]).sig,
            )

    def test_jaccard_column_matches_kernel(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import (
            minhash_agg, minhash_jaccard,
        )
        from gr_tdigest_spark.sketches.minhash import MinHash
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        mh = minhash_agg(li, ["l_returnflag"], "l_orderkey", k=256)
        a = mh.select(F.col("l_returnflag").alias("fa"),
                      F.col("minhash").alias("ma"))
        b = mh.select(F.col("l_returnflag").alias("fb"),
                      F.col("minhash").alias("mb"))
        got = {
            (r["fa"], r["fb"]): r["j"]
            for r in a.join(b, F.col("fa") < F.col("fb"))
            .select("fa", "fb", minhash_jaccard("ma", "mb").alias("j"))
            .collect()
        }
        blobs = {r["l_returnflag"]: bytes(r["minhash"])
                 for r in mh.collect()}
        for (fa, fb), j in got.items():
            expect = MinHash.from_bytes(blobs[fa]).jaccard(
                MinHash.from_bytes(blobs[fb])
            )
            assert j == expect


class TestMinHashHLLIntersect:
    """Composed |A∩B| ≈ Ĵ·|A∪B| estimator: must resolve a small
    intersection of two large sets far better than HLL
    inclusion–exclusion (whose error ignores the overlap size)."""

    def test_small_overlap_resolved(self):
        from gr_tdigest_spark.sketches.hll import HLL
        from gr_tdigest_spark.sketches.minhash import MinHash

        n, shared = 100_000, 3_000
        a_vals = np.arange(n)
        b_vals = np.arange(n - shared, 2 * n - shared)
        true_inter = shared
        union = 2 * n - shared
        j = true_inter / union

        ma, mb = MinHash(k=4096), MinHash(k=4096)
        ma.add(a_vals)
        mb.add(b_vals)
        ha, hb = HLL(p=14), HLL(p=14)
        ha.add(a_vals)
        hb.add(b_vals)

        est = ma.jaccard(mb) * ha.merge(hb).estimate()
        sigma_j = (j * (1 - j) / 4096) ** 0.5
        sigma_h = 1.04 / (2 ** 14) ** 0.5
        bound = 5 * union * (sigma_j + j * sigma_h)
        assert abs(est - true_inter) <= bound, (est, true_inter, bound)
        # and the composed estimate is no worse than inclusion–exclusion's
        # THEORETICAL 1σ floor on these cardinalities — the whole point
        ie_floor = sigma_h * union
        assert abs(est - true_inter) <= ie_floor, (est, true_inter)

    def test_column_function_matches_kernel(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import (
            hll_agg, minhash_agg, minhash_hll_intersect_estimate,
        )
        from gr_tdigest_spark.sketches.hll import HLL
        from gr_tdigest_spark.sketches.minhash import MinHash
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        mh = minhash_agg(li, ["l_returnflag"], "l_orderkey", k=128)
        hl = hll_agg(li, ["l_returnflag"], "l_orderkey", p=12)
        joined = mh.join(hl, "l_returnflag")
        a = joined.select(F.col("l_returnflag").alias("fa"),
                          F.col("minhash").alias("ma"),
                          F.col("hll").alias("ha"))
        b = joined.select(F.col("l_returnflag").alias("fb"),
                          F.col("minhash").alias("mb"),
                          F.col("hll").alias("hb"))
        got = {
            (r["fa"], r["fb"]): r["est"]
            for r in a.join(b, F.col("fa") < F.col("fb")).select(
                "fa", "fb",
                minhash_hll_intersect_estimate(
                    "ma", "mb", "ha", "hb"
                ).alias("est"),
            ).collect()
        }
        mh_blobs = {r["l_returnflag"]: bytes(r["minhash"])
                    for r in mh.collect()}
        hl_blobs = {r["l_returnflag"]: bytes(r["hll"])
                    for r in hl.collect()}
        for (fa, fb), est in got.items():
            j = MinHash.from_bytes(mh_blobs[fa]).jaccard(
                MinHash.from_bytes(mh_blobs[fb])
            )
            u = HLL.from_bytes(hl_blobs[fa]).merge(
                HLL.from_bytes(hl_blobs[fb])
            ).estimate()
            assert est == j * u


class TestGenericSketchMerge:
    def test_merge_sketch_tables_with_spec(self, spark, sf_dir):
        """rollup.merge_sketch_tables(spec=...) merges ANY sketch kind:
        two per-group MinHash tables union+merge to the whole-set
        signature, exactly."""
        from gr_tdigest_spark.operators.companions import (
            MinHashSpec, minhash_agg,
        )
        from gr_tdigest_spark.operators.rollup import merge_sketch_tables
        from gr_tdigest_spark.sketches.minhash import MinHash
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        lo = li.where(F.col("l_orderkey") % 2 == 0)
        hi = li.where(F.col("l_orderkey") % 2 == 1)
        t1 = minhash_agg(lo, ["l_returnflag"], "l_orderkey", k=64)
        t2 = minhash_agg(hi, ["l_returnflag"], "l_orderkey", k=64)
        merged = merge_sketch_tables(
            [t1, t2], ["l_returnflag"], col="minhash", spec=MinHashSpec(k=64)
        )
        whole = {
            r["l_returnflag"]: bytes(r["minhash"])
            for r in minhash_agg(li, ["l_returnflag"], "l_orderkey",
                                 k=64).collect()
        }
        for r in merged.collect():
            np.testing.assert_array_equal(
                MinHash.from_bytes(bytes(r["minhash"])).sig,
                MinHash.from_bytes(whole[r["l_returnflag"]]).sig,
            )

    def test_merge_sketches_all_null_group_yields_null(self, spark):
        from gr_tdigest_spark.operators.companions import (
            HLLSpec, merge_sketches,
        )
        from pyspark.sql.types import (
            BinaryType, StringType, StructField, StructType,
        )

        df = spark.createDataFrame(
            [("a", None), ("a", None)],
            StructType([StructField("g", StringType()),
                        StructField("hll", BinaryType())]),
        )
        rows = df.groupBy("g").agg(
            merge_sketches("hll", HLLSpec(p=10)).alias("hll")
        ).collect()
        assert rows[0]["hll"] is None


class TestSparseWire:
    """Sparse (v2) wire modes auto-selected for small sketches: the
    shuffle lever for high-cardinality groupings — a per-conversation
    partial costs bytes per TOUCHED register/bit/counter, not the
    fixed dense size. Decode must be state-exact in both modes."""

    def test_hll_sparse_roundtrip_and_size(self):
        h = HLL(p=14)
        h.add(np.arange(20))
        blob = h.to_bytes()
        assert len(blob) < 200  # dense would be 6 + 16384
        back = HLL.from_bytes(blob)
        np.testing.assert_array_equal(back.registers, h.registers)
        # big sketch stays dense
        h2 = HLL(p=10)
        h2.add(np.arange(50_000))
        blob2 = h2.to_bytes()
        assert len(blob2) == 6 + 1024
        np.testing.assert_array_equal(
            HLL.from_bytes(blob2).registers, h2.registers
        )

    def test_bloom_sparse_roundtrip_and_size(self):
        b = BloomFilter(m_bits=1 << 20, k=7)
        b.add(np.arange(10))
        blob = b.to_bytes()
        assert len(blob) < 400  # dense would be ~128 KB
        back = BloomFilter.from_bytes(blob)
        np.testing.assert_array_equal(back.words, b.words)
        assert back.n_added == b.n_added
        assert bool(back.contains(np.arange(10)).all())
        b2 = BloomFilter(m_bits=1 << 14, k=4)
        b2.add(np.arange(20_000))
        blob2 = b2.to_bytes()
        np.testing.assert_array_equal(
            BloomFilter.from_bytes(blob2).words, b2.words
        )

    def test_cms_sparse_roundtrip_and_size(self):
        c = CMS(depth=5, width=8192)
        c.add(np.array(["x", "y", "z"], dtype=object), counts=[7, 2, 9])
        blob = c.to_bytes()
        assert len(blob) < 400  # dense would be ~320 KB
        back = CMS.from_bytes(blob)
        np.testing.assert_array_equal(back.table, c.table)
        assert back.total == c.total
        c2 = CMS(depth=3, width=64)
        c2.add(np.arange(5_000))
        blob2 = c2.to_bytes()
        np.testing.assert_array_equal(CMS.from_bytes(blob2).table, c2.table)

    def test_sparse_dense_merge_interoperate(self):
        """A sparse-decoded partial merges with a dense-decoded one —
        exactly the mixed case small+large shuffle partials hit."""
        small, big = HLL(p=12), HLL(p=12)
        small.add(np.arange(5))
        big.add(np.arange(30_000))
        s2 = HLL.from_bytes(small.to_bytes())   # sparse path
        b2 = HLL.from_bytes(big.to_bytes())     # dense path
        whole = HLL(p=12)
        whole.add(np.arange(30_000))  # superset of both
        np.testing.assert_array_equal(
            s2.merge(b2).registers, big.merge(small).registers
        )

    def test_truncated_sparse_raises(self):
        h = HLL(p=14)
        h.add(np.arange(10))
        blob = h.to_bytes()
        with pytest.raises(ValueError):
            HLL.from_bytes(blob[:-3])
        c = CMS()
        c.add(np.array(["a"], dtype=object))
        with pytest.raises(ValueError):
            CMS.from_bytes(c.to_bytes()[:-5])
        b = BloomFilter()
        b.add(np.arange(3))
        with pytest.raises(ValueError):
            BloomFilter.from_bytes(b.to_bytes()[:-2])


def _small_blob(kind):
    """One small valid blob of each companion kind, with more than one
    KLL level so cuts land in the level sizes."""
    from gr_tdigest_spark.sketches.bottomk import BottomK
    from gr_tdigest_spark.sketches.minhash import MinHash

    objs = np.array([f"v{i}" for i in range(40)], dtype=object)
    sk = {"hll": HLL(p=8), "cms": CMS(depth=3, width=32),
          "bloom": BloomFilter(m_bits=1024, k=3), "kll": KLL(k=8),
          "minhash": MinHash(k=16), "bottomk": BottomK(k=8)}[kind]
    sk.add(np.arange(100.0) if kind == "kll" else objs)
    return type(sk), sk.to_bytes()


@pytest.mark.parametrize("cut", [5, 6, 9, 12, 28, 36, 40, -1])
@pytest.mark.parametrize(
    "kind", ["hll", "cms", "bloom", "kll", "minhash", "bottomk"])
def test_truncated_blob_raises_value_error(kind, cut):
    """A blob cut anywhere, inside the fixed header included, is
    rejected with ``ValueError`` (the decoders' one error type), never
    a ``struct.error`` or a sketch read past the end."""
    cls, blob = _small_blob(kind)
    assert len(blob) > 40
    with pytest.raises(ValueError):
        cls.from_bytes(blob[:cut])


class TestVectorizedHLLBuild:
    """HLLSpec.build_blobs_from_codes (one hash pass + sort +
    reduceat-max, each group's cells encoded by ``encode_hll``), run by
    hll_agg's partial builder, must be register-exact vs the kernel's
    per-group build, including multi-key grouping, null keys, and null
    values."""

    def test_agg_equals_driver_build(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import hll_agg
        from gr_tdigest_spark.sketches.hll import HLL

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        rows = hll_agg(li, ["l_returnflag", "l_linestatus"],
                       "l_orderkey", p=12).collect()
        pdf = li.select(
            "l_returnflag", "l_linestatus", "l_orderkey"
        ).toPandas()
        assert len(rows) > 1
        for r in rows:
            ref = HLL(p=12)
            sel = (pdf["l_returnflag"] == r["l_returnflag"]) & (
                pdf["l_linestatus"] == r["l_linestatus"]
            )
            ref.add(pdf.loc[sel, "l_orderkey"].to_numpy())
            got = HLL.from_bytes(bytes(r["hll"]))
            np.testing.assert_array_equal(got.registers, ref.registers)

    def test_null_values_skipped_null_keys_grouped(self, spark):
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import hll_agg
        from gr_tdigest_spark.sketches.hll import HLL

        df = spark.createDataFrame(
            [("a", 1), ("a", None), ("a", 2), (None, 3), (None, 3),
             ("b", None)],
            "g string, v int",
        ).withColumn("v", F.col("v").cast("long"))
        rows = {r["g"]: r["hll"] for r in
                hll_agg(df, ["g"], "v", p=10).collect()}
        # "b" had only null values -> no state emitted for it
        assert set(rows) == {"a", None}
        # the JVM-side null filter (skips_null_values) means batches
        # arrive in the column's NATIVE int64 dtype — never the
        # partition-dependent float64 that nullable batches used to get
        ra = HLL(p=10)
        ra.add(np.array([1, 2], dtype=np.int64))
        np.testing.assert_array_equal(
            HLL.from_bytes(bytes(rows["a"])).registers, ra.registers
        )
        rn = HLL(p=10)
        rn.add(np.array([3], dtype=np.int64))
        np.testing.assert_array_equal(
            HLL.from_bytes(bytes(rows[None])).registers, rn.registers
        )

    def test_blobs_independent_of_partition_layout(self, spark):
        """Regression: nullable int64 columns used to hash as float64 in
        null-containing batches only, making sketches depend on the
        partition layout. The JVM-side null filter makes every layout
        produce identical blobs."""
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import hll_agg

        rows = [("g%d" % (i % 3), i if i % 7 else None)
                for i in range(200)]
        df = spark.createDataFrame(rows, "g string, v long")

        def blobs(d):
            return {
                r["g"]: bytes(r["hll"])
                for r in hll_agg(d, ["g"], "v", p=10).collect()
            }

        base = blobs(df.repartition(1))
        for n in (2, 6, 13):
            assert blobs(df.repartition(n)) == base, n


class TestVectorizedBloomCmsBuild:
    """Bloom/CMS columnar multi-group builders must be state-exact vs
    the kernel per-group build (bits, counters, totals, n_added)."""

    def test_bloom_agg_equals_driver_build(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import bloom_agg
        from gr_tdigest_spark.sketches.bloom import BloomFilter

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        rows = bloom_agg(li, ["l_returnflag"], "l_orderkey",
                         m_bits=1 << 16, k=5).collect()
        pdf = li.select("l_returnflag", "l_orderkey").toPandas()
        assert len(rows) > 1
        for r in rows:
            ref = BloomFilter(m_bits=1 << 16, k=5)
            ref.add(pdf.loc[pdf["l_returnflag"] == r["l_returnflag"],
                            "l_orderkey"].to_numpy())
            got = BloomFilter.from_bytes(bytes(r["bloom"]))
            np.testing.assert_array_equal(got.words, ref.words)
            assert got.n_added == ref.n_added

    def test_cms_agg_equals_driver_build(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import cms_agg
        from gr_tdigest_spark.sketches.cms import CMS

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        rows = cms_agg(li, ["l_returnflag"], "l_suppkey",
                       depth=4, width=2048).collect()
        pdf = li.select("l_returnflag", "l_suppkey").toPandas()
        assert len(rows) > 1
        for r in rows:
            ref = CMS(depth=4, width=2048)
            ref.add(pdf.loc[pdf["l_returnflag"] == r["l_returnflag"],
                            "l_suppkey"].to_numpy())
            got = CMS.from_bytes(bytes(r["cms"]))
            np.testing.assert_array_equal(got.table, ref.table)
            assert got.total == ref.total

    def test_cms_weighted_piles_equal_row_path(self, spark, sf_dir):
        from gr_tdigest_spark.operators.companions import cms_agg

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        base = {r["l_returnflag"]: bytes(r["cms"]) for r in
                cms_agg(li, ["l_returnflag"], "l_suppkey").collect()}
        pile = {r["l_returnflag"]: bytes(r["cms"]) for r in
                cms_agg(li, ["l_returnflag"], "l_suppkey",
                        pre_aggregate=True).collect()}
        assert base == pile

    def test_forged_sparse_headers_rejected_without_allocation(self):
        """A small forged v2 blob with huge header dims must raise, not
        attempt a multi-GB dense reconstruction."""
        import struct

        cms_forged = (b"GSCM"
                      + struct.pack("<BIIqd", 2, 1 << 16, 1 << 16, 7, 0.0)
                      + struct.pack("<I", 0))
        with pytest.raises(ValueError, match="implausibly"):
            CMS.from_bytes(cms_forged)
        bloom_forged = (b"GSBF"
                        + struct.pack("<BQIqq", 2, 1 << 40, 7, 11, 0)
                        + struct.pack("<I", 0))
        with pytest.raises(ValueError, match="implausibly"):
            BloomFilter.from_bytes(bloom_forged)

    def test_kll_agg_equals_driver_build(self, spark, sf_dir):
        """KLL columnar build: uncompacted fast path for small groups,
        kernel path above capacity — byte-identical to driver builds."""
        from gr_tdigest_spark.operators.companions import kll_agg
        from gr_tdigest_spark.sketches.kll import KLL

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # high-cardinality: most groups under k
        small = kll_agg(li, ["l_orderkey"], "l_extendedprice",
                        k=200).limit(50).collect()
        pdf = li.select("l_orderkey", "l_extendedprice").toPandas()
        for r in small:
            ref = KLL(k=200)
            ref.add(pdf.loc[pdf["l_orderkey"] == r["l_orderkey"],
                            "l_extendedprice"].to_numpy())
            got = KLL.from_bytes(bytes(r["kll"]))
            assert got.n == ref.n
            np.testing.assert_array_equal(
                got.quantile(np.linspace(0, 1, 11)),
                ref.quantile(np.linspace(0, 1, 11)),
            )
        # over-capacity group: compaction path (k small to force it).
        # One coalesced partition -> one partial built by a single
        # kernel add over the partition's row order, so the reference
        # built from the SAME collected frame is byte-identical.
        one = li.select("l_returnflag", "l_extendedprice").coalesce(1)
        big = {r["l_returnflag"]: bytes(r["kll"]) for r in
               kll_agg(one, ["l_returnflag"],
                       "l_extendedprice", k=64).collect()}
        frame = one.toPandas()
        for flag, blob in big.items():
            ref = KLL(k=64)
            ref.add(frame.loc[frame["l_returnflag"] == flag,
                              "l_extendedprice"].to_numpy())
            assert blob == ref.to_bytes(), flag


class TestGoldenCompanionWire:
    """Golden-byte pins for OUR companion wire formats (the analogue of
    the TDIG golden pins in test_wire.py): sketch blobs are a
    portability promise — persisted sketch tables from this round must
    decode in every future round. These bytes may only change together
    with a deliberate wire-version bump + a migration path."""

    def test_golden_blobs(self):
        from gr_tdigest_spark.sketches.minhash import MinHash

        h = HLL(p=4)
        h.add(np.array([0, 1], dtype=np.int64))
        assert h.to_bytes().hex() == (
            "4753484c020402000000090000000e0000000403"
        )
        c = CMS(depth=2, width=8, seed=7)
        c.add(np.array([5], dtype=np.int64))
        assert c.to_bytes().hex() == (
            "4753434d0202000000080000000700000000000000000000000000f03f"
            "02000000030000000a0000000100000000000000010000000000"
            "0000"
        )
        b = BloomFilter(m_bits=64, k=2, seed=11)
        b.add(np.array([9], dtype=np.int64))
        # dense v1 auto-chosen: 2 set bits don't beat 8 payload bytes
        assert b.to_bytes().hex() == (
            "47534246014000000000000000020000000b000000000000000100"
            "0000000000000001000200000000"
        )
        m = MinHash(k=8, seed=23)
        m.add(np.array([3], dtype=np.int64))
        assert m.to_bytes().hex() == (
            "47534d4801080000001700000000000000000000000000f03fd107"
            "4534b32fec302ef4121fbef71adc8be0e009c9bf4987e8ccaef4d3"
            "87783245b97cdfde4fa7dda2a54acae917d688ff9118b5f4df0434"
            "5c7ee69fffa733df"
        )
        s = KLL(k=8, seed=17)
        s.add(np.array([1.5, 2.5]))
        assert s.to_bytes().hex() == (
            "47534b4c0108000000110000000000000000000000000000400000"
            "0000000000000100000002000000000000000000f83f0000000000"
            "000440"
        )
        # and each decodes back to the same re-encodable state
        for sk in (h, c, b, m, s):
            assert type(sk).from_bytes(sk.to_bytes()).to_bytes() == \
                sk.to_bytes()
