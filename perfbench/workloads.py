"""The benchmark workloads.

Each workload generates its inputs from the seed in ``setup`` and
offers a fixed cycle of job kinds. A job is the operator calls that
build its plan plus the collect that runs it; ``Ctx`` times both and,
in a traced run, records spans and Spark metrics around them. Every
job's output is checked against the exact answers from ``gen``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from session import seeded_keep_all

QS = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
KLL_QS = (0.1, 0.5, 0.9)
HLL_P = 14
HLL_BOUND = 3 * 1.04 / np.sqrt(1 << HLL_P)
# The relative bound is asymptotic. At small counts HLL uses linear
# counting, which counts values that share a register once; among n
# values about n^2 / 2m pairs share one, so a group of 26 values loses a
# value on about one seed in 50, 4% of its count. Allow a few such losses.
HLL_SLACK = 3
TD_BOUND = {1000: 0.01, 100: 0.05}   # rank error bound by max_size
KLL_K = 200
TOPK = 5
PACK_TOKENS = 8192
SAMPLE_K = 200
_EPOCH_DAY = gen._EPOCH_US // gen._DAY_US


@dataclass
class Job:
    """One job's outputs and the facts its check found."""

    kind: str
    module: str
    rows: int = 0
    ok: bool = True
    errors: list = field(default_factory=list)
    td_err: float = 0.0
    hll_err: float = 0.0
    blob_bytes: int = 0
    groups: int = 0

    def fail(self, msg: str) -> None:
        self.ok = False
        self.errors.append(msg)

    def blobs(self, col: pa.ChunkedArray) -> None:
        self.blob_bytes += int(pc.sum(pc.binary_length(col)).as_py() or 0)
        self.groups += len(col)


def rank_excess(sorted_vals: np.ndarray, qs, xs) -> np.ndarray:
    """Rank error of estimates ``xs`` for quantiles ``qs`` beyond the
    1/n any interpolating estimate may be off by: the distance from q to
    the rank interval [#<x, #<=x]/n, less 1/n, floored at 0."""
    n = sorted_vals.size
    xs = np.asarray(xs, dtype=np.float64)
    lo = np.searchsorted(sorted_vals, xs, "left") / n
    hi = np.searchsorted(sorted_vals, xs, "right") / n
    dist = np.maximum(0.0, np.maximum(lo - qs, qs - hi))
    return np.maximum(0.0, dist - 1.0 / n)


class Ctx:
    """Runs a job's plan and collect steps; traced runs wrap each in a
    span and a Spark job group whose jobs are read back afterwards."""

    def __init__(self, spark, tracer=None, collector=None):
        self.spark = spark
        self.tracer = tracer
        self.collector = collector
        self.steps: list = []

    def plan(self, module: str, name: str, thunk):
        if self.tracer is None:
            return thunk()
        group = self.collector.new_group(f"{name}-plan")
        try:
            with self.tracer.span(name, module) as sp:
                return thunk()
        finally:
            self.collector.clear_group()
            self.steps.append((sp, group, "plan", module, module))

    def collect(self, df, module: str, name: str,
                probes: str = None) -> pa.Table:
        """Run ``df``. ``probes`` names the module whose query functions
        the benchmark added on top of ``module``'s plan, if not
        ``module`` itself; their Python eval time is credited to it."""
        if self.tracer is None:
            return df.toArrow()
        group = self.collector.new_group(f"{name}-run")
        try:
            with self.tracer.span(f"collect {name}", "collect") as sp:
                return df.toArrow()
        finally:
            self.collector.clear_group()
            self.steps.append((sp, group, "run", module, probes or module))

    def take_steps(self) -> list:
        steps, self.steps = self.steps, []
        return steps


def _check_td(job: Job, table: pa.Table, key_codes, sorted_vals, bounds,
              max_size: int) -> None:
    """Quantiles at ``QS`` per group (column ``qs``) against exact order
    statistics."""
    bound = TD_BOUND[max_size]
    for code, qs in zip(key_codes, table.column("qs").to_pylist()):
        lo, hi = bounds[code], bounds[code + 1]
        if qs is None or hi <= lo:
            job.fail(f"t-digest group {code}: no estimate")
            continue
        err = float(rank_excess(sorted_vals[lo:hi], QS, qs).max())
        job.td_err = max(job.td_err, err)
        if err > bound:
            job.fail(f"t-digest group {code}: rank error {err:.4g} > {bound}")


def _check_hll(job: Job, est, true) -> None:
    est = np.asarray(est, dtype=np.float64)
    true = np.asarray(true, dtype=np.float64)
    if (true <= 0).any():
        job.fail("HLL group with no true distinct values")
        return
    err = np.abs(est - true)
    rel = err / true
    job.hll_err = max(job.hll_err, float(rel.max()))
    bad = err > np.maximum(HLL_BOUND * true, HLL_SLACK)
    if bad.any():
        job.fail(f"HLL relative error {rel[bad].max():.4g} > {HLL_BOUND:.4g}")


def _codes(names, vocab) -> np.ndarray:
    index = {v: i for i, v in enumerate(vocab)}
    return np.array([index.get(n, -1) for n in names], dtype=np.int64)


# --------------------------------------------------------------------- #
# transcripts
# --------------------------------------------------------------------- #

class TranscriptSketches:
    """Sketches over one transcripts table, in three regimes.

    - Few keys, many rows (by role or tool): the sketch kernels and the
      Arrow boundary do most of the work; merges are trivial.
    - Many skewed keys (by conversation): the rebalance gate, the
      shuffle, per-group blob encoding and merges work.
    - Reads only: a stored per-(day, conversation) digest table and a
      16-shard checkpoint, made in setup, are rolled up and probed, so
      blob decoding, merges and the query functions dominate.
    """

    name = "transcript_sketches"
    kinds = ("td_text", "hll_tool", "cms_tool", "kll_role", "topk_role",
             "td_conv", "hll_conv", "rollup_td", "ckpt_merge", "df_probe",
             "sql_probe")
    # fewer files than task slots, so sketch_agg's rebalance gate runs
    n_files = 3
    max_size = 100
    n_check = 300
    n_shards = 16
    n_slices = 8

    def setup(self, spark, work, seed):
        from pyspark.sql import functions as F

        import gr_tdigest_spark.functions as Fn
        from gr_tdigest_spark.operators import TDigestSpec, tdigest_agg
        from gr_tdigest_spark.sources.checkpoint import (
            build_partials_checkpointed,
        )

        table, self.truth = gen.transcripts(seed)
        gen.write_parquet(table, os.path.join(work, "transcripts"),
                          self.n_files)
        self.spark = spark
        self.table = spark.read.parquet(os.path.join(work, "transcripts"))
        self.rng = np.random.default_rng([seed, 3])
        self.check_rng = np.random.default_rng([seed, 4])
        tr = self.truth
        self.n_convs = tr.conv_names.size
        self.by_role = {
            "text_len": tr.sorted_by(tr.role, tr.text_len.astype(np.float64)),
            "latency_ms": tr.sorted_by(tr.role, tr.latency_ms),
        }
        td_path = os.path.join(work, "td_store")
        tdigest_agg(self.table.withColumn("day", F.to_date("ts")),
                    ["day", "conv_id"], "latency_ms",
                    max_size=self.max_size).write.parquet(td_path)
        self.td_store = spark.read.parquet(td_path)
        self.td_store.createOrReplaceTempView("td_store")
        Fn.register_sql(spark)
        self.ckpt = os.path.join(work, "ckpt")
        t0 = time.perf_counter()
        build_partials_checkpointed(self.table, ["role"], "text_len",
                                    TDigestSpec(), self.ckpt,
                                    n_shards=self.n_shards)
        self.ckpt_build_s = time.perf_counter() - t0
        parts = [os.path.join(d, f) for d, _, fs in os.walk(self.ckpt)
                 for f in fs if f.endswith(".parquet")]
        self.ckpt_bytes = sum(os.path.getsize(p) for p in parts)
        self.ckpt_rows = sum(pq.ParquetFile(p).metadata.num_rows
                             for p in parts)

        self.by_conv = tr.sorted_by(tr.conv, tr.latency_ms)
        self.tools_per_conv = tr.distinct_per(tr.conv, tr.tool, self.n_convs)
        sizes = np.diff(self.by_conv[1])
        # a seeded sample plus the largest conversations, where the
        # digest compresses
        self.check_convs = np.unique(np.r_[
            self.check_rng.choice(self.n_convs, self.n_check, replace=False),
            np.argsort(sizes)[-30:]])
        self.by_day = tr.sorted_by(tr.day, tr.latency_ms)
        self.dc_keys, dc_codes = np.unique(tr.day * self.n_convs + tr.conv,
                                           return_inverse=True)
        self.by_day_conv = tr.sorted_by(dc_codes, tr.latency_ms)
        self.conv_of = {n: i for i, n in enumerate(tr.conv_names)}

    def replay_arrays(self):
        """Arrays for the kernel replay: (values, few-key codes, many-key
        codes, hashed items)."""
        tr = self.truth
        return tr.latency_ms, tr.role, tr.conv, tr.conv_names[tr.conv]

    def fresh(self):
        """The table behind a predicate that keeps every row but gives
        this job its own semantic hash."""
        return self.table.where(seeded_keep_all(self.rng, "text_len", 1))

    def run(self, kind: str, ctx: Ctx) -> Job:
        if kind in ("td_conv", "hll_conv"):
            return self._build(kind, ctx)
        if kind in ("rollup_td", "ckpt_merge"):
            return self._merge(kind, ctx)
        if kind in ("df_probe", "sql_probe"):
            return self._probe(kind, ctx)
        return self._role(kind, ctx)

    def _merge(self, kind: str, ctx: Ctx) -> Job:
        """Roll the stored digests up by day, or merge the checkpoint's
        partials by role."""
        import gr_tdigest_spark.functions as Fn
        from gr_tdigest_spark.operators import TDigestSpec
        from gr_tdigest_spark.operators.rollup import merge_sketch_tables
        from gr_tdigest_spark.sources.checkpoint import merge_from_checkpoint

        if kind == "rollup_td":
            job = Job(kind, "operators.rollup", self.dc_keys.size)
            src = self.td_store.where(self._day_floor())
            agg = ctx.plan(job.module, kind, lambda: merge_sketch_tables(
                [src], ["day"], "tdigest"))
            key, (sv, b), max_size = "day", self.by_day, self.max_size
        else:
            job = Job(kind, "sources.checkpoint", self.ckpt_rows)
            agg = ctx.plan(job.module, kind, lambda: merge_from_checkpoint(
                self.spark, self.ckpt, TDigestSpec(), ["role"]))
            key, (sv, b), max_size = "role", self.by_role["text_len"], 1000
        out = ctx.collect(agg.select(
            key, Fn.tdigest_quantiles("tdigest", QS).alias("qs"),
            "tdigest"), job.module, kind, "functions")
        job.blobs(out.column("tdigest"))
        if key == "day":
            codes = out.column("day").cast(pa.int32()).to_numpy() - _EPOCH_DAY
        else:
            codes = _codes(out.column("role").to_pylist(), gen.ROLES)
        if out.num_rows != b.size - 1:
            job.fail(f"{out.num_rows} {key} groups, expected {b.size - 1}")
        _check_td(job, out, codes, sv, b, max_size)
        return job

    def _build(self, kind: str, ctx: Ctx) -> Job:
        from gr_tdigest_spark.operators import tdigest_agg
        from gr_tdigest_spark.operators.companions import hll_agg
        from gr_tdigest_spark.sketches import wire
        from gr_tdigest_spark.sketches.hll import HLL

        df = self.fresh()
        if kind == "td_conv":
            job = Job(kind, "operators.agg", self.truth.n_rows)
            agg = ctx.plan(job.module, kind, lambda: tdigest_agg(
                df, ["conv_id"], "latency_ms", max_size=self.max_size))
            out = ctx.collect(agg, job.module, kind)
            expect, blob_col = self.n_convs, "tdigest"
        else:
            job = Job(kind, "operators.companions", self.truth.n_rows)
            agg = ctx.plan(job.module, kind,
                           lambda: hll_agg(df, ["conv_id"], "tool", p=HLL_P))
            out = ctx.collect(agg, job.module, kind)
            expect = int((self.tools_per_conv > 0).sum())
            blob_col = "hll"
        job.blobs(out.column(blob_col))
        if out.num_rows != expect:
            job.fail(f"{out.num_rows} conversation groups, expected {expect}")
            return job
        names = out.column("conv_id").to_numpy(zero_copy_only=False)
        row_of = dict(zip(names, range(len(names))))
        blobs = out.column(blob_col)
        sv, b = self.by_conv
        est, true = [], []
        for c in self.check_convs:
            if kind == "hll_conv" and not self.tools_per_conv[c]:
                continue
            i = row_of.get(self.truth.conv_names[c])
            if i is None:
                job.fail(f"conversation {c} missing")
            elif kind == "td_conv":
                td = wire.decode(blobs[i].as_py())
                err = float(rank_excess(sv[b[c]:b[c + 1]], QS,
                                        td.quantile(QS)).max())
                job.td_err = max(job.td_err, err)
                if err > TD_BOUND[self.max_size]:
                    job.fail(f"conversation {c}: rank error {err:.4g}")
            else:
                est.append(HLL.from_bytes(blobs[i].as_py()).estimate())
                true.append(self.tools_per_conv[c])
        if kind == "hll_conv":
            _check_hll(job, est, true)
        return job

    def _day_floor(self):
        """A predicate that keeps every stored day, fresh per job."""
        from pyspark.sql import functions as F

        back = int(self.rng.integers(1, 10**6))
        return F.col("day") > F.date_sub(F.lit("2026-01-01").cast("date"),
                                         back)

    def _probe(self, kind: str, ctx: Ctx) -> Job:
        """Per-row quantiles over a seeded slice of the stored digests,
        through the DataFrame or the SQL surface."""
        from pyspark.sql import functions as F

        import gr_tdigest_spark.functions as Fn

        job = Job(kind, "functions", self.dc_keys.size)
        salt = int(self.rng.integers(0, 10**9))
        part = int(self.rng.integers(0, self.n_slices))
        where = f"pmod(hash(conv_id, {salt}), {self.n_slices}) = {part}"
        if kind == "df_probe":
            plan = ctx.plan(job.module, kind, lambda: self.td_store.where(
                F.expr(where)).select(
                    "day", "conv_id",
                    Fn.tdigest_quantile("tdigest", 0.5).alias("q50"),
                    Fn.tdigest_quantile("tdigest", 0.9).alias("q90"),
                    F.length("tdigest").alias("nbytes")))
        else:
            plan = ctx.plan(job.module, kind, lambda: self.spark.sql(
                "SELECT day, conv_id, tdigest_quantile(tdigest, 0.5) AS q50, "
                "tdigest_quantile(tdigest, 0.9) AS q90, length(tdigest) AS "
                f"nbytes FROM td_store WHERE {where}"))
        out = ctx.collect(plan, job.module, kind)
        job.blob_bytes += int(pc.sum(out.column("nbytes")).as_py() or 0)
        job.groups += out.num_rows
        if out.num_rows == 0:
            job.fail("empty probe slice")
            return job
        days = out.column("day").cast(pa.int32()).to_numpy() - _EPOCH_DAY
        convs = np.array([self.conv_of[n] for n in
                          out.column("conv_id").to_pylist()], np.int64)
        keys = days * self.n_convs + convs
        codes = np.minimum(np.searchsorted(self.dc_keys, keys),
                           self.dc_keys.size - 1)
        if (self.dc_keys[codes] != keys).any():
            job.fail("probe returned an unknown (day, conversation)")
            return job
        sv, b = self.by_day_conv
        est = np.column_stack([out.column("q50").to_numpy(),
                               out.column("q90").to_numpy()])
        qs = np.array([0.5, 0.9])
        for code, row in zip(codes, est):
            err = float(rank_excess(sv[b[code]:b[code + 1]], qs, row).max())
            job.td_err = max(job.td_err, err)
            if err > TD_BOUND[self.max_size]:
                job.fail(f"stored digest {code}: rank error {err:.4g}")
        return job

    def _role(self, kind: str, ctx: Ctx) -> Job:
        """Few keys over many rows."""
        from pyspark.sql import functions as F

        import gr_tdigest_spark.functions as Fn
        from gr_tdigest_spark.operators import tdigest_agg
        from gr_tdigest_spark.operators import companions as C

        tr = self.truth
        df = self.fresh()
        if kind == "td_text":
            job = Job(kind, "operators.agg", tr.n_rows)
            agg = ctx.plan(job.module, kind,
                           lambda: tdigest_agg(df, ["role"], "text_len"))
            out = ctx.collect(agg.select(
                "role", Fn.tdigest_quantiles("tdigest", QS).alias("qs"),
                F.col("tdigest")), job.module, kind, "functions")
            job.blobs(out.column("tdigest"))
            sv, b = self.by_role["text_len"]
            codes = _codes(out.column("role").to_pylist(), gen.ROLES)
            _check_td(job, out, codes, sv, b, 1000)
            if out.num_rows != len(gen.ROLES):
                job.fail(f"{out.num_rows} role groups")
            return job
        job = Job(kind, "operators.companions", tr.n_rows)
        if kind == "hll_tool":
            agg = ctx.plan(job.module, kind,
                           lambda: C.hll_agg(df, ["tool"], "conv_id", p=HLL_P))
            out = ctx.collect(agg.select("tool", C.hll_estimate("hll")
                                         .alias("est"), "hll"),
                              job.module, kind)
            job.blobs(out.column("hll"))
            codes = _codes(out.column("tool").to_pylist(), gen.TOOLS) + 1
            true = tr.distinct_per(tr.tool + 1, tr.conv, gen.N_TOOLS + 1)
            if out.num_rows != int((true > 0).sum()):
                job.fail(f"{out.num_rows} tool groups")
            _check_hll(job, out.column("est").to_numpy(), true[codes])
        elif kind == "cms_tool":
            agg = ctx.plan(job.module, kind,
                           lambda: C.cms_agg(df, None, "tool"))
            out = ctx.collect(agg.select(
                C.cms_estimate("cms", gen.TOOLS.tolist()).alias("est"),
                "cms"), job.module, kind)
            job.blobs(out.column("cms"))
            est = np.asarray(out.column("est").to_pylist()[0])
            if (est < tr.tool_counts()[0]).any():
                job.fail("CMS estimate below the true count")
        elif kind == "kll_role":
            agg = ctx.plan(job.module, kind, lambda: C.kll_agg(
                df, ["role"], "latency_ms", k=KLL_K))
            out = ctx.collect(agg.select(
                "role", F.array(*[C.kll_quantile("kll", q)
                                  for q in KLL_QS]).alias("qs"), "kll"),
                job.module, kind)
            job.blobs(out.column("kll"))
            sv, b = self.by_role["latency_ms"]
            codes = _codes(out.column("role").to_pylist(), gen.ROLES)
            for code, qs in zip(codes, out.column("qs").to_pylist()):
                err = rank_excess(sv[b[code]:b[code + 1]],
                                  np.array(KLL_QS), qs).max()
                if err > 3.0 / KLL_K:
                    job.fail(f"KLL rank error {err:.4g}")
        else:
            agg = ctx.plan(job.module, kind, lambda: C.cms_topk(
                df, ["role"], "tool", k=TOPK))
            out = ctx.collect(agg, job.module, kind)
            true = tr.tool_counts(tr.role, len(gen.ROLES))
            roles = _codes(out.column("role").to_pylist(), gen.ROLES)
            tools = _codes(out.column("tool").to_pylist(), gen.TOOLS)
            est = out.column("est_count").to_numpy()
            if (est < true[roles, tools]).any():
                job.fail("top-k estimate below the true count")
            if np.bincount(roles).max(initial=0) > TOPK or \
                    set(roles) != set(np.flatnonzero(true.sum(1))):
                job.fail("top-k rows per role")
        return job


# --------------------------------------------------------------------- #
# corpus curation
# --------------------------------------------------------------------- #

class CorpusCuration:
    """JVM plans, shuffles and plan-regime choices; sketches nearly idle."""

    name = "corpus_curation"
    kinds = ("dedup_exact", "dedup_lines", "contamination", "pack",
             "sample", "profile")

    def setup(self, spark, work: str, seed: int) -> None:
        docs, bench, self.truth = gen.corpus(seed)
        gen.write_parquet(docs, os.path.join(work, "docs"), 8)
        gen.write_parquet(bench, os.path.join(work, "bench"), 1)
        self.docs = spark.read.parquet(os.path.join(work, "docs"))
        self.bench = spark.read.parquet(os.path.join(work, "bench"))
        self.rng = np.random.default_rng([seed, 3])
        t = self.truth
        self.n_per_source = np.bincount(t.source, minlength=len(gen.SOURCES))
        self.tokens_of = dict(zip(t.ids.tolist(), t.n_tokens.tolist()))
        order = np.lexsort((t.score, t.source))
        self.score_sorted = t.score[order]
        self.score_bounds = np.searchsorted(t.source[order],
                                            np.arange(len(gen.SOURCES) + 1))

    def replay_arrays(self):
        t = self.truth
        return t.score, t.source, t.ids, np.array(t.texts, dtype=object)

    def run(self, kind: str, ctx: Ctx) -> Job:
        from pyspark.sql import functions as F

        import gr_tdigest_spark.functions as Fn
        from gr_tdigest_spark.operators import tdigest_agg
        from gr_tdigest_spark.operators.companions import hll_agg, hll_estimate
        from gr_tdigest_spark.operators.contamination import (
            contamination_scores,
        )
        from gr_tdigest_spark.operators.dedup import dedup_exact, dedup_lines
        from gr_tdigest_spark.operators.pack import pack_sequences
        from gr_tdigest_spark.operators.sample import stratified_sample

        t = self.truth
        df = self.docs.where(seeded_keep_all(self.rng, "n_tokens", 1))
        if kind == "dedup_exact":
            job = Job(kind, "operators.dedup", t.ids.size)
            plan = ctx.plan(job.module, kind,
                            lambda: dedup_exact(df, "id", "text"))
            out = ctx.collect(plan.select("id"), job.module, kind)
            got = np.sort(out.column("id").to_numpy())
            if got.size != t.survivors.size or (got != t.survivors).any():
                job.fail(f"dedup_exact kept {got.size}, "
                         f"expected {t.survivors.size}")
        elif kind == "dedup_lines":
            job = Job(kind, "operators.dedup", t.ids.size)
            plan = ctx.plan(job.module, kind,
                            lambda: dedup_lines(df, "id", "text"))
            out = ctx.collect(plan.select(
                F.sum("n_lines_kept").alias("kept"),
                F.sum("n_lines_removed").alias("removed"),
                F.count("*").alias("docs")), job.module, kind)
            row = out.to_pylist()[0]
            if (row["kept"], row["removed"], row["docs"]) != (
                    t.lines_kept, t.lines_removed, t.ids.size):
                job.fail(f"dedup_lines {row}, expected kept "
                         f"{t.lines_kept} removed {t.lines_removed}")
        elif kind == "contamination":
            job = Job(kind, "operators.contamination", t.ids.size)
            plan = ctx.plan(job.module, kind, lambda: contamination_scores(
                df, "id", self.bench, method="bloom"))
            out = ctx.collect(plan.select("id", "n_hit"), job.module, kind)
            hits = dict(zip(out.column("id").to_pylist(),
                            out.column("n_hit").to_pylist()))
            if len(hits) != t.ids.size:
                job.fail(f"{len(hits)} scored documents")
            missed = [i for i, n in t.overlap_hits.items()
                      if (hits.get(i) or 0) < n]
            if missed:
                job.fail(f"{len(missed)} planted overlaps under-counted")
        elif kind == "pack":
            job = Job(kind, "operators.pack", t.ids.size)
            plan = ctx.plan(job.module, kind, lambda: pack_sequences(
                df, "id", "n_tokens", PACK_TOKENS, n_buckets=8,
                method="nextfit"))
            out = ctx.collect(plan.select("id", "pack_id"), job.module, kind)
            ids = out.column("id").to_numpy()
            packs = out.column("pack_id").to_pylist()
            if out.num_rows != t.ids.size or None in packs:
                job.fail("documents left unpacked")
            else:
                _, inv = np.unique(np.array(packs, dtype=object).astype(str),
                                   return_inverse=True)
                toks = np.array([self.tokens_of[i] for i in ids.tolist()])
                if np.bincount(inv, weights=toks).max() > PACK_TOKENS:
                    job.fail(f"a pack exceeds {PACK_TOKENS} tokens")
        elif kind == "sample":
            job = Job(kind, "operators.sample", t.ids.size)
            plan = ctx.plan(job.module, kind, lambda: stratified_sample(
                df, "source", SAMPLE_K, "id",
                seed=int(self.rng.integers(0, 2**31))))
            out = ctx.collect(plan.select("source", "id"), job.module, kind)
            src = _codes(out.column("source").to_pylist(), gen.SOURCES)
            got = np.bincount(src, minlength=len(gen.SOURCES))
            want = np.minimum(SAMPLE_K, self.n_per_source)
            if (got != want).any():
                job.fail(f"stratum sizes {got.tolist()}, expected "
                         f"{want.tolist()}")
            ids = out.column("id").to_numpy()
            pos = np.searchsorted(t.ids, ids)
            if (t.ids[np.minimum(pos, t.ids.size - 1)] != ids).any() or \
                    (t.source[pos] != src).any():
                job.fail("sampled ids outside their stratum")
        else:
            job = Job(kind, "operators.agg", t.ids.size)
            td = ctx.plan(job.module, kind, lambda: tdigest_agg(
                df, ["source"], "score", max_size=100))
            hl = ctx.plan("operators.companions", kind,
                          lambda: hll_agg(df, ["source"], "text", p=HLL_P))
            out = ctx.collect(td.select(
                "source", Fn.tdigest_quantiles("tdigest", QS).alias("qs"),
                "tdigest"), job.module, kind, "functions")
            out_h = ctx.collect(hl.select("source", hll_estimate("hll")
                                          .alias("est"), "hll"),
                                "operators.companions", kind)
            job.blobs(out.column("tdigest"))
            job.blobs(out_h.column("hll"))
            codes = _codes(out.column("source").to_pylist(), gen.SOURCES)
            _check_td(job, out, codes, self.score_sorted, self.score_bounds,
                      100)
            codes = _codes(out_h.column("source").to_pylist(), gen.SOURCES)
            _check_hll(job, out_h.column("est").to_numpy(),
                       t.distinct_texts[codes])
        return job


WORKLOADS = {w.name: w for w in (TranscriptSketches, CorpusCuration)}
