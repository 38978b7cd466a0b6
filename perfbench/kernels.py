"""In-process kernel replay, with no Spark.

Replays the sketch kernels on a workload's own arrays and key codes, cut
into partition-sized batches, along the axes of quantile-sketch
experiments: update (build), merge, query, space (blob bytes).
"""

from __future__ import annotations

import time

import numpy as np


def _per_call(fn, min_s: float = 0.05, max_reps: int = 200) -> float:
    """Seconds per call of ``fn``, repeated until ``min_s`` has passed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s or reps >= max_reps:
            return dt / reps


def replay(values: np.ndarray, few_keys: np.ndarray, many_keys: np.ndarray,
           items: np.ndarray, n_batches: int) -> dict:
    """Kernel metrics, named ``sketches.<kind>.*`` and
    ``operators.agg.spec_build_ns_per_row.{few,many}_keys``.

    ``values`` feed the quantile sketches and, grouped by the key codes,
    the multi-group t-digest build (``max_size`` 1000 for few keys, 100
    for many); ``items`` feed the hash sketches."""
    from gr_tdigest_spark.operators import TDigestSpec
    from gr_tdigest_spark.sketches import wire
    from gr_tdigest_spark.sketches.bloom import BloomFilter
    from gr_tdigest_spark.sketches.cms import CMS
    from gr_tdigest_spark.sketches.hll import HLL
    from gr_tdigest_spark.sketches.kll import KLL
    from gr_tdigest_spark.sketches.tdigest import TDigest

    out = {}
    vb = np.array_split(np.asarray(values, dtype=np.float64), n_batches)
    ib = np.array_split(items, n_batches)
    v0, i0 = vb[0], ib[0]
    for label, keys, max_size in (("few_keys", few_keys, 1000),
                                  ("many_keys", many_keys, 100)):
        k0 = np.array_split(np.asarray(keys, dtype=np.int64), n_batches)[0]
        uniq, codes = np.unique(k0, return_inverse=True)
        spec = TDigestSpec(max_size=max_size)
        key_tuples = [(int(u),) for u in uniq]
        out[f"operators.agg.spec_build_ns_per_row.{label}"] = _per_call(
            lambda: spec.build_blobs_from_codes(codes, key_tuples, v0, None)
        ) / v0.size * 1e9

    def shards(build, batches, n=40):
        reps = [batches[i % len(batches)] for i in range(n)]
        return [build(b) for b in reps]

    kernels = {
        "tdigest": (TDigest.from_values,
                    vb, lambda s: s.quantile(0.5), "quantile_us"),
        "hll": (lambda b: _filled(HLL(p=14), b), ib,
                lambda s: s.estimate(), "estimate_us"),
        "cms": (lambda b: _filled(CMS(), b), ib,
                lambda s: s.estimate(i0[:64]), "estimate_us"),
        "kll": (lambda b: _filled(KLL(k=200), b), vb,
                lambda s: s.quantile(0.5), "quantile_us"),
        "bloom": (lambda b: _filled(BloomFilter(), b), ib,
                  None, None),
    }
    for name, (build, batches, query, qname) in kernels.items():
        p = f"sketches.{name}."
        b0 = batches[0]
        out[p + "build_ns_per_value"] = _per_call(
            lambda: build(b0)) / b0.size * 1e9
        parts = shards(build, batches)
        merge = TDigest.merge_digests if name == "tdigest" else _merge_all
        out[p + "merge2_us"] = _per_call(lambda: merge(parts[:2])) * 1e6
        out[p + "merge40_us"] = _per_call(lambda: merge(parts)) * 1e6
        whole = merge(parts)
        if query is not None:
            out[p + qname] = _per_call(lambda: query(whole)) * 1e6
        if name == "tdigest":
            blob = wire.encode(whole)
            out["sketches.wire.encode_us"] = _per_call(
                lambda: wire.encode(whole)) * 1e6
            out["sketches.wire.decode_us"] = _per_call(
                lambda: wire.decode(blob)) * 1e6
        else:
            blob = whole.to_bytes()
            cls = type(whole)
            out[p + "encode_us"] = _per_call(whole.to_bytes) * 1e6
            out[p + "decode_us"] = _per_call(
                lambda: cls.from_bytes(blob)) * 1e6
        out[p + "blob_bytes"] = len(blob)
    bloom = _merge_all(shards(kernels["bloom"][0], ib))
    out["sketches.bloom.probe_ns_per_key"] = _per_call(
        lambda: bloom.contains(i0)) / i0.size * 1e9
    return out


def _filled(sketch, batch):
    sketch.add(batch)
    return sketch


def _merge_all(parts):
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.merge(p)
    return acc
