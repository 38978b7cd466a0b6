"""Hypothesis property tests for the sketch monoid laws
(north_rule: merge associativity/commutativity).

``HYP_EXAMPLES_SCALE=N`` multiplies every test's example budget —
normal runs stay fast, while ``tools/fuzz_kernel.py`` sets a large
scale for long-haul fuzzing (how the r3 kernel bugs were found)."""

import os

import numpy as np
from hypothesis import example, given, settings, strategies as st

_SCALE = max(int(os.environ.get("HYP_EXAMPLES_SCALE", "1")), 1)


def _n(base: int) -> int:
    return base * _SCALE

from gr_tdigest_spark.sketches.bloom import BloomFilter
from gr_tdigest_spark.sketches.cms import CMS
from gr_tdigest_spark.sketches.hll import HLL
from gr_tdigest_spark.sketches.kll import KLL
from gr_tdigest_spark.sketches.tdigest import TDigest

finite_floats = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)
value_lists = st.lists(finite_floats, min_size=0, max_size=200)


@settings(max_examples=_n(40), deadline=None)
@given(a=value_lists, b=value_lists)
def test_tdigest_merge_commutative_exact_invariants(a, b):
    da = TDigest.from_values(a, max_size=100)
    db = TDigest.from_values(b, max_size=100)
    ab = TDigest.merge_digests([da, db])
    ba = TDigest.merge_digests([db, da])
    assert ab.count == ba.count == len(a) + len(b)
    if a or b:
        assert ab.min == ba.min == min(a + b)
        assert ab.max == ba.max == max(a + b)
        # same input stream after the k-way sort ⇒ identical centroids
        np.testing.assert_array_equal(ab.means64, ba.means64)
        np.testing.assert_array_equal(ab.weights64, ba.weights64)


@settings(max_examples=_n(30), deadline=None)
@given(a=value_lists, b=value_lists, c=value_lists)
# r3 falsifying example (committed pin): dead-zone interpolation overshot
# the [ml, mr] bracket by one ulp → quantile dipped by ~1.2e-7 between
# adjacent q.  Fixed by constant-denominator lerp + bracket clamp.
@example(a=[0.0] * 8, b=[-715827884.0] * 3, c=[-715827883.34])
def test_tdigest_quantiles_in_range_and_monotone(a, b, c):
    parts = [
        TDigest.from_values(v, max_size=50) for v in (a, b, c) if v
    ]
    if not parts:
        return
    m = TDigest.merge_digests(parts)
    qs = np.linspace(0, 1, 21)
    got = m.quantile(qs)
    assert np.all(np.diff(got) >= -1e-9), "monotone in q"
    assert got[0] == m.min and got[-1] == m.max
    grid = np.linspace(m.min - 1, m.max + 1, 50)
    cdf = m.cdf(grid)
    assert np.all(np.diff(cdf) >= -1e-12)
    assert np.all((cdf >= 0) & (cdf <= 1))


@settings(max_examples=_n(25), deadline=None)
@given(
    data=st.lists(st.integers(min_value=0, max_value=10_000),
                  min_size=1, max_size=500),
    split=st.integers(min_value=0, max_value=500),
)
def test_hll_merge_associative_exact_state(data, split):
    split = min(split, len(data))
    a, b = data[:split], data[split:]
    ha, hb = HLL(p=10), HLL(p=10)
    if a:
        ha.add(np.asarray(a))
    if b:
        hb.add(np.asarray(b))
    whole = HLL(p=10)
    whole.add(np.asarray(data))
    np.testing.assert_array_equal(ha.merge(hb).registers, whole.registers)
    np.testing.assert_array_equal(hb.merge(ha).registers, whole.registers)


@settings(max_examples=_n(25), deadline=None)
@given(
    data=st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=300),
    split=st.integers(min_value=0, max_value=300),
)
def test_cms_and_bloom_merge_equal_single_build(data, split):
    split = min(split, len(data))
    arr = np.asarray(data, dtype=object)
    a, b = arr[:split], arr[split:]
    ca, cb, cw = CMS(width=512), CMS(width=512), CMS(width=512)
    if a.size:
        ca.add(a)
    if b.size:
        cb.add(b)
    cw.add(arr)
    np.testing.assert_array_equal(ca.merge(cb).table, cw.table)
    fa, fb, fw = (BloomFilter(m_bits=1 << 10) for _ in range(3))
    if a.size:
        fa.add(a)
    if b.size:
        fb.add(b)
    fw.add(arr)
    np.testing.assert_array_equal(fa.merge(fb).words, fw.words)


@settings(max_examples=_n(20), deadline=None)
@given(vals=st.lists(finite_floats, min_size=1, max_size=400))
def test_kll_weight_preservation_under_merge(vals):
    arr = np.asarray(vals)
    half = len(arr) // 2
    a, b = KLL(k=64), KLL(k=64)
    if half:
        a.add(arr[:half])
    if len(arr) - half:
        b.add(arr[half:])
    m = a.merge(b)
    _, w = m._weighted_items()
    assert np.sum(w) == len(arr)
    assert m.n == len(arr)
    q = m.quantile([0.0, 0.5, 1.0])
    assert arr.min() <= q[0] <= q[1] <= q[2] <= arr.max()


@settings(max_examples=_n(25), deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                  allow_infinity=False),
        min_size=1, max_size=300,
    ),
    dup=st.integers(min_value=1, max_value=5),
)
# r3 falsifying example (committed pin): data with both 0.0 and -0.0 made
# the surviving run representative order-dependent (signed zeros compare
# equal), so pile-vs-row blobs differed in one sign bit.  Fixed by
# canonicalizing -0.0 → +0.0 at ingest in _normalize/_prepare_runs.
@example(vals=[0.0, 0.0, 0.0, -0.0, -1.0, -1.0], dup=2)
def test_pile_build_equals_row_build(vals, dup):
    """Weighted build from exact (value, count) piles must equal the
    row build — the kernel contract behind tdigest_agg(pre_aggregate):
    byte-identical under capacity, identical quantiles compressed."""
    from gr_tdigest_spark.sketches import wire

    arr = np.repeat(np.asarray(vals, dtype=np.float64), dup)
    uniq, counts = np.unique(arr, return_counts=True)
    # under capacity: byte-identical blobs
    a = TDigest.from_values(np.sort(arr), max_size=20000, policy="off")
    b = TDigest.from_weighted(uniq, counts.astype(float),
                              max_size=20000, policy="off")
    assert wire.encode(a, 3) == wire.encode(b, 3)
    # compressed: same count/min/max, quantiles within accuracy noise
    ca = TDigest.from_values(arr, max_size=50)
    cb = TDigest.from_weighted(uniq, counts.astype(float), max_size=50)
    assert ca.count == cb.count and ca.min == cb.min and ca.max == cb.max
    spread = max(ca.max - ca.min, 1e-9)
    for q in (0.1, 0.5, 0.9):
        assert abs(ca.quantile(q) - cb.quantile(q)) <= 0.2 * spread


@settings(max_examples=_n(30), deadline=None)
@given(
    weights=st.lists(
        st.floats(min_value=0.01, max_value=1e4, allow_nan=False,
                  allow_infinity=False),
        min_size=1, max_size=250,
    ),
    d=st.floats(min_value=2.0, max_value=2000.0),
    family=st.sampled_from(["quad", "k1", "k2", "k3", "k2norm"]),
)
def test_greedy_starts_matches_bruteforce(weights, d, family):
    """The factored f(d)·g(q) greedy walk must produce exactly the
    clusters of the direct definition: scan left-to-right, absorb while
    k(q_right) − k(q_left) ≤ (1+tol), first element unconditional."""
    from gr_tdigest_spark.sketches.tdigest import (
        KLIMIT_TOL, _k_scale_factor, _g_of_q, _klimit_boundaries,
    )

    w = np.asarray(weights, dtype=np.float64)
    got = _klimit_boundaries(w, d, family, KLIMIT_TOL).tolist()

    # brute force on the same g/f factorization, no bisect
    m = w.size
    f = _k_scale_factor(d, family, float(m))
    limit = (1.0 + KLIMIT_TOL) / f
    g = _g_of_q(np.cumsum(w) / float(np.sum(w)), family).tolist()
    g0 = float(_g_of_q(np.asarray([0.0]), family)[0])
    starts, s, k_left = [], 0, g0
    while s < m:
        starts.append(s)
        e = s  # first element of a cluster is unconditional
        while e + 1 < m and g[e + 1] <= k_left + limit:
            e += 1
        k_left = g[e]
        s = e + 1
    assert got == starts


@given(
    data=st.lists(st.integers(min_value=0, max_value=500),
                  min_size=0, max_size=300),
    split=st.integers(min_value=0, max_value=300),
)
def test_minhash_merge_associative_idempotent_exact_state(data, split):
    """MinHash merge is associative, commutative, and idempotent with
    the empty signature as identity — and sig(A∪B) == min(sigA, sigB)
    exactly, so any shard split yields the whole-set signature."""
    from gr_tdigest_spark.sketches.minhash import MinHash

    split = min(split, len(data))
    a, b, whole = MinHash(k=64), MinHash(k=64), MinHash(k=64)
    arr = np.asarray(data, dtype=np.int64)
    if split:
        a.add(arr[:split])
    if len(data) - split:
        b.add(arr[split:])
    if len(data):
        whole.add(arr)
    ab, ba = a.merge(b), b.merge(a)
    np.testing.assert_array_equal(ab.sig, whole.sig)
    np.testing.assert_array_equal(ab.sig, ba.sig)
    np.testing.assert_array_equal(ab.merge(ab).sig, ab.sig)
    np.testing.assert_array_equal(ab.merge(MinHash(k=64)).sig, ab.sig)


@settings(max_examples=_n(200), deadline=None)
@given(payload=st.binary(min_size=0, max_size=64),
      magic=st.sampled_from([b"GSHL", b"GSCM", b"GSBF", b"GSMH",
                             b"GSBK", b"GSWK", b"GSKL"]))
def test_wire_decoders_never_crash_on_garbage(payload, magic):
    """Corrupt/truncated blobs (valid magic + arbitrary bytes) must
    raise a clean ValueError — never a struct.error, a segfault or a
    hang, nor silently return a sketch built from garbage lengths."""
    from gr_tdigest_spark.sketches.bloom import BloomFilter
    from gr_tdigest_spark.sketches.bottomk import BottomK
    from gr_tdigest_spark.sketches.cms import CMS
    from gr_tdigest_spark.sketches.hll import HLL
    from gr_tdigest_spark.sketches.minhash import MinHash

    from gr_tdigest_spark.sketches.bottomk import WeightedBottomK

    decoder = {b"GSHL": HLL, b"GSCM": CMS, b"GSBF": BloomFilter,
               b"GSMH": MinHash, b"GSBK": BottomK,
               b"GSWK": WeightedBottomK, b"GSKL": KLL}[magic]
    blob = magic + payload
    try:
        sk = decoder.from_bytes(blob)
    except ValueError:
        return
    # a blob that decodes must round-trip to identical state
    rt = decoder.from_bytes(sk.to_bytes())
    if hasattr(sk, "registers"):
        np.testing.assert_array_equal(rt.registers, sk.registers)
    elif hasattr(sk, "table"):
        np.testing.assert_array_equal(rt.table, sk.table)
    elif hasattr(sk, "words"):
        np.testing.assert_array_equal(rt.words, sk.words)
    elif hasattr(sk, "hashes"):
        np.testing.assert_array_equal(rt.hashes, sk.hashes)
        assert rt.sample() == sk.sample()
    elif hasattr(sk, "levels"):
        assert rt.to_bytes() == sk.to_bytes()
    else:
        np.testing.assert_array_equal(rt.sig, sk.sig)


def _valid_wire_blobs():
    """One small valid blob per wire format (built once per process)."""
    from gr_tdigest_spark.sketches import wire as td_wire
    from gr_tdigest_spark.sketches.bloom import BloomFilter
    from gr_tdigest_spark.sketches.bottomk import BottomK
    from gr_tdigest_spark.sketches.cms import CMS
    from gr_tdigest_spark.sketches.hll import HLL
    from gr_tdigest_spark.sketches.kll import KLL
    from gr_tdigest_spark.sketches.minhash import MinHash
    from gr_tdigest_spark.sketches.tdigest import TDigest

    vals = np.arange(40, dtype=np.float64)
    objs = np.array([f"v{i}" for i in range(40)], dtype=object)
    out = {}
    td = TDigest.from_values(vals, max_size=16)
    out["tdig"] = (td_wire.encode(td, 3), td_wire.decode)
    h = HLL(p=6); h.add(objs)
    out["hll"] = (h.to_bytes(), HLL.from_bytes)
    c = CMS(depth=3, width=32); c.add(objs)
    out["cms"] = (c.to_bytes(), CMS.from_bytes)
    b = BloomFilter(m_bits=256, k=3); b.add(objs)
    out["bloom"] = (b.to_bytes(), BloomFilter.from_bytes)
    m = MinHash(k=16); m.add(objs)
    out["minhash"] = (m.to_bytes(), MinHash.from_bytes)
    kl = KLL(k=8); kl.add(vals)
    out["kll"] = (kl.to_bytes(), KLL.from_bytes)
    bk = BottomK(k=8); bk.add(objs)
    out["bottomk"] = (bk.to_bytes(), BottomK.from_bytes)
    from gr_tdigest_spark.sketches.bottomk import WeightedBottomK
    wk = WeightedBottomK(k=8, seed=0)
    wk._combine(
        np.array([0, 0, 3, 9], dtype=np.uint64),
        np.array(["a", "b", "c", "d"], dtype=object),
    )
    wk.n_items = 4.0
    out["wbottomk"] = (wk.to_bytes(), WeightedBottomK.from_bytes)
    return out


_WIRE_BLOBS = _valid_wire_blobs()


@settings(max_examples=_n(200), deadline=None)
@given(
    kind=st.sampled_from(sorted(_WIRE_BLOBS)),
    pos=st.integers(min_value=0, max_value=1 << 30),
    bit=st.integers(min_value=0, max_value=7),
)
def test_wire_single_bitflip_raises_or_roundtrips(kind, pos, bit):
    """Mutation fuzz: flip ONE bit of a VALID blob.  The decoder must
    either reject it cleanly or produce a sketch whose re-encoding
    decodes back to the same state — structured corruption exercises
    length/dimension fields that pure-garbage fuzzing rarely reaches."""
    blob, decode = _WIRE_BLOBS[kind]
    mut = bytearray(blob)
    mut[pos % len(mut)] ^= 1 << bit
    try:
        sk = decode(bytes(mut))
    except ValueError:
        # a MemoryError here would be an amplification-guard bug —
        # deliberately NOT caught
        return
    # survived decoding → its own wire must round-trip LOSSLESSLY:
    # re-encoding the re-decoded sketch reproduces identical bytes
    blob2 = sk.to_bytes()
    assert decode(blob2).to_bytes() == blob2


# The companion encoders switch from the v2 sparse to the v1 dense wire
# at n set cells: HLL p=8 at 51 (4 + 5n ≥ 256), CMS 3×32 at 64
# (4 + 12n ≥ 8·96), Bloom 1024 bits at 31 (4 + 4n ≥ 128).
_CELL_KINDS = {"hll": 256, "cms": 96, "bloom": 1024}


@settings(max_examples=_n(60), deadline=None)
@given(
    kind=st.sampled_from(sorted(_CELL_KINDS)),
    n=st.integers(min_value=0, max_value=96),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
@example(kind="hll", n=50, seed=0)
@example(kind="hll", n=51, seed=0)
@example(kind="hll", n=52, seed=0)
@example(kind="cms", n=63, seed=1)
@example(kind="cms", n=64, seed=1)
@example(kind="cms", n=65, seed=1)
@example(kind="bloom", n=30, seed=2)
@example(kind="bloom", n=31, seed=2)
@example(kind="bloom", n=32, seed=2)
def test_cell_encoder_equals_dense_to_bytes(kind, n, seed):
    """Each companion encoder, given a sorted cell set, writes exactly
    the bytes the dense kernel with those cells set writes, on both
    sides of the sparse/dense switch, and the blob decodes back to
    those cells."""
    from gr_tdigest_spark.sketches.bloom import encode_bloom
    from gr_tdigest_spark.sketches.cms import encode_cms
    from gr_tdigest_spark.sketches.hll import encode_hll

    rng = np.random.default_rng(seed)
    idx = np.sort(rng.choice(_CELL_KINDS[kind], size=n, replace=False))
    if kind == "hll":
        ranks = rng.integers(1, 58, size=n).astype(np.uint8)
        dense = HLL(p=8)
        dense.registers[idx] = ranks
        blob = encode_hll(8, idx, ranks)
        np.testing.assert_array_equal(
            HLL.from_bytes(blob).registers, dense.registers)
    elif kind == "cms":
        counts = rng.integers(1, 1 << 40, size=n)
        dense = CMS(depth=3, width=32, seed=5, total=float(counts.sum()))
        dense.table.reshape(-1)[idx] = counts
        blob = encode_cms(3, 32, 5, dense.total, idx, counts)
        np.testing.assert_array_equal(CMS.from_bytes(blob).table,
                                      dense.table)
    else:
        dense = BloomFilter(m_bits=1024, k=3, seed=9, n_added=2 * n)
        bits = np.zeros(1024, dtype=np.uint8)
        bits[idx] = 1
        dense.words[:] = np.packbits(bits, bitorder="little").view("<u8")
        blob = encode_bloom(1024, 3, 9, 2 * n, pos=idx)
        np.testing.assert_array_equal(
            BloomFilter.from_bytes(blob).words, dense.words)
    assert blob == dense.to_bytes()


@settings(max_examples=_n(30), deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", None]),
            st.one_of(st.none(), st.integers(0, 50)),
        ),
        min_size=0, max_size=120,
    ),
)
def test_vectorized_build_groups_equals_default_path(rows):
    """Every spec's partial builder (Arrow batch → build_blobs_from_codes)
    must emit blobs identical to the base-class per-group reference on
    arbitrary (group, value) frames including null keys and null
    values."""
    import pandas as pd
    from arrow_build import build_blobs
    from gr_tdigest_spark.operators.agg import SketchSpec
    from gr_tdigest_spark.operators.companions import (
        BloomSpec, BottomKSpec, CMSSpec, HLLSpec, KLLSpec, MinHashSpec,
    )

    pdf = pd.DataFrame(rows, columns=["g", "v"])
    for spec in (
        HLLSpec(p=8), BloomSpec(m_bits=256, k=3),
        CMSSpec(depth=3, width=64), MinHashSpec(k=16), KLLSpec(k=8),
        BottomKSpec(k=8),
    ):
        got = build_blobs(spec, pdf, ["g"], "v")
        exp = SketchSpec.build_groups(spec, pdf, ["g"], "v", None)
        assert set(got) == set(exp), type(spec).__name__
        for key in exp:
            assert got[key] == spec.state_to_blob(exp[key]), \
                (type(spec).__name__, key)


@settings(max_examples=_n(20), deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y"]),
            st.integers(0, 20),
            st.integers(1, 3),
        ),
        min_size=1, max_size=80,
    ),
)
def test_vectorized_cms_pile_build_equals_default_path(rows):
    """The weighted (pile) CMS columnar build matches the base-class
    weighted path exactly (counter tables and totals)."""
    import pandas as pd
    from arrow_build import build_blobs
    from gr_tdigest_spark.operators.agg import SketchSpec
    from gr_tdigest_spark.operators.companions import CMSSpec

    pdf = pd.DataFrame(rows, columns=["g", "v", "w"])
    pdf["w"] = pdf["w"].astype(float)
    spec = CMSSpec(depth=3, width=64)
    got = build_blobs(spec, pdf, ["g"], "v", "w")
    exp = SketchSpec.build_groups(spec, pdf, ["g"], "v", "w")
    assert set(got) == set(exp)
    for key in exp:
        assert got[key] == spec.state_to_blob(exp[key])
