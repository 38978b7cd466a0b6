"""The columnar t-digest merge against the per-blob definition, without
Spark.

``TDigestSpec.merge_blob_array`` decodes a whole Arrow column at once
(``wire.decode_many``) and merges every key from the flat centroid
arrays. The reference here is the per-blob path: NULLs skipped, a lone
blob as is, otherwise ``state_to_blob(merge_many([wire.decode(b) ...]))``.
Every case must give the same bytes, or raise the same exception type
and message. The merge stage's mapInArrow function is driven on
``pa.RecordBatch``es directly, the way ``tests/arrow_build.py`` drives
the builder.
"""

import struct
import zlib

import numpy as np
import pyarrow as pa
import pytest

from gr_tdigest_spark.operators.agg import TDigestSpec, _partition_merger
from gr_tdigest_spark.operators.companions import HLLSpec
from gr_tdigest_spark.sketches import wire
from gr_tdigest_spark.sketches.tdigest import TDigest

SCALES = ("quad", "k1", "k2", "k3", "k2norm")
POLICIES = (("use", 0), ("off", 0), ("edges", 1), ("edges", 2), ("edges", 3))


def reference(spec, group):
    """The per-blob merge of one key's blobs."""
    group = [b for b in group if b is not None]
    if len(group) <= 1:
        return group[0] if group else spec.empty_blob()
    if not isinstance(spec, TDigestSpec):
        return spec.state_to_blob(spec.merge_many(
            [spec.blob_to_state(b) for b in group]))
    return spec.state_to_blob(spec.merge_many([wire.decode(b) for b in group]))


def outcome(fn, *args):
    """The result, or the raised exception's type and message."""
    try:
        return fn(*args)
    except Exception as e:  # compared, not swallowed
        return type(e), str(e)


def interleaved(spec, groups, typ=pa.binary()):
    """``merge_blob_array`` over one column in which the keys' rows are
    interleaved round-robin (each key's rows keep their order)."""
    kids, blobs = [], []
    depth = max((len(g) for g in groups), default=0)
    for j in range(depth):
        for k, g in enumerate(groups):
            if j < len(g):
                kids.append(k)
                blobs.append(g[j])
    return spec.merge_blob_array(pa.array(blobs, typ),
                                 np.array(kids, dtype=np.int64), len(groups))


def random_groups(rng, precision, scale, policy, pin, max_size, n_keys=6):
    """Keys of 2–5 blobs of tied Cauchy values, some weighted, in mixed
    wire versions, with empty digests and NULLs among them."""
    cfg = dict(max_size=max_size, scale=scale, policy=policy,
               pin_per_side=pin, precision=precision)
    groups = []
    for _ in range(n_keys):
        group = []
        for _ in range(int(rng.integers(2, 6))):
            r = rng.random()
            if r < 0.1:
                group.append(None)
            elif r < 0.2:
                group.append(wire.encode(TDigest.empty(**cfg)))
            else:
                vals = np.round(rng.standard_cauchy(
                    int(rng.integers(1, 400))), 1)
                if r < 0.4:  # fractional weights: f32 rounds them
                    td = TDigest.from_weighted(
                        vals, rng.uniform(0.1, 3.0, vals.size), **cfg)
                else:
                    td = TDigest.from_values(vals, **cfg)
                group.append(wire.encode(td, int(rng.choice([1, 2, 3, 3]))))
        groups.append(group)
    return groups


@pytest.mark.parametrize("precision", ["f32", "f64"])
@pytest.mark.parametrize("scale", SCALES)
def test_byte_identical_to_per_blob_merge(precision, scale):
    rng = np.random.default_rng([SCALES.index(scale), len(precision)])
    for policy, pin in POLICIES:
        for max_size in (10, 100, 1000):
            spec = TDigestSpec(max_size=max_size, scale=scale,
                               policy=policy, pin_per_side=pin,
                               precision=precision)
            groups = random_groups(rng, precision, scale, policy, pin,
                                   max_size)
            want = [reference(spec, g) for g in groups]
            assert interleaved(spec, groups) == want, (policy, pin, max_size)
            assert [spec.merge_blobs(g) for g in groups] == want


def test_special_keys():
    spec = TDigestSpec(max_size=100)
    rng = np.random.default_rng(3)
    one = wire.encode(TDigest.from_values(rng.standard_cauchy(50),
                                          max_size=100))
    empty = wire.encode(TDigest.empty(max_size=100))
    v2 = wire.encode(TDigest.from_values(rng.standard_cauchy(50),
                                         max_size=100), 2)
    groups = [
        [one],                   # one blob: returned as is
        [None, v2, None],        # one blob among NULLs: as is (v2 kept)
        [None, None],            # NULL-only: the empty digest
        [],                      # no row at all
        [empty, empty],          # all empty: the first, re-encoded
        [empty, one, empty],     # empty digests dropped
        [v2, v2],                # v1/v2 blobs decode through decode()
    ]
    got = interleaved(spec, groups)
    assert got == [reference(spec, g) for g in groups]
    assert got[0] is not None and got[0] == one and got[1] == v2
    assert got[2] == got[3] == spec.empty_blob()


def test_cauchy_ties_across_blobs():
    """Equal means in different blobs keep (row, centroid) order."""
    rng = np.random.default_rng(11)
    spec = TDigestSpec(max_size=10, policy="edges", pin_per_side=2)
    groups = [[wire.encode(TDigest.from_values(
        np.round(rng.standard_cauchy(300)), max_size=10, policy="edges",
        pin_per_side=2)) for _ in range(8)] for _ in range(5)]
    assert interleaved(spec, groups) == [reference(spec, g) for g in groups]


def test_decode_many_matches_decode():
    rng = np.random.default_rng(5)
    blobs = [wire.encode(TDigest.from_values(
        rng.standard_cauchy(int(rng.integers(1, 200))), max_size=30,
        precision=p), v) for p in ("f32", "f64") for v in (1, 2, 3)]
    blobs += [None, wire.encode(TDigest.empty(precision="f32"))]
    # an f32 blob whose header min/max are not f32 values
    b = bytearray(blobs[2])
    struct.pack_into("<dd", b, 28, -0.1, 0.1)
    blobs.append(_recrc(b))
    padded = pa.array([blobs[0]] + blobs, pa.large_binary()).slice(1)
    for arr in (pa.array(blobs, pa.binary()), padded):
        cols = wire.decode_many(arr)
        for i, blob in enumerate(blobs):
            assert cols.valid[i] == (blob is not None)
            if blob is None:
                assert cols.n[i] == 0
                continue
            td = wire.decode(blob)
            seg = slice(cols.bounds[i], cols.bounds[i + 1])
            np.testing.assert_array_equal(cols.means[seg], td.means64)
            np.testing.assert_array_equal(cols.weights[seg], td.weights64)
            np.testing.assert_array_equal(cols.kinds[seg], td.kinds)
            assert cols.precision[i] == (1 if td.precision == "f32" else 2)
            assert int(cols.max_size[i]) == td.max_size
            np.testing.assert_array_equal(
                [cols.count[i], cols.min[i], cols.max[i], cols.sum[i]],
                [td.count, td.min, td.max, td.sum])


def test_f32_weights_round_like_decode():
    """Another encoder may write an f32 blob's weights at full f64
    precision: both paths round them to f32 before merging."""
    spec = TDigestSpec(max_size=10, precision="f32")
    group = []
    for seed in range(3):
        b = bytearray(_blob("f32", 10, seed))
        n = (len(b) - 64) // 13
        for i in range(n):  # weight w -> w + 0.1 (not an f32 value)
            at = 64 + 13 * i + 4
            (w,) = struct.unpack_from("<d", b, at)
            struct.pack_into("<d", b, at, w + 0.1)
        group.append(_recrc(b))
    assert wire.decode(group[0]).weights64[0] != struct.unpack_from(
        "<d", group[0], 68)[0]
    assert interleaved(spec, [group]) == [reference(spec, group)]


# --------------------------------------------------------------------- #
# error parity
# --------------------------------------------------------------------- #

def _blob(precision="f64", max_size=100, seed=0):
    vals = np.random.default_rng(seed).standard_cauchy(200)
    return wire.encode(TDigest.from_values(vals, max_size=max_size,
                                           precision=precision))


def _recrc(b: bytearray) -> bytes:
    b[60:64] = bytes(4)
    b[60:64] = struct.pack("<I", zlib.crc32(bytes(b)))
    return bytes(b)


def _poke(at: int, value: bytes, recrc: bool = True):
    def corrupt(blob):
        b = bytearray(blob)
        b[at:at + len(value)] = value
        return _recrc(b) if recrc else bytes(b)
    return corrupt


# payload of an f64 v3 blob: centroid 0 at 64 (mean 8, weight 8, kind 1)
CORRUPTIONS = {
    "bad_magic": _poke(0, b"TDIX"),
    "bad_crc": _poke(70, b"\x55", recrc=False),
    "truncated": lambda b: b[:-5],
    "truncated_recrc": lambda b: _recrc(bytearray(b[:-17])),
    "kind_2": _poke(80, b"\x02"),
    "nan_mean": _poke(64, struct.pack("<d", float("nan"))),
    "negative_weight": _poke(72, struct.pack("<d", -1.0)),
    "scale_9": _poke(8, b"\x09"),
    "edges_pin_0": _poke(9, b"\x02\x00"),
    "header_len_63": _poke(6, b"\x3f"),
    "version_7": _poke(4, b"\x07"),
}


@pytest.mark.parametrize("name", sorted(CORRUPTIONS))
def test_corrupt_blob_raises_like_decode(name):
    spec = TDigestSpec(max_size=100)
    bad = CORRUPTIONS[name](_blob())
    groups = [[_blob(seed=1), _blob(seed=2)],
              [_blob(seed=3), bad, _blob(seed=4)]]
    want = outcome(lambda: [reference(spec, g) for g in groups])
    assert isinstance(want, tuple) and issubclass(want[0], wire.WireError)
    assert outcome(interleaved, spec, groups) == want
    assert outcome(spec.merge_blobs, groups[1]) == want
    # and without a merge's config check to fall back on
    assert outcome(wire.decode_many, pa.array([bad])) == outcome(
        wire.decode, bad)
    # a lone blob is never decoded, so it passes through either way
    assert interleaved(spec, [[bad, None]]) == [bad]


@pytest.mark.parametrize("mixed", [
    [_blob("f32"), _blob("f64")],
    [_blob(max_size=100), _blob(max_size=50)],
    [wire.encode(TDigest.empty(precision="f32")), _blob("f64")],
])
def test_incompatible_digests_raise_like_merge_many(mixed):
    spec = TDigestSpec(max_size=100)
    groups = [[_blob(seed=1), _blob(seed=2)], mixed]
    want = outcome(lambda: [reference(spec, g) for g in groups])
    assert isinstance(want, tuple) and want[0] is ValueError
    assert "incompatible" in want[1]
    assert outcome(interleaved, spec, groups) == want


def test_config_mismatch_with_empty_digest_merges():
    spec = TDigestSpec(max_size=100)
    group = [wire.encode(TDigest.empty(max_size=50)), _blob(), _blob(seed=9)]
    assert interleaved(spec, [group]) == [reference(spec, group)]


def test_all_empty_group_keeps_its_first_empty():
    """A key of only empty digests merges to its first empty digest,
    with that digest's own config, not to ``spec.empty_blob()``; a key
    of only NULLs gives ``spec.empty_blob()``."""
    spec = TDigestSpec()
    e100 = wire.encode(TDigest.empty(max_size=100))
    e200 = wire.encode(TDigest.empty(max_size=200))
    assert e100 != spec.empty_blob()
    assert spec.merge_blobs([e100, e100]) == e100
    assert spec.merge_blobs([e100, None, e200]) == e100
    assert spec.merge_blobs([None, None]) == spec.empty_blob()
    groups = [[e100, e100], [None, None], [e100, e100, e100], [e200, e100]]
    assert interleaved(spec, groups) == [e100, spec.empty_blob(), e100, e200]


# --------------------------------------------------------------------- #
# the merge stage's mapInArrow function
# --------------------------------------------------------------------- #

SCHEMA = pa.schema([("g", pa.int64()), ("b", pa.binary())])


def _batch(keys, blobs, typ=pa.binary(), pad=0):
    """A ``(g, b)`` batch; ``pad`` leading rows are sliced off, so the
    columns carry a non-zero offset."""
    filler = blobs[:1] * pad
    return pa.RecordBatch.from_arrays(
        [pa.array([0] * pad + keys, pa.int64()),
         pa.array(filler + blobs, typ)],
        names=["g", "b"],
    ).slice(pad)


def _run_merger(spec, batches):
    out = {}
    for batch in _partition_merger(spec, ["g"], SCHEMA)(iter(batches)):
        assert batch.schema == SCHEMA
        for row in batch.to_pylist():
            assert row["g"] not in out
            out[row["g"]] = row["b"]
    return out


def _sketch(spec, seed):
    if isinstance(spec, TDigestSpec):
        return _blob(seed=seed)
    vals = np.arange(seed * 100, seed * 100 + 50, dtype=np.int64)
    return spec.state_to_blob(spec.build_state(vals))


@pytest.mark.parametrize("spec", [TDigestSpec(max_size=100), HLLSpec(p=10)],
                         ids=["tdigest", "hll"])
@pytest.mark.parametrize("typ", [pa.binary(), pa.large_binary()],
                         ids=["binary", "large_binary"])
def test_merger_batches(spec, typ):
    def blob(seed):
        return _sketch(spec, seed)

    batches = [
        # key 1 split across three batches; key 2 passes through
        _batch([1, 2, 3], [blob(1), blob(2), blob(3)], typ, pad=2),
        _batch([1, 3, 4], [blob(4), None, None], typ, pad=1),
        _batch([5, 1, 6, 6], [blob(5), blob(6), None, blob(7)], typ),
    ]
    groups = {}
    for batch in batches:
        for g, b in zip(batch.column(0).to_pylist(),
                        batch.column(1).to_pylist()):
            groups.setdefault(g, []).append(b)
    got = _run_merger(spec, batches)
    assert got == {g: reference(spec, bs) for g, bs in groups.items()}
    assert got[2] == blob(2) and got[5] == blob(5)
