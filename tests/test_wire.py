"""TDIG wire codec tests (reference wire.rs:955-1021,
test_wire_python_polars.py scenarios)."""

import math
import pickle
import struct

import numpy as np
import pytest

from gr_tdigest_spark.sketches.tdigest import TDigest
from gr_tdigest_spark.sketches.wire import (
    WireError,
    decode,
    encode,
    wire_precision,
)


def sample_digest(precision="f64", policy="use", scale="k2", max_size=100):
    rng = np.random.default_rng(21)
    return TDigest.from_values(
        rng.uniform(size=5000), max_size=max_size, scale=scale, policy=policy,
        precision=precision,
    )


class TestRoundTrip:
    @pytest.mark.parametrize("version", [1, 2, 3])
    @pytest.mark.parametrize("precision", ["f32", "f64"])
    def test_roundtrip(self, version, precision):
        td = sample_digest(precision=precision)
        blob = encode(td, version)
        back = decode(blob)
        assert back.precision == precision
        assert back.max_size == td.max_size
        assert back.scale == td.scale
        assert back.policy == td.policy
        np.testing.assert_array_equal(back.means, td.means)
        if version == 1:
            # v1 integerizes weights and reconstructs kind heuristically
            np.testing.assert_array_equal(
                back.weights64, np.round(td.weights64)
            )
        else:
            np.testing.assert_array_equal(back.weights, td.weights)
            np.testing.assert_array_equal(back.kinds, td.kinds)
        if version != 1:
            assert back.count == td.count
        assert back.sum == td.sum
        assert back.min == td.min and back.max == td.max

    def test_v3_blob_structure(self):
        td = sample_digest()
        blob = encode(td, 3)
        assert blob[:4] == b"TDIG"
        assert blob[4] == 3
        assert blob[5] == 1  # checksum flag
        assert blob[6] == 64  # header_len
        assert blob[7] == 2  # f64
        (n,) = struct.unpack_from("<Q", blob, 44)
        assert n == len(td)
        assert len(blob) == 64 + n * 17  # 17B stride pin (BASELINE.md)

    def test_f32_stride(self):
        td = sample_digest(precision="f32")
        blob = encode(td, 3)
        (n,) = struct.unpack_from("<Q", blob, 44)
        assert len(blob) == 64 + n * 13

    def test_empty_digest_roundtrip(self):
        td = TDigest.empty(max_size=50)
        back = decode(encode(td))
        assert back.is_effectively_empty
        assert back.max_size == 50
        assert math.isnan(back.min) and math.isnan(back.max)

    def test_edges_policy_roundtrip(self):
        td = TDigest.from_values(
            np.arange(100.0), max_size=20, policy="edges", pin_per_side=4
        )
        back = decode(encode(td))
        assert back.policy == "edges"
        assert back.pin_per_side == 4

    def test_queries_survive_roundtrip(self):
        td = sample_digest()
        back = decode(encode(td))
        qs = np.linspace(0, 1, 51)
        np.testing.assert_array_equal(back.quantile(qs), td.quantile(qs))
        grid = np.linspace(-0.1, 1.1, 101)
        np.testing.assert_array_equal(back.cdf(grid), td.cdf(grid))


class TestErrors:
    def test_empty_blob(self):
        with pytest.raises(WireError):
            decode(b"")

    def test_bad_magic(self):
        with pytest.raises(WireError):
            decode(b"NOPE" + b"\x00" * 100)

    def test_unsupported_version(self):
        td = sample_digest()
        blob = bytearray(encode(td))
        blob[4] = 9
        with pytest.raises(WireError):
            decode(bytes(blob))

    def test_checksum_detects_corruption(self):
        td = sample_digest()
        blob = bytearray(encode(td, 3))
        blob[70] ^= 0xFF  # flip a payload byte
        with pytest.raises(WireError, match="checksum"):
            decode(bytes(blob))

    def test_truncated_payload(self):
        td = sample_digest()
        blob = encode(td, 3)
        with pytest.raises(WireError):
            decode(blob[:-3])

    def test_wire_precision_sniff(self):
        assert wire_precision(encode(sample_digest("f64"))) == "f64"
        assert wire_precision(encode(sample_digest("f32"))) == "f32"
        assert wire_precision(encode(sample_digest("f32"), 2)) == "f32"
        assert wire_precision(encode(sample_digest("f64"), 1)) == "f64"
        with pytest.raises(WireError):
            wire_precision(b"XXXX\x03")


@pytest.mark.parametrize("name", [
    "tdigest_count", "tdigest_min", "tdigest_max", "tdigest_sum",
    "tdigest_mean", "tdigest_n_centroids", "tdigest_wire_precision",
])
def test_header_probes_check_like_decode(name):
    """The header-level probes read a v3 blob through every check
    ``decode`` makes and raise its error: a flipped header byte, a
    zeroed header (header_len 64) and a truncated blob."""
    from gr_tdigest_spark.functions import _PROBES

    probe = _PROBES[name]
    blob = encode(sample_digest(), 3)
    flipped = bytearray(blob)
    flipped[22] ^= 0x01  # inside total_weight
    zeroed = b"TDIG\x03\x00\x40" + bytes(57)
    for bad, msg in [(bytes(flipped), "invalid TDIG checksum"),
                     (zeroed, "invalid TDIG precision code: 0"),
                     (blob[:15], "buffer too small")]:
        with pytest.raises(WireError, match=msg):
            decode(bad)
        with pytest.raises(WireError, match=msg):
            probe.kernel(probe.decode[0](bad))
    probe.kernel(probe.decode[0](blob))


class TestPickle:
    def test_pickle_roundtrip(self):
        td = sample_digest()
        back = pickle.loads(pickle.dumps(td))
        np.testing.assert_array_equal(back.means, td.means)
        assert back.quantile(0.5) == td.quantile(0.5)

    def test_deepcopy(self):
        import copy

        td = sample_digest()
        back = copy.deepcopy(td)
        assert back.quantile(0.9) == td.quantile(0.9)


def test_v1_half_weight_rounds_away_from_zero():
    """v1 integerizes weights like Rust f64::round (half away from zero),
    not banker's rounding: weight 2.5 -> 3 (reference wire.rs v1 encode)."""
    import numpy as np
    from gr_tdigest_spark.sketches.tdigest import TDigest
    from gr_tdigest_spark.sketches import wire

    td = TDigest.from_weighted(
        np.array([1.0, 2.0]), np.array([2.5, 1.5]), max_size=100
    )
    blob = wire.encode(td, version=1)
    back = wire.decode(blob)
    assert sorted(back.weights64.tolist()) == [2.0, 3.0]


class TestGoldenWireBytes:
    """Cross-implementation golden-byte pins.

    These blobs are HAND-ASSEMBLED field by field from the reference
    wire format specification (wire.rs:5-46 header tables,
    wire.rs:453-555 v1/v2 encode, wire.rs:558-623 v3 encode,
    wire.rs:346-376 scale/policy code tables, wire.rs:396-403 kind
    codes, wire.rs:415-430 v3 CRC32 with a zeroed checksum slot) —
    NOT produced by our own encoder. A self-consistent but
    layout-divergent codec would round-trip every other test in this
    file and still fail here.

    Canonical digest: values [0,1,2,3], max_size=100, scale=k2
    (code 2), policy=use (code 1, pin 0) → four atomic centroids
    (kind 0) with unit weights; total_weight=4.0, min=0.0, max=3.0,
    data_sum=6.0.
    """

    MEANS = [0.0, 1.0, 2.0, 3.0]

    @staticmethod
    def _canonical(precision="f64"):
        return TDigest.from_values(
            [0.0, 1.0, 2.0, 3.0], max_size=100, scale="k2", policy="use",
            precision=precision,
        )

    def _v12_header(self, version):
        # wire.rs:5-16: magic, version, scale, policy, pin, max_size u64,
        # total_weight (v1 u64 / v2 f64), min f64, max f64, count u64,
        # data_sum f64 — all little-endian, 56 bytes.
        h = b"TDIG" + bytes([version, 2, 1, 0])
        h += struct.pack("<Q", 100)
        h += struct.pack("<Q", 4) if version == 1 else struct.pack("<d", 4.0)
        h += struct.pack("<d", 0.0) + struct.pack("<d", 3.0)
        h += struct.pack("<Q", 4) + struct.pack("<d", 6.0)
        assert len(h) == 56
        return h

    def test_golden_v1_f64(self):
        # wire.rs:18-20: v1 payload = mean(f64) + weight(u64)
        golden = self._v12_header(1) + b"".join(
            struct.pack("<d", m) + struct.pack("<Q", 1) for m in self.MEANS
        )
        td = self._canonical()
        assert encode(td, version=1) == golden
        back = decode(golden)
        assert back.means.tolist() == self.MEANS
        assert back.weights64.tolist() == [1.0] * 4

    def test_golden_v2_f64(self):
        # wire.rs:22-24: v2 payload = mean(f64) + weight(f64) + kind(u8)
        golden = self._v12_header(2) + b"".join(
            struct.pack("<d", m) + struct.pack("<d", 1.0) + b"\x00"
            for m in self.MEANS
        )
        td = self._canonical()
        assert encode(td, version=2) == golden
        back = decode(golden)
        assert back.means.tolist() == self.MEANS
        assert back.count == 4.0 and back.sum == 6.0

    def test_golden_v2_f32(self):
        # f32 stride: mean(f32) + weight(f64) + kind(u8) = 13 bytes
        h = b"TDIG" + bytes([2, 2, 1, 0]) + struct.pack("<Q", 100)
        h += struct.pack("<d", 4.0) + struct.pack("<d", 0.0)
        h += struct.pack("<d", 3.0) + struct.pack("<Q", 4)
        h += struct.pack("<d", 6.0)
        golden = h + b"".join(
            struct.pack("<f", m) + struct.pack("<d", 1.0) + b"\x00"
            for m in self.MEANS
        )
        td = self._canonical(precision="f32")
        assert encode(td, version=2) == golden
        assert wire_precision(golden) == "f32"

    def _v3_blob(self, precision_code, payload):
        import zlib

        # wire.rs:26-42: 64-byte v3 header; checksum slot zeroed for CRC
        h = b"TDIG" + bytes([3, 0x01, 64, precision_code, 2, 1, 0, 0])
        h += struct.pack("<Q", 100) + struct.pack("<d", 4.0)
        h += struct.pack("<d", 0.0) + struct.pack("<d", 3.0)
        h += struct.pack("<Q", 4) + struct.pack("<d", 6.0)
        blob_zeroed = h + struct.pack("<I", 0) + payload
        crc = zlib.crc32(blob_zeroed)  # crc32fast == IEEE/zlib CRC-32
        return blob_zeroed[:60] + struct.pack("<I", crc) + blob_zeroed[64:]

    def test_golden_v3_f64(self):
        payload = b"".join(
            struct.pack("<d", m) + struct.pack("<d", 1.0) + b"\x00"
            for m in self.MEANS
        )
        golden = self._v3_blob(2, payload)
        td = self._canonical()
        assert encode(td, version=3) == golden
        back = decode(golden)
        assert back.means.tolist() == self.MEANS
        assert back.max_size == 100

    def test_golden_v3_f32(self):
        payload = b"".join(
            struct.pack("<f", m) + struct.pack("<d", 1.0) + b"\x00"
            for m in self.MEANS
        )
        golden = self._v3_blob(1, payload)
        td = self._canonical(precision="f32")
        assert encode(td, version=3) == golden
        assert decode(golden).means.tolist() == self.MEANS


class TestV1WeightEdges:
    """v1 integerization must match Rust f64::round + u64 clamp
    (wire.rs:484-496), not floor(w+0.5) — r2 advice."""

    def test_sub_half_epsilon_rounds_down(self):
        from gr_tdigest_spark.sketches.wire import _v1_weight_u64

        w = np.array([0.49999999999999994])  # < 0.5; floor(w+0.5) gives 1
        assert _v1_weight_u64(w).tolist() == [0]

    def test_huge_odd_integers_unchanged(self):
        from gr_tdigest_spark.sketches.wire import _v1_weight_u64

        w = np.array([float(2 ** 52 + 1)])  # w+0.5 rounds to w+1
        assert _v1_weight_u64(w).tolist() == [2 ** 52 + 1]

    def test_overflow_saturates(self):
        from gr_tdigest_spark.sketches.wire import U64_MAX, _v1_weight_u64

        w = np.array([1e300, float(2 ** 64), 5.0])
        got = _v1_weight_u64(w).tolist()
        assert got == [U64_MAX, U64_MAX, 5]

    def test_half_rounds_away(self):
        from gr_tdigest_spark.sketches.wire import _v1_weight_u64

        w = np.array([0.5, 1.5, 2.5, 3.5])
        assert _v1_weight_u64(w).tolist() == [1, 2, 3, 4]
