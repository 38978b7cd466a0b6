"""TDIG binary wire codec (v1/v2/v3), byte-compatible with the reference.

Layouts (reference src/tdigest/wire.rs:1-48):

v1/v2 header (56 bytes, little-endian)::

    0..4   magic b"TDIG"
    4      version (1|2)
    5      scale_code
    6      policy_code
    7      pin_per_side
    8..16  max_size (u64)
    16..24 total_weight (v1=u64, v2=f64)
    24..32 min (f64)
    32..40 max (f64)
    40..48 centroid_count (u64)
    48..56 data_sum (f64)

v3 header (64 bytes, little-endian)::

    0..4   magic b"TDIG"
    4      version (3)
    5      flags (bit0: checksum present)
    6      header_len (u8 >= 64)
    7      payload precision (1=f32, 2=f64)
    8      scale_code; 9 policy_code; 10 pin_per_side; 11 reserved
    12..20 max_size (u64)
    20..28 total_weight (f64)
    28..36 min (f64); 36..44 max (f64)
    44..52 centroid_count (u64)
    52..60 data_sum (f64)
    60..64 CRC32 (over header with zeroed slot + payload)

Payload per centroid: v1 ``mean(F) + weight(u64)``; v2/v3
``mean(F) + weight(f64) + kind(u8)`` with kind 0=atomic, 1=mixed
(wire.rs:396-412). v1 decode reconstructs kind heuristically:
``w==1 → atomic unit else mixed`` (wire.rs:855-868).

The digest is always encoded at its own precision; v1/v2 decode infers
precision from payload length (wire.rs:628-700), v3 reads the header code.

``decode_many`` decodes a whole Arrow binary column for the merge stage:
v3 blobs with the 64-byte header are parsed in one vectorized pass over
the column's data buffer (every check of ``decode``, the CRC as one
``zlib.crc32`` per blob), and any other blob, or one that fails a
vectorized check, goes through ``decode`` and is spliced in. So
``decode`` is the only source of ``WireError`` messages.
"""

from __future__ import annotations

import struct
import zlib
from typing import NamedTuple, Tuple

import numpy as np

from gr_tdigest_spark.sketches.tdigest import TDigest, KIND_ATOMIC, KIND_MIXED

__all__ = [
    "encode", "decode", "decode_many", "DecodedBlobs", "wire_precision",
    "v3_header", "WireError",
]

MAGIC = b"TDIG"
HEADER_LEN_V12 = 56
HEADER_LEN_V3 = 64
V3_CHECKSUM_OFFSET = 60
V3_FLAG_CHECKSUM = 0x01

_SCALE_TO_CODE = {"quad": 0, "k1": 1, "k2": 2, "k3": 3, "k2norm": 4}
_CODE_TO_SCALE = {v: k for k, v in _SCALE_TO_CODE.items()}
_POLICY_TO_CODE = {"off": 0, "use": 1, "edges": 2}
_CODE_TO_POLICY = {v: k for k, v in _POLICY_TO_CODE.items()}
_PRECISION_CODE = {"f32": 1, "f64": 2}
_CODE_PRECISION = {1: "f32", 2: "f64"}


class WireError(ValueError):
    """Raised on malformed TDIG blobs."""


def _mean_dtype(precision: str):
    return "<f4" if precision == "f32" else "<f8"


def _stride(version: int, precision: str) -> int:
    mean = 4 if precision == "f32" else 8
    if version == 1:
        return mean + 8
    return mean + 8 + 1


def _policy_bytes(td: TDigest) -> Tuple[int, int]:
    code = _POLICY_TO_CODE[td.policy]
    pin = min(td.pin_per_side, 255) if td.policy == "edges" else 0
    return code, pin


def encode(td: TDigest, version: int = 3) -> bytes:
    """Encode a digest; default wire version v3 (wire.rs:440-441)."""
    if version not in (1, 2, 3):
        raise WireError(f"unsupported TDIG version: {version}")
    n = len(td)
    scale_code = _SCALE_TO_CODE[td.scale]
    policy_code, pin = _policy_bytes(td)
    means = td.means64
    weights = td.weights64
    kinds = np.asarray(td.kinds, dtype=np.uint8)

    if version in (1, 2):
        head = bytearray()
        head += MAGIC
        head += bytes([version, scale_code, policy_code, pin])
        head += struct.pack("<Q", td.max_size)
        if version == 1:
            w_u64 = _v1_weight_u64(weights)
            # saturating total, matching the reference's saturating_add
            # (np.sum would wrap on u64 overflow)
            total = min(int(w_u64.astype(object).sum()), U64_MAX)
            head += struct.pack("<Q", total)
        else:
            head += struct.pack("<d", td.count)
        head += struct.pack("<d", td.min)
        head += struct.pack("<d", td.max)
        head += struct.pack("<Q", n)
        head += struct.pack("<d", td.sum)
        assert len(head) == HEADER_LEN_V12
        payload = _encode_payload(version, td.precision, means, weights, kinds)
        return bytes(head) + payload

    # v3
    head = bytearray()
    head += MAGIC
    head += bytes([
        3, V3_FLAG_CHECKSUM, HEADER_LEN_V3, _PRECISION_CODE[td.precision],
        scale_code, policy_code, pin, 0,
    ])
    head += struct.pack("<Q", td.max_size)
    head += struct.pack("<d", td.count)
    head += struct.pack("<d", td.min)
    head += struct.pack("<d", td.max)
    head += struct.pack("<Q", n)
    head += struct.pack("<d", td.sum)
    head += struct.pack("<I", 0)  # checksum placeholder
    assert len(head) == HEADER_LEN_V3
    payload = _encode_payload(3, td.precision, means, weights, kinds)
    blob = bytearray(bytes(head) + payload)
    crc = _checksum_v3(blob, HEADER_LEN_V3)
    blob[V3_CHECKSUM_OFFSET:V3_CHECKSUM_OFFSET + 4] = struct.pack("<I", crc)
    return bytes(blob)


U64_MAX = 2 ** 64 - 1
_U64_MAX_AS_F64 = float(2 ** 64)  # u64::MAX rounds UP to 2^64 as f64


def _v1_weight_u64(weights: np.ndarray) -> np.ndarray:
    """Integerize v1 weights exactly like the reference (wire.rs:484-496):
    Rust ``f64::round`` (half away from zero — NOT ``floor(w+0.5)``,
    which pulls 0.49999999999999994 up to 1 and odd integers ≥ 2^52 up
    to w+1 because ``w+0.5`` itself rounds), then saturate at u64::MAX
    instead of letting the numpy cast wrap."""
    frac_half = weights - np.floor(weights) == 0.5
    r = np.where(frac_half, np.ceil(weights), np.round(weights))
    r = np.where(r <= 0.0, 0.0, r)
    over = r >= _U64_MAX_AS_F64
    out = np.empty(r.shape, dtype=np.uint64)
    out[over] = np.uint64(U64_MAX)
    out[~over] = r[~over].astype(np.uint64)
    return out


def _encode_payload(
    version: int, precision: str, means: np.ndarray, weights: np.ndarray,
    kinds: np.ndarray,
) -> bytes:
    n = means.size
    if n == 0:
        return b""
    stride = _stride(version, precision)
    buf = np.zeros(n * stride, dtype=np.uint8)
    mdt = np.dtype(_mean_dtype(precision))
    msz = mdt.itemsize
    view = buf.reshape(n, stride)
    view[:, :msz] = means.astype(mdt).view(np.uint8).reshape(n, msz)
    if version == 1:
        w_u64 = _v1_weight_u64(weights).astype("<u8")
        view[:, msz:msz + 8] = w_u64.view(np.uint8).reshape(n, 8)
    else:
        view[:, msz:msz + 8] = weights.astype("<f8").view(np.uint8).reshape(n, 8)
        view[:, msz + 8] = kinds
    return buf.tobytes()


def _checksum_v3(blob: bytes, header_len: int) -> int:
    """CRC32 over header (checksum slot zeroed) + payload (wire.rs:415-428)."""
    h = zlib.crc32(bytes(blob[:V3_CHECKSUM_OFFSET]))
    h = zlib.crc32(b"\x00\x00\x00\x00", h)
    if header_len > V3_CHECKSUM_OFFSET + 4:
        h = zlib.crc32(bytes(blob[V3_CHECKSUM_OFFSET + 4:header_len]), h)
    h = zlib.crc32(bytes(blob[header_len:]), h)
    return h & 0xFFFFFFFF


def wire_precision(blob: bytes) -> str:
    """Sniff 'f32'/'f64' from the header without a full decode
    (wire.rs:224-272). A v3 blob is read through ``v3_header``, so one
    ``decode`` rejects raises the same error here."""
    if len(blob) < 5:
        raise WireError("buffer too small")
    if blob[:4] != MAGIC:
        raise WireError("invalid TDIG magic header")
    version = blob[4]
    if version == 3:
        return v3_header(blob)[1]
    if version in (1, 2):
        if len(blob) < HEADER_LEN_V12:
            raise WireError("buffer too small")
        (count,) = struct.unpack_from("<Q", blob, 40)
        if count == 0:
            return "f64"
        payload_len = len(blob) - HEADER_LEN_V12
        if payload_len == count * _stride(version, "f32"):
            return "f32"
        if payload_len == count * _stride(version, "f64"):
            return "f64"
        raise WireError("payload length does not match f32 or f64 layout")
    raise WireError(f"unsupported TDIG version: {version}")


def decode(blob: bytes) -> TDigest:
    """Decode any TDIG version into a digest at its wire precision
    (wire.rs:628-953)."""
    if not isinstance(blob, (bytes, bytearray, memoryview)):
        raise WireError("from_bytes expects a bytes-like object")
    blob = bytes(blob)
    if len(blob) == 0:
        raise WireError("empty TDIG blob")
    if len(blob) < 5:
        raise WireError("buffer too small")
    if blob[:4] != MAGIC:
        raise WireError("invalid TDIG magic header")
    version = blob[4]
    if version in (1, 2):
        return _decode_v12(blob, version)
    if version == 3:
        return _decode_v3(blob)
    raise WireError(f"unsupported TDIG version: {version}")


def _decode_centroids(
    payload: bytes, version: int, precision: str, n: int
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    stride = _stride(version, precision)
    if len(payload) != n * stride:
        raise WireError("payload length mismatch")
    if n == 0:
        return (
            np.empty(0), np.empty(0), np.empty(0, dtype=np.uint8),
        )
    raw = np.frombuffer(payload, dtype=np.uint8).reshape(n, stride)
    mdt = np.dtype(_mean_dtype(precision))
    msz = mdt.itemsize
    means = raw[:, :msz].copy().view(mdt).ravel().astype(np.float64)
    if version == 1:
        w = raw[:, msz:msz + 8].copy().view("<u8").ravel().astype(np.float64)
        # v1 kind heuristic (wire.rs:855-868): w==1 → atomic, else mixed
        kinds = np.where(w == 1.0, KIND_ATOMIC, KIND_MIXED).astype(np.uint8)
    else:
        w = raw[:, msz:msz + 8].copy().view("<f8").ravel()
        kcodes = raw[:, msz + 8]
        if np.any(kcodes > 1):
            raise WireError("invalid centroid kind code")
        kinds = kcodes.astype(np.uint8)
    if not np.all(np.isfinite(means)):
        raise WireError("non-finite centroid mean in payload")
    if not np.all(np.isfinite(w)) or np.any(w < 0):
        raise WireError("invalid centroid weight in payload")
    return means, w, kinds


def _check_codes(scale_code: int, policy_code: int, pin: int) -> None:
    if scale_code not in _CODE_TO_SCALE:
        raise WireError(f"invalid TDIG scale code: {scale_code}")
    if policy_code not in _CODE_TO_POLICY:
        raise WireError(f"invalid TDIG policy code: {policy_code}")
    if policy_code == _POLICY_TO_CODE["edges"] and pin == 0:
        raise WireError("edges policy requires pin_per_side >= 1")


def _build(
    precision: str, scale_code: int, policy_code: int, pin: int,
    max_size: int, total_weight: float, mn: float, mx: float, data_sum: float,
    means: np.ndarray, weights: np.ndarray, kinds: np.ndarray,
) -> TDigest:
    policy = _CODE_TO_POLICY[policy_code]
    td = TDigest.__new__(TDigest)
    td.means = means
    td.weights = weights
    td.kinds = kinds
    td.max_size = max_size
    td.sum = data_sum
    td.count = total_weight
    td.min = mn
    td.max = mx
    td.scale = _CODE_TO_SCALE[scale_code]
    td.policy = policy
    td.pin_per_side = pin if policy == "edges" else 0
    td.delta = None
    td.precision = precision
    td._store()
    return td


def _decode_v12(blob: bytes, version: int) -> TDigest:
    if len(blob) < HEADER_LEN_V12:
        raise WireError("buffer too small")
    scale_code, policy_code, pin = blob[5], blob[6], blob[7]
    (max_size,) = struct.unpack_from("<Q", blob, 8)
    if version == 1:
        (tw_u,) = struct.unpack_from("<Q", blob, 16)
        total_weight = float(tw_u)
    else:
        (total_weight,) = struct.unpack_from("<d", blob, 16)
    mn, mx = struct.unpack_from("<dd", blob, 24)
    (n,) = struct.unpack_from("<Q", blob, 40)
    (data_sum,) = struct.unpack_from("<d", blob, 48)
    precision = wire_precision(blob)
    payload = blob[HEADER_LEN_V12:]
    means, w, kinds = _decode_centroids(payload, version, precision, int(n))
    _check_codes(scale_code, policy_code, pin)
    return _build(
        precision, scale_code, policy_code, pin, int(max_size),
        total_weight, mn, mx, data_sum, means, w, kinds,
    )


def v3_header(blob: bytes) -> tuple:
    """``(header_len, precision, scale_code, policy_code, pin, max_size,
    count, min, max, sum, n_centroids)`` of a ``TDIG`` v3 blob, after
    every check ``decode`` makes short of reading the centroids:
    length, header_len, precision code, CRC, payload length against
    n·stride, then scale and policy codes and the edges pin. A failed
    check raises ``decode``'s ``WireError``."""
    if len(blob) < HEADER_LEN_V3:
        raise WireError("buffer too small")
    header_len = blob[6]
    if header_len < HEADER_LEN_V3:
        raise WireError("v3 header_len must be >= 64")
    if len(blob) < header_len:
        raise WireError("buffer shorter than header_len")
    prec_code = blob[7]
    if prec_code not in _CODE_PRECISION:
        raise WireError(f"invalid TDIG precision code: {prec_code}")
    precision = _CODE_PRECISION[prec_code]
    if blob[5] & V3_FLAG_CHECKSUM:
        (expected_crc,) = struct.unpack_from("<I", blob, V3_CHECKSUM_OFFSET)
        if _checksum_v3(blob, header_len) != expected_crc:
            raise WireError("invalid TDIG checksum")
    scale_code, policy_code, pin, max_size, count, mn, mx, n, data_sum = (
        struct.unpack_from("<BBBxQdddQd", blob, 8))
    if len(blob) - header_len != n * _stride(3, precision):
        raise WireError("payload length mismatch")
    _check_codes(scale_code, policy_code, pin)
    return (header_len, precision, scale_code, policy_code, pin, max_size,
            count, mn, mx, data_sum, n)


def _decode_v3(blob: bytes) -> TDigest:
    header_len, *head, n = v3_header(blob)
    means, w, kinds = _decode_centroids(blob[header_len:], 3, head[0], n)
    return _build(*head, means, w, kinds)


class DecodedBlobs(NamedTuple):
    """``decode_many``'s columns: one entry per slot of the input array
    (header codes as on the wire; ``pin`` is 0 unless the policy is
    edges; ``min``/``max`` and the weights of f32 slots rounded to f32,
    as ``TDigest._store`` does), and every slot's centroids as flat
    arrays: slot ``i`` owns ``bounds[i]:bounds[i + 1]``. A NULL slot has
    ``valid`` False and no centroids."""

    valid: np.ndarray
    precision: np.ndarray
    scale: np.ndarray
    policy: np.ndarray
    pin: np.ndarray
    max_size: np.ndarray
    count: np.ndarray
    min: np.ndarray
    max: np.ndarray
    sum: np.ndarray
    n: np.ndarray
    bounds: np.ndarray
    means: np.ndarray
    weights: np.ndarray
    kinds: np.ndarray

    def empty_like(self, i: int) -> TDigest:
        """An empty digest with slot ``i``'s config and precision."""
        return TDigest.empty(
            int(self.max_size[i]), _CODE_TO_SCALE[int(self.scale[i])],
            _CODE_TO_POLICY[int(self.policy[i])], int(self.pin[i]), None,
            _CODE_PRECISION[int(self.precision[i])],
        )


def _gather(buf: np.ndarray, pos: np.ndarray, dtype: str) -> np.ndarray:
    """The little-endian ``dtype`` value at each byte offset ``pos``."""
    size = np.dtype(dtype).itemsize
    return buf[pos[:, None] + np.arange(size)].view(dtype).ravel()


def _field(H: np.ndarray, at: int, dtype: str) -> np.ndarray:
    """The ``dtype`` header field at byte ``at`` of each header row."""
    return H[:, at:at + np.dtype(dtype).itemsize].copy().view(dtype).ravel()


def _parse_v3(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """Vectorized ``_decode_v3`` of the blobs at ``buf[starts:+lens]``:
    ``(ok, H, means, weights, kinds)``, where ``ok`` marks the blobs
    with the 64-byte header that pass every check ``decode`` makes
    (the rest are left to ``decode``), ``H`` holds their header rows
    and the centroid arrays their payloads, blob after blob. Zeroes
    ``buf``'s CRC slots."""
    ok = lens >= HEADER_LEN_V3
    H = buf[starts[ok, None] + np.arange(HEADER_LEN_V3)]
    n = _field(H, 44, "<u8")
    payload = (lens[ok] - HEADER_LEN_V3).astype(np.uint64)
    stride = np.where(H[:, 7] == 1, _stride(3, "f32"), _stride(3, "f64"))
    hdr_ok = (
        (H[:, :4] == np.frombuffer(MAGIC, np.uint8)).all(axis=1)
        & (H[:, 4] == 3) & (H[:, 6] == HEADER_LEN_V3)
        & ((H[:, 7] == 1) | (H[:, 7] == 2))
        & (H[:, 8] < len(_CODE_TO_SCALE)) & (H[:, 9] < len(_CODE_TO_POLICY))
        & ((H[:, 9] != _POLICY_TO_CODE["edges"]) | (H[:, 10] >= 1))
        & (n <= payload // np.uint64(_stride(3, "f32")))
    )
    # n·stride only where n is small enough not to overflow
    hdr_ok[hdr_ok] = (n[hdr_ok].astype(np.int64) * stride[hdr_ok]
                      == payload[hdr_ok].astype(np.int64))
    ok[ok] = hdr_ok
    H, n, stride = H[hdr_ok], n[hdr_ok].astype(np.int64), stride[hdr_ok]
    s = starts[ok]

    # CRC over the header with its slot zeroed, then the payload
    buf[s[:, None] + np.arange(V3_CHECKSUM_OFFSET, HEADER_LEN_V3)] = 0
    mv = memoryview(buf)
    crc32 = zlib.crc32
    crc = np.fromiter(
        (crc32(mv[a:b]) for a, b in zip(s.tolist(), (s + lens[ok]).tolist())),
        dtype=np.uint32, count=s.size,
    )
    good = ((H[:, 5] & V3_FLAG_CHECKSUM) == 0) | (
        crc == _field(H, V3_CHECKSUM_OFFSET, "<u4"))

    # centroid j of blob i sits at s[i] + 64 + j·stride[i]
    blob = np.repeat(np.arange(s.size), n)
    j = np.arange(blob.size) - np.repeat(np.cumsum(n) - n, n)
    pos = s[blob] + HEADER_LEN_V3 + j * stride[blob]
    f32 = H[blob, 7] == 1
    means = np.empty(blob.size)
    means[f32] = _gather(buf, pos[f32], "<f4")
    means[~f32] = _gather(buf, pos[~f32], "<f8")
    wpos = pos + np.where(f32, 4, 8)
    weights = _gather(buf, wpos, "<f8")
    weights[f32] = weights[f32].astype(np.float32)  # TDigest._store
    kinds = buf[wpos + 8]
    bad = (kinds > 1) | ~np.isfinite(means) | ~np.isfinite(weights) | (
        weights < 0)
    good &= np.bincount(blob[bad], minlength=s.size) == 0
    ok[ok] = good
    keep = good[blob]
    return ok, H[good], means[keep], weights[keep], kinds[keep]


def decode_many(arr) -> DecodedBlobs:
    """Decode every slot of a ``pa.BinaryArray``/``LargeBinaryArray``
    straight from its offsets and data buffer (a non-zero array offset
    and NULL slots honoured). v3 blobs with the 64-byte header decode
    in one vectorized pass; any other blob, or one failing a check,
    goes through ``decode``, which raises its ``WireError``."""
    import pyarrow as pa

    size = len(arr)
    valid = (arr.is_valid().to_numpy(zero_copy_only=False) if arr.null_count
             else np.ones(size, dtype=bool))
    _, off_buf, data_buf = arr.buffers()
    off_dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offsets = np.frombuffer(off_buf, off_dt, count=arr.offset + size + 1)[
        arr.offset:].astype(np.int64)
    # a private copy of the column's bytes: _parse_v3 zeroes CRC slots
    buf = np.frombuffer(data_buf, np.uint8)[offsets[0]:offsets[-1]].copy() \
        if data_buf is not None else np.empty(0, np.uint8)
    starts, lens = offsets[:-1] - offsets[0], np.diff(offsets)

    fast = np.flatnonzero(valid)
    ok, H, means, weights, kinds = _parse_v3(buf, starts[fast], lens[fast])
    fast, slow = fast[ok], fast[~ok]
    precision, scale, policy, pin = (np.zeros(size, np.uint8)
                                     for _ in range(4))
    max_size = np.zeros(size, np.uint64)
    count, mn, mx, total = (np.zeros(size) for _ in range(4))
    n = np.zeros(size, np.int64)
    precision[fast], scale[fast], policy[fast] = H[:, 7], H[:, 8], H[:, 9]
    pin[fast] = np.where(H[:, 9] == _POLICY_TO_CODE["edges"], H[:, 10], 0)
    max_size[fast], n[fast] = _field(H, 12, "<u8"), _field(H, 44, "<u8")
    count[fast], total[fast] = _field(H, 20, "<f8"), _field(H, 52, "<f8")
    f32 = H[:, 7] == 1
    for out, at in ((mn, 28), (mx, 36)):
        v = _field(H, at, "<f8")
        v[f32] = v[f32].astype(np.float32)  # TDigest._store
        out[fast] = v

    digests = [decode(arr[i].as_py()) for i in slow.tolist()]
    for i, td in zip(slow.tolist(), digests):
        precision[i] = _PRECISION_CODE[td.precision]
        scale[i] = _SCALE_TO_CODE[td.scale]
        policy[i] = _POLICY_TO_CODE[td.policy]
        pin[i], max_size[i], n[i] = td.pin_per_side, td.max_size, len(td)
        count[i], mn[i], mx[i], total[i] = td.count, td.min, td.max, td.sum
    bounds = np.concatenate(([0], np.cumsum(n)))
    if digests:
        # scatter the vectorized slots' centroids around the spliced ones
        fn = n[fast]
        dest = np.repeat(bounds[fast] - (np.cumsum(fn) - fn), fn) + \
            np.arange(fn.sum())
        flat = [np.empty(bounds[-1]), np.empty(bounds[-1]),
                np.empty(bounds[-1], np.uint8)]
        for out, vals in zip(flat, (means, weights, kinds)):
            out[dest] = vals
        for i, td in zip(slow.tolist(), digests):
            seg = slice(bounds[i], bounds[i + 1])
            flat[0][seg], flat[1][seg] = td.means64, td.weights64
            flat[2][seg] = td.kinds
        means, weights, kinds = flat
    return DecodedBlobs(valid, precision, scale, policy, pin, max_size,
                        count, mn, mx, total, n, bounds, means, weights,
                        kinds)


def encode_pile_groups(
    run_means: np.ndarray,
    run_weights: np.ndarray,
    bounds: np.ndarray,
    counts: np.ndarray,
    sums: np.ndarray,
    *,
    max_size: int,
    scale: str,
    policy: str,
    pin_per_side: int,
    precision: str,
) -> list:
    """Vectorized v3 encoding of MANY uncompressed pile digests at once.

    Group ``i`` owns runs ``bounds[i]:bounds[i+1]`` of the (sorted,
    coalesced) ``run_means``/``run_weights`` arrays; ``counts``/``sums``
    carry the group totals computed from the ORIGINAL weights. Each
    blob is byte-for-byte ``encode(td, 3)`` of the uncompressed digest
    ``td`` of the group's piles (atomic centroids, weights below 1
    stored as 1, min/max the first/last run), without constructing a
    TDigest object per key: the payload matrix and header field columns
    are built in numpy for all groups, leaving only crc32 (zlib, C) +
    slicing in the per-key loop. Empty groups yield None.
    """
    scale_code = _SCALE_TO_CODE[scale]
    policy_code = _POLICY_TO_CODE[policy]
    pin = min(pin_per_side, 255) if policy == "edges" else 0

    n_groups = len(bounds) - 1
    # storage-precision views (TDigest._store semantics)
    if precision == "f32":
        m_store = run_means.astype(np.float32)
        w_store = np.where(run_weights <= 1.0, 1.0, run_weights).astype(
            np.float32
        ).astype(np.float64)
        mean_payload = m_store  # already f32
    else:
        m_store = np.asarray(run_means, dtype=np.float64)
        w_store = np.where(run_weights <= 1.0, 1.0, run_weights)
        mean_payload = m_store

    n = run_means.size
    stride = _stride(3, precision)
    msz = 4 if precision == "f32" else 8
    pay = np.zeros(n * stride, dtype=np.uint8)
    view = pay.reshape(n, stride) if n else pay.reshape(0, stride)
    if n:
        view[:, :msz] = (
            mean_payload.astype(_mean_dtype(precision))
            .view(np.uint8).reshape(n, msz)
        )
        view[:, msz:msz + 8] = (
            w_store.astype("<f8").view(np.uint8).reshape(n, 8)
        )
        # kinds: all piles are atomic (0) — column already zeroed
    pay_bytes = pay.tobytes()

    b0 = bounds[:-1]
    b1 = bounds[1:]
    valid = b1 > b0
    mn = np.zeros(n_groups)
    mx = np.zeros(n_groups)
    if n:
        m64 = np.asarray(m_store, dtype=np.float64)
        mn[valid] = m64[np.minimum(b0[valid], n - 1)]
        mx[valid] = m64[b1[valid] - 1]

    tmpl = bytearray(HEADER_LEN_V3)
    tmpl[0:4] = MAGIC
    tmpl[4:12] = bytes([
        3, V3_FLAG_CHECKSUM, HEADER_LEN_V3, _PRECISION_CODE[precision],
        scale_code, policy_code, pin, 0,
    ])
    struct.pack_into("<Q", tmpl, 12, max_size)

    # all headers as one (G × 64) matrix — vectorized field writes; the
    # crc slot stays zero so crc32 over the full 64-byte slice matches
    # _checksum_v3's zeroed-slot semantics
    H = np.tile(np.frombuffer(bytes(tmpl), np.uint8), (n_groups, 1))
    if n_groups:
        H[:, 20:28] = np.asarray(counts, "<f8").view(np.uint8).reshape(-1, 8)
        H[:, 28:36] = mn.astype("<f8").view(np.uint8).reshape(-1, 8)
        H[:, 36:44] = mx.astype("<f8").view(np.uint8).reshape(-1, 8)
        H[:, 44:52] = (b1 - b0).astype("<u8").view(np.uint8).reshape(-1, 8)
        H[:, 52:60] = np.asarray(sums, "<f8").view(np.uint8).reshape(-1, 8)
    hdr_bytes = H.tobytes()

    out = []
    crc32 = zlib.crc32
    pack = struct.pack
    off = (bounds * stride).tolist()
    valid_l = valid.tolist()
    for i in range(n_groups):
        if not valid_l[i]:
            out.append(None)
            continue
        h = hdr_bytes[i * HEADER_LEN_V3:(i + 1) * HEADER_LEN_V3]
        pslice = pay_bytes[off[i]:off[i + 1]]
        crc = crc32(pslice, crc32(h))
        out.append(h[:V3_CHECKSUM_OFFSET] + pack("<I", crc) + pslice)
    return out
