"""Wire-format interop tests.

The conformance oracle is an independent straight-line transcription of the
reference's pure-Elixir encoder (bit-by-bit, from
``encoder/delta_encoding.ex:27-111``, ``encoder/value_compression.ex:30-166``,
``encoder/bit_packing.ex:74-125``, ``encoder/metadata.ex:55-125``) — the
engine's vectorized encoder must produce identical bytes, mirroring the
reference's own same-payload byte-for-byte standard
(``test/nif_compatibility_test.exs:156``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gorilla_stream_spark import gorilla_wire as gw
from gorilla_stream_spark.codecs import bitio


# ---------------------------------------------------------------------------
# Spec transcription (slow, obviously-correct)
# ---------------------------------------------------------------------------


class _BW:
    def __init__(self):
        self.bits: list[int] = []

    def w(self, val, width):
        v = int(val) & ((1 << width) - 1)
        self.bits += [(v >> (width - 1 - i)) & 1 for i in range(width)]

    def to_bytes(self):
        b = self.bits[:]
        while len(b) % 8:
            b.append(0)
        out = bytearray()
        for i in range(0, len(b), 8):
            x = 0
            for j in range(8):
                x = (x << 1) | b[i + j]
            out.append(x)
        return bytes(out)


def _fd_code(w: _BW, d: int) -> None:
    d = int(d)
    if d == 0:
        w.w(0, 1)
    elif -63 <= d <= 64:
        w.w(0b10, 2)
        w.w(d, 7)
    elif -255 <= d <= 256:
        w.w(0b110, 3)
        w.w(d, 9)
    elif -2047 <= d <= 2048:
        w.w(0b1110, 4)
        w.w(d, 12)
    else:
        w.w(0b1111, 4)
        w.w(d, 32)


def _f2b(v: float) -> int:
    return struct.unpack(">Q", struct.pack(">d", float(v)))[0]


def spec_encode(ts, vals, creation_time=0) -> bytes:
    ts = [int(t) for t in ts]
    vals = [float(v) for v in vals]
    n = len(ts)
    if n == 0:
        return b""
    tw = _BW()
    tw.w(ts[0], 64)
    first_delta = 0
    if n >= 2:
        first_delta = ts[1] - ts[0]
        _fd_code(tw, first_delta)
        prev_d = first_delta
        for i in range(2, n):
            d = ts[i] - ts[i - 1]
            _fd_code(tw, d - prev_d)
            prev_d = d
    vw = _BW()
    vw.w(_f2b(vals[0]), 64)
    prev = _f2b(vals[0])
    for v in vals[1:]:
        cur = _f2b(v)
        x = cur ^ prev
        # Elixir window stays (0,0): '0' or '10'+full 64 XOR bits
        # (value_compression.ex:82-118; see gorilla_wire module doc)
        if x == 0:
            vw.w(0, 1)
        else:
            vw.w(0b10, 2)
            vw.w(x, 64)
        prev = cur
    full = _BW()
    full.w(n, 32)
    full.w(ts[0], 64)
    full.w(_f2b(vals[0]), 64)
    full.w(first_delta, 32)
    full.w(len(tw.bits), 32)
    full.w(len(vw.bits), 32)
    ts_len, val_len = len(tw.bits), len(vw.bits)
    full.bits += tw.bits + vw.bits
    payload = full.to_bytes()
    outer = struct.pack(
        ">QHHIIIIQiQIIIdQI",
        0x474F52494C4C41,
        1,
        80,
        n,
        len(payload),
        n * 16,
        zlib.crc32(payload) & 0xFFFFFFFF,
        ts[0] & ((1 << 64) - 1),
        ((first_delta + (1 << 31)) & 0xFFFFFFFF) - (1 << 31),
        _f2b(vals[0]),
        ts_len,
        val_len,
        len(payload) * 8,
        len(payload) / (n * 16),
        creation_time,
        0,
    )
    return outer + payload


# ---------------------------------------------------------------------------
# Byte-for-byte conformance
# ---------------------------------------------------------------------------


_CASES = [
    # regular interval, drifting values (the Gorilla sweet spot)
    (
        list(range(1609459200, 1609459200 + 300)),
        [23.5 + 0.01 * i for i in range(300)],
    ),
    # single point / two points / constant values
    ([5], [1.25]),
    ([10, 70], [2.0, 2.0]),
    ([0, 60, 120, 180], [9.0, 9.0, 9.0, 9.0]),
    # every DoD bucket incl. the 32-bit escape, negative deltas
    (
        [0, 100, 200, 263, 563, 2563, 102563, 102564],
        [0.0, -0.0, 1.5, 1.5, -2.25, 1e300, 5e-324, 0.1],
    ),
    # negative timestamps
    ([-1000, -400, 200], [1.0, 2.0, 3.0]),
]


@pytest.mark.parametrize("case", range(len(_CASES)))
def test_byte_for_byte_vs_spec(case):
    ts, vals = _CASES[case]
    exp = spec_encode(ts, vals, creation_time=777)
    got = gw.encode_points(
        np.array(ts, np.int64), np.array(vals, np.float64), creation_time=777
    )
    assert got == exp


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.floats(allow_nan=False, width=64),
        ),
        min_size=1,
        max_size=120,
    )
)
def test_byte_for_byte_property(points):
    ts = [t for t, _ in points]
    vals = [v for _, v in points]
    exp = spec_encode(ts, vals, creation_time=1)
    got = gw.encode_points(
        np.array(ts, np.int64), np.array(vals, np.float64), creation_time=1
    )
    assert got == exp


# ---------------------------------------------------------------------------
# Round-trip + reference quirks
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=-(2**40), max_value=2**40),
    st.lists(
        st.tuples(
            # deltas whose DoDs avoid the reference's +64/+256/+2048
            # two's-complement wrap quirk (see module doc / quirk test)
            st.integers(min_value=0, max_value=60),
            st.floats(allow_nan=False, width=64),
        ),
        min_size=0,
        max_size=150,
    ),
)
def test_roundtrip_property(t0, rest):
    ts = [t0]
    for d, _ in rest:
        ts.append(ts[-1] + d)
    vals = [0.5] + [v for _, v in rest]
    buf = gw.encode_points(np.array(ts, np.int64), np.array(vals, np.float64))
    t2, v2, info = gw.decode_points(buf)
    assert list(t2) == ts
    assert np.array_equal(
        np.array(vals, np.float64).view(np.uint64), v2.view(np.uint64)
    )
    assert info["count"] == len(ts)


def test_dod_plus64_wrap_quirk():
    # deltas 100 then 164 -> dod = +64: the reference encodes the low 7 bits
    # and its decoder sign-extends to -64 (delta_encoding.ex:95-98 vs
    # delta_decoding.ex:147-149) -> last ts decodes as 0+100+(100-64)=136.
    buf = gw.encode_points(np.array([0, 100, 264], np.int64), np.array([1.0, 2.0, 3.0]))
    t2, _, _ = gw.decode_points(buf)
    assert list(t2) == [0, 100, 136]


def test_empty_stream_is_empty_binary():
    # gorilla.ex:74-75
    assert gw.encode_points(np.empty(0, np.int64), np.empty(0)) == b""
    t, v, info = gw.decode_points(b"")
    assert t.size == 0 and v.size == 0 and info["count"] == 0


def test_checksum_strict_and_tolerant():
    buf = bytearray(
        gw.encode_points(np.arange(10, dtype=np.int64), np.arange(10, dtype=np.float64))
    )
    buf[-1] ^= 0xFF  # corrupt payload
    with pytest.raises(ValueError, match="checksum"):
        gw.decode_points(bytes(buf))
    # tolerant mode mirrors decoder/metadata.ex:41-44 (flag, don't fail)
    _, _, info = gw.decode_points(bytes(buf), strict=False)
    assert info["checksum_failed"] is True


def test_bad_magic_and_truncation():
    buf = gw.encode_points(np.arange(5, dtype=np.int64), np.arange(5, dtype=np.float64))
    with pytest.raises(ValueError, match="magic"):
        gw.decode_points(b"X" * len(buf))
    with pytest.raises(ValueError):
        gw.decode_points(buf[:40])


def test_wire_info_matches_header():
    ts = np.arange(100, dtype=np.int64) * 60
    vals = np.linspace(0, 1, 100)
    buf = gw.encode_points(ts, vals)
    info = gw.wire_info(buf)
    assert info["count"] == 100
    assert info["header_length"] == 80
    assert info["compressed_size"] == len(buf) - 80
    assert info["original_size"] == 1600


# ---------------------------------------------------------------------------
# VictoriaMetrics preprocessing flags (v2 header)
# ---------------------------------------------------------------------------


def test_vm_scale_roundtrip():
    ts = np.arange(500, dtype=np.int64) * 15
    vals = np.round(np.random.default_rng(3).normal(20, 5, 500), 2)
    buf = gw.encode_points(ts, vals, victoria_metrics=True)
    t2, v2, info = gw.decode_points(buf)
    assert info["header_length"] == 84
    assert info["flags"] == 0x1
    assert info["scale_decimals"] == 2
    assert np.array_equal(t2, ts)
    assert np.allclose(v2, vals, atol=1e-12)


def test_vm_counter_roundtrip():
    rng = np.random.default_rng(4)
    ts = np.arange(300, dtype=np.int64) * 30
    vals = np.cumsum(rng.integers(0, 50, 300)).astype(np.float64)
    buf = gw.encode_points(ts, vals, victoria_metrics=True, is_counter=True)
    t2, v2, info = gw.decode_points(buf)
    assert info["flags"] == 0x3
    assert np.allclose(v2, vals)
    # counter deltas are small -> far better ratio than raw monotonic floats
    raw = gw.encode_points(ts, vals)
    assert len(buf) < len(raw)


def test_vm_non_vm_counter_is_noop():
    # is_counter without victoria_metrics is ignored (gorilla/encoder.ex:92-103)
    ts = np.arange(50, dtype=np.int64)
    vals = np.cumsum(np.ones(50))
    assert gw.encode_points(ts, vals, is_counter=True) == gw.encode_points(ts, vals)


# ---------------------------------------------------------------------------
# Foreign-writer streams: the general '11' window decoder
# ---------------------------------------------------------------------------


def test_foreign_writer_new_window_codes():
    """Hand-build a value stream using the REAL Gorilla windowing ('11' new
    window then '10' reuse) — legal per the reference decoder
    (value_decompression.ex:124-210) though its own encoder never emits it."""
    v0 = 12.5
    b0 = _f2b(v0)
    # xor1: lead=8, meaningful=12, trail=44
    xor1 = 0xABC << 44
    b1 = b0 ^ xor1
    # xor2 fits the same window -> '10' + 12 meaningful bits
    xor2 = 0x123 << 44
    b2 = b1 ^ xor2
    w = _BW()
    w.w(b0, 64)
    w.w(0b11, 2)
    w.w(8, 5)  # leading zeros
    w.w(11, 6)  # meaningful length - 1
    w.w(0xABC, 12)
    w.w(0b10, 2)
    w.w(0x123, 12)
    w.w(0, 1)  # repeat
    val_bits = w.bits[:]
    # ts stream: 3 points, regular
    tw = _BW()
    tw.w(1000, 64)
    _fd_code(tw, 60)
    _fd_code(tw, 0)
    _fd_code(tw, 0)
    full = _BW()
    full.w(4, 32)
    full.w(1000, 64)
    full.w(b0, 64)
    full.w(60, 32)
    full.w(len(tw.bits), 32)
    full.w(len(val_bits), 32)
    full.bits += tw.bits + val_bits
    payload = full.to_bytes()
    outer = struct.pack(
        ">QHHIIIIQiQIIIdQI",
        0x474F52494C4C41, 1, 80, 4, len(payload), 64,
        zlib.crc32(payload) & 0xFFFFFFFF, 1000, 60, b0,
        len(tw.bits), len(val_bits), len(payload) * 8,
        len(payload) / 64, 0, 0,
    )
    t2, v2, _ = gw.decode_points(outer + payload)
    assert list(t2) == [1000, 1060, 1120, 1180]
    exp_bits = [b0, b1, b2, b2]
    assert list(v2.view(np.uint64)) == exp_bits


# ---------------------------------------------------------------------------
# ETF envelope (term_to_binary subset) + .gorilla files
# ---------------------------------------------------------------------------


def test_etf_roundtrip_types():
    term = (
        {
            gw.Atom("version"): "1.0",
            gw.Atom("n"): 42,
            gw.Atom("neg"): -7,
            gw.Atom("big"): 2**80,
            gw.Atom("negbig"): -(2**80),
            gw.Atom("f"): 3.14,
            gw.Atom("flag"): True,
            gw.Atom("none"): None,
            gw.Atom("l"): [1, "x", (gw.Atom("ok"), b"bin")],
        },
        b"payload",
    )
    out = gw.etf_decode(gw.etf_encode(term))
    meta, payload = out
    assert payload == b"payload"
    # Elixir strings are binaries: str encodes to BINARY_EXT, decodes as bytes
    assert meta[gw.Atom("version")] == b"1.0"
    assert meta[gw.Atom("n")] == 42
    assert meta[gw.Atom("neg")] == -7
    assert meta[gw.Atom("big")] == 2**80
    assert meta[gw.Atom("negbig")] == -(2**80)
    assert meta[gw.Atom("f")] == 3.14
    assert meta[gw.Atom("flag")] is True
    assert meta[gw.Atom("none")] is None
    assert meta[gw.Atom("l")] == [1, b"x", (gw.Atom("ok"), b"bin")]


def test_gorilla_file_roundtrip(tmp_path):
    path = str(tmp_path / "sensor.gorilla")
    ts = np.arange(1609459200, 1609459200 + 200, dtype=np.int64)
    vals = 23.5 + np.sin(np.arange(200) / 10.0)
    res = gw.write_gorilla_file(path, ts, vals, user_metadata={gw.Atom("sensor"): "s1"})
    assert res["original_points"] == 200
    t2, v2, meta = gw.read_gorilla_file(path)
    assert np.array_equal(t2, ts)
    assert np.array_equal(v2.view(np.uint64), vals.view(np.uint64))
    assert meta[gw.Atom("version")] == b"1.0"
    assert meta[gw.Atom("user_metadata")][gw.Atom("sensor")] == b"s1"


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def test_spark_wire_roundtrip(spark):
    import pyspark.sql.functions as F

    n = 23_456
    df = spark.range(n).select(
        (F.lit(1_600_000_000) + F.col("id") * 60).alias("ts"),
        (F.col("id") % 17).cast("double").alias("value"),
    )
    enc = gw.encode_timeseries_wire(df, num_partitions=4)
    rows = enc.collect()
    # reference chunk size: 5000 points/block (stream.ex:42)
    assert sum(r["n_points"] for r in rows) == n
    assert max(r["n_points"] for r in rows) <= 5000
    for r in rows:
        info = gw.wire_info(bytes(r["buffer"]))
        assert info["count"] == r["n_points"]
    dec = gw.decode_timeseries_wire(enc)
    got = dec.orderBy("ts").collect()
    assert len(got) == n
    assert got[0]["ts"] == 1_600_000_000
    assert got[-1]["ts"] == 1_600_000_000 + (n - 1) * 60
    s = sum(r["value"] for r in got)
    exp = sum(float(i % 17) for i in range(n))
    assert abs(s - exp) < 1e-6


def test_spark_wire_rejects_nulls(spark):
    import pyspark.sql.functions as F

    df = spark.range(10).select(
        F.when(F.col("id") == 5, None).otherwise(F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    with pytest.raises(Exception, match="null"):
        gw.encode_timeseries_wire(df).collect()


def _pack(vals, widths):
    """One FieldPacker pass -> (bytes, nbits)."""
    packer = bitio.FieldPacker()
    packer.add(vals, widths)
    return packer.finish(), packer.nbits


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=1, max_value=64), st.integers(min_value=0)),
        min_size=1,
        max_size=200,
    )
)
def test_pack_fields_gather_roundtrip(fields):
    # direct property on the word-wise packer: every field reads back at
    # its bit offset from the packed bytes
    widths = np.array([w for w, _ in fields], dtype=np.int64)
    vals = np.array(
        [v & ((1 << w) - 1) for w, v in fields], dtype=np.uint64
    )
    buf, nbits = _pack(vals, widths)
    assert nbits == int(widths.sum())
    assert len(buf) == (nbits + 7) // 8
    data = np.frombuffer(buf, dtype=np.uint8)
    starts = np.cumsum(widths) - widths
    for w in np.unique(widths):
        m = widths == w
        got = bitio.gather(data, starts[m], int(w))
        assert np.array_equal(got, vals[m]), (w, got, vals[m])


def test_decode_corruption_always_fails_cleanly():
    # random byte corruption must surface as ValueError (or a flagged
    # tolerant decode) — never IndexError/struct.error out of the kernels
    rng = np.random.default_rng(0)
    ts = np.arange(500, dtype=np.int64) * 60
    vals = rng.normal(0, 1, 500)
    base = bytearray(gw.encode_points(ts, vals))
    for trial in range(400):
        buf = bytearray(base)
        for _ in range(int(rng.integers(1, 4))):
            buf[int(rng.integers(0, len(buf)))] = int(rng.integers(0, 256))
        try:
            _, _, info = gw.decode_points(bytes(buf), strict=False)
        except ValueError:
            continue
    for cut in range(0, len(base), 53):
        try:
            gw.decode_points(bytes(base[:cut]), strict=False)
        except ValueError:
            continue


def test_vm_rejects_non_finite():
    ts = np.arange(3, dtype=np.int64)
    vals = np.array([1.0, float("nan"), 2.0])
    with pytest.raises(ValueError, match="finite"):
        gw.encode_points(ts, vals, victoria_metrics=True)
    # non-VM path stores NaN bit-exactly (IEEE payload), like the reference
    buf = gw.encode_points(ts, vals)
    _, v2, _ = gw.decode_points(buf)
    assert np.array_equal(vals.view(np.uint64), v2.view(np.uint64))


def test_read_timerange_wire_prunes_blocks(spark):
    import pyspark.sql.functions as F

    from gorilla_stream_spark.gorilla_wire import (
        encode_timeseries_wire,
        read_timerange_wire,
    )

    n = 20_000
    df = spark.range(n).select(
        (F.lit(1000) + F.col("id") * 10).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    enc = encode_timeseries_wire(df, num_partitions=4, block_points=1000)
    lo, hi = 1000 + 5_000 * 10, 1000 + 5_999 * 10
    rows = read_timerange_wire(enc, lo, hi).collect()
    assert len(rows) == 1000
    assert min(r.ts for r in rows) == lo and max(r.ts for r in rows) == hi
    # pruning reaches the block filter: only overlapping blocks decode
    pruned = enc.filter((F.col("ts_max") >= lo) & (F.col("ts_min") <= hi))
    assert pruned.count() < enc.count()


def spec_encode_vm(ts, vals, is_counter=False, creation_time=0) -> bytes:
    """VM-mode spec transcription: counter delta + decimal scaling
    (enhancements.ex:19-78), v2 84-byte header with flags + scale_decimals
    (metadata.ex:96-125)."""
    ts = [int(t) for t in ts]
    vals = [float(v) for v in vals]
    n = len(ts)
    v = vals
    if is_counter:
        v = [v[0]] + [v[i] - v[i - 1] for i in range(1, n)]
    # detect_scale: max decimals via 10-decimal string, trimmed, cap 6
    def decs(x):
        s = f"{x:.10f}".split(".")[1].rstrip("0")
        return len(s)
    k = min(max((decs(x) for x in v), default=0), 6)
    scale = 10.0**k
    import math
    pre = [float(math.floor(x * scale + 0.5) if x >= 0 else math.ceil(x * scale - 0.5)) for x in v]
    body = spec_encode(ts, pre, creation_time=creation_time)
    # rewrite outer header: v2 (84B), flags, scale_decimals appended
    (magic, ver, _hl, cnt, csz, osz, crc, fts, fd, fvb, tl, vl, tb, ratio, ct, _fl) = struct.unpack(
        ">QHHIIIIQiQIIIdQI", body[:80]
    )
    flags = 0x1 | (0x2 if is_counter else 0)
    outer = struct.pack(
        ">QHHIIIIQiQIIIdQI", magic, ver, 84, cnt, csz, osz, crc, fts, fd, fvb,
        tl, vl, tb, ratio, ct, flags,
    ) + struct.pack(">I", k)
    return outer + body[80:]


def test_vm_mode_byte_for_byte():
    ts = list(range(1_600_000_000, 1_600_000_000 + 120, 15))
    vals = [round(20.0 + 0.25 * i, 2) for i in range(8)]
    exp = spec_encode_vm(ts, vals, creation_time=55)
    got = gw.encode_points(
        np.array(ts, np.int64), np.array(vals, np.float64),
        victoria_metrics=True, creation_time=55,
    )
    assert got == exp
    # counter mode
    cnt = [float(x) for x in np.cumsum([5, 3, 0, 7, 2, 9, 1, 4])]
    exp = spec_encode_vm(ts, cnt, is_counter=True, creation_time=55)
    got = gw.encode_points(
        np.array(ts, np.int64), np.array(cnt, np.float64),
        victoria_metrics=True, is_counter=True, creation_time=55,
    )
    assert got == exp


def test_vm_negative_zero_byte_for_byte():
    # a negative value scaling into (-0.5, 0] must round to +0.0 bits, not
    # -0.0: the reference goes through integers (enhancements.ex:26) and
    # never emits 0x8000000000000000.  Counter mode with a slight dip is
    # the real-world producer of this input class.
    # scale detection caps at 6 decimals, so a delta of -4e-8 scales to
    # -0.04 -> rounds to zero (the only way a finite input reaches this
    # class, since uncapped inputs always scale to >= 1 in magnitude)
    ts = list(range(1_600_000_000, 1_600_000_000 + 90, 15))
    vals = [10.0, 10.5, 10.49999996, 10.49999996, 11.2, 11.2]
    exp = spec_encode_vm(ts, vals, is_counter=True, creation_time=9)
    got = gw.encode_points(
        np.array(ts, np.int64), np.array(vals, np.float64),
        victoria_metrics=True, is_counter=True, creation_time=9,
    )
    assert got == exp
    # and in plain VM mode with a directly-negative tiny value
    vals2 = [1.04, -4e-8, 0.3, 0.0, -0.2, 0.44]
    exp2 = spec_encode_vm(ts, vals2, creation_time=9)
    got2 = gw.encode_points(
        np.array(ts, np.int64), np.array(vals2, np.float64),
        victoria_metrics=True, creation_time=9,
    )
    assert got2 == exp2
    t2, v2, _ = gw.decode_points(got2)
    # cap-6 scaling quantizes -4e-8 to exactly 0 (lossy, matches reference)
    assert np.allclose(v2, vals2, atol=5e-7)
    assert not np.signbit(v2[1])


def _with_inner_count(buf: bytes, count: int) -> bytes:
    """``buf`` with its inner-header count replaced and the crc refreshed."""
    out = bytearray(buf)
    struct.pack_into(">I", out, 80, count)  # inner header opens the payload
    struct.pack_into(">I", out, 24, zlib.crc32(bytes(out[80:])) & 0xFFFFFFFF)
    return bytes(out)


def test_decode_points_count_bound_is_max_count(monkeypatch):
    buf = gw.encode_points(np.arange(10) * 1000, np.arange(10) * 0.5)
    with pytest.raises(ValueError, match="implausible count"):
        gw.decode_points(_with_inner_count(buf, bitio.MAX_COUNT + 1))
    # the bound is the shared constant, not a copy of its value
    monkeypatch.setattr(bitio, "MAX_COUNT", 10)
    assert gw.decode_points(buf)[0].size == 10
    with pytest.raises(ValueError, match="implausible count 11"):
        gw.decode_points(_with_inner_count(buf, 11))


def test_encode_points_count_bound_is_max_count(monkeypatch):
    # encode refuses any block decode_points would refuse as implausible
    monkeypatch.setattr(bitio, "MAX_COUNT", 10)
    ts, vals = np.arange(11) * 1000, np.arange(11) * 0.5
    dec_ts, dec_vals, _ = gw.decode_points(gw.encode_points(ts[:10], vals[:10]))
    assert np.array_equal(dec_ts, ts[:10]) and np.array_equal(dec_vals, vals[:10])
    with pytest.raises(ValueError, match="implausible element count 11"):
        gw.encode_points(ts, vals)


def test_encode_timeseries_wire_rejects_block_points_at_call_time(spark):
    # raised by the call itself, before any Spark job: 0 or negative would
    # fail inside a task, and above MAX_COUNT no full block would decode
    df = spark.range(3).selectExpr("id AS ts", "CAST(id AS double) AS value")
    for bad in (0, -5, bitio.MAX_COUNT + 1):
        with pytest.raises(ValueError, match="block_points"):
            gw.encode_timeseries_wire(df, block_points=bad)


def test_decode_points_zeroed_inner_count_raises_cleanly():
    # a corrupt buffer whose inner count is zeroed (outer count nonzero)
    # must fail with the decoder's ValueError contract, never IndexError
    import struct
    import zlib as _zlib

    import numpy as np
    import pytest as _pt

    from gorilla_stream_spark.gorilla_wire import decode_points, encode_points

    buf = bytearray(encode_points(np.array([1000, 2000, 3000]), np.array([1.0, 2.0, 3.0])))
    # inner header starts at the outer header end (offset 80); count is its
    # first u32 field
    inner_off = 80
    struct.pack_into("<I", buf, inner_off, 0)
    try:
        ts, vals, info = decode_points(bytes(buf), strict=False)
        assert ts.size == 0 or ts.size == 3  # tolerated decode is fine
    except ValueError:
        pass  # ValueError is the contract
    except IndexError as e:  # pragma: no cover
        raise AssertionError(f"IndexError leaked: {e}")


# ---------------------------------------------------------------------------
# Chimp / Chimp128 value streams (NIF wire extension, flags 0x4 / 0x8)
#
# Oracles below are straight-line transcriptions of the C++ state machines
# (``c_src/gorilla_nif.cpp``): encoders :450-519 (Chimp) and :590-713
# (Chimp128), decoders :522-575 and :716-777, flag tables :424-448.
# ``faithful=True`` reproduces the NIF encoder bit-for-bit INCLUDING its
# flag-01 bug (significant computed from the unrounded leading count, which
# its own decoder cannot reconstruct); ``faithful=False`` is the engine's
# convention (rounded leading — the Chimp paper's, decodable by both).
# ---------------------------------------------------------------------------

_REPR = [0] * 8 + [1] * 4 + [2] * 4 + [3] * 2 + [4] * 2 + [5] * 2 + [6] * 2 + [7] * 41
_ROUND = (
    [0] * 8 + [8] * 4 + [12] * 4 + [16] * 2 + [18] * 2 + [20] * 2 + [22] * 2 + [24] * 41
)
_DEC = [0, 8, 12, 16, 18, 20, 22, 24]


def _clz(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _ctz(x: int) -> int:
    return (x & -x).bit_length() - 1 if x else 64


def spec_chimp_stream(vals, faithful: bool) -> _BW:
    """NIF Chimp value-stream encoder transcription (gorilla_nif.cpp:450-519)."""
    bits = [_f2b(v) for v in vals]
    vw = _BW()
    vw.w(bits[0], 64)
    prev, stored = bits[0], 65
    for cur in bits[1:]:
        x = cur ^ prev
        if x == 0:
            vw.w(0b00, 2)
            stored = 65
        else:
            lead, trail = _clz(x), _ctz(x)
            if trail > 6:
                sig = 64 - (lead if faithful else _ROUND[lead]) - trail
                vw.w(0b01, 2)
                vw.w(_REPR[lead], 3)
                vw.w(sig, 6)
                vw.w(x >> trail, sig)
                stored = 65
            elif lead == stored:
                vw.w(0b10, 2)
                vw.w(x, 64 - stored)
            else:
                vw.w(0b11, 2)
                vw.w(_REPR[lead], 3)
                vw.w(x, 64 - _ROUND[lead])
                stored = _ROUND[lead]
        prev = cur
    return vw


def spec_chimp128_stream(vals, faithful: bool) -> _BW:
    """NIF Chimp128 value-stream encoder transcription (gorilla_nif.cpp:590-713)."""
    bits = [_f2b(v) for v in vals]
    vw = _BW()
    vw.w(bits[0], 64)
    N, MASK = 128, (1 << 14) - 1
    ring = [0] * N
    ring[0] = bits[0]
    idxs = {bits[0] & MASK: 0}
    ring_pos, stored_val, stored = 1, bits[0], 65
    for cur in bits[1:]:
        cand = idxs.get(cur & MASK, -1)
        xp = cur ^ stored_val
        best, xr = -1, 0
        if cand >= 0 and 0 < ring_pos - cand <= N:
            xr = cur ^ ring[cand % N]
            if _ctz(xr) >= _ctz(xp):
                best = cand
        handled = False
        if best >= 0:
            if xr == 0:
                vw.w(0b00, 2)
                vw.w(best % N, 7)
                stored = 65
                handled = True
            elif _ctz(xr) > 13:
                lead, trail = _clz(xr), _ctz(xr)
                sig = 64 - (lead if faithful else _ROUND[lead]) - trail
                vw.w(0b01, 2)
                vw.w(best % N, 7)
                vw.w(_REPR[lead], 3)
                vw.w(sig, 6)
                vw.w(xr >> trail, sig)
                stored = 65
                handled = True
        if not handled:  # the NIF's goto use_prev
            if xp == 0:
                vw.w(0b00, 2)
                vw.w((ring_pos - 1) % N, 7)
                stored = 65
            else:
                lead = _clz(xp)
                if lead == stored:
                    vw.w(0b10, 2)
                    vw.w(xp, 64 - stored)
                else:
                    vw.w(0b11, 2)
                    vw.w(_REPR[lead], 3)
                    vw.w(xp, 64 - _ROUND[lead])
                    stored = _ROUND[lead]
        ring[ring_pos % N] = cur
        idxs[cur & MASK] = ring_pos
        ring_pos += 1
        stored_val = cur
    return vw


class _BR:
    def __init__(self, bits, pos=0):
        self.bits, self.pos = bits, pos

    def r(self, w):
        v = 0
        for b in self.bits[self.pos : self.pos + w]:
            v = (v << 1) | b
        self.pos += w
        return v


def spec_chimp_decode(bits, count):
    """NIF Chimp decoder transcription (gorilla_nif.cpp:522-575)."""
    r = _BR(bits)
    prev = r.r(64)
    out, stored = [prev], 65
    for _ in range(count - 1):
        flag = r.r(2)
        if flag == 0b00:
            stored = 65
        elif flag == 0b01:
            leading = _DEC[r.r(3)]
            sig = r.r(6) or 64
            trailing = max(64 - leading - sig, 0)
            prev ^= r.r(sig) << trailing
            stored = 65
        elif flag == 0b10:
            prev ^= r.r(64 - stored)
        else:
            leading = _DEC[r.r(3)]
            prev ^= r.r(64 - leading)
            stored = leading
        out.append(prev)
    return out


def spec_chimp128_decode(bits, count):
    """NIF Chimp128 decoder transcription (gorilla_nif.cpp:716-777)."""
    r = _BR(bits)
    first = r.r(64)
    out = [first]
    N = 128
    ring = [0] * N
    ring[0] = first
    ring_pos, stored_val, stored = 1, first, 65
    for _ in range(count - 1):
        flag = r.r(2)
        if flag == 0b00:
            new = ring[r.r(7)]
            stored = 65
        elif flag == 0b01:
            idx = r.r(7)
            leading = _DEC[r.r(3)]
            sig = r.r(6) or 64
            trailing = max(64 - leading - sig, 0)
            new = ring[idx] ^ (r.r(sig) << trailing)
            stored = 65
        elif flag == 0b10:
            new = stored_val ^ r.r(64 - stored)
        else:
            leading = _DEC[r.r(3)]
            new = stored_val ^ r.r(64 - leading)
            stored = leading
        out.append(new)
        ring[ring_pos % N] = new
        ring_pos += 1
        stored_val = new
    return out


def _value_stream_bits(buf: bytes) -> tuple[list, int]:
    """Extract (value-stream bit list incl. leading 64, count) from a block."""
    hs = struct.unpack_from(">QHH", buf, 0)[2]
    count, _ft, _fv, _fd, ts_len, val_len = struct.unpack_from(">IQQiII", buf, hs)
    payload = buf[hs + 32 :]
    allbits = []
    for byte in payload:
        for j in range(7, -1, -1):
            allbits.append((byte >> j) & 1)
    return allbits[ts_len : ts_len + val_len], count


_CHIMP_VALSETS = [
    # constant run -> drifting gauge (flag 00 + 01/11 mix)
    [3.75] * 20 + [23.5 + 0.01 * i for i in range(40)],
    # sin-gauge (the reference's own chimp_test.exs:7 shape)
    [round(45.0 + __import__("math").sin(i / 10) * 15, 2) for i in range(100)],
    # counter (integers as doubles -> trailing-zero-rich XORs, flag 01 heavy)
    [float(i) for i in range(80)],
    # period-5 cycle: chimp128 ring hits where chimp sees full XORs
    [1.0, 2.0, 4.5, 8.25, 16.125] * 30,
    # extremes incl. subnormals and signed zero (chimp_test.exs:65-72)
    [1.7976931348623157e308, -1.7976931348623157e308, 5e-324, 0.0, -0.0, 0.1],
    # noisy low mantissa bits (trail <= 6: flag 10/11 exercise)
    [100.0 + i * 1e-13 for i in range(60)],
    # two points / single point degenerate shapes
    [42.5, 43.1],
    [42.5],
]


@pytest.mark.parametrize("algorithm", ["chimp", "chimp128"])
@pytest.mark.parametrize("case", range(len(_CHIMP_VALSETS)))
def test_chimp_value_stream_vs_spec(algorithm, case):
    # the vectorized field builder must reproduce the straight-line state
    # machine (engine convention: rounded-leading significant counts)
    vals = _CHIMP_VALSETS[case]
    ts = [1_700_000_000 + 15 * i for i in range(len(vals))]
    buf = gw.encode_points(
        np.array(ts, np.int64), np.array(vals, np.float64), algorithm=algorithm
    )
    got_bits, count = _value_stream_bits(buf)
    spec = (spec_chimp_stream if algorithm == "chimp" else spec_chimp128_stream)(
        vals, faithful=False
    )
    assert got_bits == spec.bits
    # and the NIF-transcribed decoder reconstructs our stream exactly
    dec = (spec_chimp_decode if algorithm == "chimp" else spec_chimp128_decode)(
        got_bits, count
    )
    assert dec == [_f2b(v) for v in vals]
    # full-block decode: bit-identical floats, algorithm reported
    t2, v2, info = gw.decode_points(buf)
    assert info["algorithm"] == algorithm
    assert list(t2) == ts
    assert [struct.pack(">d", v) for v in v2] == [struct.pack(">d", v) for v in vals]
    assert gw.wire_info(buf)["algorithm"] == algorithm


@pytest.mark.parametrize("algorithm", ["chimp", "chimp128"])
def test_chimp_byte_for_byte_vs_faithful_nif_on_boundary_leads(algorithm):
    # values whose every flag-01 XOR has a bucket-boundary leading count ->
    # the engine's bytes equal the faithful NIF encoder's bytes exactly
    vals = [1.0]
    b = _f2b(1.0)
    for lead in (0, 8, 12, 16, 18, 20, 22, 24):
        b ^= 1 << (63 - lead)  # XOR with exactly `lead` leading zeros, trail 63-lead > 6
        vals.append(struct.unpack(">d", struct.pack(">Q", b))[0])
    spec = (spec_chimp_stream if algorithm == "chimp" else spec_chimp128_stream)(
        vals, faithful=True
    )
    ts = [1_700_000_000 + 15 * i for i in range(len(vals))]
    buf = gw.encode_points(
        np.array(ts, np.int64), np.array(vals, np.float64), algorithm=algorithm
    )
    got_bits, _ = _value_stream_bits(buf)
    assert got_bits == spec.bits


def test_reference_chimp_flag01_quirk_documented():
    # the NIF encoder's own decoder mis-reconstructs an off-boundary flag-01
    # XOR (lead 10 rounds to 8); the engine's stream decodes exactly.  This
    # is the documented deviation in _chimp_fields.
    vals = [3.75, 23.5]  # xor lead 10, trail 47 -> flag 01, off-boundary
    faithful = spec_chimp_stream(vals, faithful=True)
    dec_faithful = spec_chimp_decode(faithful.bits, 2)
    assert dec_faithful[1] != _f2b(23.5)  # reference round-trip bug, shown
    ours = spec_chimp_stream(vals, faithful=False)
    assert spec_chimp_decode(ours.bits, 2)[1] == _f2b(23.5)
    # vectorized encoder emits the fixed-convention stream
    buf = gw.encode_points(np.array([0, 60]), np.array(vals), algorithm="chimp")
    got_bits, _ = _value_stream_bits(buf)
    assert got_bits == ours.bits


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        min_size=1,
        max_size=120,
    ),
    st.sampled_from(["chimp", "chimp128"]),
)
def test_chimp_roundtrip_property(vals, algorithm):
    ts = np.arange(len(vals), dtype=np.int64) * 60
    arr = np.array(vals, np.float64)
    buf = gw.encode_points(ts, arr, algorithm=algorithm)
    t2, v2, info = gw.decode_points(buf)
    assert info["algorithm"] == algorithm
    np.testing.assert_array_equal(t2, ts)
    np.testing.assert_array_equal(v2.view(np.uint64), arr.view(np.uint64))
    # parity with the straight-line spec encoder on every example
    got_bits, count = _value_stream_bits(buf)
    spec = (spec_chimp_stream if algorithm == "chimp" else spec_chimp128_stream)(
        list(arr), faithful=False
    )
    assert got_bits == spec.bits


def test_chimp_vm_mode_roundtrip_and_flags():
    # VM preprocessing (0x1|0x2) composes with the algorithm flags (0x4/0x8)
    ts = np.arange(50, dtype=np.int64) * 60
    vals = np.round(np.cumsum(np.abs(np.sin(np.arange(50)))) * 1.5, 2)
    for algorithm, aflag in (("chimp", 0x4), ("chimp128", 0x8)):
        buf = gw.encode_points(
            ts, vals, victoria_metrics=True, is_counter=True, algorithm=algorithm
        )
        info = gw.wire_info(buf)
        assert info["flags"] & aflag
        assert info["algorithm"] == algorithm
        t2, v2, dinfo = gw.decode_points(buf)
        assert dinfo["algorithm"] == algorithm
        np.testing.assert_allclose(v2, vals, atol=1e-9)


def test_chimp128_dispatch_order_and_unknown_algorithm():
    # NIF decoder checks 0x8 before 0x4 (gorilla_nif.cpp:1417-1424): a block
    # carrying both flags decodes as chimp128
    ts = np.arange(30, dtype=np.int64) * 60
    vals = np.tile(np.array([7.5, 8.25, 9.125]), 10)
    buf = bytearray(gw.encode_points(ts, vals, algorithm="chimp128"))
    flags = struct.unpack_from(">I", buf, 76)[0]
    struct.pack_into(">I", buf, 76, flags | 0x4)
    t2, v2, info = gw.decode_points(bytes(buf))
    assert info["algorithm"] == "chimp128"
    np.testing.assert_array_equal(v2, vals)
    with pytest.raises(ValueError, match="unknown algorithm"):
        gw.encode_points(ts, vals, algorithm="zalgo")


def test_spark_wire_chimp_roundtrip(spark):
    # DataFrame-level chimp128 export + mixed-algorithm table read
    import pyspark.sql.functions as F

    n = 12_000
    df = spark.range(n).select(
        (F.lit(1_600_000_000) + F.col("id") * 60).alias("ts"),
        (F.col("id") % 13).cast("double").alias("value"),
    )
    enc_c = gw.encode_timeseries_wire(df, num_partitions=2, algorithm="chimp128")
    rows = enc_c.collect()
    assert sum(r["n_points"] for r in rows) == n
    for r in rows:
        assert gw.wire_info(bytes(r["buffer"]))["algorithm"] == "chimp128"
    # mixed table: gorilla + chimp blocks decode side-by-side (per-block flags)
    enc_g = gw.encode_timeseries_wire(
        df.withColumn("ts", F.col("ts") + F.lit(n * 60)), num_partitions=2
    )
    dec = gw.decode_timeseries_wire(enc_c.unionAll(enc_g))
    agg = dec.agg(
        F.count("*").alias("cnt"), F.sum("value").alias("s")
    ).collect()[0]
    assert agg["cnt"] == 2 * n
    assert abs(agg["s"] - 2 * sum(float(i % 13) for i in range(n))) < 1e-6
    with pytest.raises(ValueError, match="unknown algorithm"):
        gw.encode_timeseries_wire(df, algorithm="nope")


# ---------------------------------------------------------------------------
# General ('11'-window) XOR value decoder — batched vs sequential oracle
# ---------------------------------------------------------------------------


def _mk_value_stream(first_bits, tokens):
    """Build a raw value bitstream from token specs and compute the
    expected value bit patterns with plain Python state.

    tokens: ('0',) | ('10', payload_int) | ('11', lead, mlen, payload_int)
    """
    bw = _BW()
    bw.w(first_bits, 64)
    prev = first_bits
    lead, trail = 0, 0
    expect = [first_bits]
    for t in tokens:
        if t[0] == "0":
            bw.w(0, 1)
            xor = 0
        elif t[0] == "10":
            mlen = 64 - lead - trail
            assert mlen > 0
            bw.w(0b10, 2)
            pay = t[1] & ((1 << mlen) - 1)
            bw.w(pay, mlen)
            xor = pay << trail
        else:
            _, lead, mlen, pay = t
            trail = 64 - lead - mlen
            assert trail >= 0
            bw.w(0b11, 2)
            bw.w(lead, 5)
            assert 1 <= mlen <= 64
            bw.w(mlen - 1, 6)  # field stores mlen-1 (gorilla_nif.cpp:397)
            pay &= (1 << mlen) - 1
            bw.w(pay, mlen)
            xor = pay << trail
        prev ^= xor
        expect.append(prev)
    return bw, expect


def _decode_values_sequential(bits: np.ndarray, count: int, first_bits: int) -> np.ndarray:
    """Oracle: faithful general XOR decoder incl. '11' window codes
    (value_decompression.ex:124-210), one bit-list read per field."""
    out = np.empty(count, dtype=np.uint64)
    out[0] = first_bits
    prev = first_bits
    lead, trail = 0, 0
    read = bitio.BitReader(bits, 64, "gorilla wire: value bitstream truncated").read

    for i in range(1, count):
        if read(1) == 0:
            out[i] = prev
            continue
        if read(1) == 0:  # '10' reuse window
            mlen = 64 - lead - trail
            if mlen <= 0:
                raise ValueError("invalid meaningful length in previous window")
            xor = read(mlen) << trail
        else:  # '11' new window
            lead = read(5)
            mlen = read(6) + 1
            trail = 64 - lead - mlen
            if trail < 0:
                raise ValueError("invalid trailing zeros calculation")
            xor = read(mlen) << trail
        prev ^= xor
        out[i] = prev
    return out


def _run_general(bw, count):
    payload = bw.to_bytes()
    datab = np.frombuffer(payload, dtype=np.uint8)
    bits = np.unpackbits(datab)
    V = len(bw.bits)
    first = int(
        bitio.gather(datab, np.array([0]), 64)[0]
    )
    got = gw._decode_values_general(bits[:V], V, count, first, datab, 0)
    oracle = _decode_values_sequential(bits[:V], count, first)
    return got, oracle


def _random_tokens(rng, n, p0=0.3, p10=0.4, mlen_pool=None):
    lead, trail = 0, 0
    toks = []
    for _ in range(n):
        r = rng.random()
        if r < p0:
            toks.append(("0",))
        elif r < p0 + p10 and 64 - lead - trail > 0:
            toks.append(("10", int(rng.integers(0, 1 << 30))))
        else:
            if mlen_pool is not None:
                mlen = int(mlen_pool[rng.integers(len(mlen_pool))])
            else:
                mlen = int(rng.integers(1, 64))
            lead = int(rng.integers(0, min(32, 64 - mlen + 1)))
            trail = 64 - lead - mlen
            toks.append(("11", lead, mlen, int(rng.integers(0, 1 << 62))))
    return toks


@pytest.mark.parametrize("seed", range(8))
def test_general_decoder_fuzz_parity(seed):
    rng = np.random.default_rng(seed)
    shapes = [
        dict(p0=0.3, p10=0.4),  # mixed
        dict(p0=0.05, p10=0.05),  # '11'-heavy (alternating windows)
        dict(p0=0.8, p10=0.15),  # long '0' runs
        dict(p0=0.02, p10=0.9),  # long '10' runs
        dict(p0=0.0, p10=0.0, mlen_pool=[20, 21]),  # near-alternating mlens
    ]
    sh = shapes[seed % len(shapes)]
    n = int(rng.integers(1, 400))
    toks = _random_tokens(rng, n, **sh)
    first = int(rng.integers(0, 1 << 63))
    bw, expect = _mk_value_stream(first, toks)
    got, oracle = _run_general(bw, n + 1)
    np.testing.assert_array_equal(oracle, np.array(expect, dtype=np.uint64))
    np.testing.assert_array_equal(got, oracle)


def test_general_decoder_scalar_floor_parity():
    # strict ['11' toggling mlen, '10'] alternation: every phase consumes
    # 1-2 tokens -> the weak-phase counter trips the byte-windowed scalar
    # floor, which must stay bit-exact
    toks = []
    for k in range(600):
        mlen = 20 if k % 2 == 0 else 21
        toks.append(("11", 5, mlen, (0x5A5A5A + k) & ((1 << mlen) - 1)))
        toks.append(("10", 0x33CC33 + k))
    bw, expect = _mk_value_stream(0x3FF0000000000000, toks)
    got, oracle = _run_general(bw, len(toks) + 1)
    np.testing.assert_array_equal(got, oracle)
    np.testing.assert_array_equal(got, np.array(expect, dtype=np.uint64))


def test_general_decoder_truncation_raises():
    toks = [("11", 4, 30, 12345), ("10", 999), ("0",)]
    bw, _ = _mk_value_stream(0x4045000000000000, toks)
    # chop the stream mid-token: drop the last 20 bits
    bw.bits = bw.bits[:-20]
    payload = bw.to_bytes()
    datab = np.frombuffer(payload, dtype=np.uint8)
    bits = np.unpackbits(datab)
    V = len(bw.bits)
    with pytest.raises(ValueError, match="truncated"):
        gw._decode_values_general(bits[:V], V, 4, 0x4045000000000000, datab, 0)
    with pytest.raises(ValueError):
        _decode_values_sequential(bits[:V], 4, 0x4045000000000000)


def test_general_decoder_full_block_foreign_stream():
    # foreign writer: NIF-style windowed XOR encoder transcription
    # (gorilla_nif.cpp:370-400 semantics: reuse window when the XOR fits,
    # else emit a '11' with the value's own lead/mlen)
    rng = np.random.default_rng(99)
    n = 3000
    vals = np.round(np.cumsum(rng.normal(0, 0.25, n)) + 100.0, 3)
    bits_v = vals.view(np.uint64)
    toks = []
    lead, trail = 0, 0
    prev = int(bits_v[0])
    for v in bits_v[1:]:
        x = int(v) ^ prev
        prev = int(v)
        if x == 0:
            toks.append(("0",))
            continue
        xl, xt = _clz(x), _ctz(x)
        mlen = 64 - lead - trail
        if xl >= lead and xt >= trail and mlen > 0:
            toks.append(("10", x >> trail))
        else:
            xl = min(xl, 31)
            ml = 64 - xl - xt
            toks.append(("11", xl, ml, x >> xt))
            lead, trail = xl, xt
    bw, expect = _mk_value_stream(int(bits_v[0]), toks)
    got, oracle = _run_general(bw, len(toks) + 1)
    np.testing.assert_array_equal(got, oracle)


# ---------------------------------------------------------------------------
# Bounded-scratch kernels: chunk, word and scan-window edges against the
# whole-block packer and the sequential decoders, and the scratch bound
# ---------------------------------------------------------------------------


def _pack_fields_whole(vals, widths):
    """Oracle: the whole-block packer (one stable sort of every field's
    word contributions, then one add.reduceat), O(fields) temporaries."""
    v = np.ascontiguousarray(vals, dtype=np.uint64)
    w = np.ascontiguousarray(widths, dtype=np.int64)
    total = int(w.sum())
    if total == 0:
        return b"", 0
    nz = w > 0
    v, w = v[nz], w[nz]
    o = np.cumsum(w) - w
    w0 = o >> 6
    hi_shift = 64 - (o & 63) - w
    pos_sh = np.maximum(hi_shift, 0).astype(np.uint64)
    neg_sh = np.maximum(-hi_shift, 0).astype(np.uint64)
    hi = np.where(hi_shift >= 0, v << pos_sh, v >> neg_sh)
    crosses = hi_shift < 0
    lo = v[crosses] << (np.uint64(64) - neg_sh[crosses])
    idx = np.concatenate([w0, w0[crosses] + 1])
    contrib = np.concatenate([hi, lo])
    order = np.argsort(idx, kind="stable")
    idx, contrib = idx[order], contrib[order]
    run_start = np.concatenate(([True], idx[1:] != idx[:-1]))
    sums = np.add.reduceat(contrib, np.flatnonzero(run_start))
    words = np.zeros((total + 63) >> 6, dtype=np.uint64)
    words[idx[run_start]] = sums
    return words.astype(">u8").tobytes()[: (total + 7) >> 3], total


def _oracle_payload(ts, vals) -> bytes:
    """Gorilla payload (inner header + streams) from whole-block field
    arrays packed by :func:`_pack_fields_whole`."""
    ts = np.asarray(ts, dtype=np.int64)
    vb = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = ts.size
    fv = [ts.view(np.uint64)[:1]]
    fw = [np.array([64])]
    deltas = np.diff(ts)
    if n >= 2:
        for v, w in (gw._dod_fields(deltas[:1]), gw._dod_fields(np.diff(deltas))):
            fv.append(v)
            fw.append(w)
    ts_bits = int(np.concatenate(fw).sum())
    x = vb[1:] ^ vb[:-1]
    nz = x != 0
    ctrl_v = np.where(nz, np.uint64(2), np.uint64(0))
    inter_v = np.stack([ctrl_v, x], axis=1).ravel()
    inter_w = np.stack([1 + nz, 64 * nz], axis=1).ravel()
    fv += [vb[:1], inter_v]
    fw += [np.array([64]), inter_w]
    val_bits = int(np.concatenate(fw).sum()) - ts_bits
    fd32 = int(deltas[:1].astype(np.int32)[0]) if n >= 2 else 0
    inner = gw._INNER.pack(n, int(ts.view(np.uint64)[0]), int(vb[0]), fd32, ts_bits, val_bits)
    body, _ = _pack_fields_whole(np.concatenate(fv), np.concatenate(fw))
    return inner + body


def _decode_dod_sequential(bits, count):
    """Oracle: the DoD prefix codes read one field at a time."""
    read = bitio.BitReader(bits, 64, "gorilla wire: timestamp bitstream truncated").read
    out = []
    for _ in range(count):
        w = 0
        for width in (7, 9, 12, 32):  # prefix '0', '10', '110', '1110', '1111'
            if read(1) == 0:
                break
            w = width
        raw = read(w) if w else 0
        out.append(raw - (1 << w) if w and raw >> (w - 1) else raw)
    return np.array(out, dtype=np.int64)


def _check_block(ts, vals):
    """encode_points bytes == the whole-block oracle; decode_points ==
    the sequential decoders == the input."""
    buf = gw.encode_points(ts, vals)
    payload = _oracle_payload(ts, vals)
    assert buf[80:] == payload
    assert struct.unpack_from(">I", buf, 24)[0] == zlib.crc32(payload)
    got_ts, got_v, _ = gw.decode_points(buf)
    n, _, _, _, ts_bits, val_bits = gw._INNER.unpack_from(payload, 0)
    bits = np.unpackbits(np.frombuffer(payload[32:], dtype=np.uint8))
    if n > 1:
        codes = _decode_dod_sequential(bits[:ts_bits], n - 1)
        deltas = np.cumsum(codes)
        want_ts = int(ts[0]) + np.concatenate(([0], np.cumsum(deltas)))
        np.testing.assert_array_equal(got_ts, want_ts)
    vb = bits[ts_bits : ts_bits + val_bits]
    first = int(np.asarray(vals, dtype=np.float64).view(np.uint64)[0])
    want_v = _decode_values_sequential(vb, n, first)
    np.testing.assert_array_equal(got_v.view(np.uint64), want_v)
    np.testing.assert_array_equal(got_ts, ts)
    np.testing.assert_array_equal(got_v.view(np.uint64), np.asarray(vals).view(np.uint64))
    return buf, ts_bits, val_bits


def test_pack_fields_chunk_and_word_edges(monkeypatch):
    rng = np.random.default_rng(7)
    C = bitio.PACK_CHUNK
    # the last field of the first chunk starts at bit 61 of a word, so it
    # and the first field of the next chunk both straddle word edges
    widths = np.array([7] + [5] * (C - 2) + [64] * 4, dtype=np.int64)
    vals = rng.integers(0, 1 << 63, widths.size, dtype=np.uint64)
    vals[widths < 64] &= (np.uint64(1) << widths[widths < 64].astype(np.uint64)) - np.uint64(1)
    starts = np.cumsum(widths) - widths
    assert starts[C - 1] % 64 == 61 and starts[C] % 64 == 61
    assert _pack(vals, widths) == _pack_fields_whole(vals, widths)
    for chunk in (1, 3, 64):
        monkeypatch.setattr(bitio, "PACK_CHUNK", chunk)
        for _ in range(20):
            n = int(rng.integers(1, 300))
            w = rng.integers(0, 65, n)
            v = rng.integers(0, 1 << 63, n, dtype=np.uint64) << np.uint64(1)
            v |= rng.integers(0, 2, n).astype(np.uint64)
            v = np.where(w == 64, v, v & ((np.uint64(1) << w.astype(np.uint64)) - np.uint64(1)))
            want = _pack_fields_whole(v, w)
            assert _pack(v, w) == want
            packer = bitio.FieldPacker()  # the same fields over several add calls
            cuts = np.sort(rng.integers(0, n + 1, 3))
            for a, b in zip(np.r_[0, cuts], np.r_[cuts, n]):
                packer.add(v[a:b], w[a:b])
            assert (packer.finish(), packer.nbits) == want


def test_next_set_bit_matches_flatnonzero():
    rng = np.random.default_rng(3)
    for density in (0.0, 1e-5, 1e-3, 0.3):
        data = np.packbits(rng.random(3 * bitio.SCAN_BYTES * 8) < density)
        ones = np.flatnonzero(np.unpackbits(data))
        for pos in [0, 1, 7, 8, 8 * bitio.SCAN_BYTES - 1, *rng.integers(0, data.size * 8, 30)]:
            for end in (data.size * 8, int(pos) + 9, int(pos) + 8 * bitio.SCAN_BYTES + 1):
                hit = ones[(ones >= pos) & (ones < end)]
                want = int(hit[0]) if hit.size else -1
                assert bitio.next_set_bit(data, int(pos), int(end)) == want


def _regular(n):
    return 1_600_000_000 + 60 * np.arange(n, dtype=np.int64)


@pytest.mark.parametrize("extra", [0, 1])
def test_dod_stream_of_one_window_and_one_bit_more(extra):
    # first delta (9-bit code), n-3 one-bit '0' codes, a final +1 DoD
    # (9-bit code): n + 15 bits after the first timestamp
    n = gw.SCAN_WINDOW - 15 + extra
    ts = _regular(n)
    ts[-1] += 1
    _, ts_bits, _ = _check_block(ts, np.zeros(n))
    assert ts_bits - 64 == gw.SCAN_WINDOW + extra


def test_dod_code_across_scan_windows():
    # 36-bit DoD codes: some code straddles every window edge
    rng = np.random.default_rng(11)
    n = 5000
    ts = np.cumsum(rng.integers(1, 1 << 30, n)).astype(np.int64)
    widths = gw._dod_fields(np.diff(np.diff(ts)))[1]
    starts = 64 + 36 + np.cumsum(widths) - widths
    for edge in (gw.SCAN_WINDOW, 2 * gw.SCAN_WINDOW):
        assert ((starts - 64 < edge) & (starts + widths - 64 > edge)).any()
    _check_block(ts, np.round(rng.normal(0, 1, n), 2))


def test_value_runs_across_scan_windows():
    n = 3 * gw.SCAN_WINDOW // 66
    rng = np.random.default_rng(5)
    # one '10' run longer than a run probe and than a window
    _check_block(_regular(n), np.round(rng.normal(20, 1, n), 3))
    # short '0'/'10' runs: the windowed pointer-doubling walk, whose
    # 66-bit codes straddle window edges
    vals = np.where(rng.random(4 * n) < 0.5, 1.5, 2.5)
    _check_block(_regular(4 * n), vals)


@pytest.mark.parametrize("extra", [0, 1])
@pytest.mark.parametrize("last_changes", [False, True])
def test_value_zero_run_of_one_window_and_one_bit_more(extra, last_changes):
    # V - 64 == SCAN_WINDOW (+1): one all-'0' window, or a '0' run ending
    # in one '10' code at the very end of the stream
    n = gw.SCAN_WINDOW + 1 + extra - (65 if last_changes else 0)
    vals = np.full(n, 3.25)
    if last_changes:
        vals[-1] = 4.5
    _, _, val_bits = _check_block(_regular(n), vals)
    assert val_bits - 64 == gw.SCAN_WINDOW + extra


@pytest.mark.parametrize(
    "vals",
    [
        # the '10' payload after the cleared bit starts '0000 0000 0000 10':
        # the run scan lands inside it and reads a '10' control pair there
        [1.0, 1.0, 1.5, 2.5],
        np.round(np.random.default_rng(8).normal(20, 1, 120), 1),
    ],
    ids=["four_points", "120_points"],
)
def test_cleared_value_control_bit_fails_cleanly(vals):
    # clearing the first control bit of any '10' code leaves a stream the
    # canonical walk must reject (the general decoder then raises
    # ValueError or decodes), never an out-of-range XOR index
    vals = np.asarray(vals, dtype=np.float64)
    n = vals.size
    buf = gw.encode_points(_regular(n), vals)
    ts_bits = gw._INNER.unpack_from(buf, 80)[4]
    base = (80 + 32) * 8 + ts_bits  # first bit of the value stream
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
    tens, pos = [], 64
    for _ in range(n - 1):
        if bits[base + pos]:
            tens.append(pos)
            pos += 66
        else:
            pos += 1
    assert tens
    for p in tens:
        bad = bits.copy()
        bad[base + p] = 0
        try:
            gw.decode_points(np.packbits(bad).tobytes(), strict=False)
        except ValueError:
            pass


def _series(n, irregular):
    """The perfbench series shape (minute sine + noise, 3 decimals)."""
    i = np.arange(n, dtype=np.int64)
    ts = 1_600_000_000 + i * 60
    if irregular:
        ts = np.cumsum(np.random.default_rng(4).integers(1, 1 << 30, n)).astype(np.int64)
    vals = np.round(
        np.sin(i / 1440.0 * 2 * np.pi) * 10.0 + np.sin((i + 4 * 7919) * 12.9898) * 0.5 + 20.0, 3
    )
    return ts, vals


def _traced_peak(fn) -> int:
    import tracemalloc

    tracemalloc.start()
    try:
        fn()
        return tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


@pytest.mark.parametrize("irregular", [False, True])
def test_wire_kernels_scratch_is_bounded(irregular):
    # a 65,536-point block encodes and decodes in <= 8 MiB of traced
    # allocations (outputs included), and 4x the points in <= 4.5x that
    peaks = {}
    for n in (65536, 4 * 65536):
        ts, vals = _series(n, irregular)
        buf = gw.encode_points(ts, vals)
        peaks[n] = (
            _traced_peak(lambda: gw.encode_points(ts, vals)),
            _traced_peak(lambda: gw.decode_points(buf)),
        )
    for op, small, big in zip(("encode", "decode"), peaks[65536], peaks[4 * 65536]):
        assert small <= 8 << 20, (op, small)
        assert big <= 4.5 * small, (op, small, big)
