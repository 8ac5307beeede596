"""Property-based round-trip invariants (hypothesis).

The reference's core invariant is exact round-trip equality asserted on
hand-picked edge cases (``/root/reference/test/gorilla_stream_test.exs:
269-289``); hypothesis generalizes that to searched counterexamples over
the full input space — widths 0..64, signed extremes, NaN payloads,
arbitrary lags.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from struct import error as struct_error

from gorilla_stream_spark.codecs import bitio, decode_array, encode_array, floatcodecs



@settings(max_examples=60, deadline=None)
@given(
    width=st.integers(min_value=0, max_value=64),
    n=st.integers(min_value=0, max_value=300),
    data=st.data(),
)
def test_pack_unpack_roundtrip(width, n, data):
    hi = (1 << width) - 1 if width else 0
    vals = np.array(
        data.draw(st.lists(st.integers(0, hi), min_size=n, max_size=n)), dtype=np.uint64
    )
    out = bitio.unpack(bitio.pack(vals, width), width, vals.size)
    np.testing.assert_array_equal(out, vals)
    # byte length contract
    data = bitio.pack(vals, width)
    assert len(data) == (vals.size * width + 7) // 8
    # the fixed-width and the variable-width writer/reader share one layout
    assert data == bitio.pack_fields(vals, np.full(vals.size, width))[0]
    if width:
        starts = np.arange(vals.size) * width
        got = bitio.gather(np.frombuffer(data, dtype=np.uint8), starts, width)
        np.testing.assert_array_equal(out, got)


_INT_CODECS = ["raw", "for", "forc", "rle", "dict", "delta", "dod", "fsst"]


@settings(max_examples=40, deadline=None)
@given(
    codec=st.sampled_from(_INT_CODECS),
    vals=arrays(
        np.int64,
        st.integers(min_value=0, max_value=400),
        elements=st.integers(min_value=0, max_value=2**31 - 2),
    ),
)
def test_int_codec_roundtrip(codec, vals):
    out = decode_array(encode_array(vals, codec=codec))
    np.testing.assert_array_equal(out, vals)


@settings(max_examples=40, deadline=None)
@given(
    vals=arrays(
        np.int64,
        st.integers(min_value=0, max_value=300),
        elements=st.integers(min_value=-(2**63), max_value=2**63 - 1),
    ),
)
def test_full_int64_codecs_roundtrip(vals):
    # FULL int64 range incl. extremes where deltas wrap mod 2^64 (fsst
    # excluded: it requires uint32 range by contract)
    for codec in ("raw", "for", "forc", "rle", "dict", "delta", "dod"):
        out = decode_array(encode_array(vals, codec=codec))
        np.testing.assert_array_equal(out, vals, err_msg=codec)


@settings(max_examples=40, deadline=None)
@given(
    vals=arrays(
        np.float64,
        st.integers(min_value=0, max_value=300),
        elements=st.floats(allow_nan=True, allow_infinity=True, width=64),
    ),
    lag=st.integers(min_value=1, max_value=130),
)
def test_float_codecs_bitwise_roundtrip(vals, lag):
    for buf in (
        encode_array(vals, codec="gxor"),
        encode_array(vals, codec="fauto"),
        bytes([10]) + floatcodecs.xorlag_encode(vals, lag=lag),
    ):
        out = decode_array(buf)
        np.testing.assert_array_equal(out.view(np.uint64), vals.view(np.uint64))


@settings(max_examples=30, deadline=None)
@given(
    vals=arrays(
        np.int64,
        st.integers(min_value=2, max_value=400),
        elements=st.integers(min_value=0, max_value=2**31 - 2),
    ),
)
def test_auto_never_beats_raw_badly(vals):
    # the selector's floor guarantee: auto <= raw + paging slack
    auto = encode_array(vals, codec="auto")
    raw = encode_array(vals, codec="raw")
    assert len(auto) <= len(raw) + 16
    np.testing.assert_array_equal(decode_array(auto), vals)


@pytest.mark.parametrize("method", ["zlib", "auto"])
@settings(max_examples=20, deadline=None)
@given(
    vals=arrays(
        np.int64,
        st.integers(min_value=0, max_value=300),
        elements=st.integers(min_value=0, max_value=255),
    )
)
def test_container_property_roundtrip(vals, method):
    from gorilla_stream_spark.codecs import wrap_container

    inner = encode_array(vals, codec="raw")
    np.testing.assert_array_equal(decode_array(wrap_container(inner, method)), vals)


@settings(max_examples=50, deadline=None)
@given(
    vals=arrays(
        np.int64,
        st.integers(min_value=1, max_value=200),
        elements=st.integers(min_value=0, max_value=50000),
    ),
    codec=st.sampled_from(["for", "forc", "rle", "dict", "delta", "dod", "fsst"]),
    pos=st.integers(min_value=1, max_value=10**9),
    newbyte=st.integers(min_value=0, max_value=255),
)
def test_corrupted_buffer_never_hangs(vals, codec, pos, newbyte):
    # a mutated buffer must either decode (possibly to wrong values — the
    # engine's crc gate catches that) or raise a *clean* error within a
    # bounded time; it must never hang, OOM, or segfault.  bitio.check_count
    # bounds every header-declared allocation.
    import time

    buf = bytearray(encode_array(vals, codec=codec))
    i = 1 + (pos % max(len(buf) - 1, 1))  # never the codec id byte
    buf[i] = newbyte
    t0 = time.perf_counter()
    try:
        out = decode_array(bytes(buf))
        assert isinstance(out, np.ndarray)
        assert out.size <= bitio.MAX_COUNT
    except (ValueError, KeyError, IndexError, OverflowError, struct_error):
        pass  # clean failure is acceptable at the codec layer
    assert time.perf_counter() - t0 < 5.0


@settings(max_examples=40, deadline=None)
@given(
    vals=arrays(
        np.float32,
        st.integers(min_value=1, max_value=300),
        elements=st.floats(width=32, allow_nan=False, allow_infinity=False,
                           min_value=-1e3, max_value=1e3),
    ),
    pos=st.integers(min_value=1, max_value=10**9),
    newbyte=st.integers(min_value=0, max_value=255),
)
def test_corrupted_vecf32_never_hangs(vals, pos, newbyte):
    import time

    from gorilla_stream_spark.codecs import VECF32, floatcodecs

    buf = bytearray(bytes([VECF32]) + floatcodecs.f32_encode(vals))
    i = 1 + (pos % max(len(buf) - 1, 1))
    buf[i] = newbyte
    t0 = time.perf_counter()
    try:
        out = decode_array(bytes(buf))
        assert out.size <= bitio.MAX_COUNT
    except (ValueError, KeyError, IndexError, OverflowError, struct_error):
        pass
    assert time.perf_counter() - t0 < 5.0


@settings(max_examples=30, deadline=None)
@given(
    vals=arrays(
        np.int64,
        st.integers(min_value=1, max_value=2000),
        elements=st.integers(min_value=0, max_value=1000),
    ),
    pos=st.integers(min_value=1, max_value=10**9),
    newbyte=st.integers(min_value=0, max_value=255),
    level=st.sampled_from([None, 1, 9]),
)
def test_corrupted_container_paged_never_hangs(vals, pos, newbyte, level):
    import time

    from gorilla_stream_spark.codecs import encode_paged, wrap_container

    inner, _ = encode_paged(vals, codec="auto", page_tokens=256)
    buf = bytearray(wrap_container(inner, "zstd", level=level))
    i = 1 + (pos % max(len(buf) - 1, 1))
    buf[i] = newbyte
    t0 = time.perf_counter()
    try:
        out = decode_array(bytes(buf))
        assert out.size <= bitio.MAX_COUNT
    except (ValueError, KeyError, IndexError, OverflowError, struct_error):
        pass
    assert time.perf_counter() - t0 < 5.0


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    n_vecs=st.integers(min_value=1, max_value=12),
)
def test_veci8_quantization_invariants(data, n_vecs):
    # searched invariants of the lossy int8 vector codec: error bound
    # max|x|/254 per vector, codes in [-127, 127], exact length recovery,
    # zero vectors round-trip to zeros
    from gorilla_stream_spark.codecs import VECI8

    lens = np.array(
        [data.draw(st.integers(min_value=0, max_value=24)) for _ in range(n_vecs)],
        dtype=np.int64,
    )
    total = int(lens.sum())
    flat = np.array(
        [
            data.draw(
                st.floats(
                    width=32, allow_nan=False, allow_infinity=False,
                    min_value=-1e4, max_value=1e4,
                )
            )
            for _ in range(total)
        ],
        dtype=np.float32,
    )
    buf = bytes([VECI8]) + floatcodecs.veci8_encode(flat, lens)
    out = decode_array(buf)
    assert out.dtype == np.float32 and out.size == total
    l2, scales, codes = floatcodecs.veci8_parse(memoryview(buf)[1:])
    np.testing.assert_array_equal(l2, lens)
    if codes.size:
        assert codes.min() >= -127 and codes.max() <= 127
    start = 0
    for ln, sc in zip(lens, scales):
        seg = flat[start : start + ln].astype(np.float64)
        dec = out[start : start + ln].astype(np.float64)
        if ln:
            mx = np.abs(seg).max()
            assert sc == mx / 127.0  # identical IEEE op as the encoder
            if mx == 0:
                np.testing.assert_array_equal(dec, 0.0)
            else:
                assert np.abs(dec - seg).max() <= mx / 254 * 1.000001 + 1e-12
        start += ln


@settings(max_examples=60, deadline=None)
@given(
    vals=arrays(
        np.float32,
        st.integers(min_value=0, max_value=300),
        elements=st.floats(width=32, allow_nan=False, allow_infinity=False,
                           min_value=-1e4, max_value=1e4),
    ),
)
def test_vecf16_is_exact_half_truncation(vals):
    from gorilla_stream_spark.codecs import VECF16

    buf = bytes([VECF16]) + floatcodecs.vecf16_encode(vals)
    out = decode_array(buf)
    np.testing.assert_array_equal(out, vals.astype(np.float16).astype(np.float32))


@settings(max_examples=40, deadline=None)
@given(
    vals=arrays(
        np.float32,
        st.integers(min_value=1, max_value=64),
        elements=st.floats(width=32, allow_nan=False, allow_infinity=False,
                           min_value=-10, max_value=10),
    ),
    pos=st.integers(min_value=1, max_value=10**9),
    newbyte=st.integers(min_value=0, max_value=255),
)
def test_corrupted_veci8_never_hangs(vals, pos, newbyte):
    import time

    from gorilla_stream_spark.codecs import VECI8

    lens = np.array([vals.size], dtype=np.int64)
    buf = bytearray(bytes([VECI8]) + floatcodecs.veci8_encode(vals, lens))
    i = 1 + (pos % max(len(buf) - 1, 1))
    buf[i] = newbyte
    t0 = time.perf_counter()
    try:
        out = decode_array(bytes(buf))
        assert out.size <= bitio.MAX_COUNT
    except (ValueError, KeyError, IndexError, OverflowError, struct_error):
        pass
    assert time.perf_counter() - t0 < 5.0
