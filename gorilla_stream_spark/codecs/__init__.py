"""Codec registry: self-describing buffers with a 1-byte codec id prefix.

Decode needs no options — the format is self-describing, matching the
reference's header-flag dispatch (``/root/reference/c_src/
gorilla_nif.cpp:1417-1425``).
"""

from __future__ import annotations

import numpy as np

from gorilla_stream_spark.codecs import floatcodecs, fsst, intcodecs

(
    RAW, FOR, RLE, DICT, DELTA, DOD, FSST, GXOR, PAGED, SCALEDF, XORLAG,
    CONTAINER, FORC, VECF32, VECI8, VECF16,
) = range(16)

CODEC_NAMES = {
    RAW: "raw",
    FOR: "for",
    RLE: "rle",
    DICT: "dict",
    DELTA: "delta",
    DOD: "dod",
    FSST: "fsst",
    GXOR: "gxor",
    PAGED: "paged",
    SCALEDF: "scaledf",
    XORLAG: "xorlag",
    CONTAINER: "container",
    FORC: "forc",
    VECF32: "vecf32",
    VECI8: "veci8",
    VECF16: "vecf16",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

INT_ENCODERS = {
    RAW: intcodecs.raw_encode,
    FOR: intcodecs.for_encode,
    RLE: intcodecs.rle_encode,
    DICT: intcodecs.dict_encode,
    DELTA: intcodecs.delta_encode,
    DOD: intcodecs.dod_encode,
    FSST: fsst.fsst_encode,
    FORC: intcodecs.forc_encode,
}
DECODERS = {
    RAW: intcodecs.raw_decode,
    FOR: intcodecs.for_decode,
    RLE: intcodecs.rle_decode,
    DICT: intcodecs.dict_decode,
    DELTA: intcodecs.delta_decode,
    DOD: intcodecs.dod_decode,
    FSST: fsst.fsst_decode,
    FORC: intcodecs.forc_decode,
    GXOR: floatcodecs.gxor_decode,
    SCALEDF: floatcodecs.scaledf_decode,
    XORLAG: floatcodecs.xorlag_decode,
    VECF32: floatcodecs.f32_decode,
    VECI8: floatcodecs.veci8_decode,
    VECF16: floatcodecs.vecf16_decode,
}

FLOAT_CODECS = {"gxor", "xorlag", "scaledf", "fauto"}


def encode_float_array(a: np.ndarray, codec: str = "fauto") -> bytes:
    """Encode a float64 array; 'fauto' picks scaledf/gxor/xorlag by size.

    The fauto order mirrors the reference's default pipeline: VictoriaMetrics
    decimal scaling first when exactly reversible
    (``/root/reference/lib/gorilla_stream/compression/gorilla.ex:83-87``,
    victoria_metrics defaults true), else the XOR family with per-block
    algorithm choice (the ``algorithm`` option, ``gorilla_nif.cpp:1036-1043``,
    made automatic).
    """
    if codec == "scaledf":
        body = floatcodecs.scaledf_try_encode(a)
        if body is None:
            raise ValueError("scaledf not exactly reversible for this data")
        return bytes([SCALEDF]) + body
    if codec == "gxor":
        return bytes([GXOR]) + floatcodecs.gxor_encode(a)
    if codec == "xorlag":
        return bytes([XORLAG]) + floatcodecs.xorlag_encode(a)
    if codec != "fauto":
        raise KeyError(codec)
    cands: list[bytes] = []
    scaled = floatcodecs.scaledf_try_encode(a)
    if scaled is not None:
        sbuf = bytes([SCALEDF]) + scaled
        # accept immediately at <= 2 B/value (>= 4x over raw): the XOR
        # family cannot beat a decimal stream that tight by enough to
        # justify trial-encoding every block twice more (the gxor trial
        # alone measured ~40% of the whole value-encode path)
        if len(sbuf) <= 2 * a.size + 16:
            return sbuf
        cands.append(sbuf)
    gx = bytes([GXOR]) + floatcodecs.gxor_encode(a)
    cands.append(gx)
    bits = np.ascontiguousarray(a, dtype=np.float64).view(np.uint64)
    lag = floatcodecs.choose_lag(bits) if a.size > 2 else 1
    if lag > 1:
        cands.append(bytes([XORLAG]) + floatcodecs.xorlag_encode(a, lag=lag))
    return min(cands, key=len)


def encode_array(a: np.ndarray, codec: str = "auto", **kwargs) -> bytes:
    """Encode an int64 array (or float64 via the float codecs) into a
    framed self-describing buffer.

    Oversized inputs fail HERE, not at read time: every decoder bounds its
    header-declared count by ``bitio.MAX_COUNT``, so an encoder that accepted
    more would write permanently unreadable buffers.
    """
    from gorilla_stream_spark.codecs import bitio

    bitio.check_count(a.size)
    if codec in FLOAT_CODECS:
        return encode_float_array(a, codec=codec)
    if codec == "auto":
        from gorilla_stream_spark.selector import select_codec_cached

        codec, cached = select_codec_cached(a)
        if cached is not None:  # contested-FSST trial already encoded the block
            return bytes([FSST]) + cached
    cid = CODEC_IDS[codec]
    body = INT_ENCODERS[cid](a, **kwargs) if cid == FSST else INT_ENCODERS[cid](a)
    return bytes([cid]) + body


def encode_paged(
    a: np.ndarray, codec: str = "auto", page_tokens: int = 1 << 16
) -> tuple[bytes, str]:
    """Encode an array as independently-coded pages (Parquet-page analog).

    Codec selection happens per page, so a block mixing heterogeneous docs
    (post-shuffle) still compresses each homogeneous stretch optimally —
    the scale-robust answer to per-block selection being too coarse.
    Returns (framed buffer, majority codec name).
    """
    import struct as _struct

    n = a.size
    if n <= page_tokens:
        buf = encode_array(a, codec=codec)
        return buf, CODEC_NAMES[buf[0]]
    bufs = [encode_array(a[i : i + page_tokens], codec=codec) for i in range(0, n, page_tokens)]
    names = [CODEC_NAMES[b[0]] for b in bufs]
    # sorted() pins ties: set order is hash-seed randomized, and the
    # manifest codec name must be identical across bit-identical reruns
    majority = max(sorted(set(names)), key=names.count)
    head = bytes([PAGED]) + _struct.pack("<II", len(bufs), page_tokens)
    directory = b"".join(_struct.pack("<I", len(b)) for b in bufs)
    return head + directory + b"".join(bufs), majority


# ---------------------------------------------------------------------------
# Container layer — general-purpose secondary compression over a framed
# buffer, the analog of the reference's zlib/zstd/auto container
# (``/root/reference/lib/gorilla_stream/compression/container.ex:107-132``).
# In the engine the Parquet/Iceberg sink already zstd-compresses pages, so
# this layer is opt-in for buffer-level control (e.g. non-Parquet sinks).
# ---------------------------------------------------------------------------

_ZLIB, _ZSTD, _OPENZL, _ZLIBD, _ZSTDD = 1, 2, 3, 4, 5

# largest legitimate inner buffer: MAX_COUNT elements * 8 B + header slack
_MAX_CONTAINER_LEN = (1 << 31) + (1 << 16)

try:  # zstd via pyarrow's bundled codec; no extra install
    import pyarrow as _pa

    _ZSTD_CODEC = _pa.Codec("zstd")
except Exception:  # pragma: no cover
    _ZSTD_CODEC = None

try:  # true zstd trained-dict (reference cdict/ddict, container.ex:312-362):
    # preferred binding is the python `zstandard` module — pyarrow's Codec
    # API has no dictionary parameter.  Probed at import.
    import zstandard as _ZSTANDARD  # pragma: no cover - environment-dependent
except Exception:
    _ZSTANDARD = None


def _load_zstd_ctypes():
    """ctypes binding to the system libzstd's one-shot dictionary API.

    Fallback tier when the `zstandard` module is absent: binds
    ``ZSTD_compress_usingDict`` / ``ZSTD_decompress_usingDict`` — the same
    raw-content-dictionary semantics as the reference's
    ``:ezstd.create_cdict(training_data, level)`` (ezstd wraps
    ``ZSTD_createCDict`` over the raw sample bytes, no ZDICT training;
    ``test/compression/dict_compression_test.exs:22-24``), so frames are
    byte-interoperable with the reference's cdict output and with the
    `zstandard`-module path.  The simple API has been ABI-stable since
    zstd 1.0.  Contexts are created per call (µs-scale) — no shared
    mutable state, safe under driver-side threads.
    """
    import ctypes
    import ctypes.util

    name = ctypes.util.find_library("zstd") or "libzstd.so.1"
    lib = ctypes.CDLL(name)
    sz = ctypes.c_size_t
    for fname, restype, argtypes in (
        ("ZSTD_compressBound", sz, [sz]),
        ("ZSTD_isError", ctypes.c_uint, [sz]),
        ("ZSTD_getErrorName", ctypes.c_char_p, [sz]),
        ("ZSTD_createCCtx", ctypes.c_void_p, []),
        ("ZSTD_freeCCtx", sz, [ctypes.c_void_p]),
        ("ZSTD_createDCtx", ctypes.c_void_p, []),
        ("ZSTD_freeDCtx", sz, [ctypes.c_void_p]),
        (
            "ZSTD_compress_usingDict",
            sz,
            [ctypes.c_void_p, ctypes.c_char_p, sz, ctypes.c_char_p, sz,
             ctypes.c_char_p, sz, ctypes.c_int],
        ),
        (
            "ZSTD_decompress_usingDict",
            sz,
            [ctypes.c_void_p, ctypes.c_char_p, sz, ctypes.c_char_p, sz,
             ctypes.c_char_p, sz],
        ),
    ):
        fn = getattr(lib, fname)  # AttributeError -> probe fails cleanly
        fn.restype = restype
        fn.argtypes = argtypes
    return lib


_ZSTD_CT = None
if _ZSTANDARD is None:
    try:
        _ZSTD_CT = _load_zstd_ctypes()
    except Exception:  # pragma: no cover - no libzstd on host
        _ZSTD_CT = None


def _zstd_dict_compress(data: bytes, zdict: bytes, level: int) -> bytes:
    """One-shot zstd compress with a raw-content dictionary (either tier)."""
    if _ZSTANDARD is not None:  # pragma: no cover - environment-dependent
        cd = _ZSTANDARD.ZstdCompressionDict(bytes(zdict))
        return _ZSTANDARD.ZstdCompressor(level=level, dict_data=cd).compress(bytes(data))
    import ctypes

    lib = _ZSTD_CT
    src = bytes(data)
    d = bytes(zdict)
    bound = lib.ZSTD_compressBound(len(src))
    dst = ctypes.create_string_buffer(bound)
    cctx = lib.ZSTD_createCCtx()
    if not cctx:  # pragma: no cover - allocation failure
        raise MemoryError("ZSTD_createCCtx failed")
    try:
        n = lib.ZSTD_compress_usingDict(
            cctx, dst, bound, src, len(src), d, len(d), int(level)
        )
        if lib.ZSTD_isError(n):  # pragma: no cover - bound sized above
            raise ValueError(
                f"zstd dict compress failed: {lib.ZSTD_getErrorName(n).decode()}"
            )
        return dst.raw[:n]
    finally:
        lib.ZSTD_freeCCtx(cctx)


def _zstd_dict_decompress(data: bytes, zdict: bytes, orig_len: int) -> bytes:
    """One-shot zstd decompress with a raw-content dictionary (either tier).

    ``orig_len`` (from the container header, already bounds-checked) caps
    the output buffer — a corrupt frame cannot balloon past it.
    """
    if _ZSTANDARD is not None:  # pragma: no cover - environment-dependent
        return _ZSTANDARD.ZstdDecompressor(
            dict_data=_ZSTANDARD.ZstdCompressionDict(bytes(zdict))
        ).decompress(bytes(data), max_output_size=orig_len)
    import ctypes

    lib = _ZSTD_CT
    src = bytes(data)
    d = bytes(zdict)
    dst = ctypes.create_string_buffer(max(orig_len, 1))
    dctx = lib.ZSTD_createDCtx()
    if not dctx:  # pragma: no cover - allocation failure
        raise MemoryError("ZSTD_createDCtx failed")
    try:
        n = lib.ZSTD_decompress_usingDict(
            dctx, dst, orig_len, src, len(src), d, len(d)
        )
        if lib.ZSTD_isError(n):
            raise ValueError(
                f"zstd dict decompress failed: {lib.ZSTD_getErrorName(n).decode()}"
            )
        return dst.raw[:n]
    finally:
        lib.ZSTD_freeDCtx(dctx)

try:  # openzl: optional native dep, mirroring the reference's opt-in openzl
    # container (/root/reference/lib/gorilla_stream/compression/
    # container.ex:107-132) — absent in this environment; import-guarded
    import openzl as _OPENZL_MOD  # pragma: no cover - environment-dependent
except Exception:
    _OPENZL_MOD = None


def _openzl_compress(data: bytes) -> bytes:  # pragma: no cover - needs lib
    if hasattr(_OPENZL_MOD, "compress"):
        return bytes(_OPENZL_MOD.compress(data))
    raise ValueError("openzl binding lacks compress()")


def _openzl_decompress(data: bytes) -> bytes:  # pragma: no cover - needs lib
    if hasattr(_OPENZL_MOD, "decompress"):
        return bytes(_OPENZL_MOD.decompress(data))
    raise ValueError("openzl binding lacks decompress()")


_ZSTD_LEVELED: dict[int, object] = {}


def _zstd_codec(level: int | None):
    if level is None:
        return _ZSTD_CODEC
    if level not in _ZSTD_LEVELED:
        import pyarrow as _pa2

        _ZSTD_LEVELED[level] = _pa2.Codec("zstd", compression_level=level)
    return _ZSTD_LEVELED[level]


# ---------------------------------------------------------------------------
# Trained-dictionary container (O59) — the reference's zstd cdict/ddict API
# (``container.ex:312-362``, top-level delegates ``lib/gorilla_stream.ex:
# 122-134``).  Its "training" is literally `:ezstd.create_cdict(
# Enum.join(samples), 9)` (``test/compression/dict_compression_test.exs:
# 22-24``) — a shared byte-corpus the compressor can back-reference, which
# is exactly the stdlib zlib *preset dictionary* (no zstd-with-dict binding
# ships in this environment; zlib's zdict is the same capability: big wins
# on small blocks, nothing on large ones).  The dictionary travels
# out-of-band like the reference's cdict reference: encode closures carry
# the bytes, decoders look it up in a per-worker registry keyed by crc32.
# ---------------------------------------------------------------------------

_CONTAINER_DICTS: dict[int, bytes] = {}


def register_container_dict(d: bytes | None) -> int | None:
    """Register dictionary bytes for decode; returns its id (crc32).
    ``None`` (no dictionary) registers nothing, so kernels whose closure
    may carry a dict call this unconditionally."""
    import zlib as _zlib

    if d is None:
        return None
    d = bytes(d)
    did = _zlib.crc32(d) & 0xFFFFFFFF
    _CONTAINER_DICTS[did] = d
    return did


def train_container_dict(samples: list[bytes], max_size: int = 1 << 15) -> bytes:
    """Build a preset dictionary from sample buffers.

    Mirrors the reference's concatenate-the-samples training
    (``dict_compression_test.exs:22``), tail-truncated to zlib's 32 KiB
    back-reference window (content near the END of a preset dictionary is
    cheapest to reference, so the tail is the right half to keep).
    Deterministic: a pure function of the sample bytes.
    """
    blob = b"".join(bytes(s) for s in samples)
    return blob[-max_size:] if max_size else blob


def compress_with_dict(data: bytes, d: bytes, level: int = 9) -> bytes:
    """Raw dict-compress (reference ``compress_with_dict/2`` mirror;
    empty in -> empty out, ``container.ex:324-326``)."""
    import zlib as _zlib

    if not data:
        return b""
    c = _zlib.compressobj(level, zdict=bytes(d))
    return c.compress(bytes(data)) + c.flush()


def decompress_with_dict(data: bytes, d: bytes) -> bytes:
    """Raw dict-decompress (reference ``decompress_with_dict/2`` mirror)."""
    import zlib as _zlib

    if not data:
        return b""
    dec = _zlib.decompressobj(zdict=bytes(d))
    out = dec.decompress(bytes(data))
    return out + dec.flush()


def wrap_container(
    buf: bytes, method: str = "auto", level: int | None = None, zdict: bytes | None = None
) -> bytes:
    """Wrap a framed buffer in a compressed container (self-describing).

    ``auto`` = zstd if available else zlib, and keeps the wrapper only when
    it actually shrinks the buffer (the reference's :auto semantics,
    ``container.ex:126-132``).  ``level`` is the reference's
    ``compression_level`` option (``lib/gorilla_stream.ex:96``,
    ``container.ex:154-210``): zstd 1-22 / zlib 0-9; None = codec default.
    The level affects only the encoded size — decode is level-agnostic.
    """
    import struct as _struct
    import zlib as _zlib

    if method == "none":
        return buf
    if method not in ("auto", "zstd", "zlib", "openzl", "zlib-dict", "zstd-dict"):
        raise ValueError(f"unknown container method {method!r}")
    if method == "zstd-dict":
        # the reference's actual :ezstd cdict path (container.ex:312-340);
        # served by the python `zstandard` module when present, else the
        # ctypes libzstd one-shot dict API (byte-interoperable frames)
        if zdict is None:
            raise ValueError("zstd-dict container requires zdict bytes")
        if _ZSTANDARD is None and _ZSTD_CT is None:
            raise ValueError(
                "zstd-dict container unavailable: neither the python"
                " 'zstandard' binding nor libzstd is present — use"
                " container='zlib-dict' for the same capability"
            )
        if level is not None and not 1 <= level <= 22:
            raise ValueError(f"zstd level {level} out of range 1-22")
        did = register_container_dict(zdict)
        comp = _zstd_dict_compress(buf, zdict, 9 if level is None else level)
        return (
            bytes([CONTAINER, _ZSTDD])
            + _struct.pack("<II", len(buf), did)
            + comp
        )
    if method == "zlib-dict":
        if zdict is None:
            raise ValueError("zlib-dict container requires zdict bytes")
        if level is not None and not 0 <= level <= 9:
            raise ValueError(f"zlib level {level} out of range 0-9")
        did = register_container_dict(zdict)
        comp = compress_with_dict(buf, zdict, level=9 if level is None else level)
        return (
            bytes([CONTAINER, _ZLIBD])
            + _struct.pack("<II", len(buf), did)
            + comp
        )
    if method == "openzl":
        # opt-in only (never part of "auto"), exactly like the reference's
        # :openzl container — an optional native dependency there too
        if _OPENZL_MOD is None:
            raise ValueError("openzl codec unavailable (package not installed)")
        comp = _openzl_compress(bytes(buf))  # pragma: no cover - needs lib
        return bytes([CONTAINER, _OPENZL]) + _struct.pack("<I", len(buf)) + comp
    use_zstd = _ZSTD_CODEC is not None and method in ("auto", "zstd")
    if method == "zstd" and _ZSTD_CODEC is None:
        raise ValueError("zstd codec unavailable")
    if use_zstd:
        if level is not None and not 1 <= level <= 22:
            raise ValueError(f"zstd level {level} out of range 1-22")
        comp, mid = bytes(_zstd_codec(level).compress(buf)), _ZSTD
    else:
        if level is not None and not 0 <= level <= 9:
            raise ValueError(f"zlib level {level} out of range 0-9")
        comp, mid = _zlib.compress(buf, 6 if level is None else level), _ZLIB
    wrapped = bytes([CONTAINER, mid]) + _struct.pack("<I", len(buf)) + comp
    if method == "auto" and len(wrapped) >= len(buf):
        return buf
    return wrapped


def decode_array(buf: bytes | memoryview) -> np.ndarray:
    """Decode any framed buffer (dispatches on the codec id byte)."""
    import struct as _struct

    mv = memoryview(buf)
    cid = mv[0]
    if cid == CONTAINER:
        import zlib as _zlib

        mid = mv[1]
        (orig_len,) = _struct.unpack_from("<I", mv, 2)
        # bound the declared size BEFORE decompressing — a corrupt header
        # must not drive an unbounded (~1000x) decompression
        if orig_len > _MAX_CONTAINER_LEN:
            raise ValueError(f"implausible container orig_len {orig_len}")
        try:
            if mid == _ZLIBD:
                (did,) = _struct.unpack_from("<I", mv, 6)
                d = _CONTAINER_DICTS.get(did)
                if d is None:
                    raise ValueError(
                        f"zlib-dict container needs dict {did:#010x} — call"
                        " register_container_dict(dict_bytes) first"
                    )
                dec = _zlib.decompressobj(zdict=d)
                inner = dec.decompress(bytes(mv[10:]), orig_len)
                excess = dec.decompress(dec.unconsumed_tail, 1)
                if excess or not dec.eof or dec.unused_data:
                    raise ValueError(
                        "container stream does not end at declared orig_len"
                    )
            elif mid == _ZSTDD:
                (did,) = _struct.unpack_from("<I", mv, 6)
                d = _CONTAINER_DICTS.get(did)
                if d is None:
                    raise ValueError(
                        f"zstd-dict container needs dict {did:#010x} — call"
                        " register_container_dict(dict_bytes) first"
                    )
                if _ZSTANDARD is None and _ZSTD_CT is None:
                    raise ValueError(
                        "zstd-dict container but neither the python"
                        " 'zstandard' binding nor libzstd is present"
                    )
                inner = _zstd_dict_decompress(bytes(mv[10:]), d, orig_len)
            elif mid == _ZSTD:
                if _ZSTD_CODEC is None:
                    raise ValueError("zstd container but codec unavailable")
                inner = bytes(_ZSTD_CODEC.decompress(bytes(mv[6:]), orig_len))
            elif mid == _OPENZL:
                if _OPENZL_MOD is None:
                    raise ValueError("openzl container but codec unavailable")
                inner = _openzl_decompress(bytes(mv[6:]))  # pragma: no cover - needs lib
            else:
                # decompress(body, max_length=orig_len) TRUNCATES at orig_len,
                # so a corrupt header declaring a too-small size would pass the
                # length check below with a silent prefix — verify the stream
                # actually ENDS at orig_len (no buffered output, no pending
                # input, end-of-stream marker reached)
                dec = _zlib.decompressobj()
                inner = dec.decompress(bytes(mv[6:]), orig_len)
                # a valid stream parks its trailer in unconsumed_tail when
                # max_length stops it; feeding the tail back must produce NO
                # further output and must reach end-of-stream cleanly
                excess = dec.decompress(dec.unconsumed_tail, 1)
                if excess or not dec.eof or dec.unused_data:
                    raise ValueError(
                        "container stream does not end at declared orig_len"
                        " (corrupt header, excess data, or trailing garbage)"
                    )
        except (_zlib.error, OSError) as e:  # corrupt stream -> clean error
            raise ValueError(f"container decompression failed: {e}") from e
        if len(inner) != orig_len:
            raise ValueError(
                f"container length mismatch: got {len(inner)}, header says {orig_len}"
            )
        return decode_array(inner)
    if cid == PAGED:
        npages, _page_tokens = _struct.unpack_from("<II", mv, 1)
        off = 9 + 4 * npages
        lens = _struct.unpack_from(f"<{npages}I", mv, 9)
        parts = []
        for ln in lens:
            parts.append(decode_array(mv[off : off + ln]))
            off += ln
        return np.concatenate(parts)
    return DECODERS[cid](mv[1:])


def codec_of(buf: bytes | memoryview) -> str:
    return CODEC_NAMES[memoryview(buf)[0]]
