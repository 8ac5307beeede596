"""Vectorized bit packing/unpacking primitives — the package's one bit layer.

The reference implements MSB-first bit streams with a byte-flushing
BitWriter/BitReader (``/root/reference/lib/gorilla_stream/compression/encoder/
bit_writer.ex:18-49``, C++ ``c_src/gorilla_nif.cpp:96-211``).  Here every
value crosses the JVM<->Python boundary in Arrow batches and is packed with
numpy's C kernels — no per-value Python.  Layout is MSB-first big-endian like
the reference (``gorilla_nif.cpp:69-81``).  Fixed-width sections go through
:func:`pack`/:func:`unpack`, variable-width fields at arbitrary bit offsets
(the wire format) through :class:`FieldPacker`/:func:`gather`, and classed
streams (dod, forc, gxor, xorlag) through :func:`pack_classes`/
:func:`unpack_classes`.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "bit_width",
    "max_bit_width",
    "bit_widths",
    "clz64",
    "ctz64",
    "pack",
    "unpack",
    "FieldPacker",
    "gather",
    "next_set_bit",
    "sign_extend",
    "BitReader",
    "pack_classes",
    "unpack_classes",
    "zigzag",
    "unzigzag",
    "check_count",
    "MAX_COUNT",
    "PACK_CHUNK",
    "SCAN_BYTES",
]

_U64 = np.uint64

# Sanity ceiling on header-declared element counts.  Legitimate blocks are
# bounded by the engine's block_tokens (~1M); a corrupted count byte must
# raise, not allocate (a width-0 stream consumes zero payload bytes, so the
# buffer length alone cannot validate the count).
MAX_COUNT = 1 << 28

# Fields packed per FieldPacker step: about a dozen 8-byte temporaries per
# field, so ~1 MB of scratch however long the stream.
PACK_CHUNK = 1 << 13
# Widest byte window one next_set_bit probe reads (64 Kbit).
SCAN_BYTES = 1 << 13


def check_count(n: int) -> int:
    if not 0 <= n <= MAX_COUNT:
        raise ValueError(f"implausible element count {n} (max {MAX_COUNT})")
    return n


def bit_width(value: int) -> int:
    """Bits needed to represent the non-negative int ``value`` (0 -> 0)."""
    return int(value).bit_length()


def max_bit_width(values: np.ndarray) -> int:
    """Bit width of the max of a non-negative integer array (empty -> 0)."""
    if values.size == 0:
        return 0
    return bit_width(int(values.max()))


_POW2 = _U64(1) << np.arange(64, dtype=_U64)  # [1, 2, 4, ..., 2^63]


def bit_widths(v: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for a uint64 array (0 -> 0).

    One binary search over the 64-entry power table per element (tight C
    loop, no temporaries) — width(v) = #{powers <= v}.
    """
    return np.searchsorted(_POW2, v.astype(_U64, copy=False), side="right").astype(np.uint8)


def clz64(v: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (0 -> 64)."""
    return 64 - bit_widths(v)


def ctz64(v: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (0 -> 64)."""
    v = v.astype(_U64, copy=False)
    low = bit_widths(v & (~v + _U64(1)))  # 1-based position of the lowest set bit
    return np.where(v == 0, np.uint8(64), low - np.uint8(1))


def pack(values: np.ndarray, width: int) -> bytes:
    """Pack non-negative ints into an MSB-first bitstream at fixed ``width``.

    ``values`` may be any unsigned-representable integer dtype; every value
    must be < 2**width.  width == 0 encodes a run of zeros as zero bytes.

    Word-wise layout trick: every group of 8 values occupies exactly
    ``width`` output bytes, so the stream is built as a (groups, width) byte
    matrix with 8 vectorized shift-and-OR passes (one per lane) instead of a
    (n, 64) bit matrix — O(n*width/8) byte traffic, not O(64n).
    """
    n = values.size
    if n == 0 or width == 0:
        return b""
    if width > 64:
        raise ValueError(f"width {width} > 64")
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if width == 64:
        return v.astype(">u8").tobytes()
    if width & 7 == 0:
        # byte-multiple widths: each value is exactly the trailing width/8
        # bytes of its 8-byte big-endian form — one pass, no lane loop
        nb = width >> 3
        return np.ascontiguousarray(
            v.astype(">u8").view(np.uint8).reshape(n, 8)[:, 8 - nb :]
        ).tobytes()
    ngroups = (n + 7) >> 3
    if ngroups << 3 != n:
        v = np.concatenate([v, np.zeros((ngroups << 3) - n, dtype=np.uint64)])
    v = v.reshape(ngroups, 8)
    out = np.zeros((ngroups, width), dtype=np.uint8)
    for lane in range(8):
        bitpos = lane * width
        b0 = bitpos >> 3
        nbits = (bitpos & 7) + width  # window bits from the start of byte b0
        nbytes = (nbits + 7) >> 3
        col = v[:, lane]
        if nbytes <= 8:
            shifted = col << np.uint64((nbytes << 3) - nbits)
            win = shifted.astype(">u8").view(np.uint8).reshape(ngroups, 8)
            out[:, b0 : b0 + nbytes] |= win[:, 8 - nbytes :]
        else:  # nbytes == 9: split into an 8-byte-aligned head + low-bit tail
            lowb = np.uint64(nbits - 64)
            hi = col >> lowb  # exactly fills bits (bitpos&7)..64 of the window
            out[:, b0 : b0 + 8] |= hi.astype(">u8").view(np.uint8).reshape(ngroups, 8)
            lo = col & ((np.uint64(1) << lowb) - np.uint64(1))
            out[:, b0 + 8] |= (lo << (np.uint64(8) - lowb)).astype(np.uint8)
    return out.tobytes()[: (n * width + 7) >> 3]


def unpack(buf: bytes | np.ndarray, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack` — returns ``n`` uint64 values."""
    check_count(n)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if width > 64:
        raise ValueError(f"width {width} > 64")
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    nbytes = (n * width + 7) >> 3
    if isinstance(buf, (bytes, bytearray, memoryview)):
        raw = np.frombuffer(buf, dtype=np.uint8, count=nbytes)
    else:
        raw = np.asarray(buf, dtype=np.uint8)[:nbytes]
        if raw.size < nbytes:
            # match the bytes path: a short ndarray must raise, not
            # zero-fill the missing payload into silent corruption
            raise ValueError(f"unpack: buffer has {raw.size} bytes, need {nbytes}")
    if width == 64:
        return raw.view(">u8").astype(np.uint64)
    if width & 7 == 0:
        # inverse of the byte-multiple fast path: left-pad each value's
        # width/8 bytes back to 8-byte big-endian words
        nb = width >> 3
        mat8 = np.zeros((n, 8), dtype=np.uint8)
        mat8[:, 8 - nb :] = raw.reshape(n, nb)
        return mat8.view(">u8").ravel().astype(np.uint64)
    ngroups = (n + 7) >> 3
    mat = np.zeros(ngroups * width, dtype=np.uint8)
    mat[: raw.size] = raw
    mat = mat.reshape(ngroups, width)
    out = np.empty((ngroups, 8), dtype=np.uint64)
    vmask = (np.uint64(1) << np.uint64(width)) - np.uint64(1)
    for lane in range(8):
        bitpos = lane * width
        b0 = bitpos >> 3
        nbits = (bitpos & 7) + width
        nbytes = (nbits + 7) >> 3
        if nbytes <= 8:
            win = np.zeros((ngroups, 8), dtype=np.uint8)
            win[:, 8 - nbytes :] = mat[:, b0 : b0 + nbytes]
            vals = np.ascontiguousarray(win).view(">u8").ravel().astype(np.uint64)
            out[:, lane] = (vals >> np.uint64((nbytes << 3) - nbits)) & vmask
        else:  # nbytes == 9
            lowb = np.uint64(nbits - 64)
            hi = np.ascontiguousarray(mat[:, b0 : b0 + 8]).view(">u8").ravel().astype(np.uint64)
            lo = mat[:, b0 + 8].astype(np.uint64) >> (np.uint64(8) - lowb)
            out[:, lane] = (((hi << lowb) | lo) & vmask)
    return out.ravel()[:n]


class FieldPacker:
    """Streaming MSB-first packer of variable-width fields.

    :meth:`add` takes fields in any number of calls and packs them
    :data:`PACK_CHUNK` at a time.  Every field lands in at most two
    consecutive big-endian 64-bit words, fields never share bits (so OR ==
    ADD) and field offsets are non-decreasing, so one ``np.add.reduceat``
    over each chunk's first words plus one scatter of the word-crossing
    tails assembles the chunk's words with zero per-field Python.  The
    partial last word is carried into the next chunk; completed words are
    kept as bytes.  Scratch is O(PACK_CHUNK) per chunk on top of the
    output itself.  Every value must be < 2**width.
    """

    def __init__(self):
        self._parts: list[bytes] = []
        self._carry = _U64(0)  # the partial last word, bits from the MSB
        self.nbits = 0

    def add(self, vals: np.ndarray, widths: np.ndarray) -> None:
        v = np.ascontiguousarray(vals, dtype=np.uint64)
        w = np.ascontiguousarray(widths, dtype=np.int64)
        for a in range(0, v.size, PACK_CHUNK):
            self._add_chunk(v[a : a + PACK_CHUNK], w[a : a + PACK_CHUNK])

    def _add_chunk(self, v: np.ndarray, w: np.ndarray) -> None:
        nz = w > 0  # width-0 fields contribute nothing
        if not nz.all():
            v, w = v[nz], w[nz]
        if w.size == 0:
            return
        lead = self.nbits & 63  # bits of the carried word already filled
        o = np.cumsum(w)
        end = lead + int(o[-1])
        o -= w
        o += lead  # start bit of each field, from the carried word's MSB
        word = o >> 6
        shift = o & 63
        shift += w
        shift -= 64  # > 0: the field's low `shift` bits spill into word+1
        spill = np.flatnonzero(shift > 0)
        hi = (v << np.maximum(-shift, 0).astype(np.uint64)) >> np.maximum(shift, 0).astype(
            np.uint64
        )
        words = np.zeros((end + 63) >> 6, dtype=np.uint64)
        starts = np.flatnonzero(np.diff(word, prepend=-1))
        words[word[starts]] = np.add.reduceat(hi, starts)
        if spill.size:
            # distinct target words: a crossing field ends inside word+1,
            # so the next crossing field starts there or later
            words[word[spill] + 1] += v[spill] << (np.uint64(64) - shift[spill].astype(np.uint64))
        words[0] |= self._carry
        full = end >> 6
        self._carry = words[full] if end & 63 else _U64(0)
        self._parts.append(words[:full].astype(">u8").tobytes())
        self.nbits += end - lead

    def finish(self) -> bytes:
        """The packed stream, zero-padded to a whole byte exactly like the
        reference's pad_to_byte_boundary (bit_packing.ex:115-125).  At a
        fixed width the bytes equal :func:`pack`'s."""
        tail = ((self.nbits & 63) + 7) >> 3
        if tail:
            self._parts.append(np.array([self._carry], dtype=">u8").tobytes()[:tail])
        return b"".join(self._parts)


def gather(data: np.ndarray, starts: np.ndarray, width: int) -> np.ndarray:
    """Read ``width``-bit (<=64) unsigned values at arbitrary absolute bit
    offsets from PACKED bytes: one unaligned 8-byte read per value, plus a
    9th byte when ``width`` > 57.  ``data`` must be a uint8 array; reads
    past its end see zero bytes.  Scratch is O(len(starts)), plus a padded
    copy of ``data[min(starts) // 8:]`` only when a read passes the end.
    """
    if starts.size == 0 or width == 0:
        return np.zeros(starts.size, dtype=np.uint64)
    o = starts.astype(np.int64, copy=False)
    b0 = o >> 3
    tail = width > 57  # the field can reach into a 9th byte
    need = int(b0.max()) + 8 + tail
    if need > data.size:
        lo = int(b0.min())
        data = np.concatenate([data[lo:], np.zeros(need - data.size, dtype=np.uint8)])
        b0 = b0 - lo
    sh = (o & 7).astype(np.uint64)
    # element i of this overlapping stride-1 view is the big-endian word
    # starting at byte i: one unaligned 8-byte gather per value
    data = np.ascontiguousarray(data)
    be64 = np.ndarray((data.size - 7,), dtype=">u8", buffer=data, strides=(1,))
    words = be64[b0].astype(np.uint64)
    words <<= sh
    if tail:
        words |= data[b0 + 8].astype(np.uint64) >> (np.uint64(8) - sh)
    words >>= np.uint64(64 - width)
    return words


def next_set_bit(data: np.ndarray, pos: int, end: int) -> int:
    """Absolute position of the first set bit of packed ``data`` in
    [``pos``, ``end``), or -1.  Probes the first byte as a Python int, then
    byte windows that grow 8x up to :data:`SCAN_BYTES`, so a nearby bit
    costs O(1) and a long zero run O(run / 8) bytes with bounded scratch.
    """
    end = min(end, data.size << 3)
    if pos >= end:
        return -1
    b = pos >> 3
    x = int(data[b]) & (0xFF >> (pos & 7))
    last = (end - 1) >> 3
    step = 64
    while True:
        if x:
            hit = (b << 3) + 8 - x.bit_length()
            return hit if hit < end else -1
        b += 1
        if b > last:
            return -1
        chunk = data[b : min(b + step, last + 1)]
        i = int((chunk != 0).argmax())
        x = int(chunk[i])
        b += i if x else chunk.size - 1
        step = min(step << 3, SCAN_BYTES)


def sign_extend(v: np.ndarray, width: int) -> np.ndarray:
    """Two's-complement interpret ``width``-bit values as int64."""
    sign = np.uint64(1) << np.uint64(width - 1)
    return (v.astype(np.uint64) ^ sign).view(np.int64) - np.int64(1 << (width - 1))


class BitReader:
    """Scalar MSB-first cursor over an unpacked bit array, for decoders
    whose next field width depends on the value just read.  ``read`` past
    the end raises ``ValueError(truncated)``."""

    def __init__(self, bits: np.ndarray, pos: int, truncated: str):
        self._digits = (bits.astype(np.uint8) + 48).tobytes()  # b"0"/b"1" per bit
        self.pos = pos
        self._truncated = truncated

    def read(self, w: int) -> int:
        pos = self.pos
        if pos + w > len(self._digits):
            raise ValueError(self._truncated)
        self.pos = pos + w
        return int(self._digits[pos : pos + w] or b"0", 2)


def pack_classes(cls: np.ndarray, sections) -> bytes:
    """A classed stream: ``cls`` as 2-bit tags, then per ``(vals, width)``
    section a ``<I`` count and ``vals`` packed at ``width``."""
    parts = [pack(cls, 2)]
    for vals, width in sections:
        parts += (struct.pack("<I", vals.size), pack(vals, width))
    return b"".join(parts)


def unpack_classes(buf, off: int, n: int, sections) -> tuple[np.ndarray, list, int]:
    """Inverse of :func:`pack_classes` from byte ``off``: ``n`` tags, then
    one payload per ``(class, width)`` section -> (tags, payloads, end).

    Each section's declared count must equal the number of its class's
    tags: a corrupt count would otherwise shift every later payload and
    decode to wrong values without an error.
    """
    mv = memoryview(buf)
    tag_bytes = (2 * n + 7) >> 3
    tags = unpack(mv[off : off + tag_bytes], 2, n).astype(np.uint8)
    off += tag_bytes
    payloads = []
    for c, width in sections:
        (cnt,) = struct.unpack_from("<I", mv, off)
        have = np.count_nonzero(tags == c)
        if cnt != have:
            raise ValueError(f"classed stream: class {c} declares {cnt} values, its tags {have}")
        nbytes = (cnt * width + 7) >> 3
        payloads.append(unpack(mv[off + 4 : off + 4 + nbytes], width, cnt))
        off += 4 + nbytes
    return tags, payloads, off


def zigzag(values: np.ndarray) -> np.ndarray:
    """Map signed int64 -> unsigned (0,-1,1,-2 -> 0,1,2,3) for bit-packing."""
    v = values.astype(np.int64, copy=False)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).view(np.uint64)


def unzigzag(values: np.ndarray) -> np.ndarray:
    """Inverse of :func:`zigzag`."""
    v = values.astype(np.uint64, copy=False)
    return ((v >> np.uint64(1)).view(np.int64)) ^ -((v & np.uint64(1)).view(np.int64))
