"""Integer-array codecs: RAW, frame-of-reference, RLE, dict, delta, DoD.

Each codec is a pure-numpy ``encode(np.int64[]) -> bytes`` /
``decode(buf) -> np.int64[]`` pair.  Buffers are self-describing (count and
all parameters live in the buffer header), mirroring the reference's
self-describing block format where decode needs no options
(``/root/reference/c_src/gorilla_nif.cpp:1417-1425`` — decoder dispatches on
header flags alone).

The delta-of-delta codec reimagines the reference's Gorilla timestamp
encoding (``/root/reference/lib/gorilla_stream/compression/encoder/
delta_encoding.ex:27-111``): instead of per-value variable-length prefix
codes (inherently sequential to decode), values are partitioned into four
bit-width *classes* chosen per block by exact cost minimization; class tags
are a fixed-width 2-bit stream and each class's payload is a fixed-width
stream — every stage vectorizes in both directions.
"""

from __future__ import annotations

import struct

import numpy as np

from gorilla_stream_spark.codecs import bitio

__all__ = [
    "raw_encode",
    "raw_decode",
    "for_encode",
    "for_decode",
    "rle_encode",
    "rle_decode",
    "dict_encode",
    "dict_decode",
    "delta_encode",
    "delta_decode",
    "dod_encode",
    "dod_decode",
    "choose_class_widths",
]

_I64 = np.int64
_U64 = np.uint64


def _as_i64(a: np.ndarray) -> np.ndarray:
    return np.ascontiguousarray(a, dtype=_I64)


# ---------------------------------------------------------------------------
# RAW — exact little-endian dump at minimal signed item size (fallback codec;
# the selector guarantees encoded size never exceeds this + header, the
# analog of the reference's "not optimal for random data" guidance,
# /root/reference/README.md:166-168).
# ---------------------------------------------------------------------------

def raw_encode(a: np.ndarray) -> bytes:
    a = _as_i64(a)
    n = a.size
    if n == 0:
        return struct.pack("<IB", 0, 8)
    lo = int(a.min())
    hi = int(a.max())
    for size, dt in ((1, "<i1"), (2, "<i2"), (4, "<i4"), (8, "<i8")):
        info = np.iinfo(dt.replace("<", ""))
        if lo >= info.min and hi <= info.max:
            return struct.pack("<IB", n, size) + a.astype(dt).tobytes()
    raise AssertionError("unreachable")


def raw_decode(buf: bytes) -> np.ndarray:
    n, size = struct.unpack_from("<IB", buf, 0)
    bitio.check_count(n)
    if size not in (1, 2, 4, 8):  # corrupted header must raise cleanly
        raise ValueError(f"raw codec: invalid item size {size}")
    if n == 0:
        return np.empty(0, dtype=_I64)
    return np.frombuffer(buf, dtype=f"<i{size}", count=n, offset=5).astype(_I64)


# ---------------------------------------------------------------------------
# Frame-of-reference + bit-pack — generalizes the reference's
# scale-floats-to-int preprocessing (enhancements.ex:19-28): subtract the
# block min, pack at the residual bit width.
# ---------------------------------------------------------------------------

def for_encode(a: np.ndarray) -> bytes:
    a = _as_i64(a)
    n = a.size
    if n == 0:
        return struct.pack("<IqB", 0, 0, 0)
    ref = int(a.min())
    resid = (a - ref).view(_U64)
    width = bitio.max_bit_width(resid)
    return struct.pack("<IqB", n, ref, width) + bitio.pack(resid, width)


def for_decode(buf: bytes) -> np.ndarray:
    n, ref, width = struct.unpack_from("<IqB", buf, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=_I64)
    resid = bitio.unpack(memoryview(buf)[13:], width, n)
    return resid.view(_I64) + ref


def for_encoded_size(n: int, value_range: int) -> int:
    """Exact encoded byte size of FOR without encoding (selector cost)."""
    if n == 0:
        return 13
    return 13 + (n * bitio.bit_width(value_range) + 7) // 8


# ---------------------------------------------------------------------------
# Classed frame-of-reference — FOR with the DoD codec's cost-optimal 4-class
# width partitioning applied to the residuals.  Wins big on heavy-head
# (zipf-like) token distributions where a single max-width stream wastes
# bits on the common small values — the shape of real tokenizer output.
# ---------------------------------------------------------------------------

def forc_encode(a: np.ndarray) -> bytes:
    a = _as_i64(a)
    n = a.size
    if n == 0:
        return struct.pack("<Iq", 0, 0)
    ref = int(a.min())
    resid = (a - ref).view(_U64)
    return struct.pack("<Iq", n, ref) + _pack_classed(resid)


def forc_decode(buf: bytes) -> np.ndarray:
    n, ref = struct.unpack_from("<Iq", buf, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=_I64)
    resid = _unpack_classed(memoryview(buf)[12:])
    return resid.view(_I64) + ref


def classed_stats(widths: np.ndarray) -> tuple[list[int], np.ndarray]:
    """(class widths, per-value class assignment) — the ONE place the
    classed-stream class semantics live; size estimators and the packer
    must all agree with it."""
    cw = choose_class_widths(widths)
    bounds = np.array(cw, dtype=np.uint8)
    cls = np.searchsorted(bounds, widths, side="left").clip(max=3)
    return cw, cls


def classed_payload_bits(widths: np.ndarray) -> int:
    """Total payload bits of a classed-width stream (excl. tags/headers)."""
    cw, cls = classed_stats(widths)
    return sum(int((cls == c).sum()) * cw[c] for c in range(4))


def classed_size_from_widths(widths: np.ndarray, header: int) -> int:
    """Exact encoded size of a classed-width stream (selector cost)."""
    cw, cls = classed_stats(widths)
    size = header + 8 + (widths.size * 2 + 7) // 8
    for c in range(4):
        size += 4 + (int((cls == c).sum()) * cw[c] + 7) // 8
    return size


# ---------------------------------------------------------------------------
# RLE — run values + run lengths, each FOR-packed.  Triggered by the
# constant/step patterns the reference compresses 40x
# (/root/reference/docs/performance_guide.md:35-36).
# ---------------------------------------------------------------------------

def _runs(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    n = a.size
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(a[1:], a[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    lens = np.diff(starts, append=n)
    return a[starts], lens


def rle_encode(a: np.ndarray) -> bytes:
    a = _as_i64(a)
    n = a.size
    if n == 0:
        return struct.pack("<III", 0, 0, 0)
    vals, lens = _runs(a)
    vbuf = for_encode(vals)
    lbuf = for_encode(lens)
    return struct.pack("<III", n, vals.size, len(vbuf)) + vbuf + lbuf


def rle_decode(buf: bytes) -> np.ndarray:
    n, nruns, vlen = struct.unpack_from("<III", buf, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=_I64)
    mv = memoryview(buf)
    vals = for_decode(mv[12 : 12 + vlen])
    lens = for_decode(mv[12 + vlen :])
    if vals.size != nruns or lens.size != nruns:
        # corrupt sub-stream counts must not reach np.repeat: a 1-element
        # lens against a k-element vals repeats EVERY val lens[0] times
        # (k * n output from a tiny buffer) while lens.sum() still == n
        raise ValueError(
            f"rle stream counts {vals.size}/{lens.size} != n_runs {nruns}"
        )
    # bound every run before summing: runs like [2^63-1, 2^63-1, n+2] wrap
    # the int64 sum back to n, and np.repeat then overruns its output
    if nruns and (int(lens.min()) < 0 or int(lens.max()) > n):
        raise ValueError(f"rle run length outside [0, {n}]")
    total = int(lens.sum())  # <= MAX_COUNT**2 < 2**63 once runs are bounded
    if total != n:  # corrupt header must not turn into a giant repeat
        raise ValueError(f"rle run lengths sum {total} != count {n}")
    return np.repeat(vals, lens)


# ---------------------------------------------------------------------------
# Dict-encode — sorted-unique vocabulary + fixed-width codes.  The Spark-
# first generalization of Chimp128's ring-buffer-of-recent-values
# (/root/reference/c_src/gorilla_nif.cpp:577-588): a block-local dictionary
# instead of a sliding 128-slot one.
# ---------------------------------------------------------------------------

# Dense-LUT cap: bool bitmap + int64 LUT scratch stays ≤ ~18 MB — under
# the 32 MB malloc-mmap churn threshold documented in OPTIMIZATION_r06.md
# even with both buffers live; the common token case (vocab ids in a
# ~2^17 range) uses a few hundred KB.
_DENSE_RANGE_CAP = 1 << 21


def sorted_unique_inverse(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """np.unique(a, return_inverse=True) without the full O(n log n) sort.

    Compact value ranges (token ids, FSST-rewritten streams) take an O(n +
    range) dense-LUT path: bitmap the values seen, rank them with one
    flatnonzero, gather the inverse.  Wide ranges fall back to pandas'
    hash-based factorize (O(n + card log card)).  Byte-identical output
    either way."""
    n = a.size
    if n:
        vmin, vmax = int(a.min()), int(a.max())
        rng = vmax - vmin + 1  # python ints: immune to int64 overflow
        if rng <= min(_DENSE_RANGE_CAP, max(4 * n, 1 << 16)):
            off = a - vmin
            seen = np.zeros(rng, dtype=bool)
            seen[off] = True
            vocab_off = np.flatnonzero(seen)
            lut = np.empty(rng, dtype=_I64)
            lut[vocab_off] = np.arange(vocab_off.size)
            return vocab_off + vmin, lut[off]
    import pandas as pd

    codes, uniq = pd.factorize(a, sort=False)
    order = np.argsort(uniq, kind="stable")
    inv_order = np.empty_like(order)
    inv_order[order] = np.arange(order.size)
    return uniq[order], inv_order[codes]


def dict_encode(a: np.ndarray) -> bytes:
    a = _as_i64(a)
    n = a.size
    if n == 0:
        return struct.pack("<IIIB", 0, 0, 0, 0)
    vocab, codes = sorted_unique_inverse(a)
    dbuf = delta_encode(vocab)  # sorted -> small positive gaps
    cw = bitio.bit_width(vocab.size - 1)
    cbuf = bitio.pack(codes.astype(_U64), cw)
    return struct.pack("<IIIB", n, vocab.size, len(dbuf), cw) + dbuf + cbuf


def dict_decode(buf: bytes) -> np.ndarray:
    n, card, dlen, cw = struct.unpack_from("<IIIB", buf, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=_I64)
    mv = memoryview(buf)
    vocab = delta_decode(mv[13 : 13 + dlen])
    codes = bitio.unpack(mv[13 + dlen :], cw, n)
    return vocab[codes.astype(np.intp)]


# ---------------------------------------------------------------------------
# Delta — first value raw, zigzagged diffs FOR-packed.  Counter-delta
# preprocessing (enhancements.ex:57-78) promoted to a first-class codec.
# ---------------------------------------------------------------------------

def delta_encode(a: np.ndarray) -> bytes:
    a = _as_i64(a)
    n = a.size
    if n == 0:
        return struct.pack("<IqB", 0, 0, 0)
    zz = bitio.zigzag(np.diff(a))
    width = bitio.max_bit_width(zz)
    return struct.pack("<IqB", n, int(a[0]), width) + bitio.pack(zz, width)


def delta_decode(buf: bytes) -> np.ndarray:
    n, first, width = struct.unpack_from("<IqB", buf, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=_I64)
    diffs = bitio.unzigzag(bitio.unpack(memoryview(buf)[13:], width, n - 1))
    out = np.empty(n, dtype=_I64)
    out[0] = first
    np.cumsum(diffs, out=out[1:])
    out[1:] += first
    return out


# ---------------------------------------------------------------------------
# Delta-of-delta with cost-optimal width classes.
# ---------------------------------------------------------------------------

def choose_class_widths(widths: np.ndarray) -> list[int]:
    """Pick 4 ascending class widths [0, a, b, m] minimizing total payload
    bits, by exact scan over the width histogram (the vectorizable analog of
    the reference's fixed DoD buckets 7/9/12/32,
    delta_encoding.ex:43-63)."""
    if widths.size == 0:
        return [0, 0, 0, 0]
    m = int(widths.max())
    if m == 0:
        return [0, 0, 0, 0]
    hist = np.bincount(widths, minlength=m + 1).astype(np.int64)
    # candidates: observed widths only
    cand = np.flatnonzero(hist[1:]) + 1
    csum = np.cumsum(hist)  # counts of width <= i
    # vectorized exact scan over all (a < b) cut pairs: one (|cand|, |cand|)
    # cost matrix (<= 64x64) instead of a Python double loop per page
    C = csum[cand]  # counts of width <= cand[i]
    a_col = cand[:, None].astype(np.int64)
    b_row = cand[None, :].astype(np.int64)
    cost = (
        (C[:, None] - csum[0]) * a_col
        + (C[None, :] - C[:, None]) * b_row
        + (csum[m] - C[None, :]) * m
    )
    cost = np.where(b_row > a_col, cost, np.iinfo(np.int64).max)
    # tie-break identically to the sequential scan: first (a, b) in row-major
    # candidate order wins (argmin returns the first minimum)
    flat = int(np.argmin(cost))
    ai, bi = divmod(flat, cand.size)
    best_cost = int(cost[ai, bi])
    single = int(csum[m] - csum[0]) * m  # one class at width m (a == m case)
    if single < best_cost or best_cost == np.iinfo(np.int64).max:
        return [0, m, m, m]
    return [0, int(cand[ai]), int(cand[bi]), m]


def _pack_classed(vals: np.ndarray) -> bytes:
    """Pack uint64s as a ``<IBBBB`` (count, class widths) header plus a
    classed stream whose class c holds the values of width <= cw[c]."""
    # class index = first class whose width >= value width (shared with the
    # selector's size estimators via classed_stats — one source of truth)
    cw, cls = classed_stats(bitio.bit_widths(vals))
    sections = [(vals[cls == c], cw[c]) for c in range(4)]
    return struct.pack("<IBBBB", vals.size, *cw) + bitio.pack_classes(cls, sections)


def _unpack_classed(buf: memoryview) -> np.ndarray:
    n = bitio.check_count(struct.unpack_from("<I", buf, 0)[0])
    cw = struct.unpack_from("<BBBB", buf, 4)
    if n == 0:
        return np.empty(0, dtype=_U64)
    tags, payloads, _end = bitio.unpack_classes(buf, 8, n, list(enumerate(cw)))
    out = np.zeros(n, dtype=_U64)
    for c, payload in enumerate(payloads):
        out[tags == c] = payload
    return out


def _wrap_i64(x: int) -> int:
    """Reduce an arbitrary Python int to its int64 two's-complement value.

    All delta/DoD arithmetic is modular in 2^64 (numpy int64 wraps; cumsum
    on decode wraps back), so the scalar first-delta must wrap the same way
    instead of overflowing ``struct.pack('<q', ...)`` on int64 extremes.
    """
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def dod_encode(a: np.ndarray) -> bytes:
    a = _as_i64(a)
    n = a.size
    if n == 0:
        return struct.pack("<Iqq", 0, 0, 0)
    first = int(a[0])
    first_delta = _wrap_i64(int(a[1]) - first) if n > 1 else 0
    head = struct.pack("<Iqq", n, first, first_delta)
    if n <= 2:
        return head
    deltas = np.diff(a)
    dod = bitio.zigzag(np.diff(deltas))
    return head + _pack_classed(dod)


def dod_decode(buf: bytes) -> np.ndarray:
    n, first, first_delta = struct.unpack_from("<Iqq", buf, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=_I64)
    out = np.empty(n, dtype=_I64)
    out[0] = first
    if n == 1:
        return out
    if n == 2:
        out[1] = _wrap_i64(first + first_delta)
        return out
    dod = bitio.unzigzag(_unpack_classed(memoryview(buf)[20:]))
    deltas = np.empty(n - 1, dtype=_I64)
    deltas[0] = first_delta
    np.cumsum(dod, out=deltas[1:])
    deltas[1:] += first_delta
    np.cumsum(deltas, out=out[1:])
    out[1:] += first
    return out
