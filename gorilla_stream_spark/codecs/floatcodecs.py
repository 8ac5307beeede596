"""Gorilla-family float64 codecs: XOR-window (gxor), Chimp128-style lagged
XOR (xorlag), and VictoriaMetrics-style scaled-decimal (scaledf).

Reimagines the reference's value compression
(``/root/reference/lib/gorilla_stream/compression/encoder/
value_compression.ex:30-166`` and Chimp ``c_src/gorilla_nif.cpp:412-519``)
for vectorized execution: instead of per-value variable-length prefix codes
(control bit + reused leading/trailing window, inherently sequential), each
block stores a fixed 2-bit class-tag stream plus per-class fixed-width
payload streams, with the two (leading, significant-bits) windows chosen per
block by cost search over the observed leading/trailing-zero distribution.
Same information content, but both encode and decode are pure numpy.

Classes: 0 = XOR==0 (identical value, reference's '0' control bit);
1 = fits window1; 2 = fits window2; 3 = raw 64 bits (reference's '11' path).
"""

from __future__ import annotations

import struct

import numpy as np

from gorilla_stream_spark.codecs import bitio

__all__ = ["gxor_encode", "gxor_decode"]

_U64 = np.uint64


def _choose_windows(lz: np.ndarray, tz: np.ndarray) -> tuple[tuple[int, int], tuple[int, int]]:
    """Pick two (lead, sigbits) windows minimizing total payload bits.

    A value with leading zeros ``l`` and trailing zeros ``t`` fits window
    (L, S) iff L <= l and L + S >= 64 - t.  Candidate leads are the
    reference Chimp lead buckets (gorilla_nif.cpp:424-430) extended; best
    single window first, then best second window on the residual — greedy
    but evaluated on exact counts.
    """
    if lz.size == 0:
        return (0, 64), (0, 64)
    span_end = 64 - tz.astype(np.int16)  # exclusive end of meaningful bits
    leads = np.array(sorted({0, 4, 8, 12, 16, 18, 20, 22, 24, 28, 32, 36, 40, 48, int(lz.min())}), dtype=np.int16)
    sig_cands = np.array(sorted({4, 8, 12, 16, 20, 24, 28, 32, 40, 48, 56, 64}), dtype=np.int16)

    def best_window(mask: np.ndarray) -> tuple[int, int, int, np.ndarray]:
        """Evaluate every (L, S) window on a (lz, span_end) 2D histogram —
        one pass over the data, O(1) fit-count per window via cumulative
        sums (vs a vector pass per candidate window)."""
        n_rest = int(mask.sum())
        if n_rest == 0:
            return 0, 0, 64, np.zeros_like(mask)
        l_sel = lz[mask].astype(np.intp)
        e_sel = span_end[mask].astype(np.intp)
        hist = np.zeros((65, 66), dtype=np.int64)
        np.add.at(hist, (l_sel, e_sel), 1)
        # C[L, E] = #{l >= L, e <= E}: suffix-cumsum over l, prefix over e
        C = np.cumsum(np.cumsum(hist[::-1, :], axis=0)[::-1, :], axis=1)
        Lg, Sg = np.meshgrid(leads, sig_cands, indexing="ij")
        valid = (Lg + Sg) <= 64
        nf = np.zeros(Lg.shape, dtype=np.int64)
        lv, ev = Lg[valid], np.minimum(Lg[valid] + Sg[valid], 65)
        nf[valid] = C[lv, ev]
        cost = np.where(valid, nf * Sg.astype(np.int64) + (n_rest - nf) * 64, 1 << 62)
        # row-major argmin = first minimum in (L outer, S inner) order —
        # identical tie-breaking to the original nested loops
        k = int(np.argmin(cost))
        L, S = int(leads[k // len(sig_cands)]), int(sig_cands[k % len(sig_cands)])
        fits_full = (lz.astype(np.int16) >= L) & (span_end - L <= S) & mask
        return int(cost.ravel()[k]), L, S, fits_full

    nonzero = span_end > 0  # xor != 0
    _, l1, s1, fit1 = best_window(nonzero)
    rest = nonzero & ~fit1
    if rest.any():
        _, l2, s2, _ = best_window(rest)
    else:
        l2, s2 = 0, 64
    return (l1, s1), (l2, s2)


def _xor_classes_encode(xor: np.ndarray) -> bytes:
    """One XOR stream as its ``<BBBB`` window header plus a classed stream:
    class 0 = XOR 0 (no payload), classes 1/2 = the two chosen (lead,
    sigbits) windows, class 3 = raw 64 bits.  Shared by gxor and xorlag."""
    lz = bitio.clz64(xor)
    tz = bitio.ctz64(xor)
    (l1, s1), (l2, s2) = _choose_windows(lz, tz)
    span_end = 64 - tz.astype(np.int16)
    lzi = lz.astype(np.int16)
    cls = np.full(xor.size, 3, dtype=_U64)
    cls[(lzi >= l2) & (span_end - l2 <= s2)] = 2
    cls[(lzi >= l1) & (span_end - l1 <= s1)] = 1
    cls[xor == 0] = 0
    windows = ((l1, s1), (l2, s2), (0, 64))
    sections = [(xor[cls == c] >> _U64(64 - L - S), S) for c, (L, S) in enumerate(windows, 1)]
    head = struct.pack("<BBBB", l1, s1 % 256, l2, s2 % 256)  # 64 stored as 0
    return head + bitio.pack_classes(cls, sections)


def _xor_classes_decode(mv: memoryview, off: int, m: int) -> np.ndarray:
    """Inverse of :func:`_xor_classes_encode` from byte ``off`` -> the ``m``
    XORs.  A window wider than 64 bits is corrupt: its shift would go
    negative."""
    l1, s1, l2, s2 = struct.unpack_from("<BBBB", mv, off)
    windows = ((l1, s1 or 64), (l2, s2 or 64), (0, 64))
    if any(L + S > 64 for L, S in windows):
        raise ValueError(f"xor windows {windows[:2]}: lead + sigbits > 64")
    sections = [(c, S) for c, (_L, S) in enumerate(windows, 1)]
    tags, payloads, _end = bitio.unpack_classes(mv, off + 4, m, sections)
    xor = np.zeros(m, dtype=_U64)
    for c, ((L, S), payload) in enumerate(zip(windows, payloads), 1):
        xor[tags == c] = payload << _U64(64 - L - S)
    return xor


def gxor_encode(vals: np.ndarray) -> bytes:
    vals = np.ascontiguousarray(vals, dtype=np.float64)
    n = vals.size
    if n == 0:
        return struct.pack("<IQ", 0, 0)
    bits = vals.view(_U64)
    head = struct.pack("<IQ", n, int(bits[0]))
    if n == 1:
        return head
    return head + _xor_classes_encode(np.bitwise_xor(bits[1:], bits[:-1]))


def gxor_decode(buf: bytes) -> np.ndarray:
    n, first = struct.unpack_from("<IQ", buf, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    chain = np.empty(n, dtype=_U64)
    chain[0] = first
    if n > 1:
        chain[1:] = _xor_classes_decode(memoryview(buf), 12, n - 1)
    # XOR prefix-chain reconstruction: cumulative xor is associative -> use
    # np.bitwise_xor.accumulate (vectorized inverse of the reference's
    # sequential reconstruct, decoder/value_decompression.ex:103-119)
    return np.bitwise_xor.accumulate(chain).view(np.float64)


# ---------------------------------------------------------------------------
# xorlag — Chimp128 reimagined for vectorized execution.  The reference keeps
# a 128-slot ring of recent values and XORs each value against the ring entry
# maximizing trailing zeros (/root/reference/c_src/gorilla_nif.cpp:577-713,
# hash-indexed ring :588-607).  Per-value best-reference lookups are
# inherently sequential, so instead ONE lag is chosen per block from a
# candidate set by exact sampled cost — periodic series (the case where
# Chimp128 wins big) XOR near-zero at their period — and both the encode XOR
# and the decode reconstruction vectorize per residue class.
# ---------------------------------------------------------------------------

_LAG_CANDIDATES = (1, 2, 3, 4, 6, 8, 12, 16, 24, 32, 48, 64, 96, 128)
_LAG_SAMPLE = 16384


def _lag_cost(bits: np.ndarray, lag: int) -> int:
    """Approx payload bits of XOR-at-lag: meaningful span of nonzero xors."""
    if bits.size <= lag:
        return 1 << 62
    xor = np.bitwise_xor(bits[lag:], bits[:-lag])
    nz = xor != 0
    span = np.zeros(xor.size, dtype=np.int16)
    span[nz] = 64 - bitio.clz64(xor[nz]).astype(np.int16) - bitio.ctz64(xor[nz]).astype(np.int16)
    # ~2 tag bits per value + 64 raw bits per leading value
    return int(span.sum()) + 2 * xor.size + 64 * lag


def choose_lag(vals_bits: np.ndarray) -> int:
    s = vals_bits[: _LAG_SAMPLE + 128]
    costs = {lag: _lag_cost(s, lag) for lag in _LAG_CANDIDATES if lag < s.size}
    if not costs:
        return 1
    return min(costs, key=lambda k: (costs[k], k))


def xorlag_encode(vals: np.ndarray, lag: int | None = None) -> bytes:
    vals = np.ascontiguousarray(vals, dtype=np.float64)
    n = vals.size
    bits = vals.view(_U64)
    if lag is None:
        lag = choose_lag(bits) if n > 2 else 1
    lag = max(1, min(lag, 255, max(n, 1)))
    head = struct.pack("<IB", n, lag)
    k = min(lag, n)
    head += bits[:k].astype("<u8").tobytes()  # leading values raw
    if n <= lag:
        return head
    return head + _xor_classes_encode(np.bitwise_xor(bits[lag:], bits[:-lag]))


def xorlag_decode(buf: bytes | memoryview) -> np.ndarray:
    mv = memoryview(buf)
    n, lag = struct.unpack_from("<IB", mv, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    k = min(lag, n)
    firsts = np.frombuffer(mv, dtype="<u8", count=k, offset=5).astype(_U64)
    if n <= lag:
        return firsts[:n].view(np.float64)
    chain = np.empty(n, dtype=_U64)
    chain[:lag] = firsts
    chain[lag:] = _xor_classes_decode(mv, 5 + 8 * k, n - lag)
    if lag == 1:
        return np.bitwise_xor.accumulate(chain).view(np.float64)
    # per-residue XOR chains: out[i] = out[i-lag] ^ xor[i], vectorized as one
    # accumulate per residue class (<=255 calls, each over n/lag values)
    for r in range(lag):
        chain[r::lag] = np.bitwise_xor.accumulate(chain[r::lag])
    return chain.view(np.float64)


# ---------------------------------------------------------------------------
# scaledf — VictoriaMetrics-style decimal scaling promoted to a codec.  The
# reference multiplies values by 10^N (N = detected decimal places, capped 6)
# and encodes the resulting integers, recording N in the header flags
# (/root/reference/lib/gorilla_stream/compression/enhancements.ex:19-50,
# c_src/gorilla_nif.cpp:889-922).  Here the integers go through the full int
# codec auto-selector (nested self-describing buffer), and applicability is
# gated by an EXACT bitwise reconstruction check at encode time — never
# trust the tolerance heuristic with the round-trip invariant.
# ---------------------------------------------------------------------------

_SCALE_MAX = 6


def scaledf_try_encode(vals: np.ndarray, codec: str = "auto") -> bytes | None:
    """Encode floats as scaled ints if EXACTLY reversible, else None."""
    from gorilla_stream_spark.codecs import encode_array

    vals = np.ascontiguousarray(vals, dtype=np.float64)
    n = vals.size
    if n == 0:
        return struct.pack("<IB", 0, 0)
    if not np.isfinite(vals).all():
        return None
    vbits = vals.view(_U64)
    # sample-first scale gate: a k that reconstructs the FULL array exactly
    # also reconstructs any sample of it, so failing ks are rejected on a
    # ~8K-element sample (head + middle + tail) and only surviving ks pay
    # the full-array verify — ~2x faster on large blocks.  The rounding
    # tolerance is derived from the FULL array's max (one cheap max) so the
    # sample gate and the full verify use the same threshold — a k the full
    # pass would accept is never rejected on the sample.
    absmax = float(np.abs(vals).max())
    if n > 8192:
        sample = np.concatenate((vals[:4096], vals[n // 2 : n // 2 + 2048], vals[-2048:]))
        sbits = sample.view(_U64)
    else:
        sample, sbits = None, None
    for k in range(_SCALE_MAX + 1):
        scale = 10.0**k
        if absmax * scale >= 2**53:  # beyond exact-integer float range
            return None
        tol = 1e-9 * max(1.0, absmax * scale)
        if sample is not None:
            ss = sample * scale
            si = np.rint(ss)
            if np.abs(ss - si).max() > tol:
                continue
            if ((si.astype(np.int64).astype(np.float64) / scale).view(_U64) != sbits).any():
                continue
        scaled = vals * scale
        ints = np.rint(scaled)
        if np.abs(scaled - ints).max() > tol:
            continue
        i64 = ints.astype(np.int64)
        recon = (i64.astype(np.float64) / scale).view(_U64)
        if (recon == vbits).all():
            return struct.pack("<IB", n, k) + encode_array(i64, codec=codec)
    return None


def scaledf_decode(buf: bytes | memoryview) -> np.ndarray:
    from gorilla_stream_spark.codecs import decode_array

    mv = memoryview(buf)
    n, k = struct.unpack_from("<IB", mv, 0)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    ints = decode_array(mv[5:])
    if ints.size != n:  # corrupted nested buffer must raise, not truncate
        raise ValueError(f"scaledf inner count {ints.size} != header count {n}")
    return ints.astype(np.float64) / (10.0**k)


# ---------------------------------------------------------------------------
# float32 vector codec (embedding columns).  Three modes behind one frame:
#   mode 1 — float32 decimal scaling (the scaledf/VictoriaMetrics idea,
#            /root/reference/lib/gorilla_stream/compression/enhancements.ex:
#            19-50, gated by EXACT float32 bit reconstruction): quantized /
#            rounded embeddings collapse to small ints and ride the whole
#            int codec family.
#   mode 0 — float32 bit patterns as int32 through the int auto-selector
#            (structured-but-not-decimal data: shared exponents, sparse
#            mantissas).
#   mode 2 — raw little-endian float32 bytes.  Full-precision embeddings are
#            entropy-dense; a sampled mode-0 trial decides whether the
#            selector can beat raw, and when it can't (the common case for
#            trained-model embeddings) encode is a memcpy — ~50x faster
#            than running the selector over incompressible bits.
# ---------------------------------------------------------------------------


def f32scaled_try_encode(vals32: np.ndarray, codec: str = "auto") -> bytes | None:
    """Encode float32s as scaled ints if EXACTLY bit-reversible, else None.

    Negative zeros (common when rounded data crosses 0) can't survive the
    int path, so their positions ride along as a delta-coded exception list
    and are re-signed on decode — still bit-lossless.
    Layout: [n u32][k u8][zlen u32][neg-zero index buffer][int buffer].
    """
    from gorilla_stream_spark.codecs import encode_array

    vals32 = np.ascontiguousarray(vals32, dtype=np.float32)
    n = vals32.size
    if n == 0:
        return struct.pack("<IBI", 0, 0, 0)
    if not np.isfinite(vals32).all():
        return None
    # sample-first scale gate (same protocol as scaledf above): tolerance is
    # derived from the FULL array's max, so a k the full pass would accept is
    # never rejected on the sample — failing ks (the common case for
    # full-precision embeddings) die on ~8K elements instead of the block.
    # The full-array widening / neg-zero scan is deferred until a k survives
    # the sample, so the all-ks-fail path touches the block only twice
    # (isfinite + absmax).
    absmax = float(np.abs(vals32).max())
    if n > 8192:
        mid = n // 2
        s32 = np.concatenate((vals32[:4096], vals32[mid : mid + 2048], vals32[-2048:]))
        samp = s32.astype(np.float64)
        sbits = s32.view(np.uint32)
        stgt = np.where(sbits == 0x80000000, np.uint32(0), sbits)
    else:
        samp, stgt = None, None
    full: tuple | None = None
    for k in range(_SCALE_MAX + 1):
        scale = 10.0**k
        if absmax * scale >= 2**53:
            return None
        tol = 1e-6 * max(1.0, absmax * scale)
        if samp is not None:
            ss = samp * scale
            si = np.rint(ss)
            if np.abs(ss - si).max() > tol:
                continue
            srecon = (
                (si.astype(np.int64).astype(np.float64) / scale)
                .astype(np.float32)
                .view(np.uint32)
            )
            if (srecon != stgt).any():
                continue
        if full is None:
            bits = vals32.view(np.uint32)
            negzero = bits == 0x80000000
            zidx = np.flatnonzero(negzero).astype(np.int64)
            if zidx.size > n // 8:  # too many exceptions to be worth it
                return None
            target = np.where(negzero, np.uint32(0), bits)
            v64 = vals32.astype(np.float64)  # exact widening
            full = (v64, target, zidx)
        v64, target, zidx = full
        scaled = v64 * scale
        ints = np.rint(scaled)
        if np.abs(scaled - ints).max() > tol:
            continue
        # gate on the EXACT decode pipeline (through int64; -0.0 handled by
        # the exception list, all other values must reconstruct bit-for-bit)
        i64 = ints.astype(np.int64)
        recon = (i64.astype(np.float64) / scale).astype(np.float32).view(np.uint32)
        if (recon == target).all():
            zbuf = encode_array(zidx, codec="delta" if zidx.size else "raw")
            return (
                struct.pack("<IBI", n, k, len(zbuf))
                + zbuf
                + encode_array(i64, codec=codec)
            )
    return None


def f32_encode(a: np.ndarray, codec: str = "auto") -> bytes:
    """Self-describing float32 body: [mode u8] + mode payload."""
    from gorilla_stream_spark.codecs import encode_array

    a = np.ascontiguousarray(a, dtype=np.float32)
    scaled = f32scaled_try_encode(a, codec=codec)
    n = a.size
    raw_len = 1 + 4 * n  # known without building the buffer
    # sampled compressibility probe: run the int auto-selector on a ~8K
    # STRIDED sample of the bit patterns first; only pay the full-block
    # selector when the sample beats raw fp32 by >2%.  Entropy-dense
    # embeddings (the common case) take the memcpy path.  The stride covers
    # the whole block, so misclassification requires structure finer than
    # the stride; the risk is only a forgone size win on such blocks, never
    # correctness (and the scaled/bits modes are still compared when the
    # probe says the block compresses).
    if codec == "auto" and n > 8192:
        samp = np.ascontiguousarray(a[:: max(1, n // 8192)])
        senc = encode_array(samp.view(np.int32).astype(np.int64), codec="auto")
        if len(senc) >= 0.98 * 4 * samp.size:
            if scaled is not None and 1 + len(scaled) < raw_len:
                return b"\x01" + scaled
            return b"\x02" + a.tobytes()
    bits_buf = b"\x00" + encode_array(a.view(np.int32).astype(np.int64), codec=codec)
    best_len = min(len(bits_buf), raw_len)
    if scaled is not None and 1 + len(scaled) < best_len:
        return b"\x01" + scaled
    return bits_buf if len(bits_buf) <= raw_len else b"\x02" + a.tobytes()


def f32_decode(buf: bytes | memoryview) -> np.ndarray:
    from gorilla_stream_spark.codecs import decode_array

    mv = memoryview(buf)
    mode = mv[0]
    if mode == 0:
        ints = decode_array(mv[1:])
        return ints.astype(np.int32).view(np.float32)
    if mode == 2:
        body = mv[1:]
        if len(body) % 4:
            raise ValueError(f"f32 raw body length {len(body)} not a multiple of 4")
        # copy: frombuffer over a bytes slice is read-only (and offset-1
        # unaligned); modes 0/1 return fresh writable arrays, so mode 2
        # must too or in-place consumers crash data-dependently
        out = np.frombuffer(body, dtype="<f4").copy()
        bitio.check_count(out.size)
        return out
    if mode != 1:
        raise ValueError(f"unknown f32 mode {mode}")
    n, k, zlen = struct.unpack_from("<IBI", mv, 1)
    bitio.check_count(n)
    if n == 0:
        return np.empty(0, dtype=np.float32)
    zidx = decode_array(mv[10 : 10 + zlen])
    ints = decode_array(mv[10 + zlen :])
    if ints.size != n:
        raise ValueError(f"f32scaled inner count {ints.size} != header count {n}")
    out = (ints.astype(np.float64) / (10.0**k)).astype(np.float32)
    if zidx.size:
        if zidx.min() < 0 or zidx.max() >= n:
            raise ValueError("f32scaled neg-zero index out of range")
        out[zidx] = np.float32(-0.0)
    return out


# ---------------------------------------------------------------------------
# Lossy vector-storage codecs (opt-in): per-vector int8 affine quantization
# and fp16 truncation.  Reference precedent for lossy-given-N storage is the
# decimal quantization helper (/root/reference/lib/gorilla_stream/
# enhancements.ex:19-28); these are its embedding-storage analogs.  The
# quantization rule is pure IEEE double arithmetic (abs/max/divide/
# round-half-away) so codes are engine-reproducible (DuckDB recomputes them
# bit-for-bit from the source floats).
# ---------------------------------------------------------------------------


def _round_half_away(v: np.ndarray) -> np.ndarray:
    """SQL-round semantics (half away from zero) — numpy's np.round is
    half-to-even and would disagree with Spark/DuckDB on exact .5."""
    return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5))


def veci8_encode(flat: np.ndarray, lens: np.ndarray) -> bytes:
    """Body: [n_vecs u32][lens u32*n][scales f64*n][codes i8*total].

    Per vector: scale = max|x|/127 (f64); code = clip(round_half_away(
    x/scale), -127, 127) as int8.  Zero vectors get scale 0 / codes 0.
    Self-describing (lens ride the buffer), so ``decode_array`` needs no
    manifest.
    """
    flat = np.ascontiguousarray(flat, dtype=np.float32).astype(np.float64)
    lens = np.asarray(lens, dtype=np.int64)
    n = int(lens.size)
    bitio.check_count(flat.size)
    if flat.size and not np.isfinite(flat).all():
        # mirror scaledf_try_encode's isfinite gate: a NaN/Inf component
        # would poison the per-vector scale and silently decode the whole
        # vector as NaN — validate_vectors is the upstream cleaning path
        raise ValueError("veci8: non-finite component (gate with validate_vectors)")
    if int(lens.sum()) != flat.size:
        raise ValueError("veci8: lens sum != value count")
    starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.intp)
    scales = np.zeros(n, dtype=np.float64)
    nz = lens > 0
    if flat.size and nz.any():
        # reduce only non-empty segments: a zero-length vector's start can
        # equal flat.size (out of bounds for reduceat), and consecutive
        # non-empty starts are exact segment boundaries since empty
        # segments occupy no elements
        maxabs = np.maximum.reduceat(np.abs(flat), starts[nz])
        scales[nz] = maxabs / 127.0
    codes = np.zeros(flat.size, dtype=np.int8)
    nz = scales > 0
    if nz.any():
        per_val_scale = np.repeat(scales, lens)
        with np.errstate(divide="ignore", invalid="ignore"):
            q = _round_half_away(np.where(per_val_scale > 0, flat / per_val_scale, 0.0))
        codes = np.clip(q, -127, 127).astype(np.int8)
    head = struct.pack("<I", n)
    return (
        head
        + lens.astype("<u4").tobytes()
        + scales.astype("<f8").tobytes()
        + codes.tobytes()
    )


def veci8_parse(buf: bytes | memoryview):
    """(lens:int64[n], scales:f64[n], codes:int8[total]) from a veci8 body."""
    mv = memoryview(buf)
    (n,) = struct.unpack_from("<I", mv, 0)
    bitio.check_count(n)
    off = 4
    lens = np.frombuffer(mv, dtype="<u4", count=n, offset=off).astype(np.int64)
    off += 4 * n
    scales = np.frombuffer(mv, dtype="<f8", count=n, offset=off)
    off += 8 * n
    total = int(lens.sum())
    bitio.check_count(total)
    codes = np.frombuffer(mv, dtype=np.int8, count=total, offset=off)
    if len(mv) != off + total:
        raise ValueError(
            f"veci8 length mismatch: buffer {len(mv)} != declared {off + total}"
        )
    return lens, scales, codes


def veci8_decode(buf: bytes | memoryview) -> np.ndarray:
    """Dequantize to float32: f32(code * scale) per value."""
    lens, scales, codes = veci8_parse(buf)
    per_val_scale = np.repeat(scales, lens)
    return (codes.astype(np.float64) * per_val_scale).astype(np.float32)


def vecf16_encode(flat: np.ndarray) -> bytes:
    """Body: raw little-endian float16 truncation of the float32 values."""
    flat = np.ascontiguousarray(flat, dtype=np.float32)
    bitio.check_count(flat.size)
    return flat.astype("<f2").tobytes()


def vecf16_decode(buf: bytes | memoryview) -> np.ndarray:
    """float16 -> float32 (exact widening)."""
    mv = memoryview(buf)
    if len(mv) % 2:
        raise ValueError("vecf16 buffer length must be even")
    return np.frombuffer(mv, dtype="<f2").astype(np.float32)
