"""Reference ``.gorilla`` wire-format codec — import/export interop.

Byte-for-byte compatible with awksedgreep/gorilla_stream's pure-Elixir
encoder, so a user migrating from the reference can read their existing
blocks here and write blocks the reference decodes.  Format provenance
(all ``/root/reference/lib/gorilla_stream/...``):

- outer header v1 (80 B) / v2 (84 B) incl. magic/crc32/flags:
  ``compression/encoder/metadata.ex:55-125``
- inner header (32 B): ``compression/encoder/bit_packing.ex:74-102``
- timestamp delta-of-delta prefix codes (0 / 10+7 / 110+9 / 1110+12 /
  1111+32, signed two's-complement payloads):
  ``compression/encoder/delta_encoding.ex:27-111``
- value XOR stream: ``compression/encoder/value_compression.ex:30-166``
- VictoriaMetrics-style preprocessing (decimal scaling + counter delta):
  ``compression/enhancements.ex`` + flags ``encoder/metadata.ex:96-99``
- decoder semantics (incl. checksum-mismatch tolerance):
  ``compression/decoder/metadata.ex:29-53``, ``decoder/delta_decoding.ex``,
  ``decoder/value_decompression.ex``
- ``term_to_binary`` file envelope: ``file.ex:31-38``

Two reference quirks are reproduced deliberately (bug-for-bug wire parity):

1. The Elixir XOR encoder's "new window" ('11') branch is dead code: the
   control window starts at (0 leading, 0 trailing), the '10' reuse branch
   never updates it, and the reuse condition (lead>=0, trail>=0,
   meaningful>0) always holds for a non-zero XOR — so every changed value
   is emitted as ``'10' + full 64 XOR bits`` and every repeat as ``'0'``
   (``value_compression.ex:82-118``).  Export emits exactly that; import
   fast-paths it and falls back to the faithful general decoder (window
   updates, '11' codes), one bit-serial walk over the packed bytes, for
   streams from other writers.  The Chimp/Chimp128 decoder walks the
   same packed bytes.
2. The DoD bucket upper bounds (+64, +256, +2048) don't fit their signed
   payload widths: the reference encodes the low bits and its decoder
   sign-extends, so a delta-of-delta of exactly +64 round-trips as -64
   (``delta_encoding.ex:95-98`` vs ``delta_decoding.ex:147-149``).  We
   encode identically (identical bytes); decode mirrors the reference.

One documented import deviation: the reference decoder reads the first
timestamp as *unsigned* 64-bit, so negative timestamps round-trip as huge
positives there; we interpret the same bits as signed int64 (bytes are
identical either way — only the import of pre-epoch data differs, in our
favor).
"""

from __future__ import annotations

import struct
import zlib
from functools import partial

import numpy as np

from gorilla_stream_spark.codecs import bitio

__all__ = [
    "MAGIC",
    "VERSION",
    "encode_points",
    "decode_points",
    "read_timerange_wire",
    "wire_info",
    "etf_encode",
    "etf_decode",
    "Atom",
    "write_gorilla_file",
    "read_gorilla_file",
]

MAGIC = 0x474F52494C4C41  # "GORILLA" (metadata.ex:18)
VERSION = 1
_U64 = np.uint64
_MASK64 = (1 << 64) - 1
_W64 = np.array([64], dtype=np.int64)
_MASK88 = (1 << 88) - 1
_MASK96 = (1 << 96) - 1

# outer header v1: magic, version, header_size, count, compressed_size,
# original_size, checksum, first_timestamp, first_delta(signed),
# first_value_bits, ts_bit_len, val_bit_len, total_bits, ratio(f64),
# creation_time, flags  — all big-endian (metadata.ex:101-119)
_OUTER = struct.Struct(">QHHIIIIQiQIIIdQI")
assert _OUTER.size == 80
# inner header: count, first_timestamp, first_value_bits,
# first_delta(signed), ts_bit_len, val_bit_len (bit_packing.ex:90-102)
_INNER = struct.Struct(">IQQiII")
assert _INNER.size == 32

_FLAG_VM = 0x1
_FLAG_COUNTER = 0x2
# value-stream algorithm flags (NIF wire extension, gorilla_nif.cpp:1073-1080;
# decoder dispatch :1417-1424 checks 0x8 before 0x4, mirrored here)
_FLAG_CHIMP = 0x4
_FLAG_CHIMP128 = 0x8


# ---------------------------------------------------------------------------
# Delta-of-delta field construction (delta_encoding.ex:69-111; the
# first-delta codes :69-87 use the identical bucket scheme)
# ---------------------------------------------------------------------------


def _dod_fields(d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Fused (prefix | payload) field per delta-of-delta -> (vals, widths)."""
    d = d.astype(np.int64, copy=False)
    u = d.view(np.uint64)
    c0 = d == 0
    c1 = (~c0) & (d >= -63) & (d <= 64)
    c2 = (~c0) & (~c1) & (d >= -255) & (d <= 256)
    c3 = (~c0) & (~c1) & (~c2) & (d >= -2047) & (d <= 2048)
    widths = np.select([c0, c1, c2, c3], [1, 9, 12, 16], default=36).astype(np.int64)
    vals = np.select(
        [c0, c1, c2, c3],
        [
            np.uint64(0),
            (np.uint64(0b10) << np.uint64(7)) | (u & np.uint64(0x7F)),
            (np.uint64(0b110) << np.uint64(9)) | (u & np.uint64(0x1FF)),
            (np.uint64(0b1110) << np.uint64(12)) | (u & np.uint64(0xFFF)),
        ],
        default=(np.uint64(0b1111) << np.uint64(32)) | (u & np.uint64(0xFFFFFFFF)),
    )
    return vals, widths


# Bits per decode window: a window walk holds O(SCAN_WINDOW) scratch (bits,
# prefixes, prefix counts, and int64 chains over the window's set bits; at
# most ~50 B per bit, ~3 MB) on top of the O(points) outputs, never a
# per-bit table over the whole stream.
SCAN_WINDOW = 8 * bitio.SCAN_BYTES

# 4-bit prefix b0b1b2b3 at a code start -> code length / DoD class
# ('0', '10'+7, '110'+9, '1110'+12, '1111'+32; a canonical value code is
# '0' or '10'+64)
_DOD_CODE_LEN = np.array([1] * 8 + [9] * 4 + [12] * 2 + [16, 36], dtype=np.int32)
_DOD_CLASS = np.array([0] * 8 + [1] * 4 + [2] * 2 + [3, 4], dtype=np.int8)
_DOD_PAYLOADS = ((1, 2, 7), (2, 3, 9), (3, 4, 12), (4, 4, 32))  # (class, prefix, width)
_VALUE_CODE_LEN = np.array([1] * 8 + [66] * 8, dtype=np.int32)


def _chain_positions(
    J: np.ndarray, start: int, count: int, bound: int | None = None
) -> np.ndarray:
    """First ``count`` chain nodes of p -> J[p] from ``start`` (pointer
    doubling: log2(count) vectorized gathers, no per-code Python loop).
    With ``bound``, stops early once the chain has reached ``bound``."""
    if count <= 0:
        return np.empty(0, dtype=np.int64)
    P = np.array([start], dtype=np.int64)
    Jk = J
    while P.size < count:
        P = np.concatenate([P, Jk[P]])
        if P.size >= count or (bound is not None and P[-1] >= bound):
            break
        Jk = Jk[Jk]
    return P[:count]


def _code_windows(datab, base: int, pos: int, end: int, count: int, code_len: np.ndarray):
    """Walk ``count`` consecutive prefix codes from stream bit ``pos``, one
    :data:`SCAN_WINDOW` of bits at a time, for grammars whose only one-bit
    code is '0'.

    Yields ``(starts, heads)`` per window: the stream positions of the codes
    that start in it and their 4-bit prefixes (bits at or past ``end`` read
    as 0); ``code_len[head]`` is a code's length.  Codes that start on a
    set bit are chained by pointer doubling over the window's set bits
    (after such a code, '0' codes run up to the next set bit); the '0'
    codes between them fill in the node list.  Yields ``None`` and stops if
    the codes do not fit before ``end``.  ``base`` is the stream's first
    bit in the packed bytes ``datab``.
    """
    while count > 0:
        W = min(SCAN_WINDOW, end - pos)
        if W <= 0:
            yield None
            return
        a = base + pos
        raw = np.unpackbits(datab[a >> 3 : ((a + W + 2) >> 3) + 1])
        b = np.zeros(W + 3, dtype=np.uint8)
        seg = raw[a & 7 : (a & 7) + min(W + 3, end - pos)]
        b[: seg.size] = seg
        head = (b[:W] << 3) | (b[1 : W + 1] << 2) | (b[2 : W + 2] << 1) | b[3:]
        S = np.flatnonzero(b[:W])
        if S.size:
            LS = code_len[head[S]]
            # after a set-bit-headed code, '0' codes run to the next set bit:
            # J[i] = index in S of the first set bit at or past S[i] + LS[i]
            before = np.zeros(W + 1, dtype=np.int32)
            np.cumsum(b[:W], dtype=np.int32, out=before[1:])
            J = np.empty(S.size + 1, dtype=np.int64)
            J[:-1] = before[np.minimum(S + LS, W)]
            J[-1] = S.size
            T = _chain_positions(J, 0, S.size, bound=S.size)
            T = T[T < S.size]
            ST, LT = S[T], LS[T].astype(np.int64)
            # node index of each set-bit-headed code: its bit position less
            # the interior bits of the codes before it
            at = ST.copy()
            at[1:] -= np.cumsum(LT[:-1] - 1)
            total = int(at[-1]) + 1 + max(0, W - int(ST[-1] + LT[-1]))
            steps = np.ones(min(total, count), dtype=np.int64)
            keep = at < steps.size
            steps[at[keep]] = LT[keep]
            P = np.zeros(steps.size, dtype=np.int64)
            np.cumsum(steps[:-1], out=P[1:])
        else:
            P = np.arange(min(W, count), dtype=np.int64)
        heads = head[P]
        nxt = int(P[-1]) + int(code_len[heads[-1]])
        if pos + nxt > end:
            yield None
            return
        yield pos + P, heads
        pos += nxt
        count -= P.size


def _decode_dod_stream(datab: np.ndarray, start: int, end: int, out: np.ndarray) -> None:
    """Decode ``out.size`` DoD prefix codes from bit ``start`` of the packed
    bytes into ``out`` (int64, zeroed: '0' codes are not written); the
    codes must end by bit ``end``."""
    k = 0
    for win in _code_windows(datab, 0, start, end, out.size, _DOD_CODE_LEN):
        if win is None:
            raise ValueError("gorilla wire: timestamp bitstream truncated")
        P, heads = win
        seg = out[k : k + P.size]
        if heads.any():
            cls = _DOD_CLASS[heads]
            for c, plen, w in _DOD_PAYLOADS:
                m = np.flatnonzero(cls == c)
                if m.size:
                    seg[m] = bitio.sign_extend(bitio.gather(datab, P[m] + plen, w), w)
        k += P.size


# ---------------------------------------------------------------------------
# Chimp / Chimp128 value streams (VLDB 2022; NIF wire extension).
# Format provenance: encoders ``gorilla_nif.cpp:450-519`` (Chimp) and
# ``:590-713`` (Chimp128), flag tables ``:424-448``, decoders ``:522-575``
# and ``:716-777``.  Both ride the same block substrate (inner/outer
# headers, ts stream) with outer-header flags 0x4 / 0x8 selecting the
# value decoder.
# ---------------------------------------------------------------------------

# leading-zero-count -> 3-bit bucket code / rounded-down boundary
# (gorilla_nif.cpp:424-448); decode table is _CHIMP_DECODE[code]
_CHIMP_REPR = np.array(
    [0] * 8 + [1] * 4 + [2] * 4 + [3] * 2 + [4] * 2 + [5] * 2 + [6] * 2 + [7] * 41,
    np.int64,
)
_CHIMP_ROUND = np.array(
    [0] * 8 + [8] * 4 + [12] * 4 + [16] * 2 + [18] * 2 + [20] * 2 + [22] * 2 + [24] * 41,
    np.int64,
)
_CHIMP_DECODE = (0, 8, 12, 16, 18, 20, 22, 24)
_CHIMP128_N = 128
_CHIMP128_LOG2N = 7
_CHIMP128_THRESHOLD = 13  # 6 + log2(128)
_CHIMP128_HASH_MASK = np.uint64((1 << (_CHIMP128_THRESHOLD + 1)) - 1)


def _interleave_fields(
    hdr_v: np.ndarray, hdr_w: np.ndarray, pay_v: np.ndarray, pay_w: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(header, payload) per element -> flat field arrays for bitio.FieldPacker
    (zero-width payloads are dropped there)."""
    n = hdr_v.size
    fv = np.empty(2 * n, dtype=np.uint64)
    fw = np.empty(2 * n, dtype=np.int64)
    fv[0::2], fv[1::2] = hdr_v, pay_v
    fw[0::2], fw[1::2] = hdr_w, pay_w
    return fv, fw


def _stored_leading_prev(reset: np.ndarray, rnd: np.ndarray) -> np.ndarray:
    """stored_leading visible to each element, vectorized.

    The C++ state machine (gorilla_nif.cpp:468-512) is a scan, but its
    fixpoint is closed-form: after a non-reset element the stored leading
    is ALWAYS round(leading) — flag 11 sets it to round(leading) directly,
    and flag 10 requires leading == stored, where stored is a bucket
    boundary and round() is idempotent on boundaries, so keeping it equals
    round(leading) too.  Hence element i sees 65 if i-1 reset (or i is
    first), else round(leading[i-1]).
    """
    prev_reset = np.concatenate(([True], reset[:-1]))
    prev_rnd = np.concatenate(([0], rnd[:-1]))
    return np.where(prev_reset, 65, prev_rnd)


def _chimp_fields(vb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Chimp value fields for values[1:] -> (vals, widths)
    (gorilla_nif.cpp:450-519).  First value's 64 bits are the caller's."""
    x = vb[1:] ^ vb[:-1]
    lead = bitio.clz64(x)
    trail = bitio.ctz64(x)
    zero = x == 0
    f01 = (~zero) & (trail > 6)
    rep = _CHIMP_REPR[np.minimum(lead, 64)]
    rnd = _CHIMP_ROUND[np.minimum(lead, 64)]
    prev_stored = _stored_leading_prev(zero | f01, rnd)
    f10 = (~zero) & (~f01) & (lead == prev_stored)
    # DELIBERATE encode-side deviation: the NIF encoder writes
    # ``significant = 64 - leading - trailing`` with the UNROUNDED leading
    # (gorilla_nif.cpp:483-486) while its decoder recovers ``trailing`` from
    # the bucket-ROUNDED leading (:544-548) — any flag-01 XOR whose leading
    # count is off a bucket boundary mis-decodes in the reference itself
    # (dead code there: lib/ never wires ``algorithm: :chimp`` to the NIF).
    # We compute significant from the rounded leading (the Chimp paper's
    # convention), so our blocks reconstruct exactly under BOTH decoders;
    # bytes match the NIF encoder whenever leading == round(leading).
    sig = 64 - rnd - trail  # 1..57 under f01 (trail>6)
    hdr_w = np.select([zero, f01, f10], [2, 11, 2], default=5)
    hdr_v = np.select(
        [zero, f01, f10],
        [0, (1 << 9) | (rep << 6) | sig, 2],
        default=(0b11 << 3) | rep,
    ).astype(np.uint64)
    pay_w = np.select([zero, f01, f10], [0, sig, 64 - prev_stored], default=64 - rnd)
    # shift counts clamped to 63: trail==64 only where x==0, never selected
    pay_v = np.where(f01, x >> np.minimum(trail, 63).astype(np.uint64), x)
    pay_v = np.where(zero, np.uint64(0), pay_v)
    return _interleave_fields(hdr_v, hdr_w, pay_v, pay_w)


def _chimp128_candidates(vb: np.ndarray) -> np.ndarray:
    """Per element: index of the last previous value sharing its low-14-bit
    hash key, or -1 — exactly the NIF's single-slot hash table semantics
    (most recent insertion wins, gorilla_nif.cpp:607-643,705-709)."""
    n = vb.size
    key = (vb & _CHIMP128_HASH_MASK).astype(np.uint64)
    order = np.argsort(key, kind="stable")
    ks = key[order]
    prev = np.full(n, -1, dtype=np.int64)
    same = ks[1:] == ks[:-1]
    prev[order[1:][same]] = order[:-1][same]
    return prev


def _chimp128_fields(vb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Chimp128 value fields for values[1:] (gorilla_nif.cpp:590-713)."""
    n = vb.size
    ji = _chimp128_candidates(vb)[1:]
    ii = np.arange(1, n, dtype=np.int64)
    in_window = (ji >= 0) & (ii - ji <= _CHIMP128_N)
    xr = np.where(in_window, vb[1:] ^ vb[np.maximum(ji, 0)], np.uint64(0))
    xp = vb[1:] ^ vb[:-1]
    tr_ring = bitio.ctz64(xr)  # 64 when xr == 0, matching the NIF's convention
    tr_prev = bitio.ctz64(xp)
    use_ring = in_window & (tr_ring >= tr_prev)
    ring_f00 = use_ring & (xr == 0)
    ring_f01 = use_ring & (xr != 0) & (tr_ring > _CHIMP128_THRESHOLD)
    # ring candidate that doesn't strip enough falls back to the previous
    # value (the NIF's goto use_prev)
    prev_path = ~(ring_f00 | ring_f01)
    p_f00 = prev_path & (xp == 0)
    lead_p = bitio.clz64(xp)
    rep_p = _CHIMP_REPR[np.minimum(lead_p, 64)]
    rnd_p = _CHIMP_ROUND[np.minimum(lead_p, 64)]
    prev_stored = _stored_leading_prev(ring_f00 | ring_f01 | p_f00, rnd_p)
    f10 = prev_path & (xp != 0) & (lead_p == prev_stored)
    f11 = prev_path & (xp != 0) & (~f10)
    lead_r = bitio.clz64(xr)
    rnd_r = _CHIMP_ROUND[np.minimum(lead_r, 64)]
    # rounded-leading significant count — same deliberate deviation as
    # _chimp_fields (the NIF's unrounded count mis-decodes off-boundary
    # leads, gorilla_nif.cpp:658-666 vs :745-749)
    sig_r = 64 - rnd_r - tr_ring  # 1..50 under ring_f01 (trail > 13)
    rep_r = _CHIMP_REPR[np.minimum(lead_r, 64)]
    idx00 = np.where(ring_f00, ji % _CHIMP128_N, (ii - 1) % _CHIMP128_N)
    f00 = ring_f00 | p_f00
    hdr_w = np.select([f00, ring_f01, f10], [9, 18, 2], default=5)
    hdr_v = np.select(
        [f00, ring_f01, f10],
        [
            idx00,  # (0b00 << 7) | idx
            ((((1 << 7) | (ji % _CHIMP128_N)) << 3 | rep_r) << 6) | sig_r,
            2,
        ],
        default=(0b11 << 3) | rep_p,
    ).astype(np.uint64)
    pay_w = np.select([f00, ring_f01, f10], [0, sig_r, 64 - prev_stored], default=64 - rnd_p)
    # shift counts clamped to 63: tr_ring==64 only where xr==0, never selected
    pay_v = np.select(
        [f00, ring_f01],
        [np.uint64(0), xr >> np.minimum(tr_ring, 63).astype(np.uint64)],
        default=xp,
    )
    return _interleave_fields(hdr_v, hdr_w, pay_v, pay_w)


def _decode_values_chimp(
    datab: np.ndarray, base: int, V: int, count: int, first_bits: int, log2n: int, name: str
) -> np.ndarray:
    """Faithful Chimp_N value decoder (gorilla_nif.cpp:522-575 for Chimp,
    :716-777 for Chimp128) over the ``V`` bits from bit ``base`` of the
    packed bytes.  Chimp128 keeps a ring of the previous 2**``log2n``
    values (``[first, 0, 0, ...]`` at the start, as in the NIF); Chimp is
    the one-value ring (``log2n`` 0): its candidate is always the previous
    value and its ring indexes take no bits.

    Each step is one 96-bit window read at the walk's bit (the longest
    code, '01' + 7 + 3 + 6 + 64 bits, fits at any bit offset) and takes one
    code, or for Chimp the run of '00' repeats the window opens with (at
    most 44).  Scratch is the O(count) output and one copy of the stream's
    bytes.
    """
    truncated = f"gorilla wire: {name} value bitstream truncated"
    data = datab[base >> 3 : (base + V + 7) >> 3].tobytes() + bytes(12)
    p, end = (base & 7) + 64, (base & 7) + V
    nmask = (1 << log2n) - 1
    ring = [0] * (nmask + 1)
    ring[0] = prev = first_bits
    stored = 65  # stored leading zeros; > 64: no context for a '10' code
    out = np.empty(count, dtype=np.uint64)
    out[0] = first_bits
    i = 1
    while i < count:
        if p + 2 > end:
            raise ValueError(truncated)
        win = (int.from_bytes(data[p >> 3 : (p >> 3) + 12], "big") << (p & 7)) & _MASK96
        flag = win >> 94
        if flag == 0 and not log2n:  # Chimp: '00' repeats, up to the first set bit
            z = min((96 - win.bit_length()) >> 1, 44, (end - p) >> 1, count - i)
            out[i : i + z] = prev
            stored = 65
            p += 2 * z
            i += z
            continue
        if flag < 2:  # a ring value; '01' XORs a payload with trailing zeros
            new = ring[(win >> (94 - log2n)) & nmask]
            stored = 65
            if flag:
                q = 85 - log2n
                sig = (win >> q) & 63 or 64
                trail = max(64 - _CHIMP_DECODE[(win >> (q + 6)) & 7] - sig, 0)
                new ^= ((win >> (q - sig)) & ((1 << sig) - 1)) << trail
                p += 9 + sig
            p += 2 + log2n
        else:  # the previous value XOR 64 - stored bits; '11' first sets stored
            hdr = 2
            if flag == 3:
                stored = _CHIMP_DECODE[(win >> 91) & 7]
                hdr = 5
            elif stored > 64:
                raise ValueError(f"gorilla wire: {name} flag 10 without context")
            w = 64 - stored
            new = prev ^ ((win >> (96 - hdr - w)) & ((1 << w) - 1))
            p += hdr + w
        if p > end:
            raise ValueError(truncated)
        out[i] = ring[i & nmask] = prev = new
        i += 1
    return out


# ---------------------------------------------------------------------------
# VictoriaMetrics-style preprocessing (enhancements.ex)
# ---------------------------------------------------------------------------


def _detect_scale(vals: np.ndarray) -> int:
    """Max decimal digits across values, capped at 6 (enhancements.ex:36-51:
    decimal-string with 10 decimals, trailing zeros trimmed)."""
    best = 0
    for v in vals:
        s = f"{float(v):.10f}"
        frac = s.split(".", 1)[1].rstrip("0")
        best = max(best, len(frac))
        if best >= 6:
            return 6
    return best


from gorilla_stream_spark.codecs.floatcodecs import _round_half_away  # noqa: E402


def _vm_preprocess(
    vals: np.ndarray, is_counter: bool, scale_decimals
) -> tuple[np.ndarray, int]:
    if vals.size and not np.isfinite(vals).all():
        # %.10f of NaN/Inf has no fraction part and decimal scaling of
        # non-finite values is meaningless — fail loud (Erlang floats
        # cannot be NaN, so the reference never sees this input)
        raise ValueError("victoria_metrics scaling requires finite values")
    v = vals
    if is_counter:
        # first absolute, then diffs (enhancements.ex:57-63)
        v = np.concatenate([v[:1], np.diff(v)])
    n = _detect_scale(v) if scale_decimals == "auto" else int(scale_decimals)
    # + 0.0 normalizes -0.0: the reference goes through integers
    # (trunc(Float.round(v)) then * 1.0, enhancements.ex:26) and so always
    # emits +0.0 bits — negatives that round to zero must match byte-for-byte
    scaled = _round_half_away(v * (10.0**n)) + 0.0
    return scaled, n


def _vm_postprocess(vals: np.ndarray, flags: int, scale_decimals: int) -> np.ndarray:
    if not flags & _FLAG_VM:
        return vals
    if scale_decimals > 0:
        vals = vals / (10.0**scale_decimals)
    if flags & _FLAG_COUNTER:
        vals = np.cumsum(vals)
    return vals


# ---------------------------------------------------------------------------
# Block encode (byte-for-byte vs the reference's pure-Elixir path)
# ---------------------------------------------------------------------------


def encode_points(
    timestamps: np.ndarray,
    values: np.ndarray,
    *,
    victoria_metrics: bool = False,
    is_counter: bool = False,
    scale_decimals="auto",
    creation_time: int = 0,
    algorithm: str = "gorilla",
) -> bytes:
    """Encode one (timestamps, values) stream as a reference wire block.

    ``creation_time`` lands in the outer header verbatim (the reference
    stamps wall-clock seconds, metadata.ex:100; pass a fixed value for
    reproducible bytes).  Empty input -> empty binary (gorilla.ex:74-75).
    ``is_counter`` only applies under ``victoria_metrics=True``, exactly
    like the reference pipeline (gorilla/encoder.ex:92-103).
    ``algorithm`` selects the value stream: ``"gorilla"`` (default,
    byte-for-byte vs the pure-Elixir path), ``"chimp"`` or ``"chimp128"``
    (the NIF wire extension, flags 0x4/0x8, gorilla_nif.cpp:1073-1080).
    """
    ts = np.ascontiguousarray(timestamps, dtype=np.int64)
    vals = np.ascontiguousarray(values, dtype=np.float64)
    n = ts.size
    if vals.size != n:
        raise ValueError("timestamp/value counts must match")  # bit_packing.ex:30
    bitio.check_count(n)  # decode_points refuses larger blocks
    if n == 0:
        return b""
    if algorithm not in ("gorilla", "chimp", "chimp128"):
        raise ValueError(f"unknown algorithm {algorithm!r}")

    if victoria_metrics:
        pre, scale_n = _vm_preprocess(vals, is_counter, scale_decimals)
        flags = _FLAG_VM | (_FLAG_COUNTER if is_counter else 0)
        emit_v2 = True
    else:
        pre, scale_n, flags, emit_v2 = vals, 0, 0, False
    if algorithm == "chimp":
        flags |= _FLAG_CHIMP
    elif algorithm == "chimp128":
        flags |= _FLAG_CHIMP128

    # --- timestamp fields: first::64, first_delta code, DoD codes ---
    # The 32-byte inner header is whole words, so the streams after it are
    # packed on their own and the header is prepended.
    packer = bitio.FieldPacker()
    tsu = ts.view(np.uint64)
    packer.add(tsu[:1], _W64)
    first_delta = 0
    if n >= 2:
        deltas = np.diff(ts)
        first_delta = int(deltas[0])
        packer.add(*_dod_fields(deltas[:1]))
        for a in range(1, n - 1, bitio.PACK_CHUNK):
            packer.add(*_dod_fields(np.diff(deltas[a - 1 : a + bitio.PACK_CHUNK])))
        del deltas
    ts_bit_len = packer.nbits

    # --- value fields: first::64 then the per-algorithm stream ---
    # gorilla: '0' / '10'+xor64 (see module doc); chimp/chimp128: 2-bit
    # flags per the NIF tables
    vb = pre.view(np.uint64)
    packer.add(vb[:1], _W64)
    if n >= 2:
        if algorithm == "chimp":
            packer.add(*_chimp_fields(vb))
        elif algorithm == "chimp128":
            packer.add(*_chimp128_fields(vb))
        else:
            for a in range(1, n, bitio.PACK_CHUNK):
                b = min(a + bitio.PACK_CHUNK, n)
                x = vb[a:b] ^ vb[a - 1 : b - 1]
                nz = x != 0
                ctrl = nz.astype(np.uint64) << np.uint64(1)
                packer.add(*_interleave_fields(ctrl, 1 + nz, x, 64 * nz))
    val_bit_len = packer.nbits - ts_bit_len
    body = packer.finish()

    first_value_bits = int(vb[0])
    # first_delta::32-signed truncates to the low 32 bits (bit_packing.ex:99)
    fd32 = ((first_delta + (1 << 31)) & 0xFFFFFFFF) - (1 << 31)
    inner = _INNER.pack(
        n, int(tsu[0]), first_value_bits, fd32, ts_bit_len, val_bit_len
    )
    compressed_size = len(inner) + len(body)
    original_size = n * 16  # metadata.ex:140-144
    ratio = compressed_size / original_size
    outer = _OUTER.pack(
        MAGIC,
        VERSION,
        84 if emit_v2 else 80,
        n,
        compressed_size,
        original_size,
        zlib.crc32(body, zlib.crc32(inner)) & 0xFFFFFFFF,
        int(tsu[0]),
        fd32,
        first_value_bits,
        ts_bit_len,
        val_bit_len,
        compressed_size * 8,  # total_bits of the byte-padded payload
        ratio,
        int(creation_time) & _MASK64,
        flags,
    )
    scale = struct.pack(">I", scale_n) if emit_v2 else b""
    return b"".join((outer, scale, inner, body))


# ---------------------------------------------------------------------------
# Block decode
# ---------------------------------------------------------------------------


def _decode_values_general(
    datab: np.ndarray, base: int, V: int, count: int, first_bits: int
) -> np.ndarray:
    """Faithful general XOR decoder ('0'/'10'/'11' window codes,
    value_decompression.ex:124-210) for streams from writers other than the
    reference: the ``V`` bits from bit ``base`` of the packed bytes.

    One bit-serial walk, as in the Gorilla paper: a code's width is known
    once its control bits are read, so each step is one 88-bit window read
    at the walk's bit (the longest code, '11' + 5 + 6 + 64 bits, fits at
    any bit offset).  A step takes one '10' or '11' code, or the run of
    '0' codes the window opens with (at most 81 of them).  The XORs are
    folded once at the end; scratch is the O(count) output and one copy of
    the stream's bytes.
    """
    data = datab[base >> 3 : (base + V + 7) >> 3].tobytes() + bytes(11)
    p = base & 7
    end = p + V
    p += 64
    w, trail = 64, 0  # initial window: lead 0, trail 0 (decoder state)
    xors = np.zeros(count, dtype=np.uint64)
    xors[0] = first_bits
    i = 1
    while i < count:
        win = (int.from_bytes(data[p >> 3 : (p >> 3) + 11], "big") << (p & 7)) & _MASK88
        if not win >> 87:  # '0' codes, up to the window's first set bit
            z = min(88 - win.bit_length(), 81, count - i)
            p += z
            i += z
        elif not (win >> 86) & 1:  # '10' reuse window
            xors[i] = ((win >> (86 - w)) & ((1 << w) - 1)) << trail
            p += 2 + w
            i += 1
        else:  # '11' new window
            if p + 13 > end:
                break
            ml = ((win >> 75) & 63) + 1
            tr = 64 - ((win >> 81) & 31) - ml
            if tr < 0:
                raise ValueError("invalid trailing zeros calculation")
            xors[i] = ((win >> (75 - ml)) & ((1 << ml) - 1)) << tr
            w, trail = ml, tr
            p += 13 + ml
            i += 1
        if p > end:
            break
    else:
        return np.bitwise_xor.accumulate(xors, out=xors)
    raise ValueError("gorilla wire: value bitstream truncated")


_RUN_CAP = SCAN_WINDOW // 66  # '10' codes one run probe may read


def _decode_canonical_values(
    datab: np.ndarray, base: int, V: int, count: int, first_bits: int
) -> np.ndarray | None:
    """Values of a reference-canonical '0'/'10' stream (the ``V`` bits from
    bit ``base`` of the packed bytes), or None if the stream cannot be
    canonical ('11' codes present or inconsistent) — the caller then uses
    the general decoder.

    Exploits the stream grammar (first:64, then z 1-bit '0' codes and o
    66-bit '10' codes): 64 + z + 66*o = V and z + o = count-1 pin o
    exactly.  The walk is run-batched: consecutive '10' codes sit at a
    fixed 66-bit stride, so each iteration verifies up to :data:`_RUN_CAP`
    of a run with one 2-bit gather of their control bits, and each '0' run
    is skipped with one :func:`bitio.next_set_bit`; iterations scale with
    the number of RUNS, not values.  Streams of short runs switch to
    :func:`_code_windows`.  The k-th '10' at bit p is code p - 64 - 65k, so
    its payload lands straight in the XOR array: scratch is the O(count)
    output plus one window.
    """
    rem = V - 64 - (count - 1)
    if rem < 0 or rem % 65:
        return None
    o = rem // 65
    xors = np.zeros(count, dtype=np.uint64)
    xors[0] = np.uint64(first_bits)
    end = base + V
    found = 0
    q = 64
    zeros = 0
    batch = _RUN_CAP  # adapts to ~2x the observed run length (floor 64):
    # long-run streams probe whole runs at once, short-run streams stay
    # O(runs * 64) instead of O(runs * o) (quadratic on alternating data)
    iters = 0
    while found < o:
        iters += 1
        if iters >= 64 and found < 4 * iters:
            # short-run regime (near-alternating '0'/'10'): per-run Python
            # costs more than one windowed pointer-doubling walk over the
            # remainder (code length 1 + 65*bit covers both codes)
            remaining = (count - 1) - (zeros + found)
            for win in _code_windows(datab, base, q, V, remaining, _VALUE_CODE_LEN):
                if win is None:
                    return None
                P, heads = win
                tens = P[heads >= 8]
                if (heads >= 12).any():
                    return None  # second control bit 1 => '11' code
                k = found + np.arange(tens.size, dtype=np.int64)
                xors[1 + tens - 64 - 65 * k] = bitio.gather(datab, base + tens + 2, 64)
                found += tens.size
            if found != o:
                return None
            return np.bitwise_xor.accumulate(xors, out=xors)
        p = bitio.next_set_bit(datab, base + q, end)
        if p < 0:
            return None
        p -= base
        zeros += p - q
        if zeros + o > count - 1:
            return None  # too many '0' codes; keeps every XOR index <= count-1
        cand = p + 66 * np.arange(min(o - found, batch), dtype=np.int64)
        cand = cand[cand + 66 <= V]
        if cand.size == 0:
            return None
        ctrl = bitio.gather(datab, base + cand, 2)
        stop = int(np.argmax(ctrl < 2)) if (ctrl < 2).any() else cand.size
        if (ctrl[:stop] == 3).any():  # second control bit 1 => '11' code
            return None
        run = cand[:stop]  # ctrl[0] >= 2: p is a set bit, so stop >= 1
        k = found + np.arange(stop, dtype=np.int64)
        xors[1 + run - 64 - 65 * k] = bitio.gather(datab, base + run + 2, 64)
        found += stop
        q = int(run[-1]) + 66
        batch = max(64, min(2 * stop, _RUN_CAP))
    if bitio.next_set_bit(datab, base + q, end) >= 0:
        return None  # set bit inside the trailing all-'0'-codes region
    zeros += V - q
    if zeros + o != count - 1:
        return None
    return np.bitwise_xor.accumulate(xors, out=xors)


def decode_points(
    buf: bytes, *, strict: bool = True
) -> tuple[np.ndarray, np.ndarray, dict]:
    """Decode a reference wire block -> (ts int64, values float64, info).

    ``strict=False`` mirrors the reference's checksum tolerance
    (decoder/metadata.ex:41-44): a crc mismatch sets
    ``info['checksum_failed']`` instead of raising.
    """
    if len(buf) == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64), {"count": 0}
    if len(buf) < 80:
        raise ValueError("gorilla wire: buffer smaller than outer header")
    (
        magic,
        version,
        header_size,
        count,
        compressed_size,
        original_size,
        checksum,
        first_ts_u,
        first_delta,
        first_value_bits,
        ts_bit_len,
        val_bit_len,
        total_bits,
        ratio,
        creation_time,
        flags,
    ) = _OUTER.unpack_from(buf, 0)
    if magic != MAGIC:
        raise ValueError("gorilla wire: bad magic")
    if version > VERSION:
        raise ValueError(f"gorilla wire: unsupported version {version}")
    if header_size not in (80, 84):
        raise ValueError(f"gorilla wire: invalid header length {header_size}")
    scale_decimals = 0
    off = 80
    if header_size == 84:
        if len(buf) < 84:
            raise ValueError("gorilla wire: truncated v2 header")
        (scale_decimals,) = struct.unpack_from(">I", buf, 80)
        off = 84
    payload = memoryview(buf)[off : off + compressed_size]
    if len(payload) < compressed_size:
        raise ValueError("gorilla wire: truncated payload")
    info = {
        "version": version,
        "header_length": header_size,
        "count": count,
        "compressed_size": compressed_size,
        "original_size": original_size,
        "compression_ratio": ratio,
        "creation_time": creation_time,
        "flags": flags,
        "scale_decimals": scale_decimals,
        "algorithm": _algo_of(flags),
    }
    if zlib.crc32(payload) & 0xFFFFFFFF != checksum:
        if strict:
            raise ValueError("gorilla wire: checksum mismatch")
        info["checksum_failed"] = True
    if count == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64), info
    if len(payload) < 32:
        raise ValueError("gorilla wire: missing inner header")
    i_count, i_first_ts, i_first_vb, i_first_delta, i_ts_len, i_val_len = _INNER.unpack_from(
        payload, 0
    )
    # the reference decodes from the inner header (bit_packing.ex:136-199)
    count, ts_bit_len, val_bit_len = i_count, i_ts_len, i_val_len
    if count > bitio.MAX_COUNT or count < 1:
        # an empty series encodes to an empty buffer (handled above), so a
        # zero/negative inner count on a non-empty payload is corruption —
        # downstream first-value reads would IndexError instead
        raise ValueError(f"gorilla wire: implausible count {count}")
    need_bytes = (ts_bit_len + val_bit_len + 7) >> 3
    if len(payload) - 32 < need_bytes:
        raise ValueError("gorilla wire: payload shorter than declared bit lengths")
    datab = np.frombuffer(payload, dtype=np.uint8, count=need_bytes, offset=32)

    if ts_bit_len < 64:
        raise ValueError("gorilla wire: timestamp stream too short")
    if val_bit_len < 64:
        raise ValueError("gorilla wire: value stream too short")
    # every DoD code and every value code takes at least one bit, so the
    # declared bit lengths bound count before any O(count) allocation
    if count - 1 > ts_bit_len - 64:
        raise ValueError("gorilla wire: timestamp bitstream truncated")
    if count - 1 > val_bit_len - 64:
        raise ValueError("gorilla wire: value bitstream truncated")

    # --- timestamps ---
    first_ts = int(bitio.gather(datab, np.array([0]), 64)[0])
    first_ts = first_ts - (1 << 64) if first_ts >= (1 << 63) else first_ts  # signed read
    # ts[1:] holds the first-delta and DoD codes, then two in-place
    # prefix sums turn them into deltas and offsets from the first stamp
    ts = np.zeros(count, dtype=np.int64)
    if count > 1:
        _decode_dod_stream(datab, 64, ts_bit_len, ts[1:])
        np.cumsum(ts[1:], out=ts[1:])
        np.cumsum(ts, out=ts)
    ts += first_ts

    # --- values ---
    first_vb = int(bitio.gather(datab, np.array([ts_bit_len]), 64)[0])
    if count == 1:
        vbits = np.array([first_vb], dtype=np.uint64)
    elif flags & (_FLAG_CHIMP | _FLAG_CHIMP128):
        # NIF decoder checks 0x8 before 0x4 (gorilla_nif.cpp:1417-1424);
        # Chimp is Chimp_N with N = 1
        log2n = _CHIMP128_LOG2N if flags & _FLAG_CHIMP128 else 0
        vbits = _decode_values_chimp(
            datab, ts_bit_len, val_bit_len, count, first_vb, log2n, info["algorithm"]
        )
    else:
        # fast path: reference-canonical '0'/'10' stream (see module doc)
        vbits = _decode_canonical_values(datab, ts_bit_len, val_bit_len, count, first_vb)
        if vbits is None:
            # '11' codes present (non-reference writer) -> faithful
            # general decoder, a scalar walk over the same packed bytes
            vbits = _decode_values_general(datab, ts_bit_len, val_bit_len, count, first_vb)
    vals = np.ascontiguousarray(vbits).view(np.float64)
    vals = _vm_postprocess(vals, flags, scale_decimals)
    return ts, np.ascontiguousarray(vals, dtype=np.float64), info


def _algo_of(flags: int) -> str:
    """Value-stream algorithm from outer-header flags, NIF dispatch order
    (0x8 checked before 0x4, gorilla_nif.cpp:1417-1424)."""
    if flags & _FLAG_CHIMP128:
        return "chimp128"
    if flags & _FLAG_CHIMP:
        return "chimp"
    return "gorilla"


def wire_info(buf: bytes) -> dict:
    """Header-only inspection (decoder/metadata.ex get_header_info analog)."""
    if len(buf) < 80:
        raise ValueError("gorilla wire: buffer smaller than outer header")
    (
        magic, version, header_size, count, compressed_size, original_size,
        checksum, first_ts, _fd, _fvb, _tl, _vl, _tb, _ratio, _ct, flags,
    ) = _OUTER.unpack_from(buf, 0)
    if magic != MAGIC:
        raise ValueError("gorilla wire: bad magic")
    return {
        "version": version,
        "header_length": header_size,
        "count": count,
        "compressed_size": compressed_size,
        "original_size": original_size,
        "checksum": checksum,
        "first_timestamp": first_ts,
        "compression_ratio": compressed_size / original_size if original_size else 0.0,
        "flags": flags,
        "algorithm": _algo_of(flags),
    }


# ---------------------------------------------------------------------------
# Erlang External Term Format (subset) — the reference's file envelope is
# term_to_binary({file_metadata_map, compressed_binary}) (file.ex:38).
# Public spec: https://www.erlang.org/doc/apps/erts/erl_ext_dist.html
# ---------------------------------------------------------------------------


class Atom(str):
    """Marker type: an Erlang atom (Elixir map keys, :ok, DateTime fields)."""

    __slots__ = ()


def _etf_encode_term(t, out: bytearray) -> None:
    if t is None:
        t = Atom("nil")
    elif t is True:
        t = Atom("true")
    elif t is False:
        t = Atom("false")
    if isinstance(t, Atom):
        raw = t.encode("utf-8")
        if len(raw) > 255:
            raise ValueError("atom too long")
        out += bytes([119, len(raw)]) + raw  # SMALL_ATOM_UTF8_EXT
    elif isinstance(t, str):
        raw = t.encode("utf-8")  # Elixir strings are binaries
        out += b"\x6d" + struct.pack(">I", len(raw)) + raw  # BINARY_EXT
    elif isinstance(t, (bytes, bytearray)):
        out += b"\x6d" + struct.pack(">I", len(t)) + bytes(t)
    elif isinstance(t, bool):  # pragma: no cover - handled above
        raise AssertionError
    elif isinstance(t, int):
        if 0 <= t <= 255:
            out += bytes([97, t])  # SMALL_INTEGER_EXT
        elif -(1 << 31) <= t < (1 << 31):
            out += b"\x62" + struct.pack(">i", t)  # INTEGER_EXT
        else:
            mag = abs(t)
            nb = (mag.bit_length() + 7) // 8
            if nb > 255:
                raise ValueError("integer too large")
            out += bytes([110, nb, 1 if t < 0 else 0])  # SMALL_BIG_EXT
            out += mag.to_bytes(nb, "little")
    elif isinstance(t, float):
        out += b"\x46" + struct.pack(">d", t)  # NEW_FLOAT_EXT
    elif isinstance(t, tuple):
        if len(t) > 255:
            out += b"\x69" + struct.pack(">I", len(t))  # LARGE_TUPLE_EXT
        else:
            out += bytes([104, len(t)])  # SMALL_TUPLE_EXT
        for x in t:
            _etf_encode_term(x, out)
    elif isinstance(t, list):
        if not t:
            out += b"\x6a"  # NIL_EXT
        else:
            out += b"\x6c" + struct.pack(">I", len(t))  # LIST_EXT
            for x in t:
                _etf_encode_term(x, out)
            out += b"\x6a"
    elif isinstance(t, dict):
        out += b"\x74" + struct.pack(">I", len(t))  # MAP_EXT
        for k, v in t.items():
            _etf_encode_term(k, out)
            _etf_encode_term(v, out)
    else:
        raise TypeError(f"cannot ETF-encode {type(t)}")


def etf_encode(term) -> bytes:
    out = bytearray(b"\x83")
    _etf_encode_term(term, out)
    return bytes(out)


def _etf_decode_term(buf: memoryview, pos: int):
    tag = buf[pos]
    pos += 1
    if tag == 97:  # SMALL_INTEGER
        return buf[pos], pos + 1
    if tag == 98:  # INTEGER
        return struct.unpack_from(">i", buf, pos)[0], pos + 4
    if tag == 70:  # NEW_FLOAT
        return struct.unpack_from(">d", buf, pos)[0], pos + 8
    if tag in (100, 118):  # ATOM_EXT / ATOM_UTF8_EXT (u16 len)
        (ln,) = struct.unpack_from(">H", buf, pos)
        name = bytes(buf[pos + 2 : pos + 2 + ln]).decode("utf-8", "replace")
        return _atom_value(name), pos + 2 + ln
    if tag in (115, 119):  # SMALL_ATOM(_UTF8)_EXT (u8 len)
        ln = buf[pos]
        name = bytes(buf[pos + 1 : pos + 1 + ln]).decode("utf-8", "replace")
        return _atom_value(name), pos + 1 + ln
    if tag == 104:  # SMALL_TUPLE
        arity = buf[pos]
        pos += 1
        items = []
        for _ in range(arity):
            x, pos = _etf_decode_term(buf, pos)
            items.append(x)
        return tuple(items), pos
    if tag == 105:  # LARGE_TUPLE
        (arity,) = struct.unpack_from(">I", buf, pos)
        pos += 4
        items = []
        for _ in range(arity):
            x, pos = _etf_decode_term(buf, pos)
            items.append(x)
        return tuple(items), pos
    if tag == 109:  # BINARY
        (ln,) = struct.unpack_from(">I", buf, pos)
        return bytes(buf[pos + 4 : pos + 4 + ln]), pos + 4 + ln
    if tag == 106:  # NIL (empty list)
        return [], pos
    if tag == 107:  # STRING (list of bytes)
        (ln,) = struct.unpack_from(">H", buf, pos)
        return list(buf[pos + 2 : pos + 2 + ln]), pos + 2 + ln
    if tag == 108:  # LIST
        (ln,) = struct.unpack_from(">I", buf, pos)
        pos += 4
        items = []
        for _ in range(ln):
            x, pos = _etf_decode_term(buf, pos)
            items.append(x)
        tail, pos = _etf_decode_term(buf, pos)
        if tail not in ([],):  # improper list: keep the tail visible
            items.append(tail)
        return items, pos
    if tag in (110, 111):  # SMALL_BIG / LARGE_BIG
        if tag == 110:
            nb, sign = buf[pos], buf[pos + 1]
            pos += 2
        else:
            (nb,) = struct.unpack_from(">I", buf, pos)
            sign = buf[pos + 4]
            pos += 5
        mag = int.from_bytes(bytes(buf[pos : pos + nb]), "little")
        return (-mag if sign else mag), pos + nb
    if tag == 116:  # MAP
        (arity,) = struct.unpack_from(">I", buf, pos)
        pos += 4
        d = {}
        for _ in range(arity):
            k, pos = _etf_decode_term(buf, pos)
            v, pos = _etf_decode_term(buf, pos)
            d[k] = v
        return d, pos
    raise ValueError(f"unsupported ETF tag {tag}")


def _atom_value(name: str):
    if name == "nil":
        return None
    if name == "true":
        return True
    if name == "false":
        return False
    return Atom(name)


def etf_decode(buf: bytes):
    if not buf or buf[0] != 0x83:
        raise ValueError("not an ETF term (missing 131 version byte)")
    term, _pos = _etf_decode_term(memoryview(buf), 1)
    return term


def write_gorilla_file(
    path: str,
    timestamps: np.ndarray,
    values: np.ndarray,
    user_metadata: dict | None = None,
    compressed_at: int = 0,
    **encode_opts,
) -> dict:
    """Reference ``.gorilla`` file: ETF envelope around a wire block
    (file.ex:31-38).  ``compressed_at`` is written as integer epoch seconds
    (the reference writes a DateTime struct; both are opaque metadata to
    its reader)."""
    compressed = encode_points(timestamps, values, **encode_opts)
    meta = {
        Atom("version"): "1.0",
        Atom("compressed_at"): int(compressed_at),
        Atom("original_points"): int(np.asarray(timestamps).size),
        Atom("user_metadata"): user_metadata or {},
    }
    content = etf_encode((meta, compressed))
    with open(path, "wb") as f:
        f.write(content)
    return {
        "compressed_size": len(compressed),
        "file_size": len(content),
        "original_points": int(np.asarray(timestamps).size),
    }


def read_gorilla_file(path: str, *, strict: bool = True):
    """-> (timestamps, values, file_metadata) (file.ex:70-95)."""
    with open(path, "rb") as f:
        content = f.read()
    term = etf_decode(content)
    if not (isinstance(term, tuple) and len(term) == 2 and isinstance(term[1], bytes)):
        raise ValueError("invalid gorilla file format")
    meta, compressed = term
    ts, vals, _info = decode_points(compressed, strict=strict)
    return ts, vals, meta


# ---------------------------------------------------------------------------
# Spark operators — distributed wire-format encode/decode.  Same block
# loop as engine.encode_timeseries (engine.ts_blocks: range-partition +
# sort so blocks cover contiguous time ranges); each block is one
# reference-compatible binary, so an exported table is a directory a
# reference user can decode block-by-block with GorillaStream.decompress/1.
# ---------------------------------------------------------------------------


def encode_timeseries_wire(
    df,
    ts_col: str = "ts",
    val_col: str = "value",
    num_partitions: int | None = None,
    block_points: int = 5000,
    assume_sorted: bool = False,
    victoria_metrics: bool = False,
    is_counter: bool = False,
    algorithm: str = "gorilla",
):
    """Encode (ts, value) rows into reference wire blocks of ``block_points``
    points (5000 by default, the reference's chunking, stream.ex:42).

    ``algorithm`` selects the per-block value stream ("gorilla", "chimp",
    "chimp128" — see :func:`encode_points`); the decode side dispatches on
    the block's own header flags, so mixed-algorithm tables read fine.
    """
    from pyspark.sql.types import StructType

    from gorilla_stream_spark.engine import ts_blocks

    if algorithm not in ("gorilla", "chimp", "chimp128"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if not 1 <= block_points <= bitio.MAX_COUNT:
        raise ValueError(f"block_points must be in [1, {bitio.MAX_COUNT}], got {block_points}")

    def encode_block(ts: np.ndarray, vals: np.ndarray) -> dict:
        buf = encode_points(
            ts, vals, victoria_metrics=victoria_metrics, is_counter=is_counter, algorithm=algorithm
        )
        return {"enc_bytes": len(buf), "buffer": buf}

    return ts_blocks(
        df, ts_col, val_col, num_partitions, assume_sorted, block_points, encode_block,
        StructType.fromDDL(
            "block_id long, n_points long, enc_bytes long, ts_min long, ts_max long, buffer binary"
        ),
    )


def _decode_wire_block(buf: bytes, strict: bool = True) -> tuple[np.ndarray, np.ndarray]:
    ts, vals, _info = decode_points(buf, strict=strict)
    return ts, vals


def read_timerange_wire(enc_df, ts_lo: int, ts_hi: int, *, strict: bool = True):
    """Time-range read over wire blocks with manifest pruning.

    Same (ts_min, ts_max) min/max-stats pattern as the native table's
    ``engine.read_timerange`` — non-overlapping blocks are pruned before
    any reference-format buffer is parsed.
    """
    from gorilla_stream_spark.engine import ts_read_range

    return ts_read_range(enc_df, ts_lo, ts_hi, partial(decode_timeseries_wire, strict=strict))


def decode_timeseries_wire(enc_df, *, strict: bool = True):
    """Inverse of :func:`encode_timeseries_wire` -> (ts, value) rows."""
    from gorilla_stream_spark.engine import ts_decode

    return ts_decode(enc_df, ["buffer"], partial(_decode_wire_block, strict=strict))
