"""Per-block codec auto-selection from sampled value-distribution features.

Spark-first reimagining of the reference's compression-ratio estimator and
pattern analyzer (``/root/reference/lib/gorilla_stream/compression/gorilla/
encoder.ex:197-359``, ``lib/gorilla_stream/config.ex:26-172``): the reference
predicts Gorilla's size from the delta-bucket distribution to *advise*; we
compute the exact encoded size of every candidate codec from cheap features
(no trial encoding except FSST's sampled gain) and *pick the argmin*.  Lives
inside ``mapInPandas`` — data-dependent per partition, invisible to Catalyst
by design (SURVEY.md §4).
"""

from __future__ import annotations

import numpy as np

from gorilla_stream_spark.codecs import bitio, fsst, intcodecs

__all__ = ["features", "candidate_sizes", "select_codec"]

_FSST_SAMPLE = 16384  # < page_tokens so the trial never re-encodes a full page
_FSST_MIN_N = 1024


def _pack_size(n: int, width: int) -> int:
    return (n * width + 7) // 8


def features(a: np.ndarray) -> dict:
    """Cheap distribution features of one int64 array (hash-unique, no full
    sort)."""
    import pandas as pd

    n = int(a.size)
    if n == 0:
        return {"n": 0}
    vmin, vmax = int(a.min()), int(a.max())
    run_vals, run_lens = intcodecs._runs(a)
    vocab = np.sort(pd.unique(run_vals))  # unique of run heads == unique of a
    diffs = np.diff(a) if n > 1 else np.empty(0, dtype=np.int64)
    zz = bitio.zigzag(diffs)
    return {
        "n": n,
        "min": vmin,
        "max": vmax,
        "card": int(vocab.size),
        "n_runs": int(run_vals.size),
        "sorted": bool(n < 2 or (diffs >= 0).all()),
        "_vocab": vocab,
        "_run_vals": run_vals,
        "_run_lens": run_lens,
        "_zz": zz,
        "delta_width": bitio.max_bit_width(zz),
    }


def _delta_size_of(vals: np.ndarray) -> int:
    if vals.size == 0:
        return 13
    zz = bitio.zigzag(np.diff(vals))
    return 13 + _pack_size(vals.size - 1, bitio.max_bit_width(zz))


def candidate_sizes(
    a: np.ndarray,
    feats: dict | None = None,
    try_fsst: bool = True,
    cache: dict | None = None,
) -> dict[str, int]:
    """Exact encoded byte size per codec, computed from features only.

    When the FSST trial happens to cover the whole block, the encoded body
    is stashed in ``cache['fsst']`` so ``encode_array`` never re-encodes it.
    """
    f = feats or features(a)
    n = f["n"]
    if n == 0:
        return {"raw": 5}
    sizes: dict[str, int] = {}
    vrange = f["max"] - f["min"]
    # raw: minimal item size
    item = next(s for s, dt in ((1, np.int8), (2, np.int16), (4, np.int32), (8, np.int64))
                if f["min"] >= np.iinfo(dt).min and f["max"] <= np.iinfo(dt).max)
    sizes["raw"] = 5 + n * item
    sizes["for"] = 13 + _pack_size(n, bitio.bit_width(vrange))
    # classed FOR: residual width histogram -> exact classed-stream size
    resid = (a - f["min"]).view(np.uint64)
    sizes["forc"] = intcodecs.classed_size_from_widths(
        bitio.bit_widths(resid), header=12
    )
    # rle
    rv, rl = f["_run_vals"], f["_run_lens"]
    # python-int subtraction: numpy's scalar subtract wraps (and warns) on
    # int64-extreme inputs; the size estimate must use the exact range
    sizes["rle"] = (12 + intcodecs.for_encoded_size(rv.size, int(rv.max()) - int(rv.min()))
                    + intcodecs.for_encoded_size(rl.size, int(rl.max()) - int(rl.min())))
    # dict
    vocab = f["_vocab"]
    sizes["dict"] = 13 + _delta_size_of(vocab) + _pack_size(n, bitio.bit_width(vocab.size - 1))
    # delta
    sizes["delta"] = 13 + _pack_size(n - 1, f["delta_width"])
    # dod
    if n > 2:
        dod_zz = bitio.zigzag(np.diff(np.diff(a)))
        sizes["dod"] = intcodecs.classed_size_from_widths(
            bitio.bit_widths(dod_zz), header=20
        )
    # fsst: trial-encode a sample (cheap, bounded) and extrapolate
    if try_fsst and n >= _FSST_MIN_N and 0 <= f["min"] and f["max"] < 0xFFFFFFFF - 1:
        s = a[:_FSST_SAMPLE]
        body = fsst.fsst_encode(s)
        if s.size == n and cache is not None:
            cache["fsst"] = body  # trial covered the whole block — reuse it
        sizes["fsst"] = int(len(body) * (n / s.size)) if s.size else len(body)
    return sizes


_SAMPLE_THRESHOLD = 32768
_SAMPLE_CHUNK = 4096  # 3 contiguous chunks -> diffs/runs stay meaningful


def _extrapolate_card(card_s: int, ns: int, n: int) -> int:
    """Extrapolate sample cardinality to the block: a low-card vocabulary is
    fully visible in the sample (keep it); a high-card sample scales
    linearly (bounded by block size)."""
    return card_s if card_s < 0.25 * ns else min(n, int(card_s * (n / ns)))


def _sample_chunks(a: np.ndarray) -> np.ndarray:
    """Three contiguous chunks (head, middle, tail) — contiguity preserves
    run/delta structure; only 2 chunk-join values are junk."""
    n = a.size
    c = _SAMPLE_CHUNK
    mid = (n - c) // 2
    return np.concatenate([a[:c], a[mid : mid + c], a[n - c :]])


def sampled_sizes(
    a: np.ndarray,
    try_fsst: bool = True,
    feats: dict | None = None,
    cache: dict | None = None,
) -> dict[str, int]:
    """Approximate per-codec sizes from a ~12K-token contiguous sample.

    The reference's estimator is sampling-based too
    (``/root/reference/lib/gorilla_stream/compression/gorilla/
    encoder.ex:197-359`` predicts from distributions without encoding).
    min/max are exact (cheap full passes); counts extrapolate linearly;
    cardinality extrapolates only when the sample looks high-cardinality
    (low-card vocabularies are fully visible in the sample).
    """
    n = int(a.size)
    s = np.ascontiguousarray(_sample_chunks(a), dtype=np.int64)
    f = feats or features(s)
    ns = f["n"]
    scale = n / ns
    vmin, vmax = int(a.min()), int(a.max())  # exact; works on any int dtype
    sizes: dict[str, int] = {}
    item = next(
        sz
        for sz, dt in ((1, np.int8), (2, np.int16), (4, np.int32), (8, np.int64))
        if vmin >= np.iinfo(dt).min and vmax <= np.iinfo(dt).max
    )
    sizes["raw"] = 5 + n * item
    sizes["for"] = 13 + _pack_size(n, bitio.bit_width(vmax - vmin))
    # classed FOR from the sample's residual width distribution; overhead =
    # 12 frame + 8 classed header + 16 per-class counts (matches forc_encode)
    residw = bitio.bit_widths((s - vmin).view(np.uint64))
    forc_bits = intcodecs.classed_payload_bits(residw)
    sizes["forc"] = 36 + int((forc_bits + 2 * ns) / ns * n / 8)
    rv, rl = f["_run_vals"], f["_run_lens"]
    nruns = max(1, int(round(rv.size * scale)))
    sizes["rle"] = (
        12
        + intcodecs.for_encoded_size(nruns, int(rv.max()) - int(rv.min()))
        + intcodecs.for_encoded_size(nruns, int(rl.max()) - int(rl.min()))
    )
    card = _extrapolate_card(f["card"], ns, n)
    vocab_bytes = int(_delta_size_of(f["_vocab"]) * (card / max(f["card"], 1)))
    sizes["dict"] = 13 + vocab_bytes + _pack_size(n, bitio.bit_width(max(card - 1, 0)))
    sizes["delta"] = 13 + _pack_size(n - 1, f["delta_width"])
    if ns > 2:
        dod_zz = bitio.zigzag(np.diff(np.diff(s)))
        dod_bits = intcodecs.classed_payload_bits(bitio.bit_widths(dod_zz))
        bits_per_val = (dod_bits + 2 * dod_zz.size) / dod_zz.size
        sizes["dod"] = 44 + int(bits_per_val * (n - 2) / 8)
    if try_fsst and 0 <= vmin and vmax < 0xFFFFFFFF - 1:
        est = int(len(fsst.fsst_encode(s)) * scale)
        best_other = min(sizes.values())
        # sample extrapolation is noisy for a trained-table codec (bias
        # swings ~0.7-1.6x); when contested, pay ONE full-page trial and
        # keep the buffer — if fsst wins, encode_array reuses it instead
        # of encoding the same page a second time
        if 0.8 * best_other <= est <= 1.3 * best_other:
            body = fsst.fsst_encode(a)
            est = len(body)
            if cache is not None:
                cache["fsst"] = body
        sizes["fsst"] = est
    return sizes


def block_estimate(
    a: np.ndarray, try_fsst: bool = True, cache: dict | None = None
) -> tuple[dict, dict[str, int]]:
    """(features, candidate sizes) — exact below _SAMPLE_THRESHOLD, sampled
    above (selection only needs relative sizes; encode is always exact).

    Accepts int32 input without widening: above the threshold only the
    ~12K-token sample is copied to int64 (the estimate path keeps the
    Arrow child buffer zero-copy end to end).  The returned features carry
    block-level counts: in the sampled path card/n_runs are extrapolated
    here (single source of the heuristic) and ``n`` is the block size.
    """
    if a.size <= _SAMPLE_THRESHOLD:
        a64 = np.ascontiguousarray(a, dtype=np.int64)
        f = features(a64)
        return f, candidate_sizes(a64, feats=f, try_fsst=try_fsst, cache=cache)
    f = features(np.ascontiguousarray(_sample_chunks(a), dtype=np.int64))
    sizes = sampled_sizes(a, try_fsst=try_fsst, feats=f, cache=cache)
    n, ns = int(a.size), f["n"]
    card = _extrapolate_card(f["card"], ns, n)
    f = {**f, "n": n, "card": card, "n_runs": int(f["n_runs"] * (n / ns))}
    return f, sizes


_TIE_ORDER = {"raw": 0, "for": 1, "forc": 2, "rle": 3, "delta": 4, "dict": 5, "dod": 6, "fsst": 7}


def select_codec_cached(a: np.ndarray, try_fsst: bool = True) -> tuple[str, bytes | None]:
    """Argmin-size codec + the FSST trial body if one was fully encoded
    during selection (so the caller can emit it without re-encoding)."""
    cache: dict = {}
    _, sizes = block_estimate(a, try_fsst=try_fsst, cache=cache)
    # deterministic tie-break: cheapest decode first
    codec = min(sizes.items(), key=lambda kv: (kv[1], _TIE_ORDER[kv[0]]))[0]
    return codec, (cache.get("fsst") if codec == "fsst" else None)


def select_codec(a: np.ndarray, try_fsst: bool = True) -> str:
    """Argmin-size codec for an int64 array."""
    return select_codec_cached(a, try_fsst=try_fsst)[0]
