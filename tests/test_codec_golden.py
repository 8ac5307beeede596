"""Byte-identity gate for the bit-level codecs.

The float XOR codecs (gxor, xorlag, fauto), the classed integer codecs
(dod, forc, auto) and the reference wire format (gorilla, chimp, chimp128,
VictoriaMetrics mode) all write their bits through ``codecs/bitio.py``.
Their buffers over seeded inputs are pinned here by total length and a
sha256, so a change to how bits are laid out cannot move a single encoded
byte unnoticed.  Shapes cover smooth, noisy, periodic, constant and
heavy-tailed (Cauchy) series at sizes from empty to 20000 values.
"""

from __future__ import annotations

import hashlib

import numpy as np

from gorilla_stream_spark import gorilla_wire as gw
from gorilla_stream_spark.codecs import encode_array, encode_float_array, floatcodecs, intcodecs

_SIZES = (0, 1, 2, 3, 17, 1000, 20000)


def _float_series(n: int, seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    period = rng.normal(0, 5, 24).round(2)
    return {
        "smooth": np.round(20.0 + np.cumsum(rng.normal(0, 0.05, n)), 2),
        "noisy": rng.normal(0, 1, n),
        "periodic": np.tile(period, n // 24 + 1)[:n] + np.repeat(np.arange((n + 23) // 24), 24)[:n] * 0.5,
        "constant": np.full(n, 3.25),
        "cauchy": rng.standard_cauchy(n),
    }


def _int_series(n: int, seed: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(seed)
    return {
        "timestamps": 1_600_000_000 + np.cumsum(rng.integers(55, 66, n)),
        "tokens": np.minimum(rng.zipf(1.3, n), 200_000).astype(np.int64),
        "constant": np.full(n, -7, dtype=np.int64),
        "wide": rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64),
        "cauchy": np.clip(rng.standard_cauchy(n) * 1e3, -1e15, 1e15).astype(np.int64),
    }


def _buffers():
    for n in _SIZES:
        for name, v in _float_series(n, n).items():
            yield floatcodecs.gxor_encode(v)
            for lag in (None, 1, 2, 7, 64):
                yield floatcodecs.xorlag_encode(v, lag=lag)
            yield encode_float_array(v, "fauto")
            ts = 1_600_000_000_000 + np.cumsum(np.random.default_rng(n + 1).integers(990, 1011, n))
            for algo in ("gorilla", "chimp", "chimp128"):
                yield gw.encode_points(ts, v, algorithm=algo, creation_time=1)
            if name != "cauchy":  # VM scaling needs values that fit int64 after 10^6
                yield gw.encode_points(ts, v, victoria_metrics=True, creation_time=1)
                yield gw.encode_points(
                    ts, np.cumsum(np.abs(v)), victoria_metrics=True, is_counter=True, creation_time=1
                )
        for v in _int_series(n, n + 100).values():
            yield intcodecs.dod_encode(v)
            yield intcodecs.forc_encode(v)
            yield encode_array(v, "auto")


def test_codec_buffers_byte_identical():
    h = hashlib.sha256()
    total = count = 0
    for buf in _buffers():
        h.update(len(buf).to_bytes(8, "little"))
        h.update(buf)
        total += len(buf)
        count += 1
    assert (count, total, h.hexdigest()[:16]) == (511, 8099675, "eacf24c91c4e3dcb")
