"""Embedding-vector operators: block codec + similarity search.

Extends the engine's token-block pattern (``engine.py``) to
``array<float>`` columns — the multimodal path a training-data pipeline
needs next to text: store embeddings compressed-but-bit-lossless, and query
them (top-k inner-product search, cosine near-dup pairs) without a separate
vector store.

Scale design mirrors the token engine: salted repartition by vec id,
Arrow-native flatten (zero-copy child buffer), per-block codec with inline
manifest, strict crc gate on decode.  Search is one broadcast of the (small)
query matrix + per-partition vectorized numpy scoring + a global top-k — the
canonical cluster brute-force layout; the LSH-bucketed variant prunes with
random hyperplanes first.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gorilla_stream_spark.catalog import observed
from gorilla_stream_spark.codecs import (
    VECF16,
    VECF32,
    VECI8,
    decode_array,
    floatcodecs,
)
from gorilla_stream_spark.engine import _block_bounds, _check_seq, _flatten_arrow
from gorilla_stream_spark.engine import _list_array, _tiling_lens

__all__ = [
    "encode_vectors",
    "decode_vectors",
    "write_vectors",
    "quantize_expr",
    "topk_dot",
    "cosine_neardup_pairs",
    "ann_search",
    "train_pq",
    "pq_encode",
    "pq_topk",
]

DEFAULT_BLOCK_VALUES = 1 << 20  # flat float32 values per block (~4 MiB raw)


def _np_maxabs_i64(a: np.ndarray) -> int:
    """max |x| of an int64 array as an exact Python int (np.abs would wrap
    silently on INT64_MIN)."""
    if a.size == 0:
        return 0
    return max(abs(int(a.max())), abs(int(a.min())))


def _check_i64_dot_safe(max_a: int, max_b: int, dim: int, where: str) -> None:
    """Fail loudly when an integer dot product could exceed int64.

    Scores are exact integer dots of 1e-6-quantized components; numpy wraps
    int64 overflow SILENTLY, producing wrong rankings with no error (the JVM
    aggregate path would instead throw under Spark 4 ANSI).  |dot| is bounded
    by dim * max|a| * max|b| — require that below 2^63.  Python ints are
    arbitrary precision, so the check itself cannot overflow.
    """
    if dim and max_a * max_b * dim >= 2**63:
        raise ValueError(
            f"{where}: quantized components too large for exact int64 scoring"
            f" (max|a|={max_a}, max|b|={max_b}, dim={dim}:"
            f" bound {max_a * max_b * dim} >= 2^63). Normalize the embeddings"
            f" (unit-norm) or reduce QUANT."
        )


def _fixed_dim(lens: np.ndarray, where: str) -> int:
    """Matrix kernels require a uniform vector dimension — a ragged batch
    reshaped (n, -1) would silently scramble every row after the first
    mismatch, so fail loudly instead."""
    if lens.size == 0:
        return 0
    d = int(lens[0])
    if not (lens == d).all():
        raise ValueError(
            f"{where} requires fixed-dimension vectors; got lengths "
            f"{sorted(set(int(x) for x in lens))[:5]}..."
        )
    return d

VEC_ENCODED_DDL = (
    "block_id long, part_id int, seq_in_part int, n_vecs int, n_values long,"
    " vec_ids array<long>, vec_lens array<int>, lsh_keys array<long>,"
    " codec string, raw_bytes long,"
    " enc_bytes long, crc32_raw long, crc32_buf long, buffer binary"
)

INDEX_BITS = 10  # 2^10 coarse LSH buckets in the "lsh" layout
PFX_BITS = 4  # top bits of the bucket key = the write-partition column
_PFX_SHIFT = INDEX_BITS - PFX_BITS
_INDEX_SEED = 4211


def _index_planes(dim: int, n_bits: int = INDEX_BITS, seed: int = _INDEX_SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(0.0, 1.0, (n_bits, dim))


def _bucket_keys(M: np.ndarray, planes: np.ndarray) -> np.ndarray:
    bits = (M.astype(np.float64) @ planes.T) >= 0
    keys = np.zeros(M.shape[0], dtype=np.int64)
    for i in range(planes.shape[0]):
        keys |= bits[:, i].astype(np.int64) << i
    return keys


def _hamming_ball(keys: np.ndarray, n_bits: int, flips: int) -> set[int]:
    """Every bucket key within ``flips`` bit flips of any input key —
    bounded by sum of C(n_bits, f), never by the corpus."""
    from itertools import combinations

    probes: set[int] = set()
    for key in keys.tolist():
        probes.add(int(key))
        for f in range(1, max(0, int(flips)) + 1):
            for bits in combinations(range(n_bits), f):
                flip = 0
                for i in bits:
                    flip |= 1 << i
                probes.add(int(key) ^ flip)
    return probes


def _with_bucket(slim: DataFrame, n_bits: int = INDEX_BITS) -> DataFrame:
    """Append the coarse LSH bucket key (vectorized numpy, one Arrow pass)."""
    import pyarrow as pa

    def fn(batches: Iterator) -> Iterator:
        planes = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            flat, lens = _flatten_arrow(rb.column(1), dtype=None)
            _fixed_dim(np.asarray(lens), "lsh bucket layout")
            M = np.ascontiguousarray(flat, dtype=np.float64).reshape(rb.num_rows, -1)
            if planes is None or planes.shape[1] != M.shape[1]:
                planes = _index_planes(M.shape[1], n_bits)
            keys = _bucket_keys(M, planes)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), rb.column(1), pa.array(keys, pa.int64())],
                names=["vec_id", "vec", "bucket"],
            )

    return slim.mapInArrow(fn, "vec_id long, vec array<float>, bucket long")


def encode_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_partitions: int | None = None,
    block_values: int = DEFAULT_BLOCK_VALUES,
    repartition: bool = True,
    layout: str = "hash",
    quantize: str | None = None,
) -> DataFrame:
    """Encode an (id, array<float>) table into self-describing f32 blocks.

    Default is bit-lossless: quantized/rounded embeddings collapse through
    the scaled path onto the int codec family; full-precision embeddings
    ride the raw floor (~4 B/value).  Each block row carries its vec-id list
    inline so point lookups prune blocks without decoding (``decode_docs``
    pattern, ``engine.py:355``).

    ``quantize`` opts into LOSSY storage (a real 100 TB embedding store's
    default): ``"int8"`` = per-vector affine quantization (scale =
    max|x|/127 in the buffer; ~4x smaller, max abs error max|x|/254,
    cosine/top-k rankings essentially preserved for unit-norm embeddings);
    ``"fp16"`` = half-precision truncation (2x smaller, ~3 decimal digits).
    ``crc32_raw`` gates the DEQUANTIZED float32 stream, so the strict decode
    integrity check works identically for lossy blocks.

    ``layout="lsh"`` is the IVF-style similarity layout: rows shuffle by a
    coarse random-hyperplane bucket (2^INDEX_BITS cells) and sort by
    (bucket, vec_id), so each block covers few buckets; the block's distinct
    bucket set is stored in the ``lsh_keys`` manifest column and
    :func:`ann_search` prunes blocks by key overlap BEFORE any buffer is
    decoded — the vector analog of the engine's manifest-pruned time-range
    reads (``engine.py:373``).  Blocks never straddle a bucket PREFIX
    (top ``PFX_BITS`` bucket bits) boundary; the per-block ``bucket_pfx``
    manifest column becomes a Hive partition column in :func:`write_vectors`,
    so probe-key filters prune whole directories at the scan — no driver
    collect, no plan-size growth with the corpus.
    """
    import pyarrow as pa

    if quantize not in (None, "int8", "fp16"):
        raise ValueError(f"unknown quantize mode {quantize!r}")
    if layout not in ("hash", "lsh"):
        # a typo here would silently build a table ann_search cannot use,
        # surfacing only after the (possibly enormous) encode job finished
        raise ValueError(f"unknown layout {layout!r} (expected 'hash' or 'lsh')")
    slim = df.select(
        F.col(id_col).cast("long").alias("vec_id"),
        # cast once at the plan (no-op for array<float> inputs): the lsh
        # layout passes this column through an Arrow batch declared
        # array<float>, which would reject an array<double> source
        F.col(vec_col).cast("array<float>").alias("vec"),
    )
    P = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if layout == "lsh":
        slim = (
            _with_bucket(slim)
            .repartition(P, "bucket")
            .sortWithinPartitions("bucket", "vec_id")
        )
    elif repartition:
        slim = slim.repartition(P, F.xxhash64("vec_id")).sortWithinPartitions("vec_id")

    import pyarrow as _pa

    fields = [
        ("block_id", _pa.int64()),
        ("part_id", _pa.int32()),
        ("seq_in_part", _pa.int32()),
        ("n_vecs", _pa.int32()),
        ("n_values", _pa.int64()),
        ("vec_ids", _pa.list_(_pa.int64())),
        ("vec_lens", _pa.list_(_pa.int32())),
        ("lsh_keys", _pa.list_(_pa.int64())),
        ("codec", _pa.string()),
        ("raw_bytes", _pa.int64()),
        ("enc_bytes", _pa.int64()),
        ("crc32_raw", _pa.int64()),
        ("crc32_buf", _pa.int64()),
        ("buffer", _pa.binary()),
    ]
    ddl = VEC_ENCODED_DDL
    if layout == "lsh":
        fields.append(("bucket_pfx", _pa.int32()))
        ddl = VEC_ENCODED_DDL + ", bucket_pfx int"
    out_schema = _pa.schema(fields)

    def fn(batches: Iterator) -> Iterator:
        import pyarrow as pa

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        seq = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0)
            flat_all, lens = _flatten_arrow(rb.column(1), dtype=None)
            flat_all = np.ascontiguousarray(flat_all, dtype=np.float32)
            buckets = (
                rb.column(2).to_numpy(zero_copy_only=False) if rb.num_columns > 2 else None
            )
            pfx = (buckets >> _PFX_SHIFT) if buckets is not None else None
            offs = np.concatenate(([0], np.cumsum(lens)))
            out: dict[str, list] = {k: [] for k in out_schema.names}
            for lo, hi in _grouped_bounds(lens, block_values, pfx):
                flat = flat_all[offs[lo] : offs[hi]]
                raw = flat.tobytes()
                if quantize == "int8":
                    buf = bytes([VECI8]) + floatcodecs.veci8_encode(flat, lens[lo:hi])
                    codec_name = "veci8"
                elif quantize == "fp16":
                    buf = bytes([VECF16]) + floatcodecs.vecf16_encode(flat)
                    codec_name = "vecf16"
                else:
                    body = floatcodecs.f32_encode(flat)
                    buf = bytes([VECF32]) + body
                    codec_name = {1: "f32scaled", 2: "f32raw"}.get(body[0], "f32bits")
                # lossy codecs crc the DEQUANTIZED stream (what decode
                # returns) so the strict integrity gate stays meaningful
                crc_raw = (
                    zlib.crc32(raw)
                    if quantize is None
                    else zlib.crc32(decode_array(buf).astype(np.float32).tobytes())
                )
                out["block_id"].append((pid << 24) | _check_seq(seq))
                out["part_id"].append(pid)
                out["seq_in_part"].append(seq)
                out["n_vecs"].append(hi - lo)
                out["n_values"].append(int(flat.size))
                out["vec_ids"].append(ids.slice(lo, hi - lo).to_pylist())
                out["vec_lens"].append(lens[lo:hi].astype(np.int32))
                out["lsh_keys"].append(
                    np.unique(buckets[lo:hi]) if buckets is not None else None
                )
                out["codec"].append(codec_name)
                out["raw_bytes"].append(len(raw))
                out["enc_bytes"].append(len(buf))
                out["crc32_raw"].append(crc_raw)
                out["crc32_buf"].append(zlib.crc32(buf))
                out["buffer"].append(buf)
                if pfx is not None:
                    out["bucket_pfx"].append(int(pfx[lo]))
                seq += 1
            if out["block_id"]:
                yield pa.RecordBatch.from_pydict(out, schema=out_schema)

    return slim.mapInArrow(fn, ddl)


def _grouped_bounds(
    lens: np.ndarray, block_values: int, groups: np.ndarray | None
) -> list[tuple[int, int]]:
    """Block bounds that never straddle a change in ``groups``.

    Rows arrive sorted by bucket, so the group values (bucket prefixes) form
    contiguous runs; each run is chunked independently — this is what makes
    ``bucket_pfx`` a single-valued (and therefore partitionable) column per
    block.
    """
    if groups is None:
        return _block_bounds(lens, block_values)
    change = np.flatnonzero(groups[1:] != groups[:-1]) + 1
    seg_starts = np.concatenate(([0], change))
    seg_ends = np.concatenate((change, [len(lens)]))
    bounds: list[tuple[int, int]] = []
    for s, e in zip(seg_starts, seg_ends):
        for lo, hi in _block_bounds(lens[s:e], block_values):
            bounds.append((int(s) + lo, int(s) + hi))
    return bounds


def write_vectors(
    enc_df: DataFrame, path: str, mode: str = "overwrite", compression: str = "snappy",
    **metrics: Column,
) -> dict:
    """Write encoded vector blocks; lsh-layout tables partition by
    ``bucket_pfx`` so :func:`ann_search` probe filters prune whole
    directories at the parquet scan (Hive partition pruning — the scan
    never opens pruned files, and nothing is collected to the driver).
    Returns the metrics observed during the write (``catalog.observed``)."""
    if "bucket_pfx" in enc_df.columns:
        # cluster rows by the partition column BEFORE the partitioned write:
        # without it every writer task opens one file per pfx it happens to
        # hold (~tasks x 2^PFX_BITS small files; measured 444 files / 5.7 s
        # at 1M vectors vs 16 files / 2.8 s clustered) — and at 100 TB the
        # small-file explosion also poisons every later scan
        enc_df = enc_df.repartition("bucket_pfx")
    enc_df, obs = observed(enc_df, **metrics)
    w = enc_df.write.mode(mode).option("compression", compression)
    if "bucket_pfx" in enc_df.columns:
        w = w.partitionBy("bucket_pfx")
    w.parquet(path)
    return obs.get


def _decode_vector_block_checked(
    col: dict, i: int, strict: bool
) -> tuple[bytes, np.ndarray, np.ndarray]:
    """One vector block row: buffer crc gate, decode, raw crc, and
    ``vec_lens`` tiling — shared by :func:`decode_vectors` and fsck."""
    buf = col["buffer"][i].as_py()
    bid = col["block_id"][i].as_py()
    if strict and zlib.crc32(buf) != col["crc32_buf"][i].as_py():
        raise ValueError(f"buffer crc32 mismatch on block {bid}")
    flat = decode_array(buf)
    if strict and zlib.crc32(flat.astype(np.float32).tobytes()) != col["crc32_raw"][i].as_py():
        raise ValueError(f"crc32 mismatch on block {bid}")
    lens = _tiling_lens(col["vec_lens"][i].values, flat.size, f"vector block {bid}", "vec_lens")
    return buf, flat, lens


def decode_vectors(
    enc_df: DataFrame, strict: bool = True, with_scale: bool = False
) -> DataFrame:
    """Decode vector blocks back to (vec_id, embedding) rows.

    Lossless blocks reconstruct bit-identical; quantized blocks dequantize
    (int8: f32(code*scale); fp16: exact widening).  ``with_scale=True`` adds
    the per-vector int8 quantization ``scale`` column (NULL for non-int8
    blocks) — with it the stored integer codes are exactly recoverable as
    ``round(x/scale)``, which is what the q47 oracle cross-checks engine-
    for-engine against DuckDB.
    """
    import pyarrow as pa

    def fn(batches: Iterator) -> Iterator:
        for rb in batches:
            col = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            for i in range(rb.num_rows):
                buf, flat, lens = _decode_vector_block_checked(col, i, strict)
                arrays = [
                    col["vec_ids"][i].values.cast(pa.int64()),
                    _list_array(flat, lens, np.float32),
                ]
                names = ["vec_id", "embedding"]
                if with_scale:
                    if buf[0] == VECI8:
                        _lens, scales, _codes = floatcodecs.veci8_parse(buf[1:])
                        arrays.append(pa.array(scales, pa.float64()))
                    else:
                        arrays.append(pa.nulls(len(lens), pa.float64()))
                    names.append("scale")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    needed = ["block_id", "vec_ids", "vec_lens", "crc32_raw", "crc32_buf", "buffer"]
    ddl = "vec_id long, embedding array<float>" + (", scale double" if with_scale else "")
    return enc_df.select(*needed).mapInArrow(fn, ddl)


# ---------------------------------------------------------------------------
# Similarity search.  All scoring is over integer-quantized components
# (round(x * 10^6) as int64) so scores are EXACT integers — deterministic
# across engines, no float-sum order dependence.  For unit-norm embeddings
# the integer dot product ranks identically to cosine.
# ---------------------------------------------------------------------------

QUANT = 1_000_000


def quantize_expr(vec_col: str) -> Column:
    """array<float> -> array<long>: round(x*1e6) per component, JVM-side.

    Mirrors SQL ``CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)`` exactly
    (verified engine-identical vs DuckDB) — quantization is the parity
    boundary, everything after it is integer-exact.
    """
    return F.expr(
        f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
    )


def topk_dot(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    quantize: str = "jvm",
) -> DataFrame:
    """Exact top-k inner-product search: broadcast queries, per-partition
    vectorized scoring + local top-k, global top-k on the survivors.

    The shuffle carries at most ``k * n_queries`` rows per partition — the
    classic cluster brute-force ANN baseline.  Scores are integer dot
    products of 1e-6-quantized components (exact, reproducible); ties break
    by vec_id ascending.

    ``quantize="jvm"`` rounds components with Spark's SQL ``round``
    (bit-identical to the DuckDB oracle); ``"numpy"`` rounds half-away in
    the kernel — ~2.5x faster end-to-end (the interpreted per-element JVM
    transform dominates otherwise) and identical except when a component
    lands within 1 ulp of a .5 boundary (~1e-10 per element).
    """
    import pyarrow as pa

    if not queries:
        raise ValueError("topk_dot requires at least one query vector")
    if quantize not in ("jvm", "numpy"):
        raise ValueError(f"unknown quantize mode {quantize!r}")
    from gorilla_stream_spark.codecs.floatcodecs import _round_half_away

    qids = [int(q) for q, _ in queries]
    # half-AWAY rounding, matching SQL round() and the numpy corpus kernel:
    # Python's round() is half-even, so a component landing exactly on a .5
    # boundary would quantize differently on the two sides and break the
    # integer-exact score/oracle parity
    Q = _round_half_away(
        np.array([[float(x) for x in v] for _, v in queries], dtype=np.float64) * QUANT
    ).astype(np.int64)
    _q_max = _np_maxabs_i64(Q)

    if quantize == "jvm":
        quant = df.select(
            F.col(id_col).cast("long").alias("vec_id"), quantize_expr(vec_col).alias("qv")
        )
    else:
        quant = df.select(F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col))

    def fn(batches: Iterator) -> Iterator:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            if quantize == "numpy":
                fl, lens = _flatten_arrow(rb.column(1), dtype=None)
                flat = _round_half_away(fl.astype(np.float64) * QUANT).astype(np.int64)
            else:
                flat, lens = _flatten_arrow(rb.column(1))
            if flat.size == 0:
                continue
            d = _fixed_dim(np.asarray(lens), "topk_dot")
            if d != Q.shape[1]:
                raise ValueError(
                    f"topk_dot requires fixed-dimension vectors matching the"
                    f" query dim {Q.shape[1]}; batch has dim {d}"
                )
            _check_i64_dot_safe(_np_maxabs_i64(flat), _q_max, d, "topk_dot")
            M = flat.reshape(len(ids), -1)
            S = M @ Q.T  # (n, nq) int64 exact
            take = min(k, len(ids))
            out_q, out_v, out_s = [], [], []
            for j, qid in enumerate(qids):
                # local top-k with deterministic (score desc, vec_id asc) order
                order = np.lexsort((ids, -S[:, j]))[:take]
                out_q.extend([qid] * take)
                out_v.extend(ids[order])
                out_s.extend(S[order, j])
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": pa.array(out_q, pa.int64()),
                    "vec_id": pa.array(np.array(out_v, np.int64), pa.int64()),
                    "score": pa.array(np.array(out_s, np.int64), pa.int64()),
                }
            )

    local = quant.mapInArrow(fn, "query_id long, vec_id long, score long")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


_PLANE_SEED = 7031


def hyperplane_bands(
    quant: DataFrame, n_bands: int = 16, rows_per_band: int = 8, seed: int = _PLANE_SEED
) -> DataFrame:
    """(vec_id, band_idx, band_key) from random-hyperplane sign LSH.

    Each band key packs ``rows_per_band`` sign bits of independent Gaussian
    hyperplanes; two unit vectors at cosine c agree on one plane with prob
    1 - acos(c)/pi, so at c=0.9 (p~0.857, r=8, b=16) the miss probability is
    (1 - p^r)^b ~= 4e-3 and each band bucket holds ~n/2^r of the data —
    the quadratic verify join runs on ~1/16 of all pairs.  Signs are computed
    in one vectorized numpy pass (planes ride the closure).
    """
    import pyarrow as pa

    def fn(batches: Iterator) -> Iterator:
        rng = np.random.default_rng(seed)
        planes: np.ndarray | None = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            flat, lens = _flatten_arrow(rb.column(1))
            if flat.size == 0:
                continue
            _fixed_dim(np.asarray(lens), "hyperplane_bands")
            M = flat.reshape(len(ids), -1).astype(np.float64)
            if planes is None or planes.shape[1] != M.shape[1]:
                rng = np.random.default_rng(seed)  # same planes in every task
                planes = rng.normal(0.0, 1.0, (n_bands * rows_per_band, M.shape[1]))
            bits = (M @ planes.T) >= 0  # (n, b*r) sign bits
            keys = np.zeros((len(ids), n_bands), dtype=np.int64)
            for r in range(rows_per_band):
                keys |= bits[:, r::rows_per_band].astype(np.int64) << r
            band_idx = np.tile(np.arange(n_bands, dtype=np.int32), len(ids))
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(np.repeat(ids, n_bands), pa.int64()),
                    "band_idx": pa.array(band_idx, pa.int32()),
                    "band_key": pa.array(keys.ravel(), pa.int64()),
                }
            )

    return quant.mapInArrow(fn, "vec_id long, band_idx int, band_key long")


def cosine_neardup_pairs(
    df: DataFrame,
    threshold_pct: int = 90,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: bool = False,
    n_bands: int = 16,
    rows_per_band: int = 8,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """Vector near-dup pairs: cosine(a, b) >= threshold_pct/100.

    ``exact=True`` verifies ALL pairs (the reference answer; quadratic — use
    only on bounded inputs or as the oracle).  ``exact=False`` prunes with
    random-hyperplane LSH first (see :func:`hyperplane_bands`), then verifies
    candidates exactly.  The threshold test is engine-exact either way:
    integer-quantized dot/norms, compared as
    ``dot > 0 AND dot^2 >= t^2 * |a|^2 * |b|^2`` in double — identical IEEE
    ops in any engine, no float-sum order dependence.

    Magnitude: the dot/norm aggregates run JVM-side, where Spark 4's ANSI
    mode throws on int64 overflow (loud, never a silent wrap) — non-unit-norm
    vectors with |x| large enough that ``dim * (x*1e6)^2 >= 2^63`` fail the
    job rather than mis-rank (see ``_check_i64_dot_safe`` for the numpy
    kernels' equivalent guard).
    """
    quant = df.select(
        F.col(id_col).cast("long").alias("vec_id"), quantize_expr(vec_col).alias("qv")
    ).withColumn(
        "nrm", F.expr("aggregate(qv, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)")
    )

    a = quant.select(
        F.col("vec_id").alias("id_a"), F.col("qv").alias("qa"), F.col("nrm").alias("na")
    )
    b = quant.select(
        F.col("vec_id").alias("id_b"), F.col("qv").alias("qb"), F.col("nrm").alias("nb")
    )
    if exact:
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        from gorilla_stream_spark.textops import _grouped_bucket_pairs

        bands = hyperplane_bands(
            quant.select("vec_id", "qv"), n_bands=n_bands, rows_per_band=rows_per_band
        )
        # grouped pair generation (shared with the text LSH path): one
        # 12-byte-key shuffle, i<j combinations from the grouped id list,
        # hot-bucket cap as a free size filter.  Recall note: a pair is
        # missed only if EVERY band it shares is over-cap — exact-duplicate
        # embedding groups, which belong in dedup, not near-dup.
        pairs = _grouped_bucket_pairs(
            bands, ["band_idx", "band_key"], "vec_id", max_bucket
        ).select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        # materialize pairs once, then broadcast-semi-prune BOTH vector
        # sides to candidate ids (8 B/id) before the wide joins — the
        # dim-length qv arrays of non-candidate vectors never shuffle
        # (same two-pass shape as textops._verify_pairs), so verify cost
        # tracks the candidate set, not the corpus.  The cache is released
        # after the result materializes (below) — operator persists must
        # not outlive the call (textops._finalize_unpersist rationale)
        pairs = pairs.persist()
        pairs.count()
        a = a.join(F.broadcast(pairs.select("id_a").distinct()), "id_a", "left_semi")
        b = b.join(F.broadcast(pairs.select("id_b").distinct()), "id_b", "left_semi")
        cand = pairs.join(a, "id_a").join(b, "id_b")

    dot = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    t2 = (threshold_pct / 100.0) ** 2
    cond = (F.col("dot") > 0) & (
        F.col("dot").cast("double") * F.col("dot").cast("double")
        >= F.lit(t2) * F.col("na").cast("double") * F.col("nb").cast("double")
    )
    res = cand.withColumn("dot", dot).filter(cond).select("id_a", "id_b", "dot")
    if not exact:
        from gorilla_stream_spark.textops import _finalize_unpersist

        return _finalize_unpersist(res, [pairs])
    return res


def ann_search(
    enc_df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    probe_flips: int = 1,
    two_phase: bool = True,
) -> DataFrame:
    """Approximate top-k over an lsh-layout encoded vector table.

    Prune-then-scan: the query's coarse bucket key (plus every key within
    ``probe_flips`` bit flips — multi-probe) is intersected with each
    block's ``lsh_keys`` manifest column JVM-side; only overlapping blocks
    are decoded, then the exact integer top-k reranks the survivors.  The
    vector analog of ``decode_docs`` (engine.py:355): at 10^12 scale the
    expensive decode touches a handful of blocks, never the table.
    Approximate by construction — recall is governed by cluster tightness
    and ``probe_flips`` (see tests for the recall gate).

    NOTHING is collected to the driver, at any corpus size:

    * Tables with a ``bucket_pfx`` column (lsh layout): the probe keys'
      prefix set — at most ``2^PFX_BITS`` literals, independent of corpus
      size — filters the partition column, so a :func:`write_vectors` table
      prunes whole directories at the scan; ``arrays_overlap`` then refines
      block-by-block within the surviving partitions.
    * Older tables without the column: a broadcast left-semi join of the
      matching (block_id) manifest rows replaces the former driver
      ``collect()`` + literal ``IN`` list, which grew with the corpus (36%
      of all block ids on random vectors) and blew up driver memory + plan
      size at scale.
    """
    if not queries:
        raise ValueError("ann_search requires at least one query vector")
    head = (
        enc_df.select("lsh_keys").head(1)
        if "lsh_keys" in enc_df.columns
        else None
    )
    # layout is table-wide, so ONE row decides — the previous
    # filter(isNotNull).count() probe scanned the whole table in the
    # worst case (hash layout: every row null) just to raise.  An EMPTY
    # table also raises: a broken/mis-filtered index must not be
    # indistinguishable from "no neighbors found"
    if head is None or not head or head[0]["lsh_keys"] is None:
        raise ValueError(
            "ann_search requires a non-empty lsh-layout table"
            " (encode_vectors(layout='lsh')) — no lsh_keys manifest here"
        )
    dim = len(queries[0][1])
    planes = _index_planes(dim)
    Q = np.array([v for _, v in queries], dtype=np.float64)
    keys = _bucket_keys(Q, planes)
    probes = _hamming_ball(keys, planes.shape[0], probe_flips)
    wanted = F.array(*[F.lit(int(p)).cast("long") for p in sorted(probes)])
    overlap = F.arrays_overlap(F.col("lsh_keys"), wanted)
    if "bucket_pfx" in enc_df.columns:
        pfxs = sorted({int(p) >> _PFX_SHIFT for p in probes})
        pruned = enc_df.filter(F.col("bucket_pfx").isin(pfxs) & overlap)
    elif two_phase:
        ids = enc_df.select("block_id", "lsh_keys").filter(overlap).select("block_id")
        pruned = enc_df.join(F.broadcast(ids), "block_id", "left_semi")
    else:
        pruned = enc_df.filter(overlap)
    return topk_dot(decode_vectors(pruned), queries, k=k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the classic memory-scale ANN path (Jégou et
# al., "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
# split each vector into m subvectors, k-means each subspace to 2^nbits
# centroids, store one code byte per subspace (8 B/vec at m=8), score
# queries against codes with a per-query lookup table — no decode, no
# float vectors in memory at search time.  Complements the exact int8
# storage (O52) and the lsh block layout (O49): PQ is the representation
# you search, the codecs are the representation you store.
# ---------------------------------------------------------------------------

_PQ_SEED = 9176


def train_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    sample: int = 65536,
    iters: int = 12,
    seed: int = _PQ_SEED,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Train PQ codebooks: (m, 2^nbits, dim/m) float32.

    Driver-side Lloyd k-means per subspace over a bounded deterministic
    sample: the ``sample`` rows with the smallest ``xxhash64(id, seed)``.
    Hash-order is a uniform shuffle of the corpus, so the sample is
    unbiased even when the input is source-ordered (a ``limit`` would
    train on one shard of one source at 100 TB), and it is a pure
    function of (ids, seed) — independent of partitioning, so codebooks
    and all downstream stored codes are run-to-run reproducible.
    Executed as per-partition top-K + driver merge (TakeOrdered), never
    a full sort shuffle.  The sample is the ONLY data that leaves the
    executors; codebooks (m * k * dsub * 4 B, ~64 KB at the defaults
    for dim 64) ride task closures afterwards.
    """
    if not 1 <= nbits <= 8:
        # codes are stored one byte per subspace; a 9-bit codebook would
        # silently truncate indices (uint8 wrap -> wrong centroids)
        raise ValueError(f"train_pq: nbits must be in [1, 8], got {nbits}")
    k = 1 << nbits
    rows = (
        df.select(
            F.col(vec_col).alias("v"),
            F.col(id_col).cast("string").alias("__id"),
            F.xxhash64(F.col(id_col).cast("string"), F.lit(int(seed))).alias("__h"),
        )
        .orderBy("__h", "__id")
        .limit(int(sample))
        .collect()
    )
    if not rows:
        raise ValueError("train_pq: empty training frame")
    X = np.asarray([r["v"] for r in rows], dtype=np.float32)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, dsub), dtype=np.float32)
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub].astype(np.float64)
        # init: distinct random sample rows (pad by jitter if n < k)
        if n >= k:
            C = S[rng.choice(n, k, replace=False)].copy()
        else:
            C = S[rng.integers(0, n, k)] + rng.normal(0, 1e-3, (k, dsub))
        s2 = (S * S).sum(1)
        for _ in range(iters):
            # assign: argmin_c ||s-c||^2 = argmin_c (|c|^2 - 2 s.c) — the
            # |s|^2 term is constant per row and dropped from the matrix
            d2p = (C * C).sum(1)[None, :] - 2.0 * (S @ C.T)
            a = d2p.argmin(1)
            # update non-empty clusters; re-seed empty ones from far points
            sums = np.zeros((k, dsub))
            np.add.at(sums, a, S)
            counts = np.bincount(a, minlength=k).astype(np.float64)
            nonempty = counts > 0
            C[nonempty] = sums[nonempty] / counts[nonempty, None]
            n_empty = int((~nonempty).sum())
            if n_empty:
                true_d2 = d2p[np.arange(S.shape[0]), a] + s2
                far = np.argsort(true_d2)[-n_empty:]
                C[~nonempty] = S[far] + rng.normal(0, 1e-6, (n_empty, dsub))
        books[j] = C.astype(np.float32)
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    with_bucket: bool = False,
) -> DataFrame:
    """(vec_id, codes:binary) — one byte per subspace (m B/vector).

    ``with_bucket=True`` is the IVF-PQ layout: each row additionally
    carries its coarse random-hyperplane ``bucket`` key (the SAME planes
    :func:`ann_search` probes with) and a ``bucket_pfx`` column; write the
    table ``partitionBy("bucket_pfx")`` and :func:`pq_topk` with
    ``probe_flips`` prunes whole directories before any code is scored —
    the billion-vector shape where scanning every 8 B code row per query
    is itself too much I/O.
    """
    import pyarrow as pa

    m, k, dsub = codebooks.shape
    if k > 256:
        raise ValueError(f"pq_encode: codebook k={k} exceeds the 1-byte code range")
    books = codebooks.astype(np.float32)

    def fn(batches: Iterator) -> Iterator:
        planes = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            flat, lens = _flatten_arrow(rb.column(1), dtype=None)
            d = _fixed_dim(np.asarray(lens), "pq_encode")
            if d != m * dsub:
                raise ValueError(f"pq_encode: dim {d} != codebook dim {m * dsub}")
            X = np.ascontiguousarray(flat, dtype=np.float32).reshape(len(ids), d)
            codes = np.empty((len(ids), m), dtype=np.uint8)
            for j in range(m):
                # float32 throughout; |s|^2 is row-constant and dropped
                S = X[:, j * dsub : (j + 1) * dsub]
                C = books[j]
                d2p = (C * C).sum(1)[None, :] - np.float32(2.0) * (S @ C.T)
                codes[:, j] = d2p.argmin(1).astype(np.uint8)
            n_rows = len(ids)
            codes_arr = pa.FixedSizeBinaryArray.from_buffers(
                pa.binary(m), n_rows, [None, pa.py_buffer(codes.tobytes())]
            ).cast(pa.binary())
            arrays = [pa.array(ids, pa.int64()), codes_arr]
            names = ["vec_id", "codes"]
            if with_bucket:
                if planes is None:
                    planes = _index_planes(d)
                keys = _bucket_keys(X.astype(np.float64), planes)
                arrays += [
                    pa.array(keys, pa.int64()),
                    pa.array((keys >> _PFX_SHIFT).astype(np.int32), pa.int32()),
                ]
                names += ["bucket", "bucket_pfx"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    slim = df.select(F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col))
    ddl = "vec_id long, codes binary"
    if with_bucket:
        ddl += ", bucket long, bucket_pfx int"
    return slim.mapInArrow(fn, ddl)


def pq_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    probe_flips: int | None = None,
) -> DataFrame:
    """Approximate top-k inner product over PQ codes (asymmetric distance).

    Per query: one (m, 2^nbits) lookup table of subspace dot products rides
    the closure; scoring a vector is m table lookups + a sum — no decode,
    8 B/vector of state.  Same shuffle shape as :func:`topk_dot`: local
    top-k per partition, global top-k over k*q survivors.  Ranking is
    approximate (codebook quantization error); see the recall pytest.

    ``probe_flips`` (requires a ``pq_encode(with_bucket=True)`` table)
    turns this into IVF-PQ: codes are pre-filtered to the queries'
    hamming-ball probe buckets — a plain int predicate pushed to the scan,
    and directory pruning when the table is partitioned by ``bucket_pfx``
    — so per-query cost tracks the probed cells, not the corpus.  Probing
    unions all queries' cells; extra candidates only widen recall.
    """
    import pyarrow as pa

    if not queries:
        raise ValueError("pq_topk requires at least one query vector")
    m, kk, dsub = codebooks.shape
    qids = [int(q) for q, _ in queries]
    Q = np.asarray([v for _, v in queries], dtype=np.float64)
    if Q.shape[1] != m * dsub:
        raise ValueError(f"query dim {Q.shape[1]} != codebook dim {m * dsub}")
    if probe_flips is not None:
        if "bucket" not in codes_df.columns:
            raise ValueError(
                "probe_flips requires an IVF-PQ codes table"
                " (pq_encode(with_bucket=True)) — no bucket column here"
            )
        planes = _index_planes(m * dsub)
        probes = sorted(_hamming_ball(_bucket_keys(Q, planes), planes.shape[0], probe_flips))
        cond = F.col("bucket").isin([int(p) for p in probes])
        if "bucket_pfx" in codes_df.columns:
            pfxs = sorted({int(p) >> _PFX_SHIFT for p in probes})
            cond = F.col("bucket_pfx").isin(pfxs) & cond
        codes_df = codes_df.filter(cond)
    # LUT[q][j][c] = dot(q_sub_j, centroid_c of subspace j)
    luts = np.stack(
        [
            np.stack(
                [codebooks[j].astype(np.float64) @ Q[qi, j * dsub : (j + 1) * dsub] for j in range(m)]
            )
            for qi in range(len(qids))
        ]
    )  # (nq, m, kk)

    def fn(batches: Iterator) -> Iterator:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0).to_numpy(zero_copy_only=False)
            col = rb.column(1)
            offs = np.frombuffer(col.buffers()[1], dtype=np.int32)[
                col.offset : col.offset + len(col) + 1
            ]
            widths = np.diff(offs)
            if (widths != m).any():
                raise ValueError(
                    f"pq_topk: codes width {set(widths.tolist())} != m={m}"
                    " (codes table from a different codebook?)"
                )
            vals = np.frombuffer(col.buffers()[2], dtype=np.uint8)
            codes = vals[offs[0] : offs[-1]].reshape(len(ids), m)
            take = min(k, len(ids))
            out_q, out_v, out_s = [], [], []
            for qi, qid in enumerate(qids):
                S = luts[qi][np.arange(m)[None, :], codes].sum(1)  # (n,)
                order = np.lexsort((ids, -S))[:take]
                out_q.extend([qid] * take)
                out_v.extend(ids[order])
                out_s.extend(S[order])
            yield pa.RecordBatch.from_pydict(
                {
                    "query_id": pa.array(out_q, pa.int64()),
                    "vec_id": pa.array(np.asarray(out_v, np.int64), pa.int64()),
                    "score": pa.array(np.asarray(out_s, np.float64), pa.float64()),
                }
            )

    local = codes_df.select("vec_id", "codes").mapInArrow(
        fn, "query_id long, vec_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )
