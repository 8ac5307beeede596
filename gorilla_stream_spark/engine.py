"""Block encode/decode over Spark DataFrames via Arrow-vectorized mapInArrow.

The distribution story (what the reference leaves to the user via
``Task.async_stream``, ``/root/reference/docs/performance_guide.md:157-178``)
is Spark's: an explicit salted repartition assigns docs to partitions
deterministically by ``xxhash64(doc_id)``, rows are sorted within partitions,
and each Arrow batch is re-chunked into *blocks* of ~``block_tokens`` tokens
— the analog of the reference's 5,000-point streaming chunks
(``lib/gorilla_stream/stream.ex:39-42``), sized for Arrow instead of the BEAM.

Each block row carries the encoded buffer plus its inline manifest (codec,
counts, sizes, crc32s, doc ids + lengths) — the analog of the reference's
outer header + per-chunk metadata (``lib/gorilla_stream/compression/encoder/
metadata.ex:55-125``, ``stream.ex:75-82``).  Buffers are self-describing:
decode takes no options.

No per-row Python: token lists arrive as numpy arrays inside Arrow batches,
are flattened once per block with ``np.concatenate``, and all bit-level work
is vectorized numpy (SURVEY.md §7 'hard parts').
"""

from __future__ import annotations

import time as _time
import zlib
from collections.abc import Iterator

import numpy as np
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gorilla_stream_spark.codecs import (
    codec_of,
    decode_array,
    encode_array,
    encode_paged,
    register_container_dict,
    wrap_container,
)
from gorilla_stream_spark.skew import range_partition, salted_repartition

__all__ = [
    "ENCODED_SCHEMA",
    "encode",
    "compact_blocks",
    "merge_tables",
    "transcode_blocks",
    "decode",
    "estimate",
    "encode_timeseries",
    "decode_timeseries",
    "manifest",
]

DEFAULT_BLOCK_TOKENS = 1 << 20  # ~4 MiB of raw int32 per block
DEFAULT_PAGE_TOKENS = 1 << 16  # codec-selection granularity inside a block

ENCODED_SCHEMA = StructType(
    [
        StructField("block_id", LongType(), False),
        StructField("part_id", IntegerType(), False),
        StructField("seq_in_part", IntegerType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("doc_ids", ArrayType(StringType(), False), False),
        StructField("doc_lens", ArrayType(IntegerType(), False), False),
        StructField("sources", ArrayType(StringType(), True), True),
        StructField("id_min", StringType(), False),
        StructField("id_max", StringType(), False),
        StructField("codec", StringType(), False),
        StructField("raw_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("crc32_raw", LongType(), False),
        StructField("crc32_buf", LongType(), False),
        StructField("enc_us", LongType(), False),
        StructField("buffer", BinaryType(), False),
    ]
)

MULTI_ENCODED_DDL = (
    "block_id long, part_id int, n_docs int, doc_ids array<string>,"
    " id_min string, id_max string,"
    " col_names array<string>, codecs array<string>,"
    " col_lens array<array<int>>, raw_bytes long, enc_bytes long,"
    " crc32_bufs array<long>, buffers array<binary>"
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), False), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), True),
    ]
)


def _flatten_arrow(tok_arr, dtype=np.int64) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy flatten of an Arrow list<int> array -> (flat, lens).

    ``flatten()`` returns the child values view (no per-row Python objects —
    the whole point of the mapInArrow path); the only copy is the optional
    widening to ``dtype`` (pass int32 to keep the view zero-copy when the
    consumer samples rather than encodes).  NULL token cells fail loudly:
    silently treating them as empty would corrupt offsets and crc lineage
    (run ``validate``/``clean`` first — reference ``validator.ex:24-90``).
    """
    if tok_arr.null_count:
        raise ValueError(
            f"{tok_arr.null_count} NULL tokens cell(s) in batch — encode requires"
            " non-null token arrays; run gorilla_stream_spark.clean() first"
        )
    lens = tok_arr.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
    flat_arr = tok_arr.flatten()
    if flat_arr.null_count:  # a NULL *element* would flatten to NaN->garbage
        raise ValueError(
            f"{flat_arr.null_count} NULL token element(s) in batch — encode"
            " requires non-null token values; run gorilla_stream_spark.clean() first"
        )
    flat = flat_arr.to_numpy(zero_copy_only=False)
    if dtype is not None:
        flat = flat.astype(dtype, copy=False)
    return flat, lens


_KERNEL_SLICE_TOKENS = 2_000_000
"""Per-slice token budget for Arrow kernels that materialize O(tokens)
numpy temporaries.  glibc only *retains* freed buffers below its mmap
threshold (hard-capped at 32 MB): a kernel allocating ~84 MB of int64
scratch per 10k-row batch mmap/munmaps it every batch, and with 32
concurrent workers the page-fault + unmap traffic serializes in the
kernel (measured 12.3 s sys vs 2.7 s user per worker on this workload;
slicing the same work to ~16 MB scratch cut sys time 6x and total wall
2.5x).  Kernels whose math is per-doc slice each record batch to this
many tokens and reuse warm heap instead."""


_MAX_SEQ = 1 << 24  # block_id = (pid << 24) | seq — seq must stay below


def _check_seq(seq: int) -> int:
    if seq >= _MAX_SEQ:
        raise ValueError(
            "partition emitted >= 2^24 blocks — block_id would collide with"
            " the next partition; raise block_tokens or num_partitions"
        )
    return seq


def _check_int32_tokens(flat: np.ndarray, tok_arr) -> None:
    """Fail loud when a wider-typed tokens column holds values outside
    int32: the raw-bytes lineage (crc32_raw) and decode output are int32,
    so a silent wrap would round-trip corrupted data with green CRCs."""
    import pyarrow as pa

    vt = tok_arr.type.value_type if hasattr(tok_arr.type, "value_type") else None
    if vt is not None and pa.types.is_int32(vt):
        return  # schema already guarantees the range
    if flat.size and (int(flat.min()) < -(1 << 31) or int(flat.max()) >= (1 << 31)):
        raise ValueError(
            "token values outside int32 range — the engine's token contract"
            " is array<int32> (cast or re-tokenize upstream)"
        )


def _block_bounds(lens: np.ndarray, block_tokens: int) -> list[tuple[int, int]]:
    """Split rows into contiguous blocks of <= block_tokens tokens (>=1 row).

    Loop is over *blocks*, not rows: each step jumps via searchsorted on the
    cumulative token count.
    """
    n = len(lens)
    if n == 0:
        return []
    csum = np.cumsum(lens)
    bounds: list[tuple[int, int]] = []
    start = 0
    while start < n:
        base = csum[start - 1] if start else 0
        end = int(np.searchsorted(csum, base + block_tokens, side="right"))
        end = max(end, start + 1)  # a single over-long doc still forms a block
        bounds.append((start, min(end, n)))
        start = min(end, n) if end > start else start + 1
    return bounds


def _token_batch_slices(rb, tok_idx: int, max_tokens: int = _KERNEL_SLICE_TOKENS):
    """Yield zero-copy row-slices of ``rb`` whose token totals stay near
    ``max_tokens`` (always >= 1 row per slice).  Safe for any kernel whose
    computation never crosses document boundaries."""
    if rb.num_rows == 0:
        return
    lens = rb.column(tok_idx).value_lengths().fill_null(0).to_numpy(zero_copy_only=False)
    if int(lens.sum()) <= max_tokens:
        yield rb
        return
    for lo, hi in _block_bounds(lens, max_tokens):
        yield rb.slice(lo, hi - lo)


def _enc_arrow_schema():
    """Arrow twin of ENCODED_SCHEMA, the schema ``_BlockEmitter`` builds."""
    import pyarrow as pa

    return pa.schema(
        [
            ("block_id", pa.int64()),
            ("part_id", pa.int32()),
            ("seq_in_part", pa.int32()),
            ("n_docs", pa.int32()),
            ("n_tokens", pa.int64()),
            ("doc_ids", pa.list_(pa.string())),
            ("doc_lens", pa.list_(pa.int32())),
            ("sources", pa.list_(pa.string())),
            ("id_min", pa.string()),
            ("id_max", pa.string()),
            ("codec", pa.string()),
            ("raw_bytes", pa.int64()),
            ("enc_bytes", pa.int64()),
            ("crc32_raw", pa.int64()),
            ("crc32_buf", pa.int64()),
            ("enc_us", pa.int64()),  # per-block encode+container wall — the
            ("buffer", pa.binary()),  # reference's metric snapshots' analog (O36)
        ]
    )


def _decode_block_checked(col: dict, i: int, strict: bool) -> np.ndarray:
    """Decode one block row's buffer with the two-stage crc gate (buffer
    crc BEFORE decode so corruption fails here, raw crc after) — shared by
    every kernel that reads block buffers."""
    raw_buf = col["buffer"][i].as_py()
    if strict and "crc32_buf" in col:
        bcrc = zlib.crc32(raw_buf)
        bexpect = col["crc32_buf"][i].as_py()
        if bcrc != bexpect:
            raise ValueError(
                f"buffer crc32 mismatch on block"
                f" {col['block_id'][i].as_py()}: {bcrc} != {bexpect}"
            )
    flat = decode_array(raw_buf)
    if strict:
        crc = zlib.crc32(flat.astype("<i4").tobytes())
        expect = col["crc32_raw"][i].as_py()
        if crc != expect:
            raise ValueError(
                f"crc32 mismatch on block {col['block_id'][i].as_py()}:"
                f" {crc} != {expect}"
            )
    return flat


def _tiling_lens(lens_arr, n_values: int, where: str, name: str = "doc_lens") -> np.ndarray:
    """Per-row lengths (an Arrow int array; ``name`` is its column) as int64,
    checked to tile the ``n_values`` decoded values.  ``crc32_raw`` covers
    the value stream but not the lengths: a short sum would silently drop the
    block's tail and a negative length would build an invalid Arrow list."""
    lens = lens_arr.to_numpy(zero_copy_only=False).astype(np.int64)
    total = int(lens.sum())
    if total != n_values or (lens.size and int(lens.min()) < 0):
        raise ValueError(
            f"{name} do not tile {where}: {lens.size} lengths sum to {total}"
            f" (min {int(lens.min()) if lens.size else 0}),"
            f" decoded {n_values} values"
        )
    return lens


def _decode_docs_checked(col: dict, i: int, strict: bool) -> tuple[np.ndarray, np.ndarray]:
    """``_decode_block_checked`` plus the row's ``doc_lens``, checked to tile
    the decoded tokens — for every reader that splits a block into docs."""
    flat = _decode_block_checked(col, i, strict)
    where = f"block {col['block_id'][i].as_py()}"
    return flat, _tiling_lens(col["doc_lens"][i].values, flat.size, where)


def _list_array(flat: np.ndarray, lens: np.ndarray, dtype=np.int32):
    """A list column rebuilt from a decoded flat stream and per-row lengths
    (``ListArray.from_arrays`` — no per-row np.split / Python objects)."""
    import pyarrow as pa

    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), pa.array(flat.astype(dtype))
    )


def _decode_column(buf: bytes, crc: int, lens_arr, strict: bool, where: str):
    """One multi-column buffer back to its list column: buffer crc gate,
    decode, length tiling."""
    if strict and zlib.crc32(buf) != crc:
        raise ValueError(f"buffer crc32 mismatch on {where}")
    flat = decode_array(buf)
    return _list_array(flat, _tiling_lens(lens_arr, flat.size, where))


class _BlockEmitter:
    """The one place a token block becomes an ENCODED_SCHEMA manifest row.

    ``add`` encodes a block and wraps it in the container (``enc_us`` times
    exactly these two steps, in every kernel), and derives the rest of the
    row: counts, ``raw_bytes``, both crc32s, doc-id bounds, and for a new
    block its identity ``block_id = (part_id << 24) | seq_in_part``.
    ``flush`` yields the rows added since the last flush as one Arrow batch.
    The kernels (encode, compact, transcode, delete) decide only which docs
    form a block; a manifest column is added here and in ``ENCODED_SCHEMA``
    / ``_enc_arrow_schema``, nowhere else.
    """

    def __init__(
        self,
        codec: str,
        page_tokens: int,
        container: str = "none",
        container_level: int | None = None,
        container_dict: bytes | None = None,
        part_base: int = 0,
    ):
        ctx = TaskContext.get()
        self.part_id = (ctx.partitionId() if ctx is not None else 0) + part_base
        self.seq = 0
        self.codec, self.page_tokens = codec, page_tokens
        self.container, self.level, self.zdict = container, container_level, container_dict
        self.schema = _enc_arrow_schema()
        self.cols: dict[str, list] = {n: [] for n in self.schema.names}

    def add(self, flat, doc_ids: list, doc_lens, sources, ident=None, crc32_raw=None):
        """Emit one block of ``flat`` tokens.  ``ident`` (block_id, part_id,
        seq_in_part) and ``crc32_raw`` keep an existing block's identity and
        raw-stream lineage; omitted, the block takes this task's next seq
        and the crc of ``flat``."""
        t0 = _time.perf_counter()
        buf, codec_name = encode_paged(flat, codec=self.codec, page_tokens=self.page_tokens)
        if self.container != "none":
            buf = wrap_container(buf, method=self.container, level=self.level, zdict=self.zdict)
        enc_us = int((_time.perf_counter() - t0) * 1e6)
        if ident is None:
            ident = ((self.part_id << 24) | _check_seq(self.seq), self.part_id, self.seq)
            self.seq += 1
        if crc32_raw is None:
            crc32_raw = zlib.crc32(flat.astype("<i4").tobytes())
        n_tokens = int(flat.size)
        row = {
            "block_id": ident[0],
            "part_id": ident[1],
            "seq_in_part": ident[2],
            "n_docs": len(doc_ids),
            "n_tokens": n_tokens,
            "doc_ids": doc_ids,
            "doc_lens": doc_lens,
            "sources": sources,
            # per-block doc-id bounds: parquet min/max stats on these two
            # short strings let point lookups prune row groups without
            # reading the doc_ids list column (decode_docs)
            "id_min": min(doc_ids),
            "id_max": max(doc_ids),
            "codec": codec_name,
            "raw_bytes": 4 * n_tokens,
            "enc_bytes": len(buf),
            "crc32_raw": crc32_raw,
            "crc32_buf": zlib.crc32(buf),
            "enc_us": enc_us,
            "buffer": buf,
        }
        for name, v in row.items():
            self.cols[name].append(v)

    def flush(self) -> Iterator:
        import pyarrow as pa

        if self.cols["block_id"]:
            cols, self.cols = self.cols, {n: [] for n in self.schema.names}
            yield pa.RecordBatch.from_pydict(cols, schema=self.schema)


_IDENT_COLS = ("block_id", "part_id", "seq_in_part")
# what the in-place rewrites (transcode, delete) read of a block row
_REWRITE_COLS = [*_IDENT_COLS, "doc_ids", "doc_lens", "sources", "crc32_raw", "crc32_buf", "buffer"]


def _ident(col: dict, i: int) -> tuple:
    return tuple(col[n][i].as_py() for n in _IDENT_COLS)


def _encode_fn(
    tokens_col: str,
    id_col: str,
    source_col: str | None,
    codec: str,
    block_tokens: int,
    page_tokens: int = DEFAULT_PAGE_TOKENS,
    container: str = "none",
    container_level: int | None = None,
    container_dict: bytes | None = None,
    part_base: int = 0,
):
    """Arrow-native encode kernel (``mapInArrow``).

    The JVM->Python hop moves whole Arrow record batches (the analog of the
    reference's bulk BEAM->NIF crossing, SURVEY.md §3.1); ``list<int32>``
    token arrays are flattened zero-copy via the Arrow child-values buffer —
    no pandas Series-of-ndarrays materialization, which profiling showed
    cost as much as the codecs themselves.
    """

    def fn(batches: Iterator) -> Iterator:
        em = _BlockEmitter(
            codec, page_tokens, container, container_level, container_dict, part_base
        )
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tok_arr = rb.column(rb.schema.get_field_index(tokens_col))
            ids_arr = rb.column(rb.schema.get_field_index(id_col))
            src_arr = rb.column(rb.schema.get_field_index(source_col)) if source_col else None
            # zero-copy int32 view: every codec widens its own block slice
            # (<= block_tokens) on entry, so the old batch-wide int64 copy
            # (~84 MB per 10k-row batch) only churned worker heap — see
            # _KERNEL_SLICE_TOKENS for why that serializes under 32 workers
            flat_all, lens = _flatten_arrow(tok_arr, dtype=None)
            _check_int32_tokens(flat_all, tok_arr)
            offs = np.concatenate(([0], np.cumsum(lens)))
            for lo, hi in _block_bounds(lens, block_tokens):
                em.add(
                    flat_all[offs[lo] : offs[hi]],
                    ids_arr.slice(lo, hi - lo).to_pylist(),
                    lens[lo:hi].astype(np.int32),
                    src_arr.slice(lo, hi - lo).to_pylist() if src_arr is not None else None,
                )
            yield from em.flush()

    return fn


def encode(
    df: DataFrame,
    codec: str = "auto",
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    source_col: str | None = "source",
    num_partitions: int | None = None,
    block_tokens: int = DEFAULT_BLOCK_TOKENS,
    page_tokens: int = DEFAULT_PAGE_TOKENS,
    repartition: bool = True,
    container: str = "none",
    container_level: int | None = None,
    container_dict: bytes | None = None,
    part_base: int = 0,
) -> DataFrame:
    """Encode a tokens table into self-describing compressed blocks.

    Analog of ``GorillaStream.Stream.compress_stream/2``
    (``/root/reference/lib/gorilla_stream/stream.ex:62-86``): chunk, encode
    each chunk independently, emit buffer + per-chunk metadata.  Codec
    selection is per *page* (``page_tokens``) inside each block; partitions
    are sorted by (source, doc_id) when a source column exists so pages stay
    stratum-homogeneous after the shuffle.

    ``part_base`` namespaces this run's ``part_id``s (and therefore
    ``block_id``s) for BATCH APPEND: a second ingest run into the same
    table must pass a base above the table's current max ``part_id``, or
    both runs number partitions from 0 and their block ids collide.
    (Streaming ingest gets this from ``encode_stream``'s replay markers;
    compaction computes it automatically.)  Id allocation is
    snapshot-based, so CONCURRENT writers to one table — two appends, or
    an append racing a compaction — can still both read the same max and
    collide; serialize table maintenance, or reserve disjoint base ranges
    per writer up front.
    """
    if source_col and source_col not in df.columns:
        source_col = None
    cols = [id_col, tokens_col] + ([source_col] if source_col else [])
    slim = df.select(*cols)  # column pruning before the Arrow hop
    if repartition:
        sort_cols = ([source_col] if source_col else []) + [id_col]
        slim = salted_repartition(
            slim, num_partitions=num_partitions, id_col=id_col, sort_cols=sort_cols
        )
    return slim.mapInArrow(
        _encode_fn(
            tokens_col, id_col, source_col, codec, block_tokens, page_tokens,
            container, container_level, container_dict, part_base,
        ),
        ENCODED_SCHEMA,
    )


def _decode_fn(strict: bool, container_dict: bytes | None = None):
    """Arrow-native decode kernel: rebuilds each block's ``list<int32>``
    token column directly from the decoded flat array + offsets
    (``ListArray.from_arrays`` — no per-row np.split / pandas objects)."""
    import pyarrow as pa

    out_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("tokens", pa.list_(pa.int32())),
            ("n_tok", pa.int32()),
            ("source", pa.string()),
        ]
    )

    def fn(batches: Iterator) -> Iterator:
        # the dict rides the task closure (the broadcast analog of the
        # reference's ddict reference) and lands in the worker registry
        register_container_dict(container_dict)
        for rb in batches:
            names = rb.schema.names
            col = {n: rb.column(i) for i, n in enumerate(names)}
            for i in range(rb.num_rows):
                flat, lens = _decode_docs_checked(col, i, strict)
                srcs_cell = col["sources"][i]
                srcs = (
                    srcs_cell.values
                    if srcs_cell.is_valid
                    else pa.nulls(len(lens), type=pa.string())
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        col["doc_ids"][i].values.cast(pa.string()),
                        _list_array(flat, lens),
                        pa.array(lens.astype(np.int32), type=pa.int32()),
                        srcs.cast(pa.string()),
                    ],
                    schema=out_schema,
                )

    return fn


def decode(
    enc_df: DataFrame, strict: bool = True, container_dict: bytes | None = None
) -> DataFrame:
    """Decode blocks back to rows; bit-identical token arrays per doc.

    ``strict=True`` makes checksum mismatch fatal (the reference tolerates
    and flags it, ``decoder/metadata.ex:41-44`` — we default to strict and
    let callers opt out, recording nothing silently).  Only the columns the
    decoder reads cross the Arrow boundary — the projection reaches the
    parquet scan, so stats/crc/codec manifest columns are never fetched.
    """
    needed = ["block_id", "doc_ids", "doc_lens", "sources", "crc32_raw", "buffer"]
    if strict and "crc32_buf" in enc_df.columns:
        needed.insert(-1, "crc32_buf")
    return enc_df.select(*needed).mapInArrow(
        _decode_fn(strict, container_dict), DECODED_SCHEMA
    )


def manifest(enc_df: DataFrame) -> DataFrame:
    """Manifest view: everything except the payload buffer (header-only
    reads, analog of ``GorillaStream.File.get_file_info/1``,
    ``/root/reference/lib/gorilla_stream/file.ex:121-148``)."""
    return enc_df.drop("buffer", "doc_ids", "doc_lens", "sources")


_COMPACT_PART_BASE = 1 << 20
"""Reserved ``part_id`` namespace for compacted blocks.

``compact_blocks`` re-stamps merged blocks as ``part_id = base + pid`` so
their ``block_id``s cannot collide with passthrough blocks (which keep
their original ids).  Holds as long as ingest partition counts stay below
2^20 — ingest ``part_id`` comes from ``num_partitions``, and a 1M-partition
encode job is far past the point where block sizing should change instead.
"""


def _compact_fn(
    codec: str,
    block_tokens: int,
    page_tokens: int,
    strict: bool,
    container: str,
    container_level: int | None,
    container_dict: bytes | None,
    part_base: int = _COMPACT_PART_BASE,
):
    """Arrow kernel: decode under-filled blocks, re-chunk to ``block_tokens``,
    re-encode.  Memory is bounded: pending docs are flushed as soon as they
    fill a block, so at most ~(arrow batch + block_tokens) tokens are held."""

    def fn(batches: Iterator) -> Iterator:
        register_container_dict(container_dict)
        em = _BlockEmitter(
            codec, page_tokens, container, container_level, container_dict, part_base
        )
        # pending docs not yet filling a block: parallel per-doc arrays
        p_flat: list[np.ndarray] = []
        p_lens: list[np.ndarray] = []
        p_ids: list[list] = []
        p_srcs: list[list] = []
        p_tokens = 0

        def emit_blocks(final: bool):
            nonlocal p_flat, p_lens, p_ids, p_srcs, p_tokens
            if not p_lens:
                return
            flat_all = p_flat[0] if len(p_flat) == 1 else np.concatenate(p_flat)
            lens = p_lens[0] if len(p_lens) == 1 else np.concatenate(p_lens)
            ids = [i for chunk in p_ids for i in chunk]
            srcs = [s for chunk in p_srcs for s in chunk]
            offs = np.concatenate(([0], np.cumsum(lens)))
            bounds = _block_bounds(lens, block_tokens)
            if not final and bounds:
                lo, hi = bounds[-1]
                if offs[hi] - offs[lo] < block_tokens:
                    bounds.pop()  # tail stays pending until it fills
            if not bounds:
                return
            for lo, hi in bounds:
                em.add(
                    flat_all[offs[lo] : offs[hi]], ids[lo:hi],
                    lens[lo:hi].astype(np.int32), srcs[lo:hi],
                )
            cut = bounds[-1][1]
            if cut < len(lens):
                # reset pending on ROW count, not token count — a pending
                # tail of zero-token docs must keep all four accumulators
                # aligned or the final flush concatenates mismatched lists
                p_flat = [flat_all[offs[cut] :]]
                p_lens = [lens[cut:]]
                p_ids = [ids[cut:]]
                p_srcs = [srcs[cut:]]
                p_tokens = int(p_flat[0].size)
            else:
                p_flat, p_lens, p_ids, p_srcs = [], [], [], []
                p_tokens = 0

        for rb in batches:
            names = rb.schema.names
            col = {n: rb.column(i) for i, n in enumerate(names)}
            for i in range(rb.num_rows):
                flat, lens = _decode_docs_checked(col, i, strict)
                srcs_cell = col["sources"][i]
                p_flat.append(flat.astype(np.int64, copy=False))
                p_lens.append(lens)
                p_ids.append(col["doc_ids"][i].values.to_pylist())
                p_srcs.append(
                    srcs_cell.values.to_pylist() if srcs_cell.is_valid else [None] * len(lens)
                )
                p_tokens += int(flat.size)
                if p_tokens >= block_tokens:
                    emit_blocks(final=False)
                    yield from em.flush()
        emit_blocks(final=True)
        yield from em.flush()

    return fn


def compact_blocks(
    enc_df: DataFrame,
    codec: str = "auto",
    block_tokens: int = DEFAULT_BLOCK_TOKENS,
    min_tokens: int | None = None,
    page_tokens: int = DEFAULT_PAGE_TOKENS,
    num_partitions: int | None = None,
    strict: bool = True,
    container: str = "none",
    container_level: int | None = None,
    container_dict: bytes | None = None,
) -> DataFrame:
    """Merge under-filled blocks into full ones; healthy blocks pass through.

    Streaming / checkpointed ingest and per-micro-batch encode leave tables
    littered with small blocks (the reference's streaming chunks have the
    same failure mode, ``lib/gorilla_stream/stream.ex:39-42`` — 5,000-point
    chunks regardless of how full the last one is).  At 100 TB that means
    more manifest rows to scan, worse codec ratios (fixed per-block header
    cost), and more tasks per decode.

    Scale shape: only blocks with ``n_tokens < min_tokens`` (default
    ``block_tokens // 2``) are shuffled and re-encoded — the healthy
    majority passes through with buffers, ids, and manifests untouched, so
    compaction cost is proportional to the *fragmented* fraction, not the
    table.  Re-encoded blocks take ``part_id`` above both the reserved
    namespace floor (``_COMPACT_PART_BASE``) and the table's current max
    ``part_id`` (one cheap manifest-stats agg), so ``block_id`` stays
    unique table-wide across REPEATED compactions — run 2's merged blocks
    never reuse ids that run 1's survivors still carry.
    """
    min_tokens = int(min_tokens if min_tokens is not None else block_tokens // 2)
    small = enc_df.filter(F.col("n_tokens") < min_tokens)
    large = enc_df.filter(F.col("n_tokens") >= min_tokens)
    P = num_partitions or enc_df.sparkSession.sparkContext.defaultParallelism
    prev_max = enc_df.agg(F.max("part_id")).first()[0]
    part_base = max(_COMPACT_PART_BASE, int(prev_max or 0) + 1)
    needed = ["block_id", "doc_ids", "doc_lens", "sources", "crc32_raw", "buffer"]
    if strict and "crc32_buf" in enc_df.columns:
        needed.insert(-1, "crc32_buf")
    merged = (
        small.select(*needed)
        .repartition(P)
        .mapInArrow(
            _compact_fn(
                codec, block_tokens, page_tokens, strict,
                container, container_level, container_dict,
                part_base=part_base,
            ),
            ENCODED_SCHEMA,
        )
    )
    # checkpointed-encode tables carry extra bookkeeping columns (e.g.
    # config_fp); passthrough rows keep them, re-encoded rows get NULL —
    # a merged block spans source blocks whose fingerprints may differ
    return large.unionByName(merged, allowMissingColumns=True)


def merge_tables(enc_a: DataFrame, enc_b: DataFrame) -> DataFrame:
    """Union two encoded tables with collision-free block identity —
    METADATA-ONLY (no buffer is read, decoded, or re-encoded).

    Two corpora encoded separately (two ingest jobs, two teams, a
    historical archive + fresh crawl) both start their ``part_id``s at 0,
    so a naive union collides on ``block_id``.  This re-stamps table B's
    partition ids densely above table A's maximum and recomputes
    ``block_id = (part_id << 24) | seq_in_part`` — the same identity rule
    the encoder uses (`_encode_fn`), so downstream compact/fsck/point-
    lookup behave as if the merged table had been encoded in one job.

    Scale: one tiny aggregate over A's manifest for the shift base; the
    data pass is a pure column projection.  At 100 TB this moves nothing.

    The re-stamp is a uniform SHIFT of B's part ids (``+ max_a + 1``), not
    a dense re-rank, and deliberately uses only column arithmetic: the
    encoder stamps ``part_id`` from ``TaskContext.partitionId()``, so for a
    LAZY (not yet written) encode the ids materialize differently inside
    the final union plan than in a standalone evaluation — any re-stamp
    keyed on a separately-evaluated id snapshot (a join against a mapping
    table) silently mismatches.  Column arithmetic is evaluated against
    whatever ids exist at final evaluation, so uniqueness holds for lazy
    and materialized inputs alike (regression-tested with two uncached
    encodes).  ``F.assert_true`` guards int32 overflow at evaluation time.
    """
    mx = enc_a.agg(F.max("part_id")).first()[0]
    base = int(mx if mx is not None else -1) + 1
    shifted = F.col("part_id").cast("long") + F.lit(base)
    # the overflow guard lives ON the evaluated expression path: a check in
    # a separate immediately-dropped column could be pruned by Catalyst and
    # never evaluate, letting an overflowing part_id wrap silently
    guarded = F.when(shifted < F.lit((1 << 31) - 1), shifted).otherwise(
        F.raise_error(F.lit("merged part_id would overflow int32")).cast("long")
    )
    nb = (
        enc_b.withColumn("part_id", guarded.cast("int"))
        .withColumn(
            "block_id",
            F.shiftleft(F.col("part_id").cast("long"), 24).bitwiseOR(
                F.col("seq_in_part").cast("long")
            ),
        )
    )
    return enc_a.unionByName(nb.select(*enc_a.columns))


def transcode_blocks(
    enc_df: DataFrame,
    codec: str = "auto",
    page_tokens: int = DEFAULT_PAGE_TOKENS,
    container: str = "none",
    container_level: int | None = None,
    container_dict: bytes | None = None,
    strict: bool = True,
) -> DataFrame:
    """Re-encode every block in place with a new codec/container — the
    codec-migration pass (roll a table to a newer container, apply a
    trained dictionary, force a specific codec after an analyzer review).

    SHUFFLE-FREE: one ``mapInArrow`` pass; block boundaries, doc
    membership, ``block_id``/``part_id`` identity, and the raw-bytes
    lineage (``crc32_raw``) are all preserved — only ``codec``,
    ``enc_bytes``, ``crc32_buf``, ``enc_us`` and the buffer change.
    Contrast ``compact_blocks`` (re-blocks the fragmented fraction,
    shuffles it) — transcode touches every buffer but moves none.
    Decode equality is bit-exact (the q63 driver oracle).
    """

    def fn(batches: Iterator) -> Iterator:
        register_container_dict(container_dict)
        em = _BlockEmitter(codec, page_tokens, container, container_level, container_dict)
        for rb in batches:
            names = rb.schema.names
            col = {n: rb.column(i) for i, n in enumerate(names)}
            for i in range(rb.num_rows):
                em.add(
                    _decode_block_checked(col, i, strict),
                    col["doc_ids"][i].values.to_pylist(),
                    col["doc_lens"][i].values.to_numpy(zero_copy_only=False),
                    col["sources"][i].as_py(),
                    ident=_ident(col, i),
                    crc32_raw=col["crc32_raw"][i].as_py(),
                )
            yield from em.flush()

    return enc_df.select(*_REWRITE_COLS).mapInArrow(fn, ENCODED_SCHEMA)


def _prune_by_id_bounds(enc_df: DataFrame, doc_ids: list[str]) -> DataFrame:
    """Row-group-prunable pre-filter on the (id_min, id_max) manifest bounds.

    Plain string comparisons on two short columns reach the parquet scan as
    pushed filters, so row groups whose id range misses every wanted id are
    skipped without reading the fat ``doc_ids`` list column.  Up to 64 ids
    get exact per-id range predicates; beyond that a single [min, max]
    envelope still prunes coarsely.  Tables written before these columns
    existed pass through unchanged (the membership filter still applies).
    """
    if "id_min" not in enc_df.columns or "id_max" not in enc_df.columns:
        return enc_df
    if len(doc_ids) <= 64:
        cond = None
        for d in doc_ids:
            c = (F.col("id_min") <= d) & (F.col("id_max") >= d)
            cond = c if cond is None else (cond | c)
    else:
        cond = (F.col("id_min") <= max(doc_ids)) & (F.col("id_max") >= min(doc_ids))
    # mixed-schema tables (old parquet files appended to, or compaction
    # passthrough over a pre-bounds table) read back NULL bounds — those
    # blocks must stay IN (the membership filter still screens them), or
    # the lookup silently loses their docs
    return enc_df.filter(cond | F.col("id_min").isNull() | F.col("id_max").isNull())


def decode_docs(
    enc_df: DataFrame,
    doc_ids: list[str],
    strict: bool = True,
    container_dict: bytes | None = None,
) -> DataFrame:
    """Point-lookup decode: prune blocks by manifest membership first.

    Blocks carry their doc id list inline, so a lookup touches only the
    blocks that contain requested docs — at 10^12-sequence scale the
    `arrays_overlap` filter runs JVM-side against the (small) manifest
    columns and the expensive buffer decode happens for a handful of
    blocks, not the table.  Equivalent of reading one series out of a
    `.gorilla` file without decoding the rest (the reference cannot: its
    file is one monolithic stream, ``file.ex:74-97``).
    """
    if not doc_ids:  # F.array() of zero columns is invalid — empty lookup
        return decode(enc_df.limit(0), strict=strict, container_dict=container_dict)
    wanted = F.array([F.lit(d) for d in doc_ids])
    pruned = _prune_by_id_bounds(enc_df, doc_ids).filter(
        F.arrays_overlap(F.col("doc_ids"), wanted)
    )
    return decode(pruned, strict=strict, container_dict=container_dict).filter(
        F.col("doc_id").isin(doc_ids)
    )


def _delete_fn(
    delete_ids: frozenset,
    codec: str,
    page_tokens: int,
    strict: bool,
    container: str,
    container_level: int | None,
    container_dict: bytes | None,
):
    """Arrow kernel for targeted deletes: decode each affected block, drop
    the target docs' token ranges (one boolean repeat-mask, no per-token
    Python), re-encode in place.  Block identity (block_id/part_id/
    seq_in_part) is PRESERVED — the block shrinks, it doesn't move —
    so table-wide id uniqueness and downstream point-lookup pruning keep
    working.  Fully-deleted blocks are dropped."""

    def fn(batches: Iterator) -> Iterator:
        register_container_dict(container_dict)
        em = _BlockEmitter(codec, page_tokens, container, container_level, container_dict)
        for rb in batches:
            names = rb.schema.names
            col = {n: rb.column(i) for i, n in enumerate(names)}
            for i in range(rb.num_rows):
                ids = col["doc_ids"][i].values.to_pylist()
                keep = np.array([d not in delete_ids for d in ids], dtype=bool)
                if not keep.any():
                    continue  # whole block deleted
                flat, lens = _decode_docs_checked(col, i, strict)
                srcs = col["sources"][i].as_py()
                if srcs is None:
                    srcs = [None] * len(ids)
                em.add(
                    flat[np.repeat(keep, lens)],
                    [d for d, k in zip(ids, keep) if k],
                    lens[keep].astype(np.int32),
                    [s for s, k in zip(srcs, keep) if k],
                    ident=_ident(col, i),
                )
            yield from em.flush()

    return fn


_DELETE_MAX_IDS = 10_000


def delete_docs(
    enc_df: DataFrame,
    doc_ids: list[str],
    codec: str = "auto",
    page_tokens: int = DEFAULT_PAGE_TOKENS,
    strict: bool = True,
    container: str = "none",
    container_level: int | None = None,
    container_dict: bytes | None = None,
) -> DataFrame:
    """Targeted delete (takedown / right-to-be-forgotten): remove the named
    docs from an encoded table WITHOUT re-encoding it.

    The 100 TB shape: deletion requests name a handful of docs; a full
    decode→filter→encode pass over the table to honor them is absurd.
    Blocks carry their doc-id list inline, so the affected set is found
    JVM-side on manifest columns (``id_min``/``id_max`` zone-map prune →
    ``arrays_overlap`` membership, the same pruning as ``decode_docs``);
    only those blocks decode, drop the target ranges, and re-encode in
    place — identity preserved, everything else passes through with
    buffers untouched.  Deleting every doc of a block drops the block.

    Bounded by design at ``_DELETE_MAX_IDS`` literal ids (requests are
    small; the literal array keeps the membership check a pure JVM
    expression with no join).  For corpus-scale removals use the
    decontaminate/filter + ``encode`` path instead — that's a rewrite,
    not a delete.

    No reference analog: a ``.gorilla`` file is one monolithic stream —
    removing one series means rewriting the file (``file.ex:74-97``).
    """
    if not doc_ids:
        return enc_df
    if len(doc_ids) > _DELETE_MAX_IDS:
        raise ValueError(
            f"{len(doc_ids)} ids > {_DELETE_MAX_IDS}: targeted delete is for "
            "small takedown sets; for bulk removal filter the corpus and "
            "re-encode (or run decontaminate + encode)"
        )
    wanted = F.array([F.lit(d) for d in doc_ids])
    hit = F.arrays_overlap(F.col("doc_ids"), wanted)
    untouched = enc_df.filter(~hit)
    affected = _prune_by_id_bounds(enc_df, doc_ids).filter(hit)
    rewritten = affected.select(*_REWRITE_COLS).mapInArrow(
        _delete_fn(
            frozenset(doc_ids), codec, page_tokens, strict,
            container, container_level, container_dict,
        ),
        ENCODED_SCHEMA,
    )
    # checkpointed tables carry extra lineage columns on passthrough rows;
    # rewritten rows get NULL there (same contract as compact_blocks)
    return untouched.unionByName(rewritten, allowMissingColumns=True)


def read_timerange(enc_df: DataFrame, ts_lo: int, ts_hi: int) -> DataFrame:
    """Time-range read of an encoded timeseries table with manifest pruning.

    Blocks are written time-sorted (``encode_timeseries`` range-partitions
    and sorts), so the (ts_min, ts_max) manifest columns prune all
    non-overlapping blocks before any buffer is decoded — the Iceberg
    min/max-stats pattern applied to codec blocks.
    """
    return ts_read_range(enc_df, ts_lo, ts_hi, decode_timeseries)


def ts_read_range(enc_df: DataFrame, ts_lo: int, ts_hi: int, decode) -> DataFrame:
    """Prune blocks on (ts_min, ts_max), ``decode`` the rest, keep the rows
    in ``[ts_lo, ts_hi]`` — the time-range read of both block formats."""
    pruned = enc_df.filter((F.col("ts_max") >= ts_lo) & (F.col("ts_min") <= ts_hi))
    return decode(pruned).filter((F.col("ts") >= ts_lo) & (F.col("ts") <= ts_hi))


ESTIMATE_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("n_tokens", LongType(), False),
        StructField("card", LongType(), False),
        StructField("n_runs", LongType(), False),
        StructField("is_sorted", IntegerType(), False),
        StructField("delta_width", IntegerType(), False),
        StructField("codec", StringType(), False),
        StructField("raw_bytes", LongType(), False),
        StructField("est_bytes", LongType(), False),
        StructField("est_ratio", DoubleType(), False),
    ]
)


def estimate(
    df: DataFrame,
    tokens_col: str = "tokens",
    block_tokens: int = DEFAULT_BLOCK_TOKENS,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-block codec-selector features + predicted size, without encoding.

    Analog of ``Encoder.estimate_compression_ratio/1``
    (``/root/reference/lib/gorilla_stream/compression/gorilla/
    encoder.ex:197-359``).  ``num_partitions`` forces a round-robin
    repartition when the input has too few splits to use the cluster
    (estimation is split-agnostic — no salted shuffle needed).
    """
    from gorilla_stream_spark.selector import block_estimate

    def fn(batches: Iterator) -> Iterator:
        import pyarrow as pa

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            # int32 view (no widening copy): estimation samples, not encodes
            flat_all, lens = _flatten_arrow(rb.column(0), dtype=None)
            offs = np.concatenate(([0], np.cumsum(lens)))
            for lo, hi in _block_bounds(lens, block_tokens):
                flat = flat_all[offs[lo] : offs[hi]]
                f, sizes = block_estimate(flat)
                best = min(sizes, key=sizes.get)
                raw = 4 * int(flat.size)
                yield pa.RecordBatch.from_pydict(
                    {
                        "part_id": pa.array([pid], pa.int32()),
                        "n_tokens": pa.array([int(flat.size)], pa.int64()),
                        "card": pa.array([int(f.get("card", 0))], pa.int64()),
                        "n_runs": pa.array([int(f.get("n_runs", 0))], pa.int64()),
                        "is_sorted": pa.array([int(f.get("sorted", False))], pa.int32()),
                        "delta_width": pa.array([int(f.get("delta_width", 0))], pa.int32()),
                        "codec": pa.array([best], pa.string()),
                        "raw_bytes": pa.array([raw], pa.int64()),
                        "est_bytes": pa.array([int(sizes[best])], pa.int64()),
                        "est_ratio": pa.array([sizes[best] / raw if raw else 1.0], pa.float64()),
                    }
                )

    slim = df.select(tokens_col)
    if num_partitions and slim.rdd.getNumPartitions() < num_partitions:
        # only shuffle when the input genuinely under-uses the cluster: a
        # keyless repartition pays a local sort of every row (Spark sorts
        # before round-robin so task retries reproduce the assignment) —
        # pure overhead when the scan already has enough splits
        slim = slim.repartition(num_partitions)
    return slim.mapInArrow(fn, ESTIMATE_SCHEMA)


# ---------------------------------------------------------------------------
# Time-series API — the direct Gorilla analog on (ts:int64, value:float64)
# streams (``GorillaStream.compress/2``, lib/gorilla_stream.ex:74-119).
# ---------------------------------------------------------------------------

TS_ENCODED_SCHEMA = StructType(
    [
        StructField("block_id", LongType(), False),
        StructField("n_points", LongType(), False),
        StructField("ts_codec", StringType(), False),
        StructField("val_codec", StringType(), False),
        StructField("raw_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("ts_min", LongType(), True),
        StructField("ts_max", LongType(), True),
        StructField("ts_buffer", BinaryType(), False),
        StructField("val_buffer", BinaryType(), False),
    ]
)


def ts_blocks(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    num_partitions: int | None,
    assume_sorted: bool,
    block_points: int,
    encode_block,
    schema: StructType,
) -> DataFrame:
    """The block loop both time-series formats share.  Unless
    ``assume_sorted``, rows are range-partitioned on time (when
    ``num_partitions``) and sorted within each partition, so a block covers
    a contiguous time range for (ts_min, ts_max) pruning.  Each partition is
    cut into blocks of exactly ``block_points`` points, the last one
    shorter (reference chunking, ``stream.ex:70``); ``encode_block(ts,
    vals)`` supplies the format's own columns of each ``schema`` row.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    slim = df.select(F.col(ts_col).cast("long").alias("__ts"), F.col(val_col).cast("double").alias("__val"))
    if not assume_sorted:
        if num_partitions:
            slim = range_partition(slim, "__ts", num_partitions)
        # the value breaks ties, so duplicate timestamps order the same way
        # on every run
        slim = slim.sortWithinPartitions("__ts", "__val")
    arrow_schema = to_arrow_schema(schema)

    def fn(batches: Iterator) -> Iterator:
        import pyarrow as pa

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        seq = 0

        def emit(ts: np.ndarray, vals: np.ndarray):
            nonlocal seq
            row = {
                "block_id": (pid << 24) | _check_seq(seq),
                "n_points": int(ts.size),
                "ts_min": int(ts.min()),
                "ts_max": int(ts.max()),
                **encode_block(ts, vals),
            }
            seq += 1
            return pa.RecordBatch.from_pylist([row], schema=arrow_schema)

        ts_acc, val_acc, n_acc = [], [], 0
        for rb in batches:  # Arrow batches, zero-copy to numpy (no pandas)
            if rb.num_rows == 0:
                continue
            # Fail loud on nulls: to_numpy would surface them as NaN and the
            # int64 cast would then silently store INT64_MIN, corrupting both
            # the block payload and ts_min pruning.  Mirrors the reference's
            # validate-first contract (gorilla.ex:188-204).
            if rb.column(0).null_count or rb.column(1).null_count:
                raise ValueError(
                    "time-series encode: null ts/value cells in input "
                    "(run validate.clean_timeseries first or filter nulls)"
                )
            ts_acc.append(rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64, copy=False))
            val_acc.append(rb.column(1).to_numpy(zero_copy_only=False).astype(np.float64, copy=False))
            n_acc += rb.num_rows
            if n_acc >= block_points:
                ts_all, val_all = np.concatenate(ts_acc), np.concatenate(val_acc)
                pos = 0
                while n_acc - pos >= block_points:
                    yield emit(ts_all[pos : pos + block_points], val_all[pos : pos + block_points])
                    pos += block_points
                ts_acc, val_acc, n_acc = [ts_all[pos:]], [val_all[pos:]], n_acc - pos
        if n_acc:
            yield emit(np.concatenate(ts_acc), np.concatenate(val_acc))

    return slim.mapInArrow(fn, schema)


def ts_decode(enc_df: DataFrame, buffer_cols: list[str], decode_block) -> DataFrame:
    """(ts, value) rows of a time-series block table, either format:
    ``decode_block(*buffers)`` turns one block's ``buffer_cols`` into its
    (ts, values) arrays."""

    def fn(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for rb in batches:
            for i in range(rb.num_rows):
                ts, vals = decode_block(*(c[i].as_py() for c in rb.columns))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ts, pa.int64()), pa.array(vals, pa.float64())],
                    names=["ts", "value"],
                )

    return enc_df.select(*buffer_cols).mapInArrow(fn, "ts long, value double")


def encode_timeseries(
    df: DataFrame,
    ts_col: str = "ts",
    val_col: str = "value",
    num_partitions: int | None = None,
    ts_codec: str = "auto",
    val_codec: str = "fauto",
    assume_sorted: bool = False,
) -> DataFrame:
    """Gorilla-style encode of a (timestamp, value) stream.

    Timestamps: int codec family, auto-selected (delta-of-delta wins on
    regular intervals — reference ``encoder/delta_encoding.ex``); values:
    float family, auto-selected per block among VictoriaMetrics-style
    decimal scaling (``enhancements.ex:19-50``), Gorilla XOR windows
    (``encoder/value_compression.ex``) and Chimp128-style lagged XOR
    (``gorilla_nif.cpp:577-713``) — the reference's ``algorithm`` and
    ``victoria_metrics`` options made automatic per block.  Blocks hold
    2^20 points, cut by :func:`ts_blocks`; with ``num_partitions`` the range
    bounds come from the data, so a re-run of the same input writes the
    same blocks.

    ``assume_sorted=True`` skips the range-partition shuffle AND the sort —
    for ingest layouts that are already time-ordered per partition (the
    common case for append-only telemetry written in arrival order, and the
    analog of the reference's in-memory benchmark where encode sees data as
    laid out).  Blocks still carry exact (ts_min, ts_max), so
    ``read_timerange`` pruning stays correct with any layout — overlapping
    block ranges just prune less sharply.
    """

    def encode_block(ts: np.ndarray, vals: np.ndarray) -> dict:
        tbuf, vbuf = encode_array(ts, codec=ts_codec), encode_array(vals, codec=val_codec)
        return {
            "ts_codec": codec_of(tbuf), "val_codec": codec_of(vbuf), "raw_bytes": int(ts.size) * 16,
            "enc_bytes": len(tbuf) + len(vbuf), "ts_buffer": tbuf, "val_buffer": vbuf,
        }

    return ts_blocks(
        df, ts_col, val_col, num_partitions, assume_sorted, 1 << 20, encode_block, TS_ENCODED_SCHEMA
    )


def _decode_ts_block(tbuf: bytes, vbuf: bytes) -> tuple[np.ndarray, np.ndarray]:
    ts, vals = decode_array(tbuf), decode_array(vbuf)
    if ts.size != vals.size:
        raise ValueError("ts/value count mismatch")  # reference invariant
    return ts.astype(np.int64, copy=False), vals.astype(np.float64, copy=False)


def decode_timeseries(enc_df: DataFrame) -> DataFrame:
    return ts_decode(enc_df, ["ts_buffer", "val_buffer"], _decode_ts_block)


# ---------------------------------------------------------------------------
# Multi-column encode — "per-column" across several array<int> columns of the
# same table (tokens + attention masks + span labels...).  Each column gets
# its own independently-selected codec buffer; rows stay aligned because all
# columns of a block share the same doc slice.
# ---------------------------------------------------------------------------


def encode_multi(
    df: DataFrame,
    token_cols: list[str],
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    block_tokens: int = DEFAULT_BLOCK_TOKENS,
    codec: str = "auto",
) -> DataFrame:
    """Encode several array<int> columns per row into per-column buffers.

    One block row carries ``len(token_cols)`` self-describing buffers (codec
    auto-selected per column per page — a mask column RLE-compresses while
    the tokens column picks forc/fsst).  Blocks chunk on the FIRST column's
    token budget; every column shares the block's doc slice, so decode
    realigns by position.
    """
    import pyarrow as pa

    if not token_cols:
        raise ValueError("token_cols must be non-empty")
    slim = df.select(id_col, *token_cols)
    if num_partitions:
        slim = salted_repartition(
            slim, num_partitions=num_partitions, id_col=id_col, sort_cols=[id_col]
        )

    out_schema = pa.schema(
        [
            ("block_id", pa.int64()),
            ("part_id", pa.int32()),
            ("n_docs", pa.int32()),
            ("doc_ids", pa.list_(pa.string())),
            ("id_min", pa.string()),
            ("id_max", pa.string()),
            ("col_names", pa.list_(pa.string())),
            ("codecs", pa.list_(pa.string())),
            ("col_lens", pa.list_(pa.list_(pa.int32()))),
            ("raw_bytes", pa.int64()),
            ("enc_bytes", pa.int64()),
            ("crc32_bufs", pa.list_(pa.int64())),
            ("buffers", pa.list_(pa.binary())),
        ]
    )

    def fn(batches: Iterator) -> Iterator:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        seq = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids_arr = rb.column(0)
            flats, lens_by_col = [], []
            for ci in range(len(token_cols)):
                fl, ln = _flatten_arrow(rb.column(1 + ci))
                _check_int32_tokens(fl, rb.column(1 + ci))
                flats.append(fl)
                lens_by_col.append(ln)
            offs = [np.concatenate(([0], np.cumsum(ln))) for ln in lens_by_col]
            cols: dict[str, list] = {n: [] for n in out_schema.names}
            for lo, hi in _block_bounds(lens_by_col[0], block_tokens):
                bufs, codecs_, col_lens, raw = [], [], [], 0
                for ci in range(len(token_cols)):
                    flat = flats[ci][offs[ci][lo] : offs[ci][hi]]
                    buf, _name = encode_paged(flat, codec=codec)
                    bufs.append(buf)
                    codecs_.append(codec_of(buf))
                    col_lens.append(lens_by_col[ci][lo:hi].astype(np.int32))
                    raw += 4 * int(flat.size)
                cols["block_id"].append((pid << 24) | _check_seq(seq))
                cols["part_id"].append(pid)
                cols["n_docs"].append(hi - lo)
                block_ids = ids_arr.slice(lo, hi - lo).to_pylist()
                cols["doc_ids"].append(block_ids)
                cols["id_min"].append(min(block_ids))
                cols["id_max"].append(max(block_ids))
                cols["col_names"].append(list(token_cols))
                cols["codecs"].append(codecs_)
                cols["col_lens"].append(col_lens)
                cols["raw_bytes"].append(raw)
                cols["enc_bytes"].append(sum(len(b) for b in bufs))
                cols["crc32_bufs"].append([zlib.crc32(b) for b in bufs])
                cols["buffers"].append(bufs)
                seq += 1
            if cols["block_id"]:
                yield pa.RecordBatch.from_pydict(cols, schema=out_schema)

    return slim.mapInArrow(fn, MULTI_ENCODED_DDL)


def decode_multi(enc_df: DataFrame, token_cols: list[str], strict: bool = True) -> DataFrame:
    """Decode multi-column blocks back to (doc_id, *token_cols) rows.

    ``token_cols`` may be any subset (in any order) of the stored columns —
    only the requested buffers are decoded; a requested column the block
    does not carry raises.  On the WIDE layout (:func:`widen_multi`) the
    unrequested ``buf_<col>`` columns are pruned at the parquet scan
    (ReadSchema), so decoding 1 of N columns reads ~1/N of the table's
    bytes; on the nested layout (``buffers array<binary>`` is one physical
    column) subsetting saves decode CPU only.  Mirrors ``decode``: only the
    columns the decoder reads cross the Arrow boundary.
    """
    import pyarrow as pa

    if any(c.startswith("buf_") for c in enc_df.columns):
        return _decode_multi_wide(enc_df, token_cols, strict)

    out_schema = pa.schema(
        [("doc_id", pa.string())] + [(c, pa.list_(pa.int32())) for c in token_cols]
    )

    def fn(batches: Iterator) -> Iterator:
        for rb in batches:
            col = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            for i in range(rb.num_rows):
                names = col["col_names"][i].as_py()
                try:
                    idxs = [names.index(c) for c in token_cols]
                except ValueError:
                    raise ValueError(
                        f"block has columns {names}, expected {list(token_cols)}"
                    ) from None
                bufs = col["buffers"][i].as_py()
                crcs = col["crc32_bufs"][i].as_py()
                lens = col["col_lens"][i].values
                bid = col["block_id"][i].as_py()
                arrays = [
                    _decode_column(
                        bufs[ci], crcs[ci], lens[ci].values, strict, f"block {bid} column {c}"
                    )
                    for c, ci in zip(token_cols, idxs)
                ]
                yield pa.RecordBatch.from_arrays(
                    [col["doc_ids"][i].values.cast(pa.string())] + arrays,
                    schema=out_schema,
                )

    ddl = "doc_id string, " + ", ".join(f"{c} array<int>" for c in token_cols)
    needed = ["block_id", "doc_ids", "col_names", "col_lens", "crc32_bufs", "buffers"]
    return enc_df.select(*needed).mapInArrow(fn, ddl)


_WIDE_BASE_COLS = [
    "block_id", "part_id", "n_docs", "doc_ids", "id_min", "id_max",
    "raw_bytes", "enc_bytes",
]


def _stored_wide_cols(df: DataFrame) -> list[str]:
    return [c[len("buf_"):] for c in df.columns if c.startswith("buf_")]


def widen_multi(enc_df: DataFrame, token_cols: list[str] | None = None) -> DataFrame:
    """Project the nested multi-column layout to the WIDE layout: one
    top-level ``(codec_<c>, lens_<c>, crc32_<c>, buf_<c>)`` group per token
    column instead of parallel arrays.

    Pure JVM projection — no shuffle, no Python, buffers untouched.  The
    point is physical column pruning: parquet stores each top-level column
    separately, so after ``widen_multi(...).write.parquet(...)`` a
    single-column ``decode_multi`` reads ONLY that column's bytes
    (ReadSchema excludes the other ``buf_*`` columns) — the C-Store
    motivation, I/O proportional to columns touched, not table width.  The
    nested layout (one ``buffers array<binary>`` column) cannot offer this:
    parquet reads the whole array no matter how few entries decode needs.

    :func:`narrow_multi` is the exact inverse; the nested layout remains
    the lifecycle format (compact / transcode / merge operate on it).
    ``token_cols=None`` reads the column list from the first block (one
    bounded driver lookup).
    """
    if token_cols is None:
        row = enc_df.select("col_names").first()
        if row is None:
            raise ValueError("empty table: pass token_cols explicitly")
        token_cols = list(row["col_names"])
    cols = [F.col(c) for c in _WIDE_BASE_COLS if c in enc_df.columns]
    cols.append(F.col("col_names"))
    for c in token_cols:
        # resolve each column's slot by NAME per row, not by position in
        # the caller's list: widen_multi(enc, ['mask']) on a
        # ['tokens','mask'] table must take slot 2, and a name absent from
        # a block's col_names must fail loudly — positional indexing
        # silently relabeled buffers (crc travels with the buffer, so
        # decode and fsck would both pass on wrong data)
        pos = F.array_position(F.col("col_names"), F.lit(c))
        idx = F.when(pos > 0, pos.cast("int")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"widen_multi: column '{c}' absent from block "),
                    F.col("block_id").cast("string"),
                    F.lit("'s col_names"),
                )
            ).cast("int")
        )
        cols += [
            F.element_at("codecs", idx).alias(f"codec_{c}"),
            F.element_at("col_lens", idx).alias(f"lens_{c}"),
            F.element_at("crc32_bufs", idx).alias(f"crc32_{c}"),
            F.element_at("buffers", idx).alias(f"buf_{c}"),
        ]
    return enc_df.select(*cols)


def narrow_multi(wide_df: DataFrame, token_cols: list[str] | None = None) -> DataFrame:
    """Inverse of :func:`widen_multi`: wide layout back to the nested
    ``MULTI_ENCODED_DDL`` shape (for compact / transcode / merge).  Pure
    projection, buffers untouched."""
    if token_cols is None:
        token_cols = _stored_wide_cols(wide_df)
        if not token_cols:
            raise ValueError(f"no buf_* columns in {sorted(wide_df.columns)}")
    missing = [c for c in token_cols if f"buf_{c}" not in wide_df.columns]
    if missing:
        raise ValueError(f"wide table lacks columns {missing}")
    cols = [F.col(c) for c in _WIDE_BASE_COLS if c in wide_df.columns]
    cols += [
        F.col("col_names"),
        F.array(*[F.col(f"codec_{c}") for c in token_cols]).alias("codecs"),
        F.array(*[F.col(f"lens_{c}") for c in token_cols]).alias("col_lens"),
        F.array(*[F.col(f"crc32_{c}") for c in token_cols]).alias("crc32_bufs"),
        F.array(*[F.col(f"buf_{c}") for c in token_cols]).alias("buffers"),
    ]
    out = wide_df.select(*cols)
    # restore the canonical column order
    order = [c for c in MULTI_ENCODED_DDL.replace("\n", " ").split(",")]
    names = [c.strip().split(" ")[0] for c in order]
    return out.select(*[c for c in names if c in out.columns])


def _decode_multi_wide(
    enc_df: DataFrame, token_cols: list[str], strict: bool
) -> DataFrame:
    """Decode from the wide layout: only the requested columns' ``lens_* /
    crc32_* / buf_*`` fields are selected, so parquet never reads the other
    columns' buffer bytes."""
    import pyarrow as pa

    missing = [c for c in token_cols if f"buf_{c}" not in enc_df.columns]
    if missing:
        raise ValueError(
            f"wide table has columns {_stored_wide_cols(enc_df)},"
            f" expected {list(token_cols)}"
        )
    needed = ["block_id", "doc_ids"]
    for c in token_cols:
        needed += [f"lens_{c}", f"crc32_{c}", f"buf_{c}"]

    out_schema = pa.schema(
        [("doc_id", pa.string())] + [(c, pa.list_(pa.int32())) for c in token_cols]
    )

    def fn(batches: Iterator) -> Iterator:
        for rb in batches:
            col = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            for i in range(rb.num_rows):
                bid = col["block_id"][i].as_py()
                arrays = [
                    _decode_column(
                        col[f"buf_{c}"][i].as_py(), col[f"crc32_{c}"][i].as_py(),
                        col[f"lens_{c}"][i].values, strict, f"block {bid} column {c}",
                    )
                    for c in token_cols
                ]
                yield pa.RecordBatch.from_arrays(
                    [col["doc_ids"][i].values.cast(pa.string())] + arrays,
                    schema=out_schema,
                )

    ddl = "doc_id string, " + ", ".join(f"{c} array<int>" for c in token_cols)
    return enc_df.select(*needed).mapInArrow(fn, ddl)


def decode_docs_multi(
    enc_df: DataFrame, token_cols: list[str], doc_ids: list[str], strict: bool = True
) -> DataFrame:
    """Point-lookup decode for multi-column blocks: prune by the inline
    doc-id manifest first (same contract as :func:`decode_docs`) — only
    blocks containing requested docs have their buffers decoded."""
    if not doc_ids:
        return decode_multi(enc_df.limit(0), token_cols, strict=strict)
    wanted = F.array([F.lit(d) for d in doc_ids])
    pruned = _prune_by_id_bounds(enc_df, doc_ids).filter(
        F.arrays_overlap(F.col("doc_ids"), wanted)
    )
    return decode_multi(pruned, token_cols, strict=strict).filter(
        F.col("doc_id").isin(doc_ids)
    )
