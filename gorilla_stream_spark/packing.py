"""Sequence packing — fixed-length training rows from a document table.

The standard LLM pretraining transform: concatenate documents in a
deterministic total order (by ``doc_id``) and slice the token stream into
``seq_len`` chunks, document-boundary-agnostic (GPT-style), with per-chunk
fragment lengths (``doc_spans``) for attention-mask construction.

Scale design — global concatenation WITHOUT a global sort or full shuffle:

1. range-partition + sort by ``doc_id`` (the one shuffle; the encode path
   hashes ids instead, but packing needs contiguous id ranges — Spark's
   sampled bounds are fine here because the packed output does not depend
   on where they fall);
2. one pass counts tokens per partition; the driver turns the (tiny,
   one-long-per-partition) counts into global start offsets;
3. each partition then knows exactly which chunk ids it covers and emits
   its INTERIOR chunks directly — only the head/tail fragments that share
   a chunk with a neighboring partition are shuffled for assembly, so the
   second shuffle moves O(partitions x seq_len) tokens, not the corpus.

Assembly is pure JVM (``collect_list`` + ``array_sort`` + ``flatten``);
the kernels are Arrow-vectorized (no per-row Python).

No reference analog (the reference is a timeseries codec); this operator
exists because a 100 TB training pipeline ends in exactly this transform
(SURVEY.md round-2 scope: "operations a large-scale training-data pipeline
would need").
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gorilla_stream_spark.catalog import observed

__all__ = ["pack_sequences", "write_training_shards", "shard_manifest"]


def _frag_schema() -> str:
    return (
        "seq_id long, frag_pos long, tokens array<int>, spans array<int>, "
        "complete boolean"
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    drop_last: bool = False,
) -> DataFrame:
    """Pack documents into fixed-``seq_len`` token rows.

    Output: ``(seq_id, tokens array<int>, n_tok, doc_spans array<int>)``
    where ``seq_id`` is the 0-based chunk index over the corpus-wide token
    stream ordered by ``id_col``, and ``doc_spans`` are the lengths of the
    document fragments inside the chunk (``sum(doc_spans) == n_tok``).
    The final partial chunk is kept unless ``drop_last``.

    Deterministic: a pure function of (table contents, seq_len) —
    independent of input partitioning (pinned by test).  Duplicate
    ``id_col`` values are ordered by a content-hash tiebreaker
    (``xxhash64(tokens)``), so the packed stream is stable run-to-run even
    for non-unique ids; rows that tie on BOTH id and token content are
    interchangeable, which is the same packed stream either way.
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    spark = df.sparkSession
    slim = df.select(F.col(id_col).alias("__id"), F.col(tokens_col).alias("__toks"))
    n_part = num_partitions or slim.rdd.getNumPartitions() or 1
    # range partitioning keys only on __id (equal ids co-locate); the
    # in-partition sort adds the content tiebreaker, then projects it away
    parted = (
        slim.withColumn("__tb", F.xxhash64("__toks"))
        .repartitionByRange(n_part, "__id")
        .sortWithinPartitions("__id", "__tb")
        .select("__id", "__toks")
    )
    # persisted across the two passes (counts, then emission); the cache
    # entry outlives this call because the returned DataFrame still reads
    # it lazily — long-lived sessions doing many pack runs should
    # checkpoint/materialize the result and spark.catalog.clearCache()
    parted = parted.persist()

    # pass 1: tokens per partition -> driver (one long per partition)
    def count_fn(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        total = 0
        for rb in batches:
            col = rb.column(1)
            if col.null_count:
                raise ValueError("pack_sequences: null tokens cell (run clean first)")
            total += len(col.flatten())
        yield pa.RecordBatch.from_pydict(
            {"pid": pa.array([pid], pa.int32()), "n": pa.array([total], pa.int64())}
        )

    counts = {
        r["pid"]: r["n"] for r in parted.mapInArrow(count_fn, "pid int, n long").collect()
    }
    max_pid = max(counts) if counts else -1
    sizes = [counts.get(p, 0) for p in range(max_pid + 1)]
    offsets = np.concatenate(([0], np.cumsum(sizes))).astype(np.int64)
    total_tokens = int(offsets[-1])
    if total_tokens == 0:
        return spark.createDataFrame(
            [], "seq_id long, tokens array<int>, n_tok int, doc_spans array<int>"
        )

    L = seq_len

    # pass 2: emit interior chunks whole; boundary pieces as fragments
    def emit_fn(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        off = int(offsets[pid]) if pid < len(offsets) - 1 else int(offsets[-1])
        flats: list[np.ndarray] = []
        lens: list[np.ndarray] = []
        for rb in batches:
            col = rb.column(1)
            if col.null_count or col.flatten().null_count:
                raise ValueError("pack_sequences: null tokens (run clean first)")
            flats.append(col.flatten().to_numpy(zero_copy_only=False).astype(np.int32))
            lens.append(col.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64))
        if not flats:
            return
        flat = np.concatenate(flats)
        dlens = np.concatenate(lens)
        T = flat.size
        if T == 0:
            return
        if T > (1 << 31) - 1:
            # Arrow list<int32> offsets wrap past 2^31 values — fail loud
            # with the fix instead of writing corrupt training rows
            raise ValueError(
                f"pack_sequences: partition holds {T} tokens (> int32 offset"
                " range) — raise num_partitions"
            )
        # doc-boundary positions (global), for spans: a span breaks at doc
        # boundaries and at chunk boundaries
        doc_ends = off + np.cumsum(dlens)  # global end position per doc
        lo, hi = off, off + T

        def spans_for(a: int, b: int) -> np.ndarray:
            """Fragment lengths for global token range [a, b).

            Zero-length entries (empty documents share a boundary position)
            are dropped — a span is a run of TOKENS from one document.
            """
            i = np.searchsorted(doc_ends, a, side="right")
            j = np.searchsorted(doc_ends, b, side="left")
            edges = np.concatenate(([a], doc_ends[i:j], [b]))
            d = np.diff(edges).astype(np.int32)
            return d[d > 0]

        out = {"seq_id": [], "frag_pos": [], "tokens": [], "spans": []}

        def emit_frag(a: int, b: int) -> None:
            out["seq_id"].append(a // L)
            out["frag_pos"].append(a)
            out["tokens"].append(flat[a - lo : b - lo])
            out["spans"].append(spans_for(a, b))

        first_full = ((lo + L - 1) // L) * L  # first chunk start >= lo
        if first_full > lo:  # head fragment shared with the previous partition
            emit_frag(lo, min(first_full, hi))
        n_int = max((hi - first_full) // L, 0)
        tail_start = first_full + n_int * L
        if first_full <= tail_start < hi:  # tail fragment (or corpus tail)
            emit_frag(tail_start, hi)
        if out["seq_id"]:  # boundary fragments (<= 2 per partition)
            yield pa.RecordBatch.from_pydict(
                {
                    "seq_id": pa.array(out["seq_id"], pa.int64()),
                    "frag_pos": pa.array(out["frag_pos"], pa.int64()),
                    "tokens": pa.array(out["tokens"], pa.list_(pa.int32())),
                    "spans": pa.array(out["spans"], pa.list_(pa.int32())),
                    "complete": pa.array([False] * len(out["seq_id"]), pa.bool_()),
                }
            )
        if n_int == 0:
            return
        # interior chunks, fully vectorized: tokens as one ListArray over
        # the contiguous region at stride L; spans via a single sorted-edge
        # pass (chunk bounds union interior doc ends, zero-width runs from
        # empty docs deduped away)
        A, B = first_full, tail_start
        tok_vals = pa.array(flat[A - lo : B - lo], pa.int32())
        tok_offs = pa.array(
            (np.arange(n_int + 1, dtype=np.int64) * L).astype(np.int32), pa.int32()
        )
        tokens_arr = pa.ListArray.from_arrays(tok_offs, tok_vals)
        i = np.searchsorted(doc_ends, A, side="right")
        j = np.searchsorted(doc_ends, B, side="left")
        bounds = A + L * np.arange(n_int + 1, dtype=np.int64)
        edges = np.unique(np.concatenate([bounds, doc_ends[i:j]]))
        widths = np.diff(edges).astype(np.int32)
        owner = (edges[:-1] - A) // L
        span_counts = np.bincount(owner, minlength=n_int)
        span_offs = np.concatenate(([0], np.cumsum(span_counts))).astype(np.int32)
        spans_arr = pa.ListArray.from_arrays(
            pa.array(span_offs, pa.int32()), pa.array(widths, pa.int32())
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array((A // L) + np.arange(n_int, dtype=np.int64), pa.int64()),
                pa.array(bounds[:-1], pa.int64()),
                tokens_arr,
                spans_arr,
                pa.array(np.ones(n_int, dtype=bool)),
            ],
            names=["seq_id", "frag_pos", "tokens", "spans", "complete"],
        )

    frags = parted.mapInArrow(emit_fn, _frag_schema())
    interior = frags.filter("complete").select(
        "seq_id",
        "tokens",
        F.size("tokens").alias("n_tok"),
        F.col("spans").alias("doc_spans"),
    )
    boundary = (
        frags.filter("NOT complete")
        .groupBy("seq_id")
        .agg(
            F.flatten(
                F.expr("transform(array_sort(collect_list(struct(frag_pos, tokens))), x -> x.tokens)")
            ).alias("tokens"),
            F.flatten(
                F.expr("transform(array_sort(collect_list(struct(frag_pos, spans))), x -> x.spans)")
            ).alias("doc_spans"),
        )
        .select("seq_id", "tokens", F.size("tokens").alias("n_tok"), "doc_spans")
    )
    result = interior.unionByName(boundary)
    if drop_last and total_tokens % L:
        result = result.filter(F.col("seq_id") != total_tokens // L)
    return result


def write_training_shards(
    df: DataFrame,
    path: str,
    seqs_per_shard: int = 1024,
    id_col: str = "seq_id",
) -> int:
    """Write packed sequences as size-balanced training shards — the
    consumption end of the pipeline (WebDataset/Megatron-style: a data
    loader claims whole shards, so shards must be equal-sized and their
    membership deterministic).

    ``shard_id = seq_id // seqs_per_shard`` — a pure function of the
    sequence id, so shard membership is reproducible across runs and
    engines, and shards are balanced by construction (pack_sequences
    emits dense 0-based seq_ids; every shard except the last holds
    exactly ``seqs_per_shard`` sequences).  One shuffle keyed by
    shard_id (skew-free — equal rows per key), rows sorted by seq_id
    within each shard, Hive-partitioned layout ``shard_id=N/`` so a
    loader (or Spark itself) prunes to its claimed shards by directory.

    Scale shape at 10^12 sequences: shard count = seqs/seqs_per_shard
    (about 10^9 at the default — raise seqs_per_shard so directory
    listings stay sane; 65536 gives ~15M shards of ~512 MB at 2k-token
    sequences int32-raw).  Returns the row count observed during the write.
    """
    if seqs_per_shard <= 0:
        raise ValueError("seqs_per_shard must be positive")
    sharded = df.withColumn(
        "shard_id", F.floor(F.col(id_col) / F.lit(seqs_per_shard)).cast("long")
    )
    out, obs = observed(sharded.repartition("shard_id").sortWithinPartitions(id_col))
    out.write.mode("overwrite").partitionBy("shard_id").option("compression", "zstd").parquet(path)
    return obs.get["rows"]


def shard_manifest(spark, path: str, tokens_col: str = "tokens") -> DataFrame:
    """Per-shard manifest of a :func:`write_training_shards` layout:
    ``(shard_id, n_seqs, min_seq, max_seq, n_tokens, sum_tok)``.  One
    scan; ``sum_tok`` pins content placement (a sequence in the wrong
    shard changes two shards' sums), the min/max pair proves density."""
    return (
        spark.read.parquet(path)
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_seqs"),
            F.min("seq_id").cast("long").alias("min_seq"),
            F.max("seq_id").cast("long").alias("max_seq"),
            F.sum(F.size(tokens_col)).cast("long").alias("n_tokens"),
            F.sum(
                F.aggregate(
                    tokens_col,
                    F.lit(0).cast("long"),
                    lambda a, x: a + x.cast("long"),
                )
            ).alias("sum_tok"),
        )
    )
