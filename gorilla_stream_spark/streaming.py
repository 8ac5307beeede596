"""Structured Streaming encode: continuous token feeds -> compressed blocks.

The reference's streaming story is a lazy chunked Enumerable
(``/root/reference/lib/gorilla_stream/stream.ex:62-125``) plus incremental
zlib/zstd contexts (``compression/container.ex:368-545``).  In Spark the
equivalent is ``readStream -> foreachBatch(encode + append)``: each
micro-batch is bounded, so the batch engine's whole encode path (salted
repartition, block chunking, codec auto-select, manifest) is reused verbatim
— no separate stateful operator needed, exactly as SURVEY.md §2.3/O24
concluded.

Exactly-once: foreachBatch may replay a batch after failure; the sink
appends blocks tagged with ``batch_id`` and the replay guard drops
already-committed batch ids (idempotent append), mirroring the checkpoint
protocol in ``checkpoint.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gorilla_stream_spark.engine import DEFAULT_BLOCK_TOKENS, encode

__all__ = ["encode_stream", "dedup_stream", "windowed_stats", "simhash_neardup_stream"]


def _ckpt_join(*parts: str) -> str:
    """URI-safe path join for checkpoint locations (local, HDFS, S3)."""
    return "/".join(p.rstrip("/") for p in parts)


def _hadoop_path(spark, path_str: str):
    """(FileSystem, Path) for ``path_str`` via the Hadoop FS API.

    The replay-guard markers MUST live on the same filesystem as the
    checkpoint dir — driver-local ``os.path`` would silently break
    exactly-once the moment ``checkpoint_dir`` is an HDFS/S3 URI.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def marker_exists(spark, marker: str) -> bool:
    fs, jpath = _hadoop_path(spark, marker)
    return bool(fs.exists(jpath))


def write_marker(spark, marker: str) -> None:
    """Create an (empty) commit marker through the checkpoint filesystem."""
    fs, jpath = _hadoop_path(spark, marker)
    fs.mkdirs(jpath.getParent())
    out = fs.create(jpath, True)
    out.close()


def _get_or_create_stream_id(spark, checkpoint_dir: str) -> str:
    """Stable per-checkpoint ingest id, persisted beside the markers.

    Namespaces this stream's output directories: a NEW checkpoint dir
    (fresh stream, or a recreated one) gets a fresh id, so its batch
    numbering can never overwrite another run's ``batch_id=N`` data.
    """
    path = _ckpt_join(checkpoint_dir, "stream_id")
    fs, jpath = _hadoop_path(spark, path)
    if fs.exists(jpath):
        stream = fs.open(jpath)
        try:
            data = bytearray()
            b = stream.read()
            while b != -1 and len(data) < 64:
                data.append(b)
                b = stream.read()
        finally:
            stream.close()
        sid = bytes(data).decode().strip()
        if sid:
            return sid
    import uuid

    sid = uuid.uuid4().hex[:12]
    fs.mkdirs(jpath.getParent())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(sid.encode()))
    finally:
        out.close()
    return sid


def _detect_layout(spark, output_path: str) -> str | None:
    """Classify an existing output table's directory layout.

    ``"flat"`` — root-level parquet files (the original append sink,
    batch_id as a data column): keep appending in that shape, since mixing
    it with partition directories breaks discovery.  ``"batchdirs"`` — bare
    root-level ``batch_id=N`` directories (a short-lived interim sink):
    cannot be safely continued (that layout is what allowed restarted
    batch numbering to clobber data) NOR mixed with ``ingest=`` dirs, so
    the caller fails fast with migration instructions.  ``None`` — empty
    or ingest-namespaced: the current layout.
    """
    fs, jpath = _hadoop_path(spark, output_path)
    if not fs.exists(jpath):
        return None
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".parquet"):
            return "flat"
        if st.isDirectory() and name.startswith("batch_id="):
            return "batchdirs"
    return None


def encode_stream(
    stream_df: DataFrame,
    output_path: str,
    checkpoint_dir: str,
    codec: str = "auto",
    num_partitions: int | None = None,
    block_tokens: int = DEFAULT_BLOCK_TOKENS,
    trigger: dict | None = None,
):
    """Start a streaming query encoding each micro-batch of token rows.

    ``stream_df`` must have (doc_id, tokens, [n_tok, source]) columns.
    Returns the StreamingQuery; caller awaits/stops it.
    """
    spark = stream_df.sparkSession
    committed_marker = _ckpt_join(checkpoint_dir, "committed_batches")
    # pin P once and pass it to every encode below: letting encode
    # re-resolve defaultParallelism per batch would shift part_base math
    # under dynamic allocation and overlap batches' part_id ranges
    P = num_partitions or spark.sparkContext.defaultParallelism
    stream_id = _get_or_create_stream_id(spark, checkpoint_dir)
    layout = _detect_layout(spark, output_path)
    if layout == "batchdirs":
        raise ValueError(
            f"{output_path} holds bare batch_id=N directories (an interim"
            " sink layout that cannot be continued safely): compact the"
            " table into a fresh path, then restart the stream against it"
        )
    legacy = layout == "flat"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = _ckpt_join(committed_marker, str(batch_id))
        # replayed batch already fully committed — markers round-trip through
        # the Hadoop FS of the checkpoint location, so exactly-once holds on
        # HDFS/S3 checkpoint dirs, not just the driver's local disk
        if marker_exists(spark, marker):
            return
        # block ids are unique across the stream's micro-batches:
        # part_id = batch_id * P + task partition (int32-guarded).  Across
        # DIFFERENT ingest runs into one table, (ingest, block_id) is the
        # unique pair — the ingest partition column disambiguates.
        part_base = 0 if legacy else int(batch_id) * P
        from gorilla_stream_spark.engine import _COMPACT_PART_BASE

        if part_base + P >= _COMPACT_PART_BASE:
            # streams stay below the compaction-reserved part_id namespace
            # (engine._COMPACT_PART_BASE) so maintenance compaction can
            # never hand out ids a continuing stream will also reach.  The
            # restart is safe: a fresh checkpoint gets a new ingest
            # namespace, and (ingest, block_id) is the table-wide key.
            raise ValueError(
                f"batch {batch_id} x {P} partitions reaches the reserved"
                f" part_id namespace ({_COMPACT_PART_BASE}): compact the"
                " table, then restart the stream with a fresh checkpoint"
            )
        enc = encode(
            batch_df,
            codec=codec,
            num_partitions=P,
            block_tokens=block_tokens,
            part_base=part_base,
        )
        if legacy:
            # pre-directory-layout table: keep appending flat files with the
            # batch_id data column (the replay crash-window caveat applies —
            # compact + migrate to a fresh output dir to upgrade)
            enc.withColumn("batch_id", F.lit(batch_id)).write.mode("append").option(
                "compression", "zstd"
            ).parquet(output_path)
        else:
            # idempotent replay: each batch owns an ingest=<id>/batch_id=N
            # directory written with overwrite — a crash BETWEEN this write
            # and the marker used to duplicate the whole batch on replay
            # (append mode); the replay now just rewrites the directory, and
            # the per-checkpoint ingest id keeps restarted-from-zero batch
            # numbering of OTHER runs out of this run's directories.
            enc.write.mode("overwrite").option("compression", "zstd").parquet(
                _ckpt_join(output_path, f"ingest={stream_id}", f"batch_id={batch_id}")
            )
        write_marker(spark, marker)

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", _ckpt_join(checkpoint_dir, "spark")
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()


DEDUP_OUT_SCHEMA = "doc_id string, text string"
_DEDUP_STATE_SCHEMA = "seen binary"


def _popcount64(x):
    """Vectorized 64-bit popcount (SWAR) — numpy<2 lacks np.bitwise_count."""
    import numpy as np

    x = x.astype(np.uint64, copy=False)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def _dedup_kernel(blob: bytes, pdfs):
    """Pure dedup state transition: (state blob, batch chunks) ->
    (survivor rows | None, new state blob | None).

    State is a SORTED fixed-width md5-digest array (16 B/record).
    Membership is one vectorized searchsorted per chunk; the update is one
    merge — no per-row Python, and duplicates never grow the blob.
    Module-level so state-size invariants are unit-testable without a
    running stream.
    """
    import numpy as np
    import pandas as pd

    V16 = np.dtype((np.void, 16))
    hist = np.frombuffer(blob, dtype=V16)  # sorted digest records
    if hist.size > 1:
        # state written by the pre-sorted-format kernel (append order) is
        # re-sorted once — membership semantics are unchanged, so survivors
        # already emitted stay deduplicated after the upgrade.  (void16 has
        # no `<` ufunc; big-endian u8 pairs give the same memcmp order.)
        hu = hist.view(">u8").reshape(-1, 2)
        a, b = hu[:-1], hu[1:]
        if ((a[:, 0] > b[:, 0]) | ((a[:, 0] == b[:, 0]) & (a[:, 1] > b[:, 1]))).any():
            hist = np.sort(hist)
    frames = [pdf for pdf in pdfs if len(pdf)]
    if not frames:
        return None, None
    # concatenate ALL Arrow chunks before deduping: the lowest-id-wins rule
    # is a whole-batch property, and applyInPandasWithState splits large
    # groups into multiple chunks — per-chunk processing would keep
    # whichever chunk arrived first, diverging from batch dedup_exact
    pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
    pdf = pdf.sort_values("__oid", kind="stable")
    m = len(pdf)
    dig = np.frombuffer(b"".join(pdf["__h"]), dtype=V16)
    # first occurrence in __oid order: stable argsort groups equal digests
    # with original order preserved, so each group's first sorted element
    # is its earliest row
    order = np.argsort(dig, kind="stable")
    sv = dig[order]
    starts = np.ones(m, dtype=bool)
    if m > 1:
        starts[1:] = sv[1:] != sv[:-1]
    keep = np.zeros(m, dtype=bool)
    keep[order[starts]] = True
    # drop digests already committed to state (vectorized probe)
    if hist.size:
        pos = np.minimum(np.searchsorted(hist, dig), hist.size - 1)
        keep &= hist[pos] != dig
    out = None
    grew = False
    if keep.any():
        out = pdf.iloc[np.flatnonzero(keep)][["doc_id", "text"]]
        # O(U + m) sorted merge (a full re-sort would be O(U log U)
        # per batch once state holds millions of digests)
        newdig = np.sort(dig[keep])
        hist = np.insert(hist, np.searchsorted(hist, newdig), newdig)
        grew = True
    return out, hist.tobytes() if grew else None


def dedup_stream(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
):
    """Streaming exact-content dedup: keep the first-seen copy across ALL
    micro-batches (``applyInPandasWithState`` — custom stateful operator).

    Rows group by a stable content-hash bucket (``xxhash64(text) % B``);
    each bucket's state is a SORTED fixed-width array of the md5 digests
    seen so far (16 B/doc).  Membership is a vectorized ``searchsorted``
    against the sorted digest array and the update is one merge-sort —
    no per-row Python, no per-batch set rebuild; state size is
    16 B x *unique* docs (duplicates never grow it).  Within a batch the
    lowest id wins; across batches the earlier batch wins.  At
    10^12-doc scale the state store is the bottleneck — raise
    ``n_buckets`` to spread state and back the query with the RocksDB
    state store; the operator logic is unchanged.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = stream_df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(text_col).alias("text"),
        # carry the ORIGINAL-typed id for within-batch ordering: sorting the
        # string cast would rank '10' < '9' and pick a different survivor
        # than batch dedup_exact (which orders by the native column type)
        F.col(id_col).alias("__oid"),
        F.unhex(F.md5(text_col)).alias("__h"),
        F.pmod(F.xxhash64(text_col), F.lit(n_buckets)).alias("__b"),
    )

    def fn(key, pdfs, state):
        blob = state.get[0] if state.exists else b""
        outs, new_blob = _dedup_kernel(blob, pdfs)
        if new_blob is not None:
            state.update((new_blob,))
        if outs is not None:
            yield outs

    return keyed.groupBy("__b").applyInPandasWithState(
        fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_stats(
    stream_df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: tuple[str, ...] = (),
):
    """Event-time windowed rollup with a watermark for late data.

    The streaming pre-aggregation in front of ``encode_timeseries``: rows
    older than the watermark relative to the max seen event time are dropped
    by the engine (bounded state), everything else lands in its event-time
    window regardless of arrival order.  Output mode must be ``append`` so
    finalized windows flow straight into the block encoder.
    """
    cols = [F.window(F.col(ts_col), window).alias("win"), *[F.col(k) for k in keys]]
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(*cols)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            *[F.col(k) for k in keys],
            "n",
            "sum_value",
            "min_value",
            "max_value",
        )
    )


_SIMHASH_TILE = 2048  # bounds each XOR matrix at ~32 MiB of temporaries


def _simhash_kernel(blob: bytes, pdfs, max_hamming: int, max_state_per_bucket: int):
    """Pure near-dup state transition: (state blob, batch chunks) ->
    (pair rows | None, new state blob | None).

    State is (doc_id, simhash) int64 pairs in insertion order.  Hamming
    checks run as tiled XOR+popcount matrices (batch x history and the
    in-batch upper triangle); the state grows by one append per batch and
    is LRU-bounded at ``max_state_per_bucket`` records (0 = unbounded).
    Module-level so the state bound is unit-testable without a stream.
    """
    import numpy as np
    import pandas as pd

    hist = (
        np.frombuffer(blob, dtype=np.int64).reshape(-1, 2)
        if blob
        else np.empty((0, 2), np.int64)
    )
    out_a: list[np.ndarray] = []
    out_b: list[np.ndarray] = []
    grew = False

    def emit(ia: np.ndarray, ib: np.ndarray) -> None:
        ne = ia != ib
        ia, ib = ia[ne], ib[ne]
        out_a.append(np.minimum(ia, ib))
        out_b.append(np.maximum(ia, ib))

    for pdf in pdfs:
        m = len(pdf)
        if not m:
            continue
        pdf = pdf.sort_values("doc_id", kind="stable")
        ids = pdf["doc_id"].to_numpy(np.int64)
        sigs = pdf["simhash"].to_numpy(np.int64).view(np.uint64)
        hsig = hist[:, 1].view(np.uint64) if hist.size else np.empty(0, np.uint64)
        for i0 in range(0, m, _SIMHASH_TILE):
            bs = sigs[i0 : i0 + _SIMHASH_TILE]
            # batch x history cross check, tiled
            for j0 in range(0, hist.shape[0], _SIMHASH_TILE):
                hs = hsig[j0 : j0 + _SIMHASH_TILE]
                hd = _popcount64(bs[:, None] ^ hs[None, :])
                bi, hj = np.nonzero(hd <= max_hamming)
                if bi.size:
                    emit(ids[i0 + bi], hist[j0 + hj, 0])
            # in-batch upper triangle (row i pairs with later row j)
            for j0 in range(i0, m, _SIMHASH_TILE):
                js = sigs[j0 : j0 + _SIMHASH_TILE]
                hd = _popcount64(bs[:, None] ^ js[None, :])
                bi, bj = np.nonzero(hd <= max_hamming)
                tri = (i0 + bi) < (j0 + bj)
                if tri.any():
                    emit(ids[i0 + bi[tri]], ids[j0 + bj[tri]])
        hist = np.concatenate([hist, np.stack([ids, sigs.view(np.int64)], axis=1)])
        grew = True
    if grew and max_state_per_bucket and hist.shape[0] > max_state_per_bucket:
        hist = hist[-max_state_per_bucket:]
    pairs = (
        pd.DataFrame({"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)})
        if out_a
        else None
    )
    return pairs, (np.ascontiguousarray(hist).tobytes() if grew else None)


def simhash_neardup_stream(
    stream_df,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_state_per_bucket: int = 65536,
    state_buckets: int = 64,
):
    """Streaming near-dup candidate pairs across ALL micro-batches
    (``applyInPandasWithState`` — the stateful analog of
    ``textops.simhash_neardup_pairs``).

    Each batch computes 60-bit SimHash signatures row-locally with the
    fused Arrow kernel (bit-identical to the batch operator); rows bucket
    by ``(band_idx, hash(band_bits) % state_buckets)`` — a COARSENED
    pigeonhole split — and each bucket's state holds the (doc_id, simhash)
    pairs seen so far (16 B/doc/band).  Arrivals are hamming-checked in one
    vectorized XOR+popcount matrix per micro-batch (history and in-batch
    cross products, tiled to bound memory) — no per-row Python — and the
    state grows by a single append per batch.

    Why the coarse key is EXACT: the emitted-pair criterion is the full
    60-bit hamming distance, and by pigeonhole every pair within
    ``max_hamming`` shares at least one identical band value — hence also
    at least one coarse bucket — so bucketing only has to bring candidate
    pairs together, never to decide.  Comparing all same-bucket rows finds
    exactly the batch operator's pair set (pinned by the stream-vs-batch
    parity test), while state groups drop from one per DISTINCT band value
    (~one per doc per band — each paying per-group pandas + state-store
    overhead every micro-batch) to ``(max_hamming+1) * state_buckets``
    total.  Recall is DETERMINISTIC for hamming <= ``max_hamming`` across
    the whole stream; a pair may be emitted once per shared bucket — run
    ``dropDuplicates(["id_a","id_b"])`` on the sink (or a batch
    ``distinct``) for the deduplicated pair set.

    State bound: each (band, bucket) group keeps the most recent
    ``max_state_per_bucket`` docs (insertion-order eviction, 16 B each —
    1 MiB/group at the default).  Recall impact: a pair whose members are
    separated by more than that many same-group insertions is missed in
    that group (it can still surface via another shared band's bucket);
    unbounded history is ``max_state_per_bucket=0``.  Raise
    ``state_buckets`` together with corpus rate so per-group state stays
    small, and back the query with the RocksDB state store at scale.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from gorilla_stream_spark.textops import simhash, simhash_bands

    # the fused Arrow kernel (mapInArrow is streaming-safe) — bit-identical
    # to the SQL-HOF formulation (pinned by the batch parity test) and
    # ~100x faster; it was the whole cost of the streaming query
    sig = simhash(
        stream_df.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("text")
        ),
        text_col="text",
        id_col="doc_id",
    )
    bands = simhash_bands(sig, id_col="doc_id", n_bands=max_hamming + 1).withColumn(
        "__sb", F.pmod(F.xxhash64("band_bits"), F.lit(int(state_buckets)))
    )

    def fn(key, pdfs, state):
        blob = state.get[0] if state.exists else b""
        pairs, new_blob = _simhash_kernel(blob, pdfs, max_hamming, max_state_per_bucket)
        if new_blob is not None:
            state.update((new_blob,))
        if pairs is not None:
            yield pairs

    return bands.groupBy("band_idx", "__sb").applyInPandasWithState(
        fn,
        outputStructType="id_a long, id_b long",
        stateStructType="seen binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
