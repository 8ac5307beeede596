"""Per-layer probes for the traced run.

Each probe times one layer from outside, around calls into that module's
public functions (and the ``mapInArrow`` kernels ``engine._encode_fn`` /
``engine._decode_fn``, called directly on in-memory Arrow batches):

* codec, selector, engine-kernel and wire probes run single-threaded in
  this process on the workload's own blocks and pages;
* Spark probes run one job each: an identity ``mapInArrow`` (the Arrow
  hop), the engine job into a ``noop`` sink, the real parquet sink;
* stage metrics come from ``metrics.StageMetricsCollector`` over the jobs
  a probe or iteration launched.

A probe returns ``{metric: value}`` for its own workload's layers; the
metrics of layers a workload does not use are reported as 0.
"""

from __future__ import annotations

import glob
import os
import time
from collections.abc import Iterator
from contextlib import contextmanager
from time import perf_counter

import numpy as np

from perfbench.harness import NPROC, dir_bytes
from perfbench.workloads import WIRE_BLOCK_POINTS, SEQ_LEN, Ctx

CODECS = ("raw", "for", "forc", "rle", "dict", "delta", "dod", "fsst")
ARROW_BATCH_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch


def _identity(batches: Iterator) -> Iterator:
    yield from batches


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(ctx: Ctx, name: str, call) -> float:
    t0 = perf_counter()
    with ctx.tracer.span(name):
        call()
    return perf_counter() - t0


def settled_stage_metrics(spark, collector) -> dict:
    """Stage totals since the collector's last snapshot.  Stage completions
    reach the status store asynchronously, so wait until no stage is active
    and the completed-stage count stops changing."""
    from gorilla_stream_spark.metrics import stage_snapshot

    tracker, prev = spark.sparkContext.statusTracker(), -1
    for _ in range(50):
        n = len(stage_snapshot(spark))
        if n == prev and not tracker.getActiveStageIds():
            break
        prev = n
        time.sleep(0.1)
    return collector.collect(top=0)


@contextmanager
def stage_window(spark):
    """Yields a dict filled, on exit, with the stage metrics of the jobs
    run inside the block."""
    from gorilla_stream_spark.metrics import StageMetricsCollector

    settled_stage_metrics(spark, StageMetricsCollector(spark))
    collector = StageMetricsCollector(spark)
    out: dict = {}
    yield out
    out.update(settled_stage_metrics(spark, collector))


def spark_use(stages: dict) -> dict:
    run_ms = stages.get("executor_run_time_ms", 0)
    return {
        "spark.cpu_over_run": stages.get("executor_cpu_time_ms", 0) / run_ms if run_ms else 0.0,
        "spark.spill_bytes": stages.get("memory_spilled_bytes", 0)
        + stages.get("disk_spilled_bytes", 0),
    }


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


@contextmanager
def counting_fsst_trials(counts: dict):
    """Count the selector's FSST trial encodes: a trial over the whole page
    is a full trial, a trial over a sample is a sample trial.  The selector
    calls ``fsst.fsst_encode`` through the module, so wrapping the module
    attribute sees every trial and none of the final encodes (those go
    through ``codecs.INT_ENCODERS``)."""
    from gorilla_stream_spark.codecs import fsst

    orig = fsst.fsst_encode

    def wrapped(a, *args, **kwargs):
        counts["full" if a.size == counts["page"] else "sample"] += 1
        return orig(a, *args, **kwargs)

    fsst.fsst_encode = wrapped
    try:
        yield counts
    finally:
        fsst.fsst_encode = orig


def _layout_batches(path: str) -> list[list]:
    """Per partition file, the Arrow batches ``mapInArrow`` would hand the
    kernel."""
    import pyarrow.parquet as pq

    return [
        pq.read_table(f).combine_chunks().to_batches(max_chunksize=ARROW_BATCH_ROWS)
        for f in sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    ]


def probe_ingest(ctx: Ctx, metrics: dict) -> dict:
    from gorilla_stream_spark.checkpoint import encode_with_checkpoint
    from gorilla_stream_spark.codecs import CODEC_IDS, INT_ENCODERS, encode_paged
    from gorilla_stream_spark.engine import (
        DEFAULT_BLOCK_TOKENS,
        DEFAULT_PAGE_TOKENS,
        _block_bounds,
        _encode_fn,
        _flatten_arrow,
        encode,
    )
    from gorilla_stream_spark.selector import select_codec_cached
    from gorilla_stream_spark.skew import salted_repartition, skew_stats

    spark, out = ctx.spark, {}
    toks = spark.read.parquet(ctx.paths["tokens"])
    slim = toks.select("doc_id", "tokens", "source")
    salted = salted_repartition(slim, num_partitions=NPROC, sort_cols=["source", "doc_id"])

    out["arrow.hop_ingest_s"] = timed(
        ctx, "arrow.hop", lambda: noop(slim.mapInArrow(_identity, slim.schema))
    )
    with stage_window(spark) as st:
        out["skew.repartition_s"] = timed(ctx, "skew.salted_repartition", lambda: noop(salted))
    out["skew.shuffle_write_bytes"] = st.get("shuffle_write_bytes", 0)
    # same partition assignment (xxhash64 of doc_id), with n_tok kept
    by_part = salted_repartition(toks, num_partitions=NPROC, sort_within=False)
    part_tokens = [r["tokens"] for r in skew_stats(by_part).select("tokens").collect()]
    part_tokens += [0] * (NPROC - len(part_tokens))
    out["skew.partition_tokens_max_over_mean"] = max(part_tokens) / (sum(part_tokens) / NPROC)

    out["spark.encode_noop_s"] = timed(
        ctx, "engine.encode.noop", lambda: noop(encode(toks, codec="auto", num_partitions=NPROC))
    )
    plain = os.path.join(ctx.run_dir, "plain")
    plain_s = timed(
        ctx, "engine.encode.parquet",
        lambda: encode(toks, codec="auto", num_partitions=NPROC)
        .write.option("compression", "zstd").parquet(plain),
    )
    out["sink.write_s"] = plain_s - out["spark.encode_noop_s"]
    out["sink.bytes_written"] = dir_bytes(plain)
    ck_dir = os.path.join(ctx.run_dir, "probe_ckpt")
    with ctx.tracer.span("checkpoint.encode_with_checkpoint.probe") as label:
        t0 = perf_counter()
        encode_with_checkpoint(
            spark, toks, os.path.join(ck_dir, "enc"), os.path.join(ck_dir, "ckpt"),
            num_partitions=NPROC,
        )
        ck_s = perf_counter() - t0
    out["checkpoint.commit_s"] = ck_s - plain_s
    out["checkpoint.spark_jobs"] = len(spark.sparkContext.statusTracker().getJobIdsForGroup(label))
    out.update(probe_decode(ctx, os.path.join(ck_dir, "enc")))

    # in-process: the kernel on the salted layout the encode job sees
    layout = os.path.join(ctx.run_dir, "layout")
    salted.write.parquet(layout)
    parts = _layout_batches(layout)
    fn = _encode_fn("tokens", "doc_id", "source", "auto", DEFAULT_BLOCK_TOKENS)
    with ctx.tracer.span("engine.encode_fn"):
        t0 = perf_counter()
        for batches in parts:
            for _ in fn(iter(batches)):
                pass
        out["engine.encode_fn_s"] = perf_counter() - t0

    blocks = []
    for batches in parts:
        for rb in batches:
            flat, lens = _flatten_arrow(rb.column(rb.schema.get_field_index("tokens")), dtype=None)
            offs = np.concatenate(([0], np.cumsum(lens)))
            blocks += [flat[offs[lo] : offs[hi]] for lo, hi in _block_bounds(lens, DEFAULT_BLOCK_TOKENS)]
    with ctx.tracer.span("codecs.encode_paged"):
        t0 = perf_counter()
        out["codecs.buffer_bytes"] = sum(
            len(encode_paged(b, codec="auto", page_tokens=DEFAULT_PAGE_TOKENS)[0]) for b in blocks
        )
        out["codecs.encode_paged_s"] = perf_counter() - t0
    out["engine.encode_fn_overhead_s"] = out["engine.encode_fn_s"] - out["codecs.encode_paged_s"]

    pages = [
        p for b in blocks
        for p in ([b] if b.size <= DEFAULT_PAGE_TOKENS else
                  [b[i : i + DEFAULT_PAGE_TOKENS] for i in range(0, b.size, DEFAULT_PAGE_TOKENS)])
    ]
    codec_pages = dict.fromkeys(CODECS, 0)
    select_s = encode_s = 0.0
    trials = {"page": 0, "sample": 0, "full": 0}
    with ctx.tracer.span("selector.select_codec"), counting_fsst_trials(trials):
        for p in pages:
            trials["page"] = p.size
            t0 = perf_counter()
            codec, _ = select_codec_cached(p)
            t1 = perf_counter()
            INT_ENCODERS[CODEC_IDS[codec]](p)
            encode_s += perf_counter() - t1
            select_s += t1 - t0
            codec_pages[codec] += 1
    out["selector.select_s"] = select_s
    out["codecs.int_encode_s"] = encode_s
    out["selector.pages"] = len(pages)
    out["selector.fsst_sample_trials"] = trials["sample"]
    out["selector.fsst_full_trials"] = trials["full"]
    out["selector.fsst_trial_yield"] = (
        codec_pages["fsst"] / trials["full"] if trials["full"] else 0.0
    )
    for c in CODECS:
        out[f"selector.codec_pages.{c}"] = codec_pages[c]
    return out


def probe_decode(ctx: Ctx, enc_path: str) -> dict:
    """The decode side of ``ingest``, on a table ``encode_with_checkpoint``
    wrote."""
    import pyarrow.dataset as ds

    from gorilla_stream_spark.codecs import decode_array
    from gorilla_stream_spark.engine import _decode_fn, decode

    spark, out = ctx.spark, {}
    enc = spark.read.parquet(enc_path)
    needed = ["block_id", "doc_ids", "doc_lens", "sources", "crc32_raw", "crc32_buf", "buffer"]
    sel = enc.select(*needed)
    out["arrow.hop_read_s"] = timed(
        ctx, "arrow.hop", lambda: noop(sel.mapInArrow(_identity, sel.schema))
    )
    out["spark.decode_noop_s"] = timed(ctx, "engine.decode.noop", lambda: noop(decode(enc)))

    tbl = ds.dataset(enc_path, format="parquet", partitioning="hive").to_table(
        columns=needed
    )
    with ctx.tracer.span("codecs.decode_array"):
        t0 = perf_counter()
        for buf in tbl.column("buffer").to_pylist():
            decode_array(buf)
        out["codecs.int_decode_s"] = perf_counter() - t0
    fn = _decode_fn(strict=True)
    with ctx.tracer.span("engine.decode_fn"):
        t0 = perf_counter()
        for _ in fn(iter(tbl.to_batches(max_chunksize=ARROW_BATCH_ROWS))):
            pass
        out["engine.decode_fn_s"] = perf_counter() - t0
    out["engine.decode_fn_overhead_s"] = out["engine.decode_fn_s"] - out["codecs.int_decode_s"]
    return out


# ---------------------------------------------------------------------------
# timeseries
# ---------------------------------------------------------------------------


def probe_timeseries(ctx: Ctx, metrics: dict) -> dict:
    import pyarrow.parquet as pq

    from gorilla_stream_spark.codecs import decode_array, encode_array
    from gorilla_stream_spark.engine import encode_timeseries
    from gorilla_stream_spark.gorilla_wire import decode_points, encode_points

    spark, out = ctx.spark, {}
    pts = spark.read.parquet(ctx.paths["series"])
    out["spark.ts_encode_noop_s"] = timed(
        ctx, "engine.encode_timeseries.noop",
        lambda: noop(encode_timeseries(pts, num_partitions=NPROC)),
    )
    t = pq.read_table(ctx.paths["series"])
    ts = t.column("ts").to_numpy().astype(np.int64, copy=False)
    vals = t.column("value").to_numpy().astype(np.float64, copy=False)
    order = np.argsort(ts, kind="stable")
    ts, vals = ts[order], vals[order]
    # one value block per range partition, as encode_timeseries forms them
    chunks = np.array_split(vals, NPROC)
    with ctx.tracer.span("codecs.encode_float"):
        t0 = perf_counter()
        bufs = [encode_array(c, codec="fauto") for c in chunks]
        out["codecs.float_encode_s"] = perf_counter() - t0
    with ctx.tracer.span("codecs.decode_float"):
        t0 = perf_counter()
        for b in bufs:
            decode_array(b)
        out["codecs.float_decode_s"] = perf_counter() - t0

    starts = range(0, ts.size, WIRE_BLOCK_POINTS)
    with ctx.tracer.span("gorilla_wire.encode_points"):
        t0 = perf_counter()
        wire = [encode_points(ts[i : i + WIRE_BLOCK_POINTS], vals[i : i + WIRE_BLOCK_POINTS]) for i in starts]
        out["gorilla_wire.encode_points_s"] = perf_counter() - t0
    with ctx.tracer.span("gorilla_wire.decode_points"):
        t0 = perf_counter()
        for b in wire:
            decode_points(b)
        out["gorilla_wire.decode_points_s"] = perf_counter() - t0
    return out


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def probe_curation(ctx: Ctx, metrics: dict) -> dict:
    from pyspark.sql import functions as F

    from gorilla_stream_spark.packing import pack_sequences
    from gorilla_stream_spark.textops import lsh_candidate_pairs, shingle_minhash

    spark, out = ctx.spark, {}
    corpus = spark.read.parquet(ctx.paths["corpus"]).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    out["textops.signature_s"] = timed(
        ctx, "textops.shingle_minhash", lambda: noop(shingle_minhash(corpus, k=3, num_hashes=128))
    )
    sig = shingle_minhash(corpus, k=3, num_hashes=128, with_sh=False).persist()
    try:
        with ctx.tracer.span("textops.lsh_candidate_pairs"):
            out["textops.lsh_candidates"] = lsh_candidate_pairs(sig.select("doc_id", "sig")).count()
    finally:
        sig.unpersist()
    out["textops.neardup_pairs"] = metrics["neardup_pairs"]
    out["textops.lsh_yield"] = (
        out["textops.neardup_pairs"] / out["textops.lsh_candidates"]
        if out["textops.lsh_candidates"] else 0.0
    )
    out["textops.dup_spans_docs"] = metrics["dup_spans_docs"]
    out["packing.seqs"] = metrics["pack_seqs"]
    toks = spark.read.parquet(ctx.paths["tokens"])
    with stage_window(spark) as st:
        timed(ctx, "packing.pack_sequences.noop",
              lambda: noop(pack_sequences(toks, SEQ_LEN, num_partitions=NPROC)))
    spark.catalog.clearCache()
    out["packing.shuffle_write_bytes"] = st.get("shuffle_write_bytes", 0)
    return out


def probe_codecs(ctx: Ctx, metrics: dict) -> dict:
    return {**probe_ingest(ctx, metrics), **probe_timeseries(ctx, metrics)}


PROBES = {"codecs": probe_codecs, "curation": probe_curation}
