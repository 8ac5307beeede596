"""Structured Streaming encode: micro-batches -> blocks, exactly-once."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark import decode
from gorilla_stream_spark.generator import tokens_df
from gorilla_stream_spark.streaming import encode_stream


def _await(q, timeout_s: float = 240) -> None:
    """Wait for an availableNow query; fail the test, and stop the query,
    if it is still running after ``timeout_s``."""
    finished = q.awaitTermination(timeout_s)
    if not finished:
        q.stop()
    assert finished, f"streaming query still running after {timeout_s} s"


def test_stream_encode_roundtrip(spark, tmp_path):
    src_dir = str(tmp_path / "stream_src")
    out_dir = str(tmp_path / "stream_out")
    ckpt_dir = str(tmp_path / "stream_ckpt")

    toks = tokens_df(spark, 200, seed=3)
    toks.write.parquet(src_dir)

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    q = encode_stream(stream, out_dir, ckpt_dir, codec="auto", num_partitions=2)
    _await(q)

    enc = spark.read.parquet(out_dir)
    dec = decode(enc)
    assert dec.count() == 200
    joined = toks.alias("s").join(dec.alias("d"), "doc_id", "inner")
    bad = joined.filter(F.col("s.tokens") != F.col("d.tokens")).count()
    assert bad == 0
    # committed-batch markers exist (replay guard)
    assert os.path.isdir(os.path.join(ckpt_dir, "committed_batches"))


def test_streaming_decode(spark, tmp_path):
    # decode is stateless -> works directly on a readStream of encoded
    # blocks (reference stream decompress, stream.ex:102-125)
    from gorilla_stream_spark import decode, encode
    from gorilla_stream_spark.engine import ENCODED_SCHEMA
    from gorilla_stream_spark.generator import tokens_df

    src = tokens_df(spark, 300, seed=9)
    enc_path = str(tmp_path / "enc")
    out_path = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    encode(src, codec="auto", num_partitions=2).write.parquet(enc_path)
    stream = spark.readStream.schema(ENCODED_SCHEMA).parquet(enc_path)
    q = (
        decode(stream)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.read.parquet(out_path)
    assert out.count() == 300
    joined = src.alias("s").join(out.alias("d"), "doc_id", "inner")
    assert joined.filter(F.col("s.tokens") != F.col("d.tokens")).count() == 0


def test_stateful_streaming_dedup(spark, tmp_path):
    # cross-batch exact dedup via applyInPandasWithState: later copies of
    # already-seen content are dropped even when they arrive batches later
    import time

    src_dir = str(tmp_path / "dd_src")
    out_dir = str(tmp_path / "dd_out")
    ck = str(tmp_path / "dd_ck")
    os.makedirs(src_dir)
    base = [(i, f"text number {i} " * 3) for i in range(100)]
    dup = [(1000 + i, f"text number {i} " * 3) for i in range(50)]  # dups of 0..49
    new = [(2000 + i, f"fresh content {i}") for i in range(50)]
    spark.createDataFrame(base, "doc_id long, text string").coalesce(1).write.parquet(
        src_dir + "/b1"
    )
    time.sleep(1.1)
    spark.createDataFrame(dup + new, "doc_id long, text string").coalesce(1).write.parquet(
        src_dir + "/b2"
    )

    from gorilla_stream_spark.streaming import dedup_stream

    schema = spark.read.parquet(src_dir + "/b1").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src_dir + "/*")
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.read.parquet(out_dir)
    assert out.count() == 150  # 100 originals + 50 fresh, 50 dups dropped
    ids = {int(r.doc_id) for r in out.select("doc_id").collect()}
    assert not any(1000 <= i < 1100 for i in ids), "cross-batch dup leaked"
    assert all(2000 + i in ids for i in range(50))


def test_windowed_stats_with_watermark_matches_batch(spark, tmp_path):
    # two micro-batches with out-of-order event times; finalized windows
    # must equal the batch groupBy-window over the same data
    import datetime as dt
    import time

    src = str(tmp_path / "ws_src")
    out = str(tmp_path / "ws_out")
    ck = str(tmp_path / "ws_ck")
    os.makedirs(src)
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def rows(hours):
        return [(t0 + dt.timedelta(minutes=m), "a" if m % 2 else "b", float(m))
                for h in hours for m in range(h * 60, h * 60 + 60, 7)]

    spark.createDataFrame(rows([0, 1]), "ts timestamp, event_type string, value double")\
        .coalesce(1).write.parquet(src + "/b1")
    time.sleep(1.1)
    # batch 2: hours 2-5 plus a LATE row into hour 1 — after batch 1 the
    # watermark (max 1:53 - 90min = 0:23) has NOT passed hour 1's end, so
    # the late row must still be aggregated, not dropped
    late = [(t0 + dt.timedelta(minutes=63), "b", 99.0)]
    spark.createDataFrame(rows([2, 3, 4, 5]) + late,
                          "ts timestamp, event_type string, value double")\
        .coalesce(1).write.parquet(src + "/b2")

    from gorilla_stream_spark.streaming import windowed_stats

    schema = spark.read.parquet(src + "/b1").schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false").parquet(src + "/*")
    )
    q = (
        windowed_stats(stream, window="1 hour", watermark="90 minutes", keys=("event_type",))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).outputMode("append")
        .trigger(availableNow=True).start()
    )
    _await(q)
    got = {
        (r.win_start, r.event_type): (r.n, r.sum_value)
        for r in spark.read.parquet(out).collect()
    }
    allrows = spark.read.parquet(src + "/*")
    expect = {
        ((r["win"]["start"]), r.event_type): (r.n, r.s)
        for r in allrows.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s")).collect()
    }
    # append mode emits only watermark-finalized windows (final wm =
    # 5:53 - 90min = 4:23 -> hours 0-3 emitted); each must match the batch
    # answer exactly, including the late row routed into hour 1
    assert len(got) == 8, got  # 4 finalized windows x 2 event types
    for k, v in got.items():
        assert expect[k] == v, k
    late_key = (t0 + dt.timedelta(hours=1), "b")
    assert got[late_key][1] == expect[late_key][1]  # late row included


def test_marker_roundtrip_hadoop_fs(spark, tmp_path):
    # replay-guard markers must round-trip through the Hadoop filesystem of
    # the checkpoint location (exactly-once survives HDFS/S3 checkpoint
    # dirs, not just driver-local disk) — exercised via an explicit
    # file:// URI so os.path would NOT resolve it verbatim
    from gorilla_stream_spark.streaming import _ckpt_join, marker_exists, write_marker

    ck = "file://" + str(tmp_path / "ck_uri")
    marker = _ckpt_join(ck, "committed_batches", "7")
    assert not marker_exists(spark, marker)
    write_marker(spark, marker)
    assert marker_exists(spark, marker)
    # idempotent re-write (a replayed commit) is fine
    write_marker(spark, marker)
    assert marker_exists(spark, marker)
    # the marker physically exists under the local path behind the URI
    assert os.path.exists(str(tmp_path / "ck_uri" / "committed_batches" / "7"))


def test_replayed_batch_skipped_via_marker(spark, tmp_path):
    # pre-committing batch 0's marker simulates a post-commit crash replay:
    # the replayed batch must be skipped (no duplicate blocks appended)
    from gorilla_stream_spark.streaming import _ckpt_join, write_marker

    src_dir = str(tmp_path / "rp_src")
    out_dir = str(tmp_path / "rp_out")
    ckpt_dir = str(tmp_path / "rp_ckpt")
    toks = tokens_df(spark, 50, seed=11)
    toks.write.parquet(src_dir)
    write_marker(spark, _ckpt_join(ckpt_dir, "committed_batches", "0"))
    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema).parquet(src_dir)
    )
    q = encode_stream(stream, out_dir, ckpt_dir, codec="auto", num_partitions=2)
    _await(q)
    # batch 0 (the whole input, availableNow) was marked committed -> skipped
    assert not os.path.exists(os.path.join(out_dir, "_SUCCESS")) or (
        spark.read.parquet(out_dir).count() == 0
    )


def test_dedup_stream_numeric_id_order_matches_batch(spark, tmp_path):
    # ids 9 and 10 share content in one batch: numeric order keeps 9, while
    # a string sort would keep 10 ('10' < '9') — parity with dedup_exact
    import time

    from gorilla_stream_spark.streaming import dedup_stream
    from gorilla_stream_spark.textops import dedup_exact

    src_dir = str(tmp_path / "ord_src")
    out_dir = str(tmp_path / "ord_out")
    ck = str(tmp_path / "ord_ck")
    os.makedirs(src_dir)
    rows = [(10, "same content"), (9, "same content"), (2, "unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.coalesce(1).write.parquet(src_dir + "/b1")
    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src_dir + "/*")
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(int(r.doc_id) for r in spark.read.parquet(out_dir).collect())
    want = sorted(int(r.doc_id) for r in dedup_exact(df).collect())
    assert got == want == [2, 9]


def test_simhash_neardup_stream_matches_batch(spark, tmp_path):
    # near-dup pairs must be found WITHIN and ACROSS micro-batches with the
    # same deterministic recall as the batch operator; distinct pairs equal
    import time

    from gorilla_stream_spark.streaming import simhash_neardup_stream
    from gorilla_stream_spark.textops import simhash_neardup_pairs

    src_dir = str(tmp_path / "snd_src")
    out_dir = str(tmp_path / "snd_out")
    ck = str(tmp_path / "snd_ck")
    os.makedirs(src_dir)
    shared = " ".join(f"w{j}" for j in range(40))
    base = [(i, f"{shared} token{i} extra{i} more{i}") for i in range(25)]
    # near-dups of docs 0..9 arriving in the SECOND batch (one word changed
    # out of ~43 -> small hamming distance, found deterministically)
    later = [(500 + i, f"{shared} token{i} extra{i} CHANGED") for i in range(10)]
    spark.createDataFrame(base, "doc_id long, text string").coalesce(1).write.parquet(
        src_dir + "/b1"
    )
    time.sleep(1.1)
    spark.createDataFrame(later, "doc_id long, text string").coalesce(1).write.parquet(
        src_dir + "/b2"
    )
    schema = spark.read.parquet(src_dir + "/b1").schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src_dir + "/*")
    )
    q = (
        simhash_neardup_stream(stream, max_hamming=3)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(out_dir).dropDuplicates(["id_a", "id_b"]).collect()
    }
    union = spark.createDataFrame(base + later, "doc_id long, text string")
    want = {(r.id_a, r.id_b) for r in simhash_neardup_pairs(union, max_hamming=3).collect()}
    assert got == want and len(want) > 0
    # cross-batch pairs specifically present
    assert any(a < 500 <= b for a, b in got)


def _mk_dedup_chunk(rows):
    # rows: (doc_id int, text str) — mirrors the keyed projection
    import hashlib

    import pandas as pd

    return pd.DataFrame(
        {
            "doc_id": [str(i) for i, _ in rows],
            "text": [t for _, t in rows],
            "__oid": [i for i, _ in rows],
            "__h": [hashlib.md5(t.encode()).digest() for _, t in rows],
        }
    )


def test_dedup_kernel_state_constant_under_duplicates():
    # 10x batches of the SAME content: state must not grow after batch 1
    # (a blob that grew per batch would scale with stream length, not with
    # unique docs — the r3 scale defect)
    from gorilla_stream_spark.streaming import _dedup_kernel

    blob = b""
    sizes = []
    for b in range(10):
        rows = [(b * 100 + i, f"content {i}") for i in range(50)]
        out, new_blob = _dedup_kernel(blob, [_mk_dedup_chunk(rows)])
        if new_blob is not None:
            blob = new_blob
        sizes.append(len(blob))
        if b == 0:
            assert out is not None and len(out) == 50
        else:
            assert out is None  # all duplicates dropped
    assert sizes == [50 * 16] * 10  # 16 B per UNIQUE doc, constant across batches


def test_dedup_kernel_survivor_order_and_membership():
    from gorilla_stream_spark.streaming import _dedup_kernel

    # ids 10 and 9 share content: numeric order keeps 9 (parity with batch)
    out, blob = _dedup_kernel(b"", [_mk_dedup_chunk([(10, "same"), (9, "same"), (2, "u")])])
    assert sorted(out["doc_id"]) == ["2", "9"]
    # state is sorted fixed-width records, probe-able next batch
    out2, blob2 = _dedup_kernel(blob, [_mk_dedup_chunk([(77, "same"), (78, "new")])])
    assert list(out2["doc_id"]) == ["78"]
    assert len(blob2) == 3 * 16


def _mk_sim_chunk(pairs):
    import pandas as pd

    return pd.DataFrame(
        {"doc_id": [i for i, _ in pairs], "simhash": [s for _, s in pairs]}
    )


def test_simhash_kernel_matches_bruteforce_and_single_append():
    import numpy as np

    from gorilla_stream_spark.streaming import _simhash_kernel

    rng = np.random.default_rng(5)
    sigs = rng.integers(0, 1 << 60, 300, dtype=np.int64)
    sigs[50] = sigs[10] ^ 0b101  # planted hamming-2 pair within batch
    sigs[250] = sigs[10] ^ 0b1  # planted cross-batch pair
    b1 = [(i, int(sigs[i])) for i in range(200)]
    b2 = [(i, int(sigs[i])) for i in range(200, 300)]
    pairs1, blob = _simhash_kernel(b"", [_mk_sim_chunk(b1)], 3, 0)
    pairs2, blob2 = _simhash_kernel(blob, [_mk_sim_chunk(b2)], 3, 0)
    got = set()
    for p in (pairs1, pairs2):
        if p is not None:
            got |= {(a, b) for a, b in zip(p["id_a"], p["id_b"])}
    # brute force over the union
    want = set()
    for i in range(300):
        for j in range(i + 1, 300):
            if bin(int(sigs[i]) ^ int(sigs[j])).count("1") <= 3:
                want.add((i, j))
    assert got == want
    assert (10, 50) in got and (10, 250) in got
    assert len(blob2) == 300 * 16  # one (id, sig) record per doc, one append per batch


def test_simhash_kernel_state_bound_evicts_lru():
    from gorilla_stream_spark.streaming import _simhash_kernel

    s = 0b1010101  # identical sigs -> every pair is hamming 0
    p1, blob = _simhash_kernel(b"", [_mk_sim_chunk([(1, s)])], 3, 1)
    assert p1 is None and len(blob) == 16
    p2, blob = _simhash_kernel(blob, [_mk_sim_chunk([(2, s)])], 3, 1)
    assert {(a, b) for a, b in zip(p2["id_a"], p2["id_b"])} == {(1, 2)}
    assert len(blob) == 16  # doc 1 evicted (LRU), state stays bounded
    p3, blob = _simhash_kernel(blob, [_mk_sim_chunk([(3, s)])], 3, 1)
    # doc 3 pairs with the retained doc 2 but NOT the evicted doc 1 —
    # the documented recall impact of the bound
    assert {(a, b) for a, b in zip(p3["id_a"], p3["id_b"])} == {(2, 3)}
    assert len(blob) == 16


def test_dedup_kernel_migrates_unsorted_legacy_state():
    # a blob written by the pre-sorted-format kernel (append order) must be
    # handled without duplicate leakage
    import hashlib

    from gorilla_stream_spark.streaming import _dedup_kernel

    legacy = b"".join(
        hashlib.md5(f"content {i}".encode()).digest() for i in (5, 1, 9, 3)
    )  # arrival order, NOT sorted
    out, blob = _dedup_kernel(
        legacy, [_mk_dedup_chunk([(50, "content 1"), (51, "brand new")])]
    )
    assert list(out["doc_id"]) == ["51"]  # content 1 is a legacy duplicate
    assert len(blob) == 5 * 16


def test_stream_block_ids_unique_and_restart_does_not_clobber(spark, tmp_path):
    from gorilla_stream_spark.streaming import encode_stream

    src1, src2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    out = str(tmp_path / "out")
    tokens_df(spark, 120, seed=41).write.parquet(src1)
    tokens_df(spark, 90, seed=43).selectExpr(
        "concat('x', doc_id) AS doc_id", "tokens", "n_tok", "source"
    ).write.parquet(src2)
    schema = spark.read.parquet(src1).schema
    # run 1
    q = encode_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src1),
        out, str(tmp_path / "ck1"), num_partitions=2,
    )
    _await(q)
    n1 = decode(spark.read.parquet(out)).count()
    assert n1 == 120
    # run 2: NEW checkpoint, batch numbering restarts at 0 — must not
    # overwrite run 1's batch directories
    q = encode_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src2),
        out, str(tmp_path / "ck2"), num_partitions=2,
    )
    _await(q)
    tab = spark.read.parquet(out)
    assert decode(tab).count() == 210
    # two distinct ingest namespaces; (ingest, block_id) unique table-wide,
    # and block_id unique WITHIN each ingest run (part_base = batch * P)
    assert tab.select("ingest").distinct().count() == 2
    assert (
        tab.groupBy("ingest", "block_id").count().filter(F.col("count") > 1).count() == 0
    )


def test_stream_legacy_flat_table_keeps_appending(spark, tmp_path):
    from gorilla_stream_spark import encode
    from gorilla_stream_spark.streaming import encode_stream

    out = str(tmp_path / "legacy_out")
    # a pre-directory-layout table: flat parquet with batch_id data column
    encode(tokens_df(spark, 50, seed=5), num_partitions=1).withColumn(
        "batch_id", F.lit(0)
    ).write.parquet(out)
    src = str(tmp_path / "src")
    tokens_df(spark, 60, seed=6).selectExpr(
        "concat('y', doc_id) AS doc_id", "tokens", "n_tok", "source"
    ).write.parquet(src)
    q = encode_stream(
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2).parquet(src),
        out, str(tmp_path / "ckl"), num_partitions=1,
    )
    _await(q)
    tab = spark.read.parquet(out)
    assert "batch_id" in tab.columns and "ingest" not in tab.columns
    assert decode(tab).count() == 110


def test_stream_rejects_interim_batchdir_layout(spark, tmp_path):
    from gorilla_stream_spark import encode
    from gorilla_stream_spark.streaming import encode_stream

    out = str(tmp_path / "interim_out")
    # bare batch_id=N dirs at the root: the short-lived interim sink shape
    encode(tokens_df(spark, 30, seed=8), num_partitions=1).write.parquet(
        out + "/batch_id=0"
    )
    src = str(tmp_path / "src")
    tokens_df(spark, 20, seed=9).write.parquet(src)
    with pytest.raises(ValueError, match="interim"):
        encode_stream(
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
            out, str(tmp_path / "cki"),
        )
