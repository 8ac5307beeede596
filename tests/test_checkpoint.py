"""Checkpointed encode: lineage, idempotent resume, crash recovery."""

from __future__ import annotations

import glob
import os
import re
import shutil
import zlib

import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark import decode
from gorilla_stream_spark.checkpoint import CheckpointedEncode
from gorilla_stream_spark.generator import tokens_df


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


@pytest.fixture(scope="module")
def toks(spark):
    df = tokens_df(spark, 400, seed=7)
    df.cache().count()
    return df


def _job(out, ckpt, P=4):
    return CheckpointedEncode(output_path=out, checkpoint_path=ckpt, run_id="t", num_partitions=P)


def _roundtrip_ok(spark, toks, out):
    enc = spark.read.parquet(out)
    dec = decode(enc)
    joined = toks.alias("s").join(dec.alias("d"), "doc_id", "full_outer")
    bad = joined.filter(
        (F.col("s.tokens") != F.col("d.tokens")) | F.col("s.tokens").isNull() | F.col("d.tokens").isNull()
    )
    assert bad.count() == 0
    assert dec.count() == toks.count()  # no dup docs from resume


def test_full_run_and_noop_rerun(spark, toks, paths):
    out, ckpt = paths
    job = _job(out, ckpt)
    job.run(spark, toks)
    m1 = job.metrics(spark)
    assert m1["parts_committed"] == 4
    assert m1["docs"] == 400
    assert m1["ratio"] < 1.0
    _roundtrip_ok(spark, toks, out)
    # re-run: all partitions committed -> no-op, no duplicates
    job.run(spark, toks)
    m2 = job.metrics(spark)
    assert m2 == m1
    _roundtrip_ok(spark, toks, out)


def test_legacy_layout_fails_fast_before_writing(spark, toks, paths):
    # a table written by the pre-(config_fp, part_id) version (partitioned
    # by part_id only) must be rejected BEFORE any data lands — mixing
    # config_fp=<fp>/part_id=N dirs next to legacy part_id=N dirs breaks
    # partition discovery after data was already written
    out, ckpt = paths
    os.makedirs(os.path.join(out, "part_id=0"))
    with open(os.path.join(out, "part_id=0", "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1")
    job = _job(out, ckpt)
    with pytest.raises(ValueError, match="legacy part_id=N layout"):
        job.run(spark, toks)
    # nothing was written next to the legacy dirs
    assert sorted(os.listdir(out)) == ["part_id=0"]


def test_crash_resume(spark, toks, paths):
    out, ckpt = paths
    job = _job(out, ckpt)
    job.run(spark, toks)
    # simulate a crash that lost partitions 2,3's checkpoint rows AND
    # partition 3's data (partition 2: data written, commit lost)
    cp = spark.read.parquet(ckpt).filter(F.col("part_id") < 2).toPandas()
    shutil.rmtree(ckpt)
    spark.createDataFrame(cp).write.parquet(ckpt)
    for d in glob.glob(os.path.join(out, "config_fp=*", "part_id=3")):
        shutil.rmtree(d)
    job2 = _job(out, ckpt)
    assert sorted(job2.committed_parts(spark)) == [0, 1]
    job2.run(spark, toks)
    assert sorted(job2.committed_parts(spark)) == [0, 1, 2, 3]
    _roundtrip_ok(spark, toks, out)


def test_resume_manifest_scan_prunes_committed_parts(spark, toks, paths):
    """The manifest aggregation of a resume must scan only newly-written
    partitions — committed partitions' buffers are never re-read (at 100 TB
    a full-table rescan per resume would dominate the job)."""
    out, ckpt = paths
    job = _job(out, ckpt)
    job.run(spark, toks)
    # lose partition 2's checkpoint row -> resume re-encodes only part 2
    cp = spark.read.parquet(ckpt).filter(F.col("part_id") != 2).toPandas()
    shutil.rmtree(ckpt)
    spark.createDataFrame(cp).write.parquet(ckpt)
    man = _job(out, ckpt).run(spark, toks)
    rows = man.select("part_id").distinct().collect()
    assert [r["part_id"] for r in rows] == [2]
    # the partition filter must reach the parquet scan (partition pruning on
    # the part_id directory column, visible in the optimized plan)
    plan = man._jdf.queryExecution().toString()
    assert "part_id" in plan and ("IN (2)" in plan or "isin" in plan or "= 2" in plan or "(2)" in plan), plan[:2000]


def test_commit_sums_stored_buffer_crcs(spark, toks, paths):
    """The commit aggregate sums the stored ``crc32_buf`` column: it reads
    no written buffer back, and its crc_sum is the sum of zlib.crc32 over
    the written buffers."""
    out, ckpt = paths
    man = _job(out, ckpt).run(spark, toks)
    plan = man._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)
    assert schemas and not any("buffer" in s for s in schemas), plan[:2000]
    bufs = spark.read.parquet(out).select("buffer").collect()
    assert len(bufs) > 0
    want = sum(zlib.crc32(bytes(r["buffer"])) for r in bufs)
    assert sum(r["crc_sum"] for r in spark.read.parquet(ckpt).collect()) == want


def test_container_level_roundtrip_and_fingerprint(spark, toks, paths):
    out, ckpt = paths
    job = CheckpointedEncode(
        output_path=out, checkpoint_path=ckpt, run_id="lvl", num_partitions=2,
        container="zstd", container_level=9,
    )
    job.run(spark, toks)
    assert "@9" in job._config_fingerprint()
    _roundtrip_ok(spark, toks, out)


def test_resume_skips_committed_input(spark, toks, paths):
    """Committed partitions must not be re-encoded (input pruned)."""
    out, ckpt = paths
    job = _job(out, ckpt)
    job.run(spark, toks)
    before = {
        (r["part_id"], r["crc_sum"])
        for r in spark.read.parquet(ckpt).select("part_id", "crc_sum").collect()
    }
    job.run(spark, toks)
    after = {
        (r["part_id"], r["crc_sum"])
        for r in spark.read.parquet(ckpt).select("part_id", "crc_sum").collect()
    }
    assert before == after  # bit-identical blocks, no recommit


def test_multi_column_checkpoint_resume(spark, toks, paths):
    # multi-column encode rides the same lineage/resume protocol: a crashed
    # run's missing partitions re-encode, committed ones are skipped, and
    # the decoded columns round-trip bit-identical
    from gorilla_stream_spark.engine import decode_multi

    out, ckpt = paths
    src = toks.withColumn(
        "mask",
        F.expr("transform(tokens, t -> CASE WHEN t % 3 = 0 THEN 0 ELSE 1 END)").cast(
            "array<int>"
        ),
    )
    src.cache().count()
    job = CheckpointedEncode(
        output_path=out, checkpoint_path=ckpt, run_id="tm", num_partitions=4,
        token_cols=["tokens", "mask"],
    )
    job.run(spark, src)
    assert sorted(job.committed_parts(spark)) == [0, 1, 2, 3]
    # simulate crash: drop one partition's data + checkpoint rows
    shutil.rmtree(glob.glob(os.path.join(out, "config_fp=*", "part_id=2"))[0])
    cp = spark.read.parquet(ckpt).filter(F.col("part_id") != 2)
    cp.write.mode("overwrite").parquet(ckpt + "_fix")
    shutil.rmtree(ckpt)
    os.rename(ckpt + "_fix", ckpt)
    job.run(spark, src)
    assert sorted(job.committed_parts(spark)) == [0, 1, 2, 3]
    dec = decode_multi(spark.read.parquet(out), ["tokens", "mask"])
    j = src.alias("s").join(dec.alias("d"), "doc_id", "full_outer")
    bad = j.filter(
        F.col("s.tokens").isNull() | F.col("d.tokens").isNull()
        | (F.col("s.tokens") != F.col("d.tokens")) | (F.col("s.mask") != F.col("d.mask"))
    ).count()
    assert bad == 0
    # fingerprint isolation: single-column job on the same paths is separate
    m = job.metrics(spark)
    assert m["parts_committed"] == 4 and m["ratio"] < 1


def test_checkpoint_dict_container_roundtrip_and_fingerprint(spark, tmp_path):
    import pyspark.sql.functions as F

    from gorilla_stream_spark import decode
    from gorilla_stream_spark.checkpoint import CheckpointedEncode, encode_with_checkpoint
    from gorilla_stream_spark.codecs import train_container_dict
    from gorilla_stream_spark.engine import encode as plain_encode

    docs = spark.range(120).select(
        F.col("id").cast("string").alias("doc_id"),
        F.expr("transform(sequence(1, 40), i -> cast((id * 3 + i) % 128 as int))").alias(
            "tokens"
        ),
        F.lit("s").alias("source"),
    )
    sample = [
        bytes(r["buffer"])
        for r in plain_encode(docs.limit(10), num_partitions=1).select("buffer").collect()
    ]
    d = train_container_dict(sample)
    out, ck = str(tmp_path / "dc_out"), str(tmp_path / "dc_ck")
    m = encode_with_checkpoint(
        spark, docs, output_path=out, checkpoint_path=ck,
        num_partitions=2, container="zlib-dict", container_dict=d,
    )
    assert m["docs"] == 120
    dec = decode(spark.read.parquet(out), container_dict=d)
    assert dec.count() == 120
    # a different dict must produce a DIFFERENT config fingerprint: a resume
    # can never mix buffers encoded against different dictionaries
    job_a = CheckpointedEncode(out, ck, "run1", 2, container="zlib-dict", container_dict=d)
    job_b = CheckpointedEncode(out, ck, "run1", 2, container="zlib-dict", container_dict=d + b"x")
    assert job_a._config_fingerprint() != job_b._config_fingerprint()
    # zlib-dict without a dict fails at plan build
    import pytest as _pytest

    with _pytest.raises(ValueError, match="container_dict"):
        CheckpointedEncode(out, ck, "run2", 2, container="zlib-dict").run(spark, docs)


def test_two_fingerprints_share_output_without_clobbering(spark, tmp_path):
    # run B (different codec -> different config_fp) into the SAME output
    # table must not delete run A's files; both stay fully readable
    import pyspark.sql.functions as F

    from gorilla_stream_spark.checkpoint import CheckpointedEncode
    from gorilla_stream_spark.generator import tokens_df

    src = tokens_df(spark, 120, seed=13).cache()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    for codec in ("raw", "rle"):
        CheckpointedEncode(
            output_path=out, checkpoint_path=ck, run_id="r1",
            num_partitions=2, codec=codec,
        ).run(spark, src)
    tab = spark.read.parquet(out)
    fps = [r.config_fp for r in tab.select("config_fp").distinct().collect()]
    assert len(fps) == 2
    for fp in fps:
        sub = tab.filter(F.col("config_fp") == fp)
        assert sub.agg(F.sum("n_docs")).first()[0] == 120


def test_committed_parts_raises_on_unreadable_checkpoint(spark, tmp_path):
    from gorilla_stream_spark.checkpoint import CheckpointedEncode

    ck = tmp_path / "ck"
    job = CheckpointedEncode(
        output_path=str(tmp_path / "out"), checkpoint_path=str(ck),
        run_id="r1", num_partitions=2,
    )
    assert job.committed_parts(spark) == []  # missing dir: first run
    ck.mkdir()
    (ck / "junk.parquet").write_bytes(b"not parquet at all")
    import pytest as _pt

    with _pt.raises(Exception):
        job.committed_parts(spark)


def test_committed_parts_empty_checkpoint_dir_is_first_run(spark, tmp_path):
    # a crash before the first task commit leaves only _temporary/ debris;
    # that must read as "first run", not a permanent resume blocker
    from gorilla_stream_spark.checkpoint import CheckpointedEncode

    ck = tmp_path / "ck"
    (ck / "_temporary").mkdir(parents=True)
    job = CheckpointedEncode(
        output_path=str(tmp_path / "out"), checkpoint_path=str(ck),
        run_id="r1", num_partitions=2,
    )
    assert job.committed_parts(spark) == []


def test_mixed_schema_output_table_single_and_multi(spark, tmp_path):
    # a single-column config and a token_cols config sharing one output
    # table must not poison each other's schema inference
    import pyspark.sql.functions as F

    from gorilla_stream_spark.checkpoint import CheckpointedEncode
    from gorilla_stream_spark.generator import tokens_df

    src = tokens_df(spark, 80, seed=21).cache()
    multi_src = src.withColumn("mask", F.expr("transform(tokens, t -> 1)")).cache()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    CheckpointedEncode(out, ck, "r1", 2, codec="auto").run(spark, src)
    job2 = CheckpointedEncode(out, ck, "r1", 2, token_cols=["tokens", "mask"])
    job2.run(spark, multi_src)
    assert sorted(job2.committed_parts(spark)) == [0, 1]
    m = job2.metrics(spark)
    assert m["parts_committed"] == 2 and m["docs"] == 80
