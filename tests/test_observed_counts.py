"""Job CLI numbers come from the write itself.

Every command that writes a table prints counts observed during that write
(``catalog.write_table`` returns them) instead of reading its own output
back.  Three read-backs stay, each because an observed metric cannot
express it: ``sample``'s per-source group-by, ``merge``'s DISTINCT block-id
check and ``dup-spans --strip-output``, which consumes the written spans as
data.  A second identical run of the heavier commands is pinned to the job
count this gives.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark import jobs, pipeline

SF = "/root/testdata/sf0.001"

ALLOWED_READ_BACKS = {"sample", "merge", "dup-spans"}

# Spark jobs of a SECOND identical run at local[4] (the first run may differ)
MAX_JOBS_SECOND_RUN = {"decode": 2, "compact": 7, "dedup": 5, "pack": 3, "wire-export": 4}


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    from gorilla_stream_spark import encode
    from gorilla_stream_spark.engine import encode_multi
    from gorilla_stream_spark.generator import tokens_df
    from gorilla_stream_spark.gorilla_wire import encode_timeseries_wire
    from gorilla_stream_spark.index import build_token_index
    from gorilla_stream_spark.packing import pack_sequences
    from gorilla_stream_spark.vectors import encode_vectors, write_vectors
    from gorilla_stream_spark.vocab import build_global_dict

    d = tmp_path_factory.mktemp("observed_in")
    p = {k: str(d / k) for k in (
        "docs", "dirty", "tr", "ev", "toks", "toks_new", "half0", "half1", "msrc", "enc",
        "enc0", "enc1", "small", "menc", "venc", "ts", "wenc", "idx", "vdict", "packed",
        "queries",
    )}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.write.parquet(p["docs"])
    docs.unionByName(
        docs.filter(F.col("doc_id") < 10).withColumn("doc_id", F.col("doc_id") + 9000)
    ).write.parquet(p["dirty"])
    docs.filter(F.col("doc_id") % 5 != 0).write.parquet(p["tr"])
    docs.filter(F.col("doc_id") % 5 == 0).write.parquet(p["ev"])
    chars = F.expr("transform(split(text,''), c -> ascii(c))").cast("array<int>")
    docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), chars.alias("tokens"), "source",
    ).withColumn("n_tok", F.size("tokens").cast("int")).write.parquet(p["toks"])
    toks = spark.read.parquet(p["toks"])
    did = F.col("doc_id").cast("long")
    toks.filter(did % 11 != 0).withColumn(
        "tokens",
        F.when(did % 5 == 0, F.concat("tokens", F.array(F.lit(9)))).otherwise(F.col("tokens")),
    ).withColumn("n_tok", F.size("tokens").cast("int")).write.parquet(p["toks_new"])
    encode(toks, num_partitions=4).write.parquet(p["enc"])
    for half in (0, 1):
        h = toks.filter(did % 2 == half)
        h.write.parquet(p[f"half{half}"])
        encode(h, num_partitions=2).write.parquet(p[f"enc{half}"])
    encode(tokens_df(spark, 150, seed=31), num_partitions=2, block_tokens=600).write.parquet(
        p["small"]
    )
    docs.select(
        F.col("doc_id").cast("string").alias("doc_id"), chars.alias("tokens"),
        F.expr("transform(split(text,''), c -> CASE WHEN c = ' ' THEN 0 ELSE 1 END)")
        .cast("array<int>").alias("mask"),
    ).write.parquet(p["msrc"])
    encode_multi(spark.read.parquet(p["msrc"]), ["tokens", "mask"], num_partitions=2).write.parquet(
        p["menc"]
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    write_vectors(encode_vectors(emb, num_partitions=2, layout="lsh"), p["venc"])
    emb.filter(F.col("vec_id") < 2).write.parquet(p["queries"])
    spark.range(5_000).select(
        (F.lit(1_600_000_000) + F.col("id") * 30).alias("ts"),
        (F.col("id") % 9).cast("double").alias("value"),
    ).write.parquet(p["ts"])
    encode_timeseries_wire(spark.read.parquet(p["ts"]), num_partitions=2).write.parquet(p["wenc"])
    build_token_index(spark.read.parquet(p["enc"])).write.parquet(p["idx"])
    build_global_dict(toks).write.parquet(p["vdict"])
    pack_sequences(toks, 256).write.parquet(p["packed"])
    return p


def _commands(p, out):
    """name -> (argv, locations the command writes)"""
    o = {k: str(out / k) for k in (
        "a", "b", "spans", "strip", "shards", "man",
    )}
    a = o["a"]
    return {
        "decode": (["decode", "--input", p["enc"], "--output", a], [a]),
        "compact": (["compact", "--input", p["small"], "--output", a,
                     "--block-tokens", "8000"], [a]),
        "decontaminate": (["decontaminate", "--train", p["tr"], "--eval", p["ev"],
                           "--output", a, "--cleaned", o["b"]], [a, o["b"]]),
        "dedup": (["dedup", "--input", p["dirty"], "--output", a], [a]),
        "neardup": (["neardup", "--input", p["dirty"], "--output", a, "--dedup-first"], [a]),
        "encode-multi": (["encode-multi", "--input", p["msrc"], "--output", a,
                          "--columns", "tokens,mask", "--partitions", "2"], [a]),
        "decode-multi": (["decode-multi", "--input", p["menc"], "--output", a,
                          "--columns", "tokens,mask"], [a]),
        "encode-vectors": (["encode-vectors", "--input", f"{SF}/embeddings.parquet",
                            "--output", a, "--partitions", "2", "--layout", "lsh"], [a]),
        "decode-vectors": (["decode-vectors", "--input", p["venc"], "--output", a], [a]),
        "ann": (["ann", "--input", p["venc"], "--queries", p["queries"], "--output", a,
                 "--k", "5"], [a]),
        "sample": (["sample", "--input", p["toks"], "--output", a, "--fraction", "0.5"], [a]),
        "dup-spans": (["dup-spans", "--input", p["toks"], "--output", o["spans"],
                       "--strip-output", o["strip"], "--k", "8"], [o["spans"], o["strip"]]),
        "incremental-encode": (["incremental-encode", "--old-encoded", p["enc"],
                                "--old-input", p["toks"], "--input", p["toks_new"],
                                "--output", a, "--partitions", "4"], [a]),
        "diff-docs": (["diff-docs", "--old", p["toks"], "--new", p["toks_new"],
                       "--output", a], [a]),
        "score": (["score", "--input", p["toks"], "--output", a], [a]),
        "shards": (["shards", "--input", p["packed"], "--output", o["shards"],
                    "--seqs-per-shard", "8", "--manifest", o["man"]], [o["shards"], o["man"]]),
        "delete": (["delete", "--input", p["enc"], "--output", a, "--ids", "1,3"], [a]),
        "pack": (["pack", "--input", p["toks"], "--output", a, "--seq-len", "256"], [a]),
        "wire-export": (["wire-export", "--input", p["ts"], "--output", a,
                         "--partitions", "2"], [a]),
        "wire-import": (["wire-import", "--input", p["wenc"], "--output", a], [a]),
        "index": (["index", "--encoded", p["enc"], "--output", a], [a]),
        "grep-token": (["grep-token", "--encoded", p["enc"], "--index", p["idx"],
                        "--token", "113", "--output", a], [a]),
        "build-dict": (["build-dict", "--input", p["toks"], "--output", a], [a]),
        "remap": (["remap", "--input", p["toks"], "--dict", p["vdict"], "--output", a], [a]),
        "merge": (["merge", "--a", p["enc0"], "--b", p["enc1"], "--output", a], [a]),
        "transcode": (["transcode", "--input", p["enc"], "--output", a, "--codec", "dod"], [a]),
        "drift": (["drift", "--a", p["half0"], "--b", p["half1"], "--output", a], [a]),
    }


COMMANDS = [
    "decode", "compact", "decontaminate", "dedup", "neardup", "encode-multi",
    "decode-multi", "encode-vectors", "decode-vectors", "ann", "sample", "dup-spans",
    "incremental-encode", "diff-docs", "score", "shards", "delete", "pack", "wire-export",
    "wire-import", "index", "grep-token", "build-dict", "remap", "merge", "transcode", "drift",
]


def _recording(monkeypatch, module):
    reads = []
    real = module.read_table

    def rec(spark, location):
        reads.append(location)
        return real(spark, location)

    monkeypatch.setattr(module, "read_table", rec)
    return reads


def _run(capsys, argv):
    assert jobs.main(argv) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("name", COMMANDS)
def test_command_does_not_read_back_its_output(name, inputs, tmp_path, monkeypatch, capsys):
    argv, written = _commands(inputs, tmp_path)[name]
    reads = _recording(monkeypatch, jobs)
    _run(capsys, argv)
    read_back = [loc for loc in reads if loc in written]
    if name in ALLOWED_READ_BACKS:
        assert len(read_back) == 1, reads
    else:
        assert read_back == [], reads


def test_dup_spans_without_strip_reads_nothing_back(inputs, tmp_path, monkeypatch, capsys):
    spans = str(tmp_path / "spans")
    reads = _recording(monkeypatch, jobs)
    m = _run(capsys, ["dup-spans", "--input", inputs["toks"], "--output", spans, "--k", "8"])
    assert spans not in reads and m["docs_with_dups"] > 0 and not m["stripped"]


def test_pipeline_reads_each_stage_output_only_as_next_input(
    spark, inputs, tmp_path, monkeypatch, capsys
):
    reads = _recording(monkeypatch, pipeline)
    wd, out = str(tmp_path / "wd"), str(tmp_path / "shards")
    m = _run(capsys, [
        "pipeline", "--input", inputs["toks"], "--workdir", wd, "--output", out,
        "--stages", "clean,dedup,pack,shards", "--seq-len", "256", "--seqs-per-shard", "8",
    ])
    stages = m["stages"]
    assert reads == [inputs["toks"]] + [s["output"] for s in stages[:-1]]
    for s in stages:
        assert s["rows"] == spark.read.parquet(s["output"]).count(), s


def _jobs_of(spark, capsys, argv, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        _run(capsys, argv)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(MAX_JOBS_SECOND_RUN))
def test_second_run_job_count(name, spark, inputs, tmp_path, capsys):
    argv, _ = _commands(inputs, tmp_path)[name]
    _jobs_of(spark, capsys, argv, f"observed-{name}-1")
    n = _jobs_of(spark, capsys, argv, f"observed-{name}-2")
    assert n <= MAX_JOBS_SECOND_RUN[name], n


def test_encode_multi_writes_through_the_catalog(inputs):
    # an iceberg: location gets the catalog's runtime hint before any job runs
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        jobs.main([
            "encode-multi", "--input", inputs["msrc"], "--output", "iceberg:cat.db.t",
            "--columns", "tokens,mask",
        ])


def test_write_table_returns_observed_metrics(spark, tmp_path):
    from gorilla_stream_spark.catalog import write_table

    df = spark.range(10).withColumn("v", F.col("id") * 2)
    m = write_table(df, str(tmp_path / "t"), total=F.sum("v"), big=F.count_if(F.col("v") > 10))
    assert m == {"rows": 10, "total": 90, "big": 4}
    assert write_table(df.filter(F.lit(False)), str(tmp_path / "e"), total=F.sum("v")) == {
        "rows": 0, "total": None,
    }
