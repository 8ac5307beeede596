"""Time-series block tables: pinned bytes, same blocks on every run.

``encode_timeseries`` (native codecs) and ``encode_timeseries_wire``
(reference wire format) cut a timestamp-ordered stream into blocks.  The
golden digests below pin every block wherever the cut does not depend on
range partitioning: ``assume_sorted`` input, the per-partition sort
without a shuffle, and a single range partition.  With ``num_partitions``
the range bounds come from the data alone, so a re-run of the same input
writes the same blocks.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark.engine import decode_timeseries, encode_timeseries
from gorilla_stream_spark.gorilla_wire import decode_timeseries_wire, encode_timeseries_wire

_N = 60_000


def _series(seed: int = 7) -> pd.DataFrame:
    """Irregular 1 s telemetry with a gap, a counter-like level shift and
    2-decimal noise — one pattern per codec family."""
    rng = np.random.default_rng(seed)
    step = np.where(rng.random(_N) < 0.05, rng.integers(2, 9, _N), 1)
    step[_N // 2] = 3_600
    ts = 1_700_000_000 + np.cumsum(step)
    walk = np.round(np.cumsum(rng.normal(0, 0.3, _N)), 2)
    level = np.where(np.arange(_N) % 5_000 < 2_500, 20.0, 21.5)
    return pd.DataFrame({"ts": ts.astype(np.int64), "value": walk + level})


def _digest(enc) -> tuple[int, int, str]:
    """(blocks, total points, sha256 over every block row in block_id order)."""
    rows = enc.orderBy("block_id").collect()
    h = hashlib.sha256()
    for r in rows:
        d = r.asDict()
        meta = {k: v for k, v in d.items() if not isinstance(v, (bytes, bytearray))}
        h.update(json.dumps(meta, sort_keys=True).encode())
        for k in sorted(d):
            if isinstance(d[k], (bytes, bytearray)):
                h.update(hashlib.sha256(bytes(d[k])).digest())
    return len(rows), sum(r["n_points"] for r in rows), h.hexdigest()[:16]


@pytest.fixture(scope="module")
def sorted_df(spark):
    return spark.createDataFrame(_series()).cache()


@pytest.fixture(scope="module")
def shuffled_df(spark):
    pdf = _series()
    pdf = pdf.iloc[np.random.default_rng(3).permutation(len(pdf))].reset_index(drop=True)
    return spark.createDataFrame(pdf).cache()


GOLDEN = {
    "wire_sorted_gorilla": (12, 60000, "790ef3fdb0eb7746"),
    "wire_sorted_chimp": (16, 60000, "41e5d6735921b059"),
    "wire_sorted_chimp128": (12, 60000, "f4c41c9420118b73"),
    "wire_sorted_vm": (12, 60000, "861a80a7bb56af24"),
    "wire_local_sort": (12, 60000, "d9e88532fbdd6a13"),
    "wire_one_range": (12, 60000, "18e4521e19b4a713"),
    "native_sorted": (4, 60000, "1a11bbf158709b14"),
    "native_local_sort": (4, 60000, "b7f10528f47836f7"),
    "native_one_range": (1, 60000, "3987660e366b8f22"),
}


def _golden_table(name, sorted_df, shuffled_df):
    return {
        "wire_sorted_gorilla": lambda: encode_timeseries_wire(sorted_df, assume_sorted=True),
        "wire_sorted_chimp": lambda: encode_timeseries_wire(
            sorted_df, assume_sorted=True, algorithm="chimp", block_points=4_096
        ),
        "wire_sorted_chimp128": lambda: encode_timeseries_wire(
            sorted_df, assume_sorted=True, algorithm="chimp128"
        ),
        "wire_sorted_vm": lambda: encode_timeseries_wire(
            sorted_df, assume_sorted=True, victoria_metrics=True, block_points=7_000
        ),
        "wire_local_sort": lambda: encode_timeseries_wire(shuffled_df),
        "wire_one_range": lambda: encode_timeseries_wire(shuffled_df, num_partitions=1),
        "native_sorted": lambda: encode_timeseries(sorted_df, assume_sorted=True),
        "native_local_sort": lambda: encode_timeseries(shuffled_df),
        "native_one_range": lambda: encode_timeseries(shuffled_df, num_partitions=1),
    }[name]()


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_block_bytes_pinned(name, sorted_df, shuffled_df):
    assert _digest(_golden_table(name, sorted_df, shuffled_df)) == GOLDEN[name]


def _out_of_order(spark, n: int = 12_345, seed: int = 11):
    """A 10 s series, every 7th timestamp repeated with another value,
    handed over in random row order."""
    i = np.arange(n, dtype=np.int64)
    ts = 1_600_000_000 + (i - (i % 7 == 6)) * 10
    pdf = pd.DataFrame({"ts": ts, "value": np.round(np.sin(np.arange(n) / 50.0), 3)})
    return spark.createDataFrame(pdf.iloc[np.random.default_rng(seed).permutation(n)])


@pytest.mark.parametrize("encoder", [encode_timeseries, encode_timeseries_wire])
def test_range_partitioned_blocks_repeat_across_runs(spark, encoder):
    runs = {_digest(encoder(_out_of_order(spark), num_partitions=2)) for _ in range(3)}
    assert len(runs) == 1, runs


def test_wire_export_prints_the_same_enc_bytes_twice(spark, tmp_path, capsys):
    from gorilla_stream_spark import jobs

    src = str(tmp_path / "ts")
    _out_of_order(spark).write.parquet(src)
    printed = []
    for run in range(2):
        argv = ["wire-export", "--input", src, "--output", str(tmp_path / f"out{run}"),
                "--partitions", "2"]
        assert jobs.main(argv) == 0
        printed.append(json.loads(capsys.readouterr().out.strip().splitlines()[-1]))
    assert printed[0] == printed[1]
    assert printed[0]["points"] == 12_345


@pytest.mark.parametrize("encoder", [encode_timeseries, encode_timeseries_wire])
def test_range_partitioned_encode_round_trips_out_of_order_input(spark, encoder):
    src = _out_of_order(spark)
    dec = decode_timeseries if encoder is encode_timeseries else decode_timeseries_wire
    got = dec(encoder(src, num_partitions=3)).orderBy("ts", "value").toPandas()
    want = src.orderBy("ts", "value").toPandas()
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


def _bursty(n: int = 100_000, seed: int = 5) -> pd.DataFrame:
    """90 % of the points in 0.1 % of the time range."""
    rng = np.random.default_rng(seed)
    span, hot = 10**9, int(0.9 * n)
    ts = np.concatenate([
        rng.integers(0, span, n - hot),
        rng.integers(span // 2, span // 2 + span // 1000, hot),
    ])
    return pd.DataFrame({"ts": rng.permutation(ts).astype(np.int64)})


@pytest.mark.parametrize("parts", [4, 8, 32])
def test_range_partition_routes_ranges_in_partition_order(spark, parts):
    from gorilla_stream_spark.skew import range_partition

    df = spark.createDataFrame(_bursty())
    stats = (
        range_partition(df, "ts", parts)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count("*").alias("n"))
        .orderBy("pid")
        .collect()
    )
    assert sum(r.n for r in stats) == 100_000
    # key ranges are non-overlapping and ascend with the partition id
    for a, b in zip(stats, stats[1:]):
        assert a.hi < b.lo, (a, b)
    assert max(r.n for r in stats) <= 1.5 * 100_000 / parts


def test_range_partition_bounds_do_not_depend_on_input_order(spark):
    from gorilla_stream_spark.skew import range_partition

    def layout(seed):
        pdf = _bursty()
        pdf = pdf.iloc[np.random.default_rng(seed).permutation(len(pdf))]
        df = range_partition(spark.createDataFrame(pdf), "ts", 8)
        return (
            df.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.min("ts"), F.max("ts"), F.count("*"))
            .orderBy("pid")
            .collect()
        )

    assert layout(1) == layout(2)


@pytest.mark.parametrize("encoder", [encode_timeseries, encode_timeseries_wire])
def test_null_ts_with_num_partitions_raises_null_error(spark, encoder):
    df = spark.range(100).select(
        F.when(F.col("id") == 5, None).otherwise(F.col("id")).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    with pytest.raises(Exception, match="null ts/value"):
        encoder(df, num_partitions=2).collect()


@pytest.mark.parametrize("encoder", [encode_timeseries, encode_timeseries_wire])
def test_second_run_job_count(spark, encoder, tmp_path):
    src = str(tmp_path / "ts")
    spark.createDataFrame(_series()).write.parquet(src)
    df = spark.read.parquet(src)
    sc = spark.sparkContext

    def jobs_of(group):
        sc.setJobGroup(group, group)
        try:
            encoder(df, num_partitions=4).write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    name = encoder.__name__
    jobs_of(f"ts-{name}-1")
    assert jobs_of(f"ts-{name}-2") <= 3


@pytest.mark.parametrize("encoder", [encode_timeseries, encode_timeseries_wire])
def test_fsck_flags_wrong_enc_bytes(spark, encoder):
    from gorilla_stream_spark.validate import fsck

    ts = spark.range(5_000).select(
        (F.col("id") * 1000).alias("ts"), (F.col("id") * 0.5).alias("value")
    )
    enc = encoder(ts, num_partitions=1).cache()
    assert fsck(enc).filter(~F.col("ok")).count() == 0
    lie = enc.withColumn("enc_bytes", F.col("enc_bytes") + 1)
    bad = fsck(lie).filter(~F.col("ok")).collect()
    assert len(bad) == enc.count()
    assert all("enc_bytes" in r.error for r in bad)
