"""Supplementary measurements for OPTIMIZATION_r06.md — NOT the driver
bench (bench.py is frozen).  Times the round's optimized operators with a
noop sink (guide §1.4: compute every column, pay no sink) and brackets
every row with the host-calibration probe, because this host's CPU speed
swings ~4x between windows: a row is only comparable when its adjacent
calib values are close.

Usage: python bench_extra.py [reps]   (default 3; prints one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

CACHE = os.environ.get("GSS_BENCH_CACHE", "/tmp/gss_bench_cache")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def calib() -> float:
    t0 = time.time()
    rng = np.random.default_rng(4242)
    a = rng.integers(0, 1 << 20, size=1 << 23).astype(np.int64)
    for _ in range(3):
        b = np.sort(a)
        np.diff(b).clip(0).cumsum()
        (a * 2654435761 % 4294967291).sum()
    return round(time.time() - t0, 3)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    from gorilla_stream_spark import encode
    from gorilla_stream_spark.session import get_spark
    from gorilla_stream_spark.textops import duplicate_spans, simhash_hof
    from gorilla_stream_spark.vocab import build_global_dict, remap_tokens

    spark = get_spark(app_name="gss-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=int(CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    toks = spark.read.parquet(os.path.join(CACHE, "tokens_n200000_seed42"))
    corpus = spark.read.parquet(os.path.join(CACHE, "corpus_sf0.1"))
    toks.agg(F.sum(F.size("tokens"))).first()  # warm scan + page cache
    corpus.count()

    rows: dict[str, dict] = {}

    def run(name: str, fn) -> None:
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        samples, calibs = [], [calib()]
        for _ in range(reps):
            t0 = time.time()
            fn()
            samples.append(round(time.time() - t0, 3))
            calibs.append(calib())
        rows[name] = {"best": min(samples), "samples": samples, "calib": calibs}
        spark.sparkContext.setJobDescription(None)

    run("encode_auto_noop", lambda: noop(encode(toks, codec="auto", num_partitions=int(CPUS))))
    run("dup_spans_s8_anchored", lambda: duplicate_spans(
        toks, k=50, stride=8, anchored=True
    ).agg(F.count("*"), F.sum("dup_tokens")).collect())
    sample = corpus.limit(10000).persist()
    sample.count()
    run("simhash_hof_10k", lambda: simhash_hof(sample).agg(
        F.expr("bit_xor(simhash)")).first())
    sample.unpersist()
    vtoks = toks.filter(F.col("source").isin(
        "constant", "runs", "small_vocab", "zipf_vocab", "narrow_range"))
    run("global_dict_remap", lambda: remap_tokens(
        vtoks, build_global_dict(vtoks)).agg(F.sum("n_tok")).first())

    print(json.dumps({"metric": "bench_extra", "cpus": int(CPUS), "rows": rows}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
