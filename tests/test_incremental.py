"""Incremental snapshot encode: partition function parity, digest-based
change detection, block reuse byte-identity, add/modify/delete correctness,
lineage guard, and the broadcast-diff plan shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark.engine import decode, encode
from gorilla_stream_spark.incremental import (
    changed_partitions,
    corpus_partition_digest,
    incremental_encode,
    partition_of,
)
from gorilla_stream_spark.skew import salted_repartition

P = 32


def _corpus(spark, n=240, seed=3):
    rng = np.random.default_rng(seed)
    rows = [
        (
            f"doc{i:04d}",
            [int(v) for v in rng.integers(0, 50000, size=int(rng.integers(20, 120)))],
            f"src{i % 3}",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, source string"
    )


@pytest.fixture(scope="module")
def old_corpus(spark):
    return _corpus(spark).cache()


@pytest.fixture(scope="module")
def new_corpus(spark, old_corpus):
    """Modify doc ids ending 0 (append a token), delete ids ending 1,
    add 10 brand-new docs."""
    kept = old_corpus.filter(~F.col("doc_id").endswith("1"))
    mutated = kept.withColumn(
        "tokens",
        F.when(
            F.col("doc_id").endswith("0"),
            F.concat(F.col("tokens"), F.array(F.lit(7))),
        ).otherwise(F.col("tokens")),
    )
    extra = _corpus(mutated.sparkSession, n=10, seed=99).withColumn(
        "doc_id", F.concat(F.lit("new_"), F.col("doc_id"))
    )
    return mutated.unionByName(extra).cache()


def test_partition_of_matches_repartition(spark, old_corpus):
    # salted_repartition routes rows by partition_of itself; the plain hash
    # repartition on xxhash64(id) must still land every row in the same
    # place, so tables written before the layout routed by the Column keep
    # their doc->partition assignment
    for p in (3, P, 17):
        for df in (
            old_corpus.repartition(p, F.xxhash64(F.col("doc_id"))),
            salted_repartition(old_corpus, p),
        ):
            r = df.withColumn("pid", F.spark_partition_id()).withColumn(
                "pred", partition_of("doc_id", p)
            )
            assert r.filter(F.col("pid") != F.col("pred")).count() == 0


def test_digest_is_layout_invariant(spark, old_corpus):
    a = corpus_partition_digest(old_corpus, P).collect()
    b = corpus_partition_digest(
        old_corpus.orderBy(F.rand(5)).repartition(13), P
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_changed_partitions_exact(spark, old_corpus, new_corpus):
    got = {r["part_id"] for r in changed_partitions(old_corpus, new_corpus, P).collect()}
    # expected: every partition hosting a modified, deleted, or added doc
    touched = (
        old_corpus.filter(
            F.col("doc_id").endswith("0") | F.col("doc_id").endswith("1")
        ).select(partition_of("doc_id", P).alias("p"))
        .union(
            new_corpus.filter(F.col("doc_id").startswith("new_")).select(
                partition_of("doc_id", P).alias("p")
            )
        )
    )
    expect = {r["p"] for r in touched.distinct().collect()}
    assert got == expect
    assert 0 < len(got) < P  # the scenario must leave some partitions reusable


def test_changed_partitions_empty_on_identical(spark, old_corpus):
    same = old_corpus.orderBy(F.rand(11))  # layout differs, content identical
    assert changed_partitions(old_corpus, same, P).count() == 0


def test_incremental_decode_matches_full(spark, old_corpus, new_corpus):
    old_enc = encode(old_corpus, codec="auto", num_partitions=P).cache()
    inc = incremental_encode(old_enc, old_corpus, new_corpus, P, codec="auto")
    got = {
        r["doc_id"]: (r["tokens"], r["source"]) for r in decode(inc).collect()
    }
    exp = {
        r["doc_id"]: (r["tokens"], r["source"]) for r in new_corpus.collect()
    }
    assert got == exp
    old_enc.unpersist()


def test_reused_blocks_byte_identical(spark, old_corpus, new_corpus):
    old_enc = encode(old_corpus, codec="auto", num_partitions=P).cache()
    changed = {
        r["part_id"] for r in changed_partitions(old_corpus, new_corpus, P).collect()
    }
    inc = incremental_encode(old_enc, old_corpus, new_corpus, P, codec="auto")
    key = lambda df: {  # noqa: E731
        r["block_id"]: (bytes(r["buffer"]), r["crc32_buf"], r["enc_us"])
        for r in df.collect()
    }
    reused = key(inc.filter(~F.col("part_id").isin(list(changed))))
    original = key(old_enc.filter(~F.col("part_id").isin(list(changed))))
    assert reused == original and len(reused) > 0
    old_enc.unpersist()


def test_deleted_partition_disappears(spark, old_corpus):
    # drop every doc of one partition; its blocks must vanish, others reused
    victim = 2
    new = old_corpus.filter(partition_of("doc_id", P) != victim)
    old_enc = encode(old_corpus, codec="auto", num_partitions=P).cache()
    inc = incremental_encode(old_enc, old_corpus, new, P).cache()
    assert inc.filter(F.col("part_id") == victim).count() == 0
    got = {r["doc_id"]: r["tokens"] for r in decode(inc).collect()}
    exp = {r["doc_id"]: r["tokens"] for r in new.collect()}
    assert got == exp
    inc.unpersist()
    old_enc.unpersist()


def test_lineage_guard_raises(spark, old_corpus, new_corpus):
    old_enc = encode(old_corpus, codec="auto", num_partitions=P)
    bad = old_enc.withColumn("part_id", F.col("part_id") + F.lit(1 << 20))
    with pytest.raises(ValueError, match="not pure ingest lineage"):
        incremental_encode(bad, old_corpus, new_corpus, P)


def test_config_change_only_hits_changed_parts(spark, old_corpus, new_corpus):
    # blocks are self-describing: a new codec applies to re-encoded
    # partitions only, reused ones keep the old codec — decode handles both
    old_enc = encode(old_corpus, codec="for", num_partitions=P).cache()
    inc = incremental_encode(old_enc, old_corpus, new_corpus, P, codec="raw").cache()
    changed = {
        r["part_id"] for r in changed_partitions(old_corpus, new_corpus, P).collect()
    }
    fresh_codecs = {
        r["codec"] for r in inc.filter(F.col("part_id").isin(list(changed))).collect()
    }
    reused_codecs = {
        r["codec"] for r in inc.filter(~F.col("part_id").isin(list(changed))).collect()
    }
    assert fresh_codecs == {"raw"} and reused_codecs == {"for"}
    got = {r["doc_id"]: r["tokens"] for r in decode(inc).collect()}
    exp = {r["doc_id"]: r["tokens"] for r in new_corpus.collect()}
    assert got == exp
    inc.unpersist()
    old_enc.unpersist()


def test_diff_plan_shape(spark, old_corpus, new_corpus, tmp_path):
    # the changed-part set must join back as a broadcast on both sides and
    # the digest aggregation must be partial (no doc-level shuffle of the
    # corpora beyond the P-row digest exchange); old_enc comes from storage
    # as in production, so the reuse side is a pure scan
    path = str(tmp_path / "old_enc")
    encode(old_corpus, codec="auto", num_partitions=P).write.parquet(path)
    old_enc = spark.read.parquet(path)
    inc = incremental_encode(old_enc, old_corpus, new_corpus, P)
    plan = inc._jdf.queryExecution().executedPlan().toString()
    # the changed set becomes literal pruning predicates (small-P path) —
    # no join against the corpora, and the reuse side's NOT-IN reaches the
    # parquet scan as a data filter
    assert "Join" not in plan.replace("BroadcastHashJoin", "")  # no sort-merge join anywhere
    # exactly one Arrow encode pass (the changed-side re-encode); the reuse
    # side must not pass through any Python/Arrow evaluation
    assert plan.count("MapInArrow") + plan.count("mapInArrow") == 1


def test_snapshot_diff_statuses(spark, old_corpus, new_corpus):
    from gorilla_stream_spark.incremental import snapshot_diff

    by = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(old_corpus, new_corpus).collect()
    }
    old_ids = {r["doc_id"] for r in old_corpus.select("doc_id").collect()}
    for i in old_ids:
        if i.endswith("1"):
            assert by.get(i) == "removed"
        elif i.endswith("0"):
            assert by.get(i) == "changed"
        else:
            assert i not in by  # unchanged docs are not emitted
    added = sorted(k for k, v in by.items() if v == "added")
    assert len(added) == 10 and all(k.startswith("new_") for k in added)


def test_snapshot_diff_empty_on_identical(spark, old_corpus):
    from gorilla_stream_spark.incremental import snapshot_diff

    assert snapshot_diff(old_corpus, old_corpus).count() == 0


def test_snapshot_diff_source_change_is_changed(spark, old_corpus):
    from gorilla_stream_spark.incremental import snapshot_diff

    moved = old_corpus.withColumn(
        "source",
        F.when(F.col("doc_id").endswith("3"), F.lit("relocated")).otherwise(
            F.col("source")
        ),
    )
    d = snapshot_diff(old_corpus, moved)
    assert {r["status"] for r in d.collect()} == {"changed"}
    n3 = old_corpus.filter(F.col("doc_id").endswith("3")).count()
    assert d.count() == n3
