"""fsck applies the strict decode's length tiling to every block kind.

The multi-column (nested and wide) and vector checks once compared only the
SUM of the stored lengths with the decoded count, so a negative length with
the right sum passed fsck while ``decode_multi`` / ``decode_vectors`` refused
the block.  fsck now runs the same checked per-block step as the decoders.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark.engine import decode_multi, encode_multi, widen_multi
from gorilla_stream_spark.validate import fsck
from gorilla_stream_spark.vectors import decode_vectors, encode_vectors


def _lens(*vals):
    return F.array(*[F.lit(v) for v in vals]).cast("array<int>")


@pytest.fixture(scope="module")
def multi(spark):
    df = spark.createDataFrame(
        [("a", list(range(5)), [1] * 5), ("b", list(range(5, 10)), [0] * 5)],
        "doc_id string, tokens array<int>, mask array<int>",
    )
    enc = encode_multi(df, ["tokens", "mask"], num_partitions=1).localCheckpoint()
    assert enc.count() == 1
    return enc


def _bad_nested(multi):
    return multi.withColumn(
        "col_lens", F.array(_lens(-2, 12), F.element_at("col_lens", 2))
    )


def _bad_wide(multi):
    return widen_multi(multi, ["tokens", "mask"]).withColumn("lens_tokens", _lens(-2, 12))


def _vectors(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    enc = encode_vectors(df, num_partitions=1).localCheckpoint()
    assert enc.count() == 1
    return enc


def test_good_tables_pass(spark, multi):
    for enc in (multi, widen_multi(multi, ["tokens", "mask"]), _vectors(spark)):
        assert [r.ok for r in fsck(enc).collect()] == [True]


@pytest.mark.parametrize("kind", ["nested", "wide", "vectors"])
def test_fsck_reports_negative_lengths_that_decode_rejects(spark, multi, kind):
    if kind == "vectors":
        bad = _vectors(spark).withColumn("vec_lens", _lens(-2, 6))
        decoded = decode_vectors(bad)
    else:
        bad = _bad_nested(multi) if kind == "nested" else _bad_wide(multi)
        decoded = decode_multi(bad, ["tokens", "mask"])
    with pytest.raises(Exception, match="do not tile"):
        decoded.collect()
    [row] = fsck(bad).collect()
    assert row.ok is False
    assert "do not tile" in row.error
