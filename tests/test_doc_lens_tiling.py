"""A block's ``doc_lens`` must tile its decoded token stream.

``crc32_raw`` covers the tokens but not ``doc_lens``, so a manifest whose
lengths sum short of the block (silent truncation) or hold a negative entry
with the right sum (an invalid Arrow list) passes both crc gates.  Every
reader that splits a block into docs must reject it with a ``ValueError``;
fsck must report it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark import encode
from gorilla_stream_spark.engine import compact_blocks, decode, delete_docs
from gorilla_stream_spark.index import (
    build_token_index,
    find_docs_with_phrase,
    find_docs_with_token,
)
from gorilla_stream_spark.validate import fsck_blocks

BAD_LENS = {"short": [3, 3], "negative": [-2, 12]}
TILING = r"ValueError: doc_lens do not tile"


@pytest.fixture(scope="module")
def one_block(spark):
    df = spark.createDataFrame(
        [("a", list(range(5)), "s"), ("b", list(range(5, 10)), "s")],
        "doc_id string, tokens array<int>, source string",
    )
    enc = encode(df, num_partitions=1).localCheckpoint()
    assert enc.select("n_docs", "n_tokens").collect() == [(2, 10)]
    return enc


@pytest.fixture(params=sorted(BAD_LENS))
def bad(request, one_block):
    lens = F.array(*[F.lit(v) for v in BAD_LENS[request.param]]).cast("array<int>")
    return one_block.withColumn("doc_lens", lens)


def test_good_block_reads_back(one_block):
    assert decode(one_block).count() == 2


def test_decode_rejects(bad):
    with pytest.raises(Exception, match=TILING):
        decode(bad, strict=True).collect()


def test_compact_rejects(bad):
    with pytest.raises(Exception, match=TILING):
        compact_blocks(bad, block_tokens=100, num_partitions=1).collect()


def test_delete_rejects(bad):
    with pytest.raises(Exception, match=TILING):
        delete_docs(bad, ["a"]).collect()


def test_index_lookups_reject(bad, one_block):
    idx = build_token_index(one_block)
    with pytest.raises(Exception, match=TILING):
        find_docs_with_token(bad, idx, 8).collect()
    with pytest.raises(Exception, match=TILING):
        find_docs_with_phrase(bad, idx, [1, 2]).collect()


def test_fsck_reports(bad):
    [row] = fsck_blocks(bad).collect()
    assert row.ok is False
    assert "do not tile" in row.error
