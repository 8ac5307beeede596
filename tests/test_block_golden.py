"""Byte-identity gate for the token-manifest kernels.

encode, compact_blocks, transcode_blocks and delete_docs all emit block
manifest rows.  Their sizes and a digest over every block's manifest (and
buffer) are pinned here, so a refactor of how those rows are built cannot
move a single encoded byte unnoticed.  Input: the sf0.001 documents as
ASCII code-point tokens, the table the shipped verify recipe encodes.
``enc_us`` is wall time and is left out of the digest.
"""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F
from test_jobs_cli import SF

from gorilla_stream_spark.engine import (
    compact_blocks,
    delete_docs,
    encode,
    transcode_blocks,
)

_DIGEST_COLS = [
    "block_id", "codec", "n_docs", "n_tokens", "doc_ids", "doc_lens",
    "sources", "id_min", "id_max", "crc32_raw", "crc32_buf",
]


def _summary(enc) -> tuple[int, int, str]:
    """(blocks, total enc_bytes, sha256 over the block manifests)."""
    rows = enc.select(*_DIGEST_COLS, "buffer").orderBy("block_id").collect()
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps([r[c] for c in _DIGEST_COLS]).encode())
        h.update(hashlib.sha256(bytes(r["buffer"])).digest())
    return len(rows), sum(len(r["buffer"]) for r in rows), h.hexdigest()[:16]


@pytest.fixture(scope="module")
def tokens(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr("transform(split(text,''), c -> ascii(c))")
        .cast("array<int>")
        .alias("tokens"),
        "source",
    ).withColumn("n_tok", F.size("tokens").cast("int"))


@pytest.fixture(scope="module")
def small_blocks(tokens):
    enc = encode(tokens, codec="auto", num_partitions=4, block_tokens=20000)
    return enc.localCheckpoint()


def test_encode_default_blocks(tokens):
    enc = encode(tokens, codec="auto", num_partitions=4)
    blocks, nbytes, digest = _summary(enc)
    raw = enc.agg(F.sum("raw_bytes")).first()[0]
    assert (blocks, nbytes) == (4, 73060)
    assert round(nbytes / raw, 4) == 0.1193
    assert digest == "2f948d184d21e5ec"


def test_encode_small_blocks(small_blocks):
    assert _summary(small_blocks) == (9, 76174, "7b9d6d679be8da3e")


def test_compact_blocks(small_blocks):
    out = compact_blocks(small_blocks, block_tokens=200000, num_partitions=2)
    assert _summary(out) == (2, 71709, "26da09c141c932b2")


@pytest.mark.parametrize(
    "kwargs, expected",
    [
        ({"codec": "forc"}, (9, 148631, "c0f0d6eaa2dcb68f")),
        ({"container": "zlib"}, (9, 59624, "5a6b6c6bfd0f91af")),
    ],
    ids=["forc", "zlib"],
)
def test_transcode_blocks(small_blocks, kwargs, expected):
    assert _summary(transcode_blocks(small_blocks, **kwargs)) == expected


def test_delete_docs(small_blocks, tokens):
    ids = [r[0] for r in tokens.select("doc_id").orderBy("doc_id").limit(5).collect()]
    assert ids == ["0", "1", "10", "100", "101"]
    assert _summary(delete_docs(small_blocks, ids)) == (9, 75466, "5af0ab3843246e88")
