"""Golden pins for the shingle/MinHash layer.

Each case pins the row count and a sha256 over the sorted rows of one
MinHash-facing operator: the text and token shingle kernels at k in
{1, 3, 5} in all three ``(with_sh, with_sig)`` modes, both near-dup
drivers (text in both verify modes, tokens) and both decontamination
paths with both metrics.  Any change to the hash family, the k-gram
combine, the per-doc dedup or the candidate/verify pipeline moves a
digest.  The inputs are the sf0.001 documents plus edge rows: NULL,
empty, short, repeated-word, Unicode and multi-space texts, and empty
and short token arrays.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark import textops as T

SF_DIR = "/root/testdata/sf0.001"

EDGE_TEXT = [
    (9001, None),
    (9002, ""),
    (9003, "one"),
    (9004, "a b"),
    (9005, "a a a a a a a"),
    (9006, "Ünïcôdé wörds ärê fine and ünïcôdé wörds ärê fine"),
    (9007, "  leading and   multi  spaces "),
]
EDGE_TOKENS = [(9101, []), (9102, [7]), (9103, [7, 8]), (9104, [5, 5, 5, 5, 5, 5])]

MODES = {"sh+sig": (True, True), "sh": (True, False), "sig": (False, True)}

GOLDEN = {
    "text-k1-sh+sig": (506, "a594c93329c29ec7ad49676bfbf4a60f0270573335c82717650dce308c7c1f4a"),
    "text-k1-sh": (506, "d36df0eba2ecbd2ffd32c10b8219e4902526432389aabee87e137319d079daec"),
    "text-k1-sig": (506, "5352aea5bd6b0bee54f60ed1ab2e34831489bb328a1bdae03348edd70733d572"),
    "text-k3-sh+sig": (503, "41827e15b30d1352ad49391b98cd3a20f5a4991138840b8a9a5dd74d107d41d2"),
    "text-k3-sh": (503, "40f382f9d215baad7cacbfd7405bb166cad37052ceedf8cd3cd6c7a259203b44"),
    "text-k3-sig": (503, "0c4ca252530b6804e52bb250a5611d221cf08fe60b5972f53fa6e05971d6f9db"),
    "text-k5-sh+sig": (503, "c54f0e804a5258a2a662e003933f7881a7345c2d2e53cff2936b6b373a816c75"),
    "text-k5-sh": (503, "808e1c46361b6c2bc06fc3864f6daff3d6c8eceb0b60b9e27df88d1822a03da3"),
    "text-k5-sig": (503, "403d6fcdf2feaf75053addbe5c7638642eb54ff51fa5659de60864e4f62b12b7"),
    "tokens-k1-sh+sig": (509, "1338f99f4f22f3cb9d4bc4c79f101202a95ec405c392d8f50d70ab215916b202"),
    "tokens-k1-sh": (509, "a729596975ca2e492a9884a399424857630593f6c0064df7b3b83b9956a6c53f"),
    "tokens-k1-sig": (509, "53ab63a659a14ee0140a658f5e408c8781181c47a9c1747efb757dead81816da"),
    "tokens-k3-sh+sig": (506, "b91931c78609ded8a393800eaf8293fc58f36983bffbeb02d2a7a9f2038b4473"),
    "tokens-k3-sh": (506, "ed7e73189becf3c589dce6d538585ea8feb4005f6863b8ed9c67f1a7aff13295"),
    "tokens-k3-sig": (506, "c6e8929cc6a854ba555ccdc0b5ec1f7a6d85c2782679f828a4c5519303261152"),
    "tokens-k5-sh+sig": (504, "a7962220e5f6d3b4a0f502850bb1fd8360ab9e6a7566d6fec01480af9b6bd26d"),
    "tokens-k5-sh": (504, "8cbdcbe805025c3e5d2f3289993c3e0370be1b1c3b39f6aa8d039ab8d1d82a86"),
    "tokens-k5-sig": (504, "ed16112f6c409d354f0651f9390af810db7344001a424185c06a9bcc61df780c"),
    "neardup-text-cached": (28, "84be7b63fa762b55d4e68696c57d8d615a58d0a06d3b8457b4818a42b35cefe0"),
    "neardup-text-recompute": (28, "84be7b63fa762b55d4e68696c57d8d615a58d0a06d3b8457b4818a42b35cefe0"),
    "neardup-tokens": (38, "ab3c5d8a5df4bf41421b7680e99cbc285271fa6d918ba80083f109cdcb996841"),
    "decontaminate-text-jaccard": (16, "997f99cb6f4c43039bf62829a2c5af2709338548b593bfdf478c41fa0d325555"),
    "decontaminate-text-containment": (21, "aacdfdf07f54902dec41e5b3fa63333e5835a8db73b50a9147217761d872a8bb"),
    "decontaminate-tokens-jaccard": (16, "997f99cb6f4c43039bf62829a2c5af2709338548b593bfdf478c41fa0d325555"),
    "decontaminate-tokens-containment": (3316, "de4daafbca821d10219b355460d0d7c3d332c1dc0a2b90c94859608c9ecaab62"),
}


def _digest(df) -> tuple[int, str]:
    lines = sorted(repr(tuple(r)) for r in df.collect())
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _to_tokens(df):
    return df.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr("transform(split(text, ''), c -> ascii(c))").cast("array<int>").alias("tokens"),
    )


@pytest.fixture(scope="module")
def text_docs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    edge = spark.createDataFrame(EDGE_TEXT, "doc_id long, text string")
    df = docs.unionByName(edge).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def token_docs(spark, text_docs):
    edge = spark.createDataFrame(EDGE_TOKENS, "doc_id long, tokens array<int>")
    df = _to_tokens(text_docs).unionByName(edge).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def eval_text(text_docs):
    """Near-copies of docs 0-9 (one appended word) and the first 12 words
    of docs 20-24: jaccard hits and embedded-item containment hits."""
    near = text_docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    embedded = text_docs.filter(F.col("doc_id").between(20, 24)).select(
        (F.col("doc_id") + 30000).alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 12), " ").alias("text"),
    )
    return near.unionByName(embedded)


@pytest.mark.parametrize("mode", list(MODES))
@pytest.mark.parametrize("k", [1, 3, 5])
@pytest.mark.parametrize("payload", ["text", "tokens"])
def test_shingle_kernel_golden(text_docs, token_docs, payload, k, mode):
    with_sh, with_sig = MODES[mode]
    if payload == "text":
        out = T.shingle_minhash(text_docs, k=k, with_sh=with_sh, with_sig=with_sig)
    else:
        out = T.token_shingle_minhash(token_docs, k=k, with_sh=with_sh, with_sig=with_sig)
    assert _digest(out) == GOLDEN[f"{payload}-k{k}-{mode}"]


@pytest.mark.parametrize("verify", ["cached", "recompute"])
def test_neardup_pairs_golden(text_docs, verify):
    out = T.neardup_pairs(text_docs, threshold_pct=70, verify=verify)
    assert _digest(out) == GOLDEN[f"neardup-text-{verify}"]


def test_neardup_pairs_tokens_golden(token_docs):
    out = T.neardup_pairs_tokens(token_docs, threshold_pct=70)
    assert _digest(out) == GOLDEN["neardup-tokens"]


@pytest.mark.parametrize("metric", ["jaccard", "containment"])
def test_decontaminate_golden(text_docs, eval_text, metric):
    out = T.decontaminate(text_docs, eval_text, metric=metric, threshold_pct=70)
    assert _digest(out) == GOLDEN[f"decontaminate-text-{metric}"]


@pytest.mark.parametrize("metric", ["jaccard", "containment"])
def test_decontaminate_tokens_golden(token_docs, eval_text, metric):
    out = T.decontaminate_tokens(token_docs, _to_tokens(eval_text), metric=metric, threshold_pct=70)
    assert _digest(out) == GOLDEN[f"decontaminate-tokens-{metric}"]
