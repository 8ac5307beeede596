"""Global token dictionary (O65): counts, rank determinism, remap/unmap
round-trip, strict/lenient unknown handling, and the compression payoff
(remapped sparse-vocab corpus encodes smaller than the original)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark.vocab import (
    build_global_dict,
    remap_tokens,
    token_counts,
    unmap_tokens,
)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")


@pytest.fixture(scope="module")
def small(spark):
    return _corpus(
        spark,
        [
            ("a", [5, 5, 5, 9], "s1"),
            ("b", [9, 5, 1000000], "s1"),
            ("c", [], "s2"),
            ("d", [5, 1000000, 1000000, 7], "s2"),
        ],
    )


def test_token_counts_exact(spark, small):
    got = {r["token"]: r["cnt"] for r in token_counts(small).collect()}
    assert got == {5: 5, 9: 2, 1000000: 3, 7: 1}


def test_rank_order_and_ties(spark, small):
    d = {r["token"]: r["rank"] for r in build_global_dict(small).collect()}
    # freq: 5 (x5), 1000000 (x3), 9 (x2), 7 (x1)
    assert d == {5: 0, 1000000: 1, 9: 2, 7: 3}


def test_tie_breaks_on_token_value(spark):
    df = _corpus(spark, [("a", [30, 10, 20, 10, 20, 30], "s")])
    d = {r["token"]: r["rank"] for r in build_global_dict(df).collect()}
    assert d == {10: 0, 20: 1, 30: 2}  # all cnt=2 -> ascending token order


def test_remap_values_and_passthrough(spark, small):
    out = {
        r["doc_id"]: (r["tokens"], r["source"])
        for r in remap_tokens(small).collect()
    }
    assert out["a"] == ([0, 0, 0, 2], "s1")
    assert out["b"] == ([2, 0, 1], "s1")
    assert out["c"] == ([], "s2")
    assert out["d"] == ([0, 1, 1, 3], "s2")


def test_remap_partitioning_invariant(spark, small):
    a = sorted((r["doc_id"], r["tokens"]) for r in remap_tokens(small).collect())
    b = sorted(
        (r["doc_id"], r["tokens"])
        for r in remap_tokens(small.repartition(7)).collect()
    )
    assert a == b


def test_unmap_round_trip(spark, small):
    d = build_global_dict(small)
    back = unmap_tokens(remap_tokens(small, d), d)
    orig = {r["doc_id"]: r["tokens"] for r in small.collect()}
    got = {r["doc_id"]: r["tokens"] for r in back.collect()}
    assert got == orig


def test_strict_raises_on_unknown_token(spark, small):
    d = build_global_dict(small)
    other = _corpus(spark, [("z", [5, 12345], "s")])
    with pytest.raises(Exception, match="absent from the global"):
        remap_tokens(other, d).collect()


def test_lenient_maps_unknown_to_minus_one(spark, small):
    d = build_global_dict(small)
    other = _corpus(spark, [("z", [5, 12345, 9], "s")])
    (row,) = remap_tokens(other, d, strict=False).collect()
    assert row["tokens"] == [0, -1, 2]


def test_max_vocab_guard(spark, small):
    with pytest.raises(ValueError, match="max_vocab"):
        remap_tokens(small, max_vocab=2)


def test_unmap_rejects_foreign_ranks(spark, small):
    d = build_global_dict(small)
    bad = _corpus(spark, [("z", [0, 99], "s")])  # rank 99 >= V=4
    with pytest.raises(Exception, match="outside dictionary range"):
        unmap_tokens(bad, d).collect()


def test_remap_shrinks_sparse_vocab_encoding(spark):
    """The payoff test: a corpus whose tokens are few but numerically huge
    and spread (worst case for FOR/bit-pack) must encode strictly smaller
    after the global remap to dense ranks."""
    from gorilla_stream_spark import encode

    rng = np.random.default_rng(7)
    vocab = rng.choice(np.arange(1, 2**30, dtype=np.int64), size=64, replace=False)
    rows = [
        (f"d{i}", [int(v) for v in rng.choice(vocab, size=200)], "s")
        for i in range(40)
    ]
    df = _corpus(spark, rows)
    plain = encode(df, codec="auto", num_partitions=2)
    remapped = encode(remap_tokens(df), codec="auto", num_partitions=2)
    b_plain = plain.agg(F.sum("enc_bytes")).collect()[0][0]
    b_remap = remapped.agg(F.sum("enc_bytes")).collect()[0][0]
    assert b_remap < b_plain, (b_remap, b_plain)
    # and the remapped table still round-trips bit-identical
    from gorilla_stream_spark import decode

    dec = {r["doc_id"]: r["tokens"] for r in decode(remapped).collect()}
    src = {r["doc_id"]: r["tokens"] for r in remap_tokens(df).collect()}
    assert dec == src


class TestCompareCorpora:
    def test_exact_counts_and_rates(self, spark):
        from gorilla_stream_spark.vocab import compare_corpora

        a = _corpus(spark, [("a1", [1, 1, 2, 3], "s"), ("a2", [2, 2], "s")])
        b = _corpus(spark, [("b1", [2, 4, 4, 4], "s")])
        rows = {r["token"]: r for r in compare_corpora(a, b).collect()}
        assert set(rows) == {1, 2, 3, 4}
        assert (rows[1]["cnt_a"], rows[1]["cnt_b"]) == (2, 0)
        assert (rows[2]["cnt_a"], rows[2]["cnt_b"]) == (3, 1)
        assert (rows[4]["cnt_a"], rows[4]["cnt_b"]) == (0, 3)
        assert rows[2]["rate_a"] == 3 / 6 and rows[2]["rate_b"] == 1 / 4
        import math

        assert math.isclose(rows[2]["log2_ratio"], math.log2((1 / 4) / (3 / 6)))
        assert rows[1]["log2_ratio"] == float("-inf")  # vanished
        assert rows[4]["log2_ratio"] == float("inf")   # appeared

    def test_min_count_filter(self, spark):
        from gorilla_stream_spark.vocab import compare_corpora

        a = _corpus(spark, [("a1", [1, 1, 1, 2], "s")])
        b = _corpus(spark, [("b1", [1, 1, 2], "s")])
        toks = {r["token"] for r in compare_corpora(a, b, min_count=3).collect()}
        assert toks == {1}  # token 2 below min_count on both sides

    def test_identical_corpora_zero_drift(self, spark, small):
        from gorilla_stream_spark.vocab import compare_corpora

        rows = compare_corpora(small, small).collect()
        assert rows and all(abs(r["log2_ratio"]) < 1e-12 for r in rows)


def test_dense_lut_cap_boundary(spark):
    from gorilla_stream_spark import vocab

    cap = vocab._DENSE_LUT_RANGE_CAP
    # the int32 gather table stays under the 32 MB glibc mmap threshold
    assert 4 * cap < 32 << 20
    outs = []
    for span, dense in ((cap - 1, True), (cap, False)):
        toks = np.array([7, 9, 7 + span], dtype=np.int64)
        ranks = np.array([2, 0, 1], dtype=np.int64)
        assert (vocab._dense_lut(toks, ranks.astype(np.int32)) is not None) == dense
        d = spark.createDataFrame(
            [(int(t), int(r), 1) for t, r in zip(toks, ranks)], "token int, rank int, cnt long"
        )
        src = _corpus(spark, [("a", [9, 7, 7 + span, 9], "s"), ("b", [8, 7 + span], "s")])
        outs.append(
            remap_tokens(src, d, strict=False).orderBy("doc_id").select("tokens").collect()
        )
    assert outs[0] == outs[1] == [([0, 2, 1, 0],), ([-1, 1],)]
