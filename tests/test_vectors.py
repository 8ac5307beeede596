"""Embedding-vector operators: f32 codec blocks, top-k search, near-dup."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark import vectors as V
from gorilla_stream_spark.codecs import floatcodecs as fc

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df.cache().count()
    return df


def test_vector_roundtrip_bit_exact(spark, emb):
    dec = V.decode_vectors(V.encode_vectors(emb, num_partitions=4))
    j = emb.alias("s").join(dec.alias("d"), "vec_id")
    bad = j.filter(F.col("s.embedding") != F.col("d.embedding")).count()
    assert bad == 0
    assert dec.count() == emb.count()


def test_vector_decode_strict_crc(spark, emb):
    enc = V.encode_vectors(emb, num_partitions=2)
    corrupted = enc.withColumn("crc32_raw", F.col("crc32_raw") + 1)
    with pytest.raises(Exception, match="crc32 mismatch"):
        V.decode_vectors(corrupted).count()
    assert V.decode_vectors(corrupted, strict=False).count() == emb.count()


def test_quantized_vectors_compress(spark, emb):
    # 3-decimal embeddings ride the scaled int path (>2x smaller)
    q = emb.select(
        "vec_id", F.expr("transform(embedding, x -> CAST(round(x, 3) AS FLOAT))").alias("embedding")
    )
    enc = V.encode_vectors(q, num_partitions=2)
    m = enc.agg(F.sum("raw_bytes").alias("r"), F.sum("enc_bytes").alias("e")).first()
    assert m["e"] < 0.5 * m["r"]
    dec = V.decode_vectors(enc)
    bad = (
        q.alias("s").join(dec.alias("d"), "vec_id")
        .filter(F.col("s.embedding") != F.col("d.embedding")).count()
    )
    assert bad == 0


def test_f32_codec_hypothesis_edges():
    rng = np.random.default_rng(5)
    cases = [
        np.array([], np.float32),
        np.array([0.0, -0.0, np.nan, np.inf, -np.inf], np.float32),
        rng.normal(0, 1, 3000).astype(np.float32),
        np.round(rng.normal(0, 1, 3000), 2).astype(np.float32),
        np.full(1000, 3.14159, np.float32),
    ]
    for a in cases:
        out = fc.f32_decode(fc.f32_encode(a))
        np.testing.assert_array_equal(out.view(np.uint32), a.view(np.uint32))


def test_f32_raw_mode_for_entropy_dense_blocks():
    # full-precision random floats must take the mode-2 memcpy path (the
    # sampled probe shows the selector can't beat raw) and round-trip
    # bit-for-bit; block sizes straddle the 8192 sample threshold
    rng = np.random.default_rng(7)
    for n in (8192, 8193, 100_000):
        a = rng.standard_normal(n).astype(np.float32)
        buf = fc.f32_encode(a)
        out = fc.f32_decode(buf)
        np.testing.assert_array_equal(out.view(np.uint32), a.view(np.uint32))
        if n > 8192:
            assert buf[0] == 2, f"n={n} picked mode {buf[0]}"
            assert len(buf) == 1 + 4 * n
    # truncated raw body must raise, not silently drop values
    big = fc.f32_encode(rng.standard_normal(9000).astype(np.float32))
    with pytest.raises(ValueError, match="multiple of 4"):
        fc.f32_decode(big[:-2])


def test_f32scaled_sample_gate_matches_full_decision():
    # the sample-first gate must never reject a k the full pass accepts:
    # rounded decimals (with neg-zeros) above the sample threshold still
    # reconstruct exactly
    rng = np.random.default_rng(11)
    a = np.round(rng.normal(0, 5, 20_000), 2).astype(np.float32)
    a[::97] = np.float32(-0.0)
    body = fc.f32scaled_try_encode(a)
    assert body is not None
    out = fc.f32_decode(b"\x01" + body)
    np.testing.assert_array_equal(out.view(np.uint32), a.view(np.uint32))


def test_topk_matches_numpy_bruteforce(spark, emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([[round(float(x) * V.QUANT) for x in r.embedding] for r in rows], np.int64)
    queries = [(int(ids[i]), list(rows[i].embedding)) for i in range(3)]
    got = V.topk_dot(emb, queries, k=7).orderBy("query_id", "rank").collect()
    for qi in range(3):
        S = M @ M[qi]
        order = np.lexsort((ids, -S))[:7]
        expect = [(int(ids[o]), int(S[o])) for o in order]
        mine = [(r.vec_id, r.score) for r in got if r.query_id == ids[qi]]
        assert mine == expect, f"query {qi}"


def _clustered(spark, n_clusters=8, per=30, dim=16, noise=0.04, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1, (n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            v = c + rng.normal(0, noise, dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v.astype(np.float32)]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_neardup_lsh_recall_vs_exact(spark):
    df = _clustered(spark)
    df.cache().count()
    exact = {(r.id_a, r.id_b) for r in V.cosine_neardup_pairs(df, 90, exact=True).collect()}
    lsh = {(r.id_a, r.id_b) for r in V.cosine_neardup_pairs(df, 90, exact=False).collect()}
    assert len(exact) > 100  # clusters actually produce near-dups
    assert lsh <= exact  # exact verify: no false positives ever
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall}"


def test_cosine_neardup_identical_vectors_always_found(spark, emb):
    dirty = emb.unionByName(
        emb.filter(F.col("vec_id") < 10).withColumn("vec_id", F.col("vec_id") + 9000)
    )
    pairs = {(r.id_a, r.id_b) for r in V.cosine_neardup_pairs(dirty, 90).collect()}
    for i in range(10):
        assert (i, i + 9000) in pairs


def test_ann_search_recall_and_block_pruning(spark):
    # IVF-style lsh layout: query decodes a small fraction of blocks and
    # still recovers the exact top-k on clustered data
    rng = np.random.default_rng(11)
    dim, per, nc = 16, 100, 40
    centers = rng.normal(0, 1, (nc, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in centers:
        for _ in range(per):
            v = c + rng.normal(0, 0.03, dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v.astype(np.float32)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    enc = V.encode_vectors(df, num_partitions=8, block_values=dim * 50, layout="lsh")
    enc.cache()
    nblocks = enc.count()
    queries = [(rows[5][0], rows[5][1]), (rows[per * 20 + 3][0], rows[per * 20 + 3][1])]
    got, bf = {}, {}
    for r in V.ann_search(enc, queries, k=10).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    for r in V.topk_dot(df, queries, k=10).collect():
        bf.setdefault(r.query_id, set()).add(r.vec_id)
    recall = np.mean([len(got.get(q, set()) & bf[q]) / 10 for q in bf])
    assert recall >= 0.9, f"ann recall {recall}"
    # pruning assert: the probe filter touches a small fraction of blocks
    planes = V._index_planes(dim)
    keys = V._bucket_keys(np.array([q[1] for q in queries]), planes)
    probes = set()
    for kk in keys.tolist():
        probes.add(kk)
        for i in range(planes.shape[0]):
            probes.add(kk ^ (1 << i))
    wanted = F.array(*[F.lit(int(p)).cast("long") for p in sorted(probes)])
    touched = enc.filter(F.arrays_overlap(F.col("lsh_keys"), wanted)).count()
    assert touched / nblocks <= 0.25, f"pruning too weak: {touched}/{nblocks}"


def test_encode_vectors_partition_invariance(spark, emb):
    # decoded content identical regardless of encode parallelism
    d2 = V.decode_vectors(V.encode_vectors(emb, num_partitions=2)).orderBy("vec_id")
    d7 = V.decode_vectors(V.encode_vectors(emb, num_partitions=7)).orderBy("vec_id")
    a = [(r.vec_id, tuple(r.embedding)) for r in d2.collect()]
    b = [(r.vec_id, tuple(r.embedding)) for r in d7.collect()]
    assert a == b


def test_ragged_vectors_fail_loudly(spark):
    df = spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.1, 0.2, 0.3])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="fixed-dimension"):
        V.topk_dot(df, [(1, [0.1, 0.2])], k=1).collect()
    with pytest.raises(ValueError, match="at least one query"):
        V.topk_dot(df, [], k=1)


def test_topk_numpy_quantize_matches_jvm(spark, emb):
    queries = [(r.vec_id, list(r.embedding)) for r in emb.limit(2).collect()]
    a = V.topk_dot(emb, queries, k=8, quantize="jvm").orderBy("query_id", "rank").collect()
    b = V.topk_dot(emb, queries, k=8, quantize="numpy").orderBy("query_id", "rank").collect()
    assert [(r.query_id, r.vec_id, r.score) for r in a] == [
        (r.query_id, r.vec_id, r.score) for r in b
    ]


def test_topk_int64_overflow_guard(spark):
    # non-unit-norm components large enough that dim*maxq^2 >= 2^63 must fail
    # loudly — numpy would otherwise wrap int64 silently and mis-rank
    from gorilla_stream_spark.vectors import topk_dot

    big = [[1.0e4] * 64, [9.9e3] * 64]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(big)], "vec_id long, embedding array<float>"
    )
    q = [(0, big[0])]
    with pytest.raises(Exception, match="int64|overflow|too large"):
        topk_dot(df, q, k=1, quantize="numpy").collect()


def test_ann_partition_pruning_no_collect(spark, tmp_path):
    # lsh layout written via write_vectors is Hive-partitioned by bucket_pfx;
    # ann_search's probe filter must reach the scan as a PartitionFilter
    # (directories pruned, zero driver collect) and still match brute force
    rng = np.random.default_rng(23)
    dim, per, nc = 16, 60, 30
    centers = rng.normal(0, 1, (nc, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in centers:
        for _ in range(per):
            v = c + rng.normal(0, 0.03, dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v.astype(np.float32)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    enc = V.encode_vectors(df, num_partitions=4, block_values=dim * 40, layout="lsh")
    path = str(tmp_path / "vec_lsh")
    V.write_vectors(enc, path)
    # partition directories exist
    assert any(d.startswith("bucket_pfx=") for d in os.listdir(path)), os.listdir(path)
    table = spark.read.parquet(path)
    queries = [(rows[3][0], rows[3][1])]
    out = V.ann_search(table, queries, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket_pfx" in plan, plan[:2000]
    got = {r.vec_id for r in out.collect()}
    bf = {r.vec_id for r in V.topk_dot(df, queries, k=10).collect()}
    assert len(got & bf) / 10 >= 0.9
    # every block holds exactly one bucket prefix (what makes the column
    # partitionable): lsh_keys of each block must share the same top bits
    for r in table.select("bucket_pfx", "lsh_keys").collect():
        assert {int(k) >> V._PFX_SHIFT for k in r.lsh_keys} == {r.bucket_pfx}


def test_ann_fallback_semi_join_no_pfx(spark):
    # tables without bucket_pfx (hash layout / pre-existing data) take the
    # broadcast semi-join path — still no driver collect in the plan
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in (rng.normal(0, 1, 8) / 3).astype(np.float32)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    enc = V.encode_vectors(df, num_partitions=2, layout="lsh").drop("bucket_pfx")
    out = V.ann_search(enc, [(0, rows[0][1])], k=5)
    assert out.count() <= 5  # runs end-to-end through the semi-join path


def test_int8_quantized_roundtrip_bound_and_ratio(spark, emb):
    # per-vector int8: error bounded by max|x|/254, ~4x smaller, codec tagged
    enc = V.encode_vectors(emb, num_partitions=3, quantize="int8").cache()
    assert {r.codec for r in enc.select("codec").distinct().collect()} == {"veci8"}
    m = enc.agg(F.sum("raw_bytes").alias("r"), F.sum("enc_bytes").alias("e")).first()
    assert m["e"] / m["r"] < 0.35, m
    dec = V.decode_vectors(enc, with_scale=True)
    j = (
        emb.select(F.col("vec_id").cast("long").alias("vec_id"), "embedding")
        .alias("s")
        .join(dec.alias("d"), "vec_id")
    )
    rows = j.select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(s.embedding, d.embedding,"
            " (x,y) -> abs(CAST(x AS DOUBLE)-CAST(y AS DOUBLE))),"
            " CAST(0 AS DOUBLE), (a,v) -> greatest(a,v))"
        ).alias("err"),
        F.expr(
            "aggregate(s.embedding, CAST(0 AS DOUBLE),"
            " (a,v) -> greatest(a, abs(CAST(v AS DOUBLE))))"
        ).alias("mx"),
        "d.scale",
    ).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert r.err <= r.mx / 254 * 1.000001 + 1e-12, r
        assert r.scale is not None and abs(r.scale - r.mx / 127) < 1e-15


def test_int8_codes_match_numpy_recompute(spark, emb):
    # the stored integer codes, recovered from the dequantized stream, equal
    # an independent numpy recomputation of the quantization rule
    enc = V.encode_vectors(emb, num_partitions=2, quantize="int8")
    dec = {
        r.vec_id: (np.array(r.embedding, np.float32), r.scale)
        for r in V.decode_vectors(enc, with_scale=True).collect()
    }
    for r in emb.collect():
        x = np.array(r.embedding, np.float64)
        scale = np.abs(x).max() / 127.0
        v = x / scale if scale > 0 else np.zeros_like(x)
        want = np.clip(np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)), -127, 127)
        got_f, got_scale = dec[int(r.vec_id)]
        got = np.round(got_f.astype(np.float64) / got_scale) if got_scale > 0 else got_f
        np.testing.assert_array_equal(got, want)


def test_fp16_quantized_roundtrip_exact_half(spark, emb):
    # fp16 mode stores exactly the half-precision truncation (2x smaller)
    enc = V.encode_vectors(emb, num_partitions=2, quantize="fp16")
    assert {r.codec for r in enc.select("codec").distinct().collect()} == {"vecf16"}
    dec = {r.vec_id: np.array(r.embedding, np.float32) for r in V.decode_vectors(enc).collect()}
    for r in emb.collect():
        want = np.array(r.embedding, np.float32).astype(np.float16).astype(np.float32)
        np.testing.assert_array_equal(dec[int(r.vec_id)], want)


def test_quantized_decode_strict_crc_gate(spark, emb):
    # strict decode still gates integrity on the DEQUANTIZED stream
    enc = V.encode_vectors(emb, num_partitions=1, quantize="int8")
    bad = enc.withColumn("crc32_buf", F.col("crc32_buf") + 1)
    with pytest.raises(Exception, match="crc32 mismatch"):
        V.decode_vectors(bad, strict=True).count()
    assert V.decode_vectors(bad, strict=False).count() == emb.count()


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(31)
    dim, per, nc = 32, 80, 25
    centers = rng.normal(0, 1, (nc, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in centers:
        for _ in range(per):
            v = c + rng.normal(0, 0.15, dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v.astype(np.float32)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    return df, rows


def test_pq_recall_and_compression(spark, clustered):
    df, rows = clustered
    books = V.train_pq(df, m=8, sample=2000, iters=8)
    assert books.shape == (8, 256, 4) and books.dtype == np.float32
    codes = V.pq_encode(df, books).cache()
    # 8 bytes of search state per vector (32x smaller than f32)
    assert {len(bytes(r.codes)) for r in codes.limit(5).collect()} == {8}
    queries = [(rows[3][0], rows[3][1]), (rows[999][0], rows[999][1])]
    # the PQ contract is CANDIDATE recall for rerank (recall@R, Jegou et
    # al. §V): the exact top-10 must sit inside the PQ top-50 candidates —
    # within-cluster fine ranking is what the exact rerank is for
    got, bf = {}, {}
    for r in V.pq_topk(codes, books, queries, k=50).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    for r in V.topk_dot(df, queries, k=10).collect():
        bf.setdefault(r.query_id, set()).add(r.vec_id)
    recall = np.mean([len(got[q] & bf[q]) / 10 for q in bf])
    assert recall >= 0.8, f"pq candidate recall@50 {recall}"
    # the self-match survives quantization into the candidate set
    for q, cand in got.items():
        assert q in cand


def test_pq_codebooks_deterministic(spark, clustered):
    df, _ = clustered
    a = V.train_pq(df, m=4, sample=1000, iters=5)
    b = V.train_pq(df, m=4, sample=1000, iters=5)
    np.testing.assert_array_equal(a, b)


def test_pq_dim_mismatch_fails_loudly(spark, clustered):
    df, _ = clustered
    books = V.train_pq(df, m=8, sample=500, iters=3)
    bad = spark.createDataFrame([(1, [0.0] * 16)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="dim"):
        V.pq_encode(bad, books).collect()
    with pytest.raises(ValueError, match="dim"):
        V.pq_topk(V.pq_encode(df, books), books, [(0, [0.0] * 16)])


def test_cosine_neardup_hot_bucket_cap_planted_skew(spark):
    # near-constant embeddings put every copy in ONE band bucket per band;
    # the cap keeps that from exploding the self-join while distinct
    # near-dup pairs keep full recall (verified against the exact oracle)
    import numpy as np
    import pyspark.sql.functions as F

    from gorilla_stream_spark.vectors import cosine_neardup_pairs

    rng = np.random.default_rng(21)
    dim = 16
    base = rng.normal(0, 1, dim)
    rows = []
    for i in range(50):  # degenerate direction group (identical embedding)
        rows.append((i, [float(x) for x in base]))
    v = rng.normal(0, 1, dim)
    rows.append((100, [float(x) for x in v]))
    rows.append((101, [float(x) for x in (v + rng.normal(0, 0.02, dim))]))
    for i in range(20):
        rows.append((200 + i, [float(x) for x in rng.normal(0, 1, dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = cosine_neardup_pairs(df, threshold_pct=90, max_bucket=8)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    # dup-group pairs suppressed (their only buckets are over-cap)...
    assert not any(a < 50 and b < 50 for a, b in got)
    # ...while the planted distinct near-dup pair survives with exact parity
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_neardup_pairs(df, threshold_pct=90, exact=True).collect()
    }
    assert (100, 101) in got and (100, 101) in exact
    healthy_exact = {(a, b) for a, b in exact if not (a < 50 and b < 50)}
    healthy_capped = {(a, b) for a, b in got if not (a < 50 and b < 50)}
    assert healthy_capped == healthy_exact


def test_pq_sample_unbiased_under_source_order(spark):
    # corpus ordered by source: first half drawn from cluster family A,
    # second half from a DISJOINT family B.  With sample < |A| a limit()
    # sample would train codebooks on A only and mis-quantize B; the
    # hash-ordered sample must cover both, holding candidate recall on B.
    rng = np.random.default_rng(77)
    dim, per, nc = 32, 60, 10
    rows = []
    vid = 0
    for fam_shift in (0.0, 8.0):  # family B lives far from family A
        centers = rng.normal(fam_shift, 1, (nc, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        for c in centers:
            for _ in range(per):
                v = c + rng.normal(0, 0.15, dim)
                v /= np.linalg.norm(v)
                rows.append((vid, [float(x) for x in v.astype(np.float32)]))
                vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)
    n_a = nc * per  # 600; sample covers only half the corpus
    books = V.train_pq(df, m=8, sample=n_a, iters=8)
    codes = V.pq_encode(df, books).cache()
    # query from family B (the half a head-sample would never see)
    q_id = n_a + 37
    queries = [(rows[q_id][0], rows[q_id][1])]
    got = {r.vec_id for r in V.pq_topk(codes, books, queries, k=50).collect()}
    bf = {r.vec_id for r in V.topk_dot(df, queries, k=10).collect()}
    recall = len(got & bf) / 10
    assert recall >= 0.8, f"family-B candidate recall@50 {recall} (biased sample?)"


def test_train_pq_rejects_wide_nbits(spark, clustered):
    df, _ = clustered
    with pytest.raises(ValueError, match="nbits"):
        V.train_pq(df, m=4, nbits=9, sample=100, iters=1)


def test_ann_search_rejects_hash_layout(spark, emb):
    enc = V.encode_vectors(emb, num_partitions=1)  # layout="hash"
    q = [(0, [0.1] * 8)]
    with pytest.raises(ValueError, match="lsh"):
        V.ann_search(enc, [(0, [0.1] * len(emb.first().embedding))], k=3)


def test_encode_vectors_lsh_accepts_double_arrays(spark):
    import pyspark.sql.functions as F

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 8), i -> cast(id * 0.5 + i as double))").alias(
            "embedding"
        ),
    )
    enc = V.encode_vectors(df, num_partitions=1, layout="lsh")
    assert enc.count() > 0
    dec = V.decode_vectors(enc)
    assert dec.count() == 50


def test_ann_search_probe_flips_2_expands_probe_set(spark, clustered):
    df, rows = clustered
    enc = V.encode_vectors(df, num_partitions=2, layout="lsh")
    q = [(rows[5][0], rows[5][1])]
    r1 = {x.vec_id for x in V.ann_search(enc, q, k=20, probe_flips=1).collect()}
    r2 = {x.vec_id for x in V.ann_search(enc, q, k=20, probe_flips=2).collect()}
    # hamming-2 probing can only widen the candidate pool (recall >=)
    assert len(r2) >= len(r1)


def test_ivf_pq_prunes_and_keeps_recall(spark, clustered, tmp_path):
    import pyspark.sql.functions as F

    df, rows = clustered
    books = V.train_pq(df, m=8, nbits=6, sample=2000, iters=8)
    codes = V.pq_encode(df, books, with_bucket=True)
    path = str(tmp_path / "pq_codes")
    codes.write.partitionBy("bucket_pfx").parquet(path)
    tab = spark.read.parquet(path)
    queries = [(int(rows[i][0]), rows[i][1]) for i in (3, 400, 1600)]
    full = V.pq_topk(tab, books, queries, k=10)
    pruned = V.pq_topk(tab, books, queries, k=10, probe_flips=3)
    got_full = {(r.query_id, r.vec_id) for r in full.collect()}
    got_pruned = {(r.query_id, r.vec_id) for r in pruned.collect()}
    # probed search must agree with the unpruned PQ ranking on most of the
    # top-k (cell misses are the accepted IVF trade; measured on this
    # fixture: flips=2 -> 0.63 agree / 0.27 scanned, flips=3 -> 0.90 /
    # 0.61, flips=4 -> 1.0 / 0.90 — the caller picks the point)
    agree = len(got_full & got_pruned) / len(got_full)
    assert agree >= 0.85, agree
    # and the probe filter must actually prune: fewer code rows scanned
    planes = V._index_planes(len(rows[0][1]))
    probes = V._hamming_ball(
        V._bucket_keys(np.asarray([q[1] for q in queries], np.float64), planes),
        planes.shape[0], 3,
    )
    frac = tab.filter(F.col("bucket").isin([int(p) for p in probes])).count() / tab.count()
    assert frac < 0.75, frac


def test_pq_topk_probe_requires_bucketed_table(spark, clustered):
    df, rows = clustered
    books = V.train_pq(df, m=8, nbits=4, sample=500, iters=2)
    codes = V.pq_encode(df, books)  # no bucket
    with pytest.raises(ValueError, match="bucket"):
        V.pq_topk(codes, books, [(0, rows[0][1])], k=5, probe_flips=1)


def test_ivf_pq_filter_reaches_scan(spark, clustered, tmp_path):
    df, rows = clustered
    books = V.train_pq(df, m=8, nbits=4, sample=500, iters=2)
    path = str(tmp_path / "pq_plan")
    V.pq_encode(df, books, with_bucket=True).write.partitionBy("bucket_pfx").parquet(path)
    tab = spark.read.parquet(path)
    plan = (
        V.pq_topk(tab, books, [(0, rows[0][1])], k=5, probe_flips=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "bucket_pfx" in plan.split("PartitionFilters")[1][:200], plan


@pytest.mark.parametrize("lens", [[4, 4, 3], [-4, 8, 8]], ids=["short", "negative"])
def test_decode_vectors_rejects_untiled_vec_lens(spark, lens):
    # crc32_raw covers the values, not vec_lens: a short sum would drop the
    # block's tail, a negative length would build an invalid list
    df = spark.createDataFrame(
        [(i, [float(i), 0.5, -1.0, 2.0]) for i in range(3)], "vec_id long, embedding array<float>"
    )
    enc = V.encode_vectors(df, num_partitions=1).localCheckpoint()
    assert enc.count() == 1
    assert V.decode_vectors(enc).count() == 3
    bad = enc.withColumn("vec_lens", F.array(*[F.lit(v) for v in lens]).cast("array<int>"))
    with pytest.raises(Exception, match="ValueError: vec_lens do not tile vector block"):
        V.decode_vectors(bad, strict=True).collect()
