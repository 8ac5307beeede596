"""LLM-pipeline text operators: dedup, near-dup, fingerprints, quality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gorilla_stream_spark import textops as T

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df.cache().count()
    return df


def test_dedup_exact_keeps_lowest_id(spark, docs):
    dirty = docs.unionByName(
        docs.filter(F.col("doc_id") < 40).withColumn("doc_id", F.col("doc_id") + 5000)
    )
    out = T.dedup_exact(dirty)
    assert out.count() == docs.count()
    # survivors are exactly the original ids (lowest per content group)
    assert out.filter(F.col("doc_id") >= 5000).count() == 0


def test_dedup_exact_no_false_merges(spark):
    # different contents with equal length must NOT merge (md5+len key)
    rows = [(1, "aaa bbb"), (2, "bbb aaa"), (3, "aaa bbb")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.dedup_exact(df).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 2]


def test_text_stats_and_quality_ranges(spark, docs):
    stats = T.text_stats(docs).collect()
    for r in stats:
        assert r.n_words >= 1 and r.n_distinct_words <= r.n_words
        assert r.approx_bpe_tokens == (r.n_chars + 3) // 4
    q = T.quality_score(docs).agg(F.min("quality"), F.max("quality")).first()
    assert 0 <= q[0] <= q[1] <= 100


def test_lang_id_deterministic_tiebreak(spark):
    # no stopword hits at all -> every count 0 -> 'en' by priority order
    df = spark.createDataFrame([(1, "zzz qqq xxx")], "doc_id long, text string")
    assert T.lang_id(df).first().lang_pred == "en"
    df2 = spark.createDataFrame([(1, "el la de y que en un")], "doc_id long, text string")
    # 'en' hits: 'en' (1); 'es' hits: all 7 -> es wins
    assert T.lang_id(df2).first().lang_pred == "es"


def test_fingerprint_matches_hashlib(spark):
    import hashlib

    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    r = T.doc_fingerprint(df).first()
    h = hashlib.md5(b"hello world").hexdigest()
    assert r.fp_md5 == h
    assert r.fp60 == int(h[:15], 16)


def test_simhash_identical_and_near_texts(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    mod = base.replace("lazy", "sleepy", 1)
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, mod)], "doc_id long, text string"
    )
    rows = {r.doc_id: r.simhash for r in T.simhash(df).collect()}
    assert rows[1] == rows[2]  # identical text -> identical signature
    ham = bin(rows[1] ^ rows[3]).count("1")
    assert ham <= 10  # one word changed out of 72 -> few bits flip


def test_simhash_neardup_pigeonhole_recall(spark, docs):
    # exact copies have hamming 0 -> MUST be found (deterministic recall)
    dirty = docs.unionByName(
        docs.filter(F.col("doc_id") < 25).withColumn("doc_id", F.col("doc_id") + 5000)
    )
    pairs = {(r.id_a, r.id_b) for r in T.simhash_neardup_pairs(dirty).collect()}
    for i in range(25):
        assert (i, i + 5000) in pairs


def test_minhash_neardup_finds_planted_pairs(spark, docs):
    # plant: copies with one appended word (high but non-1.0 jaccard)
    planted = docs.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 7000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailword")).alias("text"),
    )
    dirty = docs.select("doc_id", "text").unionByName(planted)
    pairs = {(r.doc_a, r.doc_b) for r in T.neardup_pairs(dirty, threshold_pct=70).collect()}
    for i in range(15):
        assert (i, i + 7000) in pairs, f"planted near-dup {i} missed"


def test_minhash_neardup_precision(spark, docs):
    # every reported pair must really have jaccard >= threshold (exact verify)
    out = T.neardup_pairs(docs, threshold_pct=70)
    sh = T.shingle_sets(docs)
    joined = (
        out.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sa"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sb"), "doc_b")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    bad = joined.filter(100 * inter < 70 * union).count()
    assert bad == 0


def test_shingle_sets_short_docs_empty(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")], "doc_id long, text string")
    rows = {r.doc_id: r.shingles for r in T.shingle_sets(df, k=3).collect()}
    assert rows[1] == []
    assert rows[2] == ["a b c", "b c d"]


@pytest.mark.parametrize("bad", [{"k": 0}, {"num_hashes": 0}], ids=["k0", "num_hashes0"])
@pytest.mark.parametrize("kernel", [T.shingle_minhash, T.token_shingle_minhash])
def test_shingle_kernel_rejects_bad_k_and_num_hashes_at_call_time(spark, kernel, bad):
    # raised by the call itself, before any Spark job (otherwise an
    # IndexError inside a Python worker at the first collect)
    df = spark.createDataFrame(
        [(1, "a b c d", [1, 2, 3, 4])], "doc_id long, text string, tokens array<int>"
    )
    with pytest.raises(ValueError, match="must be >= 1"):
        kernel(df, **bad)


def test_neardup_partition_invariance(spark, docs):
    # the pair set must not depend on input parallelism (determinism across
    # cluster layouts — resume/re-run bit-stability requirement)
    base = docs.select("doc_id", "text")
    p1 = {(r.doc_a, r.doc_b) for r in T.neardup_pairs(base.repartition(1)).collect()}
    p7 = {(r.doc_a, r.doc_b) for r in T.neardup_pairs(base.repartition(7)).collect()}
    assert p1 == p7 and len(p1) > 0


def test_simhash_partition_invariance(spark, docs):
    s1 = dict(T.simhash(docs.repartition(1)).collect())
    s5 = dict(T.simhash(docs.repartition(5)).collect())
    assert s1 == s5


def test_corpus_report_values(spark, docs):
    dirty = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).withColumn("doc_id", F.col("doc_id") + 70000)
    )
    r = T.corpus_report(dirty).first()
    assert r.n_docs == 550 and r.n_distinct == 500
    assert r.dup_pct == (50 * 100) // 550
    assert 0 <= r.mean_quality <= 100
    assert r.n_en + r.n_es + r.n_de + r.n_fr == 550


def test_neardup_tokens_matches_text_trigrams(spark, docs):
    # tokens = per-char ascii codes, so token 3-gram jaccard == char trigram
    # jaccard; planted exact copies must be found
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("transform(split(text,''), c -> ascii(c))").cast("array<int>").alias("tokens"),
    )
    dirty = toks.unionByName(
        toks.filter(F.col("doc_id") < 12).withColumn("doc_id", F.col("doc_id") + 8000)
    )
    pairs = {(r.doc_a, r.doc_b) for r in T.neardup_pairs_tokens(dirty).collect()}
    for i in range(12):
        assert (i, i + 8000) in pairs


def test_simhash_kernel_matches_hof_bit_for_bit(spark, docs):
    # the fused Arrow kernel (production) and the SQL HOF formulation
    # (oracle) must agree on every signature, including edge cases
    edge = spark.createDataFrame(
        [
            (9001, ""),                      # empty text -> [''] word list
            (9002, "one"),
            (9003, "a a a a"),               # duplicate words count
            (9004, "Ünïcôdé wörds ärê fine"),
            (9005, "  leading and   multi  spaces "),
        ],
        "doc_id long, text string",
    )
    df = docs.select("doc_id", "text").unionByName(edge)
    k = {r.doc_id: r.simhash for r in T.simhash(df).collect()}
    h = {r.doc_id: r.simhash for r in T.simhash_hof(df).collect()}
    assert k == h
    assert len(k) == df.count()


def test_simhash_kernel_null_text(spark):
    df = spark.createDataFrame([(1, None), (2, "x")], "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in T.simhash(df).collect()}
    assert got[1] is None and got[2] is not None


def test_neardup_verify_modes_identical(spark, docs):
    a = {tuple(r) for r in T.neardup_pairs(docs, threshold_pct=70, verify="cached").collect()}
    b = {tuple(r) for r in T.neardup_pairs(docs, threshold_pct=70, verify="recompute").collect()}
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="verify mode"):
        T.neardup_pairs(docs, verify="bogus")


def test_lsh_hot_bucket_cap_planted_skew(spark):
    # one degenerate band bucket (60 exact copies) must not quadratically
    # dominate, and genuine near-dups in healthy buckets keep full recall
    import pyspark.sql.functions as F

    from gorilla_stream_spark.textops import neardup_pairs

    shared = " ".join(f"w{j}" for j in range(30))
    rows = [(i, "copy copy copy identical boilerplate " * 5) for i in range(60)]
    rows += [(100, f"{shared} alpha"), (101, f"{shared} beta")]  # planted near-dup
    rows += [(200 + i, f"unique text number {i} nothing shared") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # cap smaller than the duplicate group: its buckets are excluded, the
    # planted pair's buckets (2 members) survive
    got = {
        (r.doc_a, r.doc_b)
        for r in neardup_pairs(df, threshold_pct=70, num_hashes=32).collect()
        if not (r.doc_a < 60 and r.doc_b < 60)
    }
    assert (100, 101) in got
    from gorilla_stream_spark.textops import lsh_candidate_pairs, shingle_minhash

    sig = shingle_minhash(
        df.select(F.col("doc_id").alias("__nd_id"), F.col("text").alias("__nd_text")),
        text_col="__nd_text", id_col="__nd_id", k=3, num_hashes=32,
    )
    capped = lsh_candidate_pairs(sig.select("doc_id", "sig"), num_hashes=32, max_bucket=16)
    pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # the 60-copy group's buckets are over-cap: none of its E^2/2 pairs emitted
    assert not any(a < 60 and b < 60 for a, b in pairs)
    assert (100, 101) in pairs  # healthy buckets keep recall
    # uncapped finds the same healthy pairs plus the quadratic dup block
    full = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(
            sig.select("doc_id", "sig"), num_hashes=32, max_bucket=None
        ).collect()
    }
    assert pairs <= full
    assert {(a, b) for a, b in full if not (a < 60 and b < 60)} == {
        (a, b) for a, b in pairs if not (a < 60 and b < 60)
    }


def test_sample_corpus_deterministic_monotone_and_stratified(spark):
    import pyspark.sql.functions as F

    from gorilla_stream_spark.textops import sample_corpus

    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "web").otherwise("books").alias("source"),
        F.lit("x").alias("text"),
    )
    a = {r.doc_id for r in sample_corpus(df, 0.25, seed=7).collect()}
    b = {r.doc_id for r in sample_corpus(df, 0.25, seed=7).collect()}
    assert a == b  # run-to-run deterministic
    assert abs(len(a) / 20_000 - 0.25) < 0.02  # near the requested rate
    # inclusion-monotone: raising the rate only ADDS docs
    c = {r.doc_id for r in sample_corpus(df, 0.50, seed=7).collect()}
    assert a <= c
    # different seed -> different subset
    d = {r.doc_id for r in sample_corpus(df, 0.25, seed=8).collect()}
    assert a != d
    # stratified: per-source rates apply to their stratum only
    mix = sample_corpus(df, {"web": 0.1, "books": 0.9}, seed=7)
    rates = {
        r.source: r.n
        for r in mix.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_web = 20_000 // 3 + (1 if 20_000 % 3 else 0)
    n_books = 20_000 - len(range(0, 20_000, 3))
    assert abs(rates.get("web", 0) / len(range(0, 20_000, 3)) - 0.1) < 0.03
    assert abs(rates["books"] / n_books - 0.9) < 0.03
    # a source missing from the dict keeps rate 1.0
    keep_all = sample_corpus(df, {"web": 0.0}, seed=7)
    kept = {r.source for r in keep_all.select("source").distinct().collect()}
    assert kept == {"books"}
    assert keep_all.count() == n_books


def test_sample_corpus_is_scan_predicate(spark, tmp_path):
    # zero shuffle: the whole operator is one Filter over the scan
    import pyspark.sql.functions as F

    from gorilla_stream_spark.textops import sample_corpus

    path = str(tmp_path / "sc_src")
    spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("source"), F.lit("t").alias("text")
    ).write.parquet(path)
    plan = sample_corpus(spark.read.parquet(path), 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_corpus_report_empty_corpus(spark):
    from gorilla_stream_spark.textops import corpus_report

    empty = spark.createDataFrame([], "doc_id long, text string")
    row = corpus_report(empty).collect()
    assert len(row) == 1
    r = row[0]
    assert r.n_docs == 0 and r.dup_pct == 0 and r.mean_quality == 0


def test_decontaminate_finds_planted_leaks(spark):
    import random

    from gorilla_stream_spark.textops import decontaminate, neardup_pairs

    rng = random.Random(7)
    words = [f"w{i}" for i in range(400)]
    mk = lambda n: " ".join(rng.choice(words) for _ in range(n))
    evals = [(1000 + i, mk(30)) for i in range(10)]
    train = [(i, mk(40)) for i in range(60)]
    # plant: train doc 3 copies eval 1002 with one word changed (near-dup);
    # train doc 7 is an exact copy of eval 1005
    leak1 = evals[2][1].split()
    leak1[5] = "changed"
    train[3] = (3, " ".join(leak1))
    train[7] = (7, evals[5][1])
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(evals, "doc_id long, text string")
    got = {(r.train_id, r.eval_id) for r in decontaminate(tdf, edf).collect()}
    assert (3, 1002) in got and (7, 1005) in got
    # no random pair sneaks past the exact verify
    for t, e in got:
        assert (t, e) in {(3, 1002), (7, 1005)}
    # cleaning: left_anti removes exactly the leaked train docs
    import pyspark.sql.functions as F

    leaked = decontaminate(tdf, edf).select(F.col("train_id").alias("doc_id")).distinct()
    cleaned = tdf.join(leaked, "doc_id", "left_anti")
    assert cleaned.count() == 58


def test_decontaminate_containment_catches_embedded_eval(spark):
    import random

    from gorilla_stream_spark.textops import decontaminate

    rng = random.Random(11)
    words = [f"v{i}" for i in range(300)]
    mk = lambda n: " ".join(rng.choice(words) for _ in range(n))
    ev_text = mk(12)
    evals = [(500, ev_text), (501, mk(12))]
    # eval 500 embedded inside a much longer train doc: jaccard dilutes
    # below threshold, containment does not
    train = [(0, mk(200) + " " + ev_text + " " + mk(200)), (1, mk(150))]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(evals, "doc_id long, text string")
    jac = {(r.train_id, r.eval_id) for r in decontaminate(tdf, edf, metric="jaccard").collect()}
    con = {
        (r.train_id, r.eval_id)
        for r in decontaminate(tdf, edf, metric="containment", threshold_pct=90).collect()
    }
    assert (0, 500) not in jac
    assert (0, 500) in con and (1, 501) not in con


def test_decontaminate_containment_broadcast_guard(spark):
    # oversized eval side: the exploded-shingle join must FALL BACK to a
    # shuffle join (no broadcast of the eval shingles) and still return
    # the exact same pairs
    import random

    from gorilla_stream_spark.textops import decontaminate

    rng = random.Random(11)
    words = [f"v{i}" for i in range(300)]
    mk = lambda n: " ".join(rng.choice(words) for _ in range(n))
    ev_text = mk(12)
    evals = [(500, ev_text), (501, mk(12))]
    train = [(0, mk(200) + " " + ev_text + " " + mk(200)), (1, mk(150))]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(evals, "doc_id long, text string")

    def run(bound):
        res = decontaminate(
            tdf, edf, metric="containment", threshold_pct=90,
            eval_broadcast_max_shingles=bound,
        )
        plan = res._jdf.queryExecution().executedPlan().toString()
        return {(r.train_id, r.eval_id) for r in res.collect()}, plan

    big, plan_b = run(8_000_000)
    small, plan_s = run(1)  # force the fallback
    assert big == small == {(0, 500)}
    assert "BroadcastHashJoin" in plan_b
    # the guard disabled the hint; with tiny test inputs AQE may still pick
    # a broadcast strategy on its own, so assert on the hint's absence via
    # the optimized plan instead of the physical one
    opt = (
        decontaminate(tdf, edf, metric="containment", threshold_pct=90,
                      eval_broadcast_max_shingles=1)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "ResolvedHint" not in opt


def test_decontaminate_train_side_never_shuffles(spark, tmp_path):
    # the candidate join must be a broadcast hash join on band keys — no
    # Exchange on the train bands branch (eval artifacts broadcast)
    from gorilla_stream_spark.textops import decontaminate

    tpath, epath = str(tmp_path / "t"), str(tmp_path / "e")
    spark.createDataFrame(
        [(i, f"a b c d e f g h {i}") for i in range(50)], "doc_id long, text string"
    ).write.parquet(tpath)
    spark.createDataFrame(
        [(i, f"x y z w u v {i}") for i in range(5)], "doc_id long, text string"
    ).write.parquet(epath)
    plan = (
        decontaminate(spark.read.parquet(tpath), spark.read.parquet(epath))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_neardup_pairs_releases_caches(spark):
    # operator persists must not outlive the call: a long-lived driver
    # calling near-dup repeatedly would otherwise leak storage to OOM
    from gorilla_stream_spark.textops import neardup_pairs

    rows = [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    res = neardup_pairs(df)
    res.count()
    after = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    # only the (small) materialized result may remain cached
    assert len(after) <= before + 1, [str(x) for x in after]


def test_sig_only_mode_matches_full_kernel(spark):
    # with_sh=False skips the dedup sort; signatures must be IDENTICAL
    # (per-doc minima are invariant under duplicate shingles)
    from gorilla_stream_spark.textops import shingle_minhash

    rows = [(i, "alpha beta gamma " * 10 + f"tail {i} words here") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {r.doc_id: list(r.sig) for r in shingle_minhash(df).collect()}
    sig_only = {
        r.doc_id: list(r.sig) for r in shingle_minhash(df, with_sh=False).collect()
    }
    assert full == sig_only


def test_lsh_candidate_pairs_no_self_pairs_on_duplicate_ids(spark):
    from gorilla_stream_spark.textops import lsh_candidate_pairs, shingle_minhash

    rows = [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")]
    df = spark.createDataFrame(rows + rows, "doc_id long, text string")  # dup rows
    sig = shingle_minhash(df, with_sh=False)
    pairs = lsh_candidate_pairs(sig.select("doc_id", "sig")).collect()
    assert all(r.doc_a < r.doc_b for r in pairs)
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(1, 2)}


def test_decontaminate_tokens_finds_planted_leak(spark):
    import random

    from gorilla_stream_spark.textops import decontaminate_tokens

    rng = random.Random(17)
    mk = lambda n: [rng.randrange(1000) for _ in range(n)]
    evals = [(900 + i, mk(25)) for i in range(6)]
    train = [(i, mk(30)) for i in range(40)]
    leak = list(evals[2][1])
    leak[4] = 9999  # one token changed
    train[5] = (5, leak)
    tdf = spark.createDataFrame(train, "doc_id long, tokens array<int>")
    edf = spark.createDataFrame(evals, "doc_id long, tokens array<int>")
    got = {(r.train_id, r.eval_id) for r in decontaminate_tokens(tdf, edf).collect()}
    assert got == {(5, 902)}


def test_decontaminate_tokens_containment_catches_embedded_eval(spark):
    import random

    from gorilla_stream_spark.textops import decontaminate_tokens

    rng = random.Random(23)
    mk = lambda n: [rng.randrange(500) for _ in range(n)]
    ev_seq = mk(12)
    evals = [(700, ev_seq), (701, mk(12))]
    train = [(0, mk(200) + ev_seq + mk(200)), (1, mk(150))]
    tdf = spark.createDataFrame(train, "doc_id long, tokens array<int>")
    edf = spark.createDataFrame(evals, "doc_id long, tokens array<int>")
    jac = {
        (r.train_id, r.eval_id)
        for r in decontaminate_tokens(tdf, edf, metric="jaccard").collect()
    }
    con = {
        (r.train_id, r.eval_id)
        for r in decontaminate_tokens(tdf, edf, metric="containment", threshold_pct=90).collect()
    }
    assert (0, 700) not in jac  # diluted jaccard
    assert (0, 700) in con and (1, 701) not in con


def test_dedup_exact_token_arrays(spark):
    from gorilla_stream_spark.textops import dedup_exact

    rows = [
        ("1", [1, 2, 3]),
        ("2", [1, 2, 3]),   # exact dup of 1
        ("3", [1, 2]),
        ("4", [12, 3]),     # concatenation trap: str form differs from [1,2,3]
        ("5", [1, 23]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = dedup_exact(df, content_col="tokens")
    assert sorted(r["doc_id"] for r in out.collect()) == ["1", "3", "4", "5"]
