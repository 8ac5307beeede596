"""LLM training-data text operators: dedup, near-dup, fingerprints, quality.

No reference analog (awksedgreep/gorilla_stream dedups duplicate *timestamps*
only, ``/root/reference/lib/gorilla_stream/validator.ex:214``); these are the
operations a 100 TB training-data pipeline needs next to the codec engine.

Design rules (100 TB first):

* Everything is JVM-side ``pyspark.sql.functions`` column expressions inside
  whole-stage codegen — zero Python UDFs, zero ``collect()``.
* Signatures (MinHash, SimHash, fingerprints) are computed **row-locally**
  with higher-order array functions — no shuffle until the band/bucket join,
  which shuffles small fixed-width keys, never full documents.
* Candidate generation is bucketed (LSH bands / hash buckets), never
  all-pairs: cost is O(n·bands), and exact verification runs only on
  bucket-collision candidates.
* Exact verification uses **integer** arithmetic (``10*i >= 7*union`` instead
  of float jaccard) so results are engine-exact and reproducible.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "decontaminate",
    "decontaminate_tokens",
    "sample_corpus",
    "dedup_exact",
    "text_stats",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
    "simhash",
    "simhash_hof",
    "shingle_sets",
    "lsh_candidate_pairs",
    "neardup_pairs",
    "corpus_report",
    "token_shingle_minhash",
    "neardup_pairs_tokens",
    "token_stats",
    "duplicate_spans",
    "strip_duplicate_spans",
]

# ---------------------------------------------------------------------------
# Exact content dedup
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Drop duplicate-content rows, keeping the lowest ``id_col`` per content.

    Partitioning key is ``(md5(content), length(content))`` — 24 bytes per
    row regardless of document size; the window Exchange still moves full
    surviving rows, but Spark's map-side WindowGroupLimit drops duplicate
    copies BEFORE the shuffle, so each distinct document crosses the wire
    exactly once (if hash-only shuffle volume matters more than row
    survival, aggregate ``(md5,len) -> min(id)`` and semi-join instead).
    md5+length collisions across *different* contents are ~2^-128; grouping
    by the pair (not the raw content) keeps the plan identical at any
    scale.  Keep-first is deterministic (``row_number`` ordered by id),
    matching the reference's sort-and-dedup validator semantics
    (``validator.ex:205-216``) applied to content.

    ``content_col`` may be a string/binary column (documents) or an
    ``array`` column (the native tokens table): arrays are keyed by
    ``(md5(cast(col as string)), size(col))`` — the string form of an int
    array is separator-unambiguous, so the key is exactly as collision-
    safe as the text path.
    """
    if dict(df.dtypes).get(content_col, "").startswith("array"):
        key, ln = F.md5(F.col(content_col).cast("string")), F.size(content_col)
    else:
        key, ln = F.md5(F.col(content_col)), F.length(content_col)
    w = Window.partitionBy(key, ln).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Text statistics + quality score (validator analog for documents)
# ---------------------------------------------------------------------------

# compact per-language stopword lists; enough signal for a heuristic
# language id over whitespace-tokenized text
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es", "por", "los"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"],
}


def _words(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _stop_hits(text_col: str, lang: str) -> Column:
    """# words (with duplicates) in the language's stopword list."""
    return F.expr(
        f"size(filter(split({text_col}, ' '), w -> w IN ({_sql_list(STOPWORDS[lang])})))"
    )


def sample_corpus(
    df: DataFrame,
    fractions: dict[str, float] | float,
    seed: int = 1337,
    source_col: str = "source",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic stratified sampling — the data-mixing primitive.

    Keeps a row iff ``pmod(xxhash64(id, seed), 1e6) < frac(source) * 1e6``:
    a pure per-row predicate (zero shuffle, pushes past the scan like any
    filter), reproducible run-to-run and across engines from (id, seed)
    alone, and INCLUSION-MONOTONE — raising a source's rate only ADDS
    documents, so epoch mixtures can be re-weighted without churning the
    previously-selected subset.  ``fractions`` is either a single global
    rate or a per-source dict (missing sources keep rate 1.0; rates clamp
    to [0, 1]).

    At 100 TB this is how the mixture in a training config becomes a scan
    predicate instead of a sampling job.

    ``hash_fn``: ``"xxhash64"`` (default — cheapest, stays in whole-stage
    codegen) or ``"md5"`` (first 6 hex digits of ``md5(id || ':' || seed)``
    — engine-portable, so another system can reproduce the exact subset;
    the q53 oracle cross-checks this mode against DuckDB).
    """
    if hash_fn == "xxhash64":
        space = 1_000_000
        h = F.pmod(
            F.xxhash64(F.col(id_col).cast("string"), F.lit(int(seed))), F.lit(space)
        )
    elif hash_fn == "md5":
        space = 16**6
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{int(seed)}"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    million = space

    def cut(frac: float) -> int:
        return int(round(max(0.0, min(1.0, float(frac))) * million))
    if isinstance(fractions, dict):
        thr = None
        for src_name, frac in sorted(fractions.items()):
            clause = (F.col(source_col) == src_name, F.lit(cut(frac)))
            thr = F.when(*clause) if thr is None else thr.when(*clause)
        thr = thr.otherwise(F.lit(million)) if thr is not None else F.lit(million)
    else:
        thr = F.lit(cut(fractions))
    return df.filter(h < thr)


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token counts + lexical stats, all integer-exact.

    ``approx_bpe_tokens`` is the chars/4 heuristic used for LLM budget
    estimates; ``n_words`` is whitespace tokenization.
    """
    words = _words(text_col)
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct_words"),
        # integer `div`, never float `/`: bit-identical across engines
        F.expr(f"(length({text_col}) + 3) div 4").cast("long").alias("approx_bpe_tokens"),
        # BPE-ish tokenization: letter runs / digit runs / single symbols
        # (explicit space class — regex escapes parse differently across
        # engines' string literals, a literal space does not)
        F.size(
            F.expr(f"regexp_extract_all({text_col}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)")
        ).cast("long").alias("regex_tokens"),
        _stop_hits(text_col, "en").cast("long").alias("stop_hits_en"),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """0-100 document quality score from integer-exact components.

    Re-expression of the reference validator's 0-100 quality score
    (``/root/reference/lib/gorilla_stream/validator.ex:95-118``) for text:
    length band (0/20/40) + stopword ratio (0-30, natural text has 20-45%
    stopwords) + lexical diversity (0-30).  Integer division only — the
    score is bit-identical across engines.
    """
    words = f"split({text_col}, ' ')"
    stop_list = _sql_list(STOPWORDS["en"])
    # integer `div` only (Spark `/` is float division, and float->long casts
    # truncate in Spark but round in DuckDB — div sidesteps both)
    expr = f"""
    CAST(
      CASE WHEN size({words}) BETWEEN 20 AND 20000 THEN 40
           WHEN size({words}) >= 5 THEN 20 ELSE 0 END
      + least(30L, (CAST(size(filter({words}, w -> w IN ({stop_list}))) AS BIGINT) * 100)
                    div size({words}))
      + least(30L, ((CAST(size(array_distinct({words})) AS BIGINT) * 100)
                    div size({words})) div 2)
    AS BIGINT)
    """
    return df.select(F.col(id_col), F.expr(expr).alias("quality"))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language id: argmax stopword hits, deterministic tie-break
    in en > es > de > fr priority order (n-gram-free, engine-exact)."""
    c = {lang: _stop_hits(text_col, lang) for lang in STOPWORDS}
    pred = (
        F.when((c["en"] >= c["es"]) & (c["en"] >= c["de"]) & (c["en"] >= c["fr"]), "en")
        .when((c["es"] >= c["de"]) & (c["es"] >= c["fr"]), "es")
        .when(c["de"] >= c["fr"], "de")
        .otherwise("fr")
    )
    return df.select(F.col(id_col), pred.alias("lang_pred"))


def doc_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprints: full md5 (dedup/lineage key) + a 60-bit integer
    prefix (join/bucketing key that fits a signed int64)."""
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("fp_md5"),
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10).cast("long").alias("fp60"),
    )


# ---------------------------------------------------------------------------
# SimHash — 60-bit near-dup signature over word hashes.
# md5-based word hashes (not xxhash64) so the signature is engine-portable
# and SQL-verifiable bit-for-bit.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per doc, computed row-locally (no shuffle).

    Per word w: h = first 60 bits of md5(w).  Per bit i: sum +-1 over all
    words (duplicates count); signature bit i = (sum >= 0).  Similar docs
    differ in few bits — hamming-band bucketing then finds near-dups with
    *deterministic* recall (pigeonhole, see ``simhash_bands``).

    A fused Arrow/numpy kernel: one md5 per *unique* word per batch, one
    vectorized ``reduceat`` bit count.  :func:`simhash_hof` is the pure-SQL
    formulation of the identical bit definition (an order of magnitude
    slower), kept as the engine-portable oracle this kernel is
    parity-tested against bit-for-bit.
    """
    import hashlib

    import pyarrow as pa

    bitpos = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def fn(batches):
        import pyarrow.compute as pc

        for rb in batches:
            if rb.num_rows == 0:
                continue
            ids = rb.column(0)
            # split in Arrow C++ — only the text crosses the Arrow boundary,
            # never a materialized word list (same ' ' semantics as Spark's
            # split: empty text -> [''], consecutive spaces -> empty words;
            # the kernel-vs-HOF parity test pins this)
            words_col = pc.split_pattern(rb.column(1), pattern=" ")
            valid = np.ones(rb.num_rows, dtype=bool)
            if words_col.null_count:
                valid = ~words_col.is_null().to_numpy(zero_copy_only=False)
            lens_all = words_col.value_lengths().to_numpy(zero_copy_only=False)
            wlens = lens_all[valid].astype(np.int64) if words_col.null_count else lens_all.astype(np.int64)
            flat_words = words_col.flatten()  # null cells skipped
            sigs = np.zeros(rb.num_rows, dtype=np.int64)
            if len(flat_words):
                # vocab dedup in Arrow C++ (hash dictionary-encode), then md5
                # once per UNIQUE word — vocab-bounded, not corpus-bounded
                enc = flat_words.dictionary_encode()
                inv = enc.indices.to_numpy(zero_copy_only=False)
                uh = np.fromiter(
                    (
                        int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                        for w in enc.dictionary.to_pylist()
                    ),
                    dtype=np.uint64,
                    count=len(enc.dictionary),
                )
                wh = uh[inv]
                # per-doc ones count, one contiguous 1-D pass per bit (the
                # (n_words, 60) matrix layout would cost n_words*480B of
                # cache-hostile temporary; this keeps ONE n_words scratch)
                starts = np.concatenate(([0], np.cumsum(wlens)[:-1])).astype(np.intp)
                ones = np.empty((len(wlens), SIMHASH_BITS), dtype=np.int64)
                tmp = np.empty(wh.size, dtype=np.uint64)
                for i in range(SIMHASH_BITS):
                    np.right_shift(wh, np.uint64(i), out=tmp)
                    np.bitwise_and(tmp, np.uint64(1), out=tmp)
                    ones[:, i] = np.add.reduceat(tmp.view(np.int64), starts)
                # +-1 sum = 2*ones - n_words; bit set iff sum >= 0
                sig_bits = (2 * ones - wlens[:, None]) >= 0
                packed = (sig_bits.astype(np.uint64) << bitpos).sum(axis=1)
                sigs[valid] = packed.view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(
                        [int(s) if v else None for s, v in zip(sigs, valid)],
                        pa.int64(),
                    ),
                ],
                names=[id_col, "simhash"],
            )

    slim = df.select(F.col(id_col), F.col(text_col))
    id_field = slim.schema[id_col]
    ddl_id = id_field.dataType.simpleString()
    return slim.mapInArrow(fn, f"{id_col} {ddl_id}, simhash long")


def simhash_hof(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Pure-SQL SimHash — the portable oracle formulation (see
    :func:`simhash` for the bit definition and the production kernel).

    Same definition as before — per word ``h = first 60 md5 bits``, bit i
    of the signature set iff ``#{words with bit i set} * 2 >= n_words`` —
    but expressed as ``explode`` + 60 codegen'd aggregate sums instead of a
    per-word ``zip_with`` over a 60-slot accumulator.  Spark evaluates HOF
    lambdas interpreted (no whole-stage codegen), so the old fold cost
    O(words x 60) lambda invocations per doc; the explode/groupBy form
    keeps every per-word expression inside codegen and shuffles only
    ~61 longs per doc.  Output is bit-identical (kernel parity test), and
    the formulation stays portable SQL: every construct (split, md5, conv,
    bit ops, conditional sums) is standard.

    A synthetic row key keeps the contract row-per-row: duplicate
    ``id_col`` values still yield one output row each, and a NULL text
    yields a NULL signature (its split() produces no words to count).
    """
    slim = df.select(F.col(id_col), F.col(text_col))
    # a limited/cached sample arrives as ONE partition and the whole
    # explode+aggregate would run on one core; round-robin it out first
    # (before the row key is assigned, so retried tasks keep deterministic
    # grouping via Spark's sort-before-repartition)
    P = df.sparkSession.sparkContext.defaultParallelism
    if slim.rdd.getNumPartitions() < P:
        slim = slim.repartition(P)
    base = slim.withColumn("__rid", F.monotonically_increasing_id())
    words = base.select(
        "__rid",
        F.col(id_col),
        F.explode_outer(F.split(F.col(text_col), " ")).alias("__w"),
    ).withColumn(
        "__h", F.expr("CAST(conv(substring(md5(__w), 1, 15), 16, 10) AS LONG)")
    )
    aggs = [F.count("__w").alias("__n")] + [
        F.sum(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1))).alias(f"__b{i}")
        for i in range(SIMHASH_BITS)
    ]
    grouped = words.groupBy("__rid", id_col).agg(*aggs)
    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(
            2 * F.col(f"__b{i}") >= F.col("__n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    out = F.when(F.col("__n") > 0, sig).otherwise(F.lit(None).cast("long"))
    return grouped.select(F.col(id_col), out.alias("simhash"))


def simhash_bands(sig_df: DataFrame, id_col: str = "doc_id", n_bands: int = 4) -> DataFrame:
    """Split the 60-bit signature into ``n_bands`` fixed bit-slices.

    Pigeonhole guarantee: two signatures within hamming distance
    ``n_bands - 1`` share at least one identical band — bucketing by
    (band_idx, band_bits) has deterministic recall for hamming <= n_bands-1.
    """
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            ((F.col("simhash").bitwiseAND(F.lit(mask << (i * width)))).cast("long"))
            for i in range(n_bands)
        ]
    )
    return sig_df.select(
        id_col, "simhash", F.posexplode(bands).alias("band_idx", "band_bits")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: band-bucket join, then exact hamming check.

    Deterministic recall for hamming <= 3 (4 bands, pigeonhole); shuffle key
    is (band_idx, band_bits) — 12 bytes — never the documents.
    """
    sig = simhash(df, text_col=text_col, id_col=id_col)
    bands = simhash_bands(sig, id_col=id_col, n_bands=max_hamming + 1)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.filter(hamming <= max_hamming).select("id_a", "id_b")


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup over k-word shingles — bucketed, never all-pairs.
# ---------------------------------------------------------------------------


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, distinct k-word shingles).  Docs with < k words have an empty
    set and never reach candidate generation (no jaccard is defined)."""
    words = f"split({text_col}, ' ')"
    parts = ", ".join(f"{words}[i + {j}]" for j in range(k))
    expr = (
        f"CASE WHEN size({words}) >= {k} THEN "
        f"array_distinct(transform(sequence(0, size({words}) - {k}),"
        f" i -> concat_ws(' ', {parts}))) "
        f"ELSE array() END"
    )
    return df.select(F.col(id_col).alias("doc_id"), F.expr(expr).alias("shingles"))


_MINHASH_SEED = 0x5EED_CAFE
# odd multipliers for the 3-word rolling shingle-hash combine
_SH_MIX = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9)


def _affine_min_sig(h: np.ndarray, starts: np.ndarray, A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Per-segment minima of ``h*A[j] + B[j]`` for every hash function j.

    One contiguous 1-D pass per hash (2 in-place ops + a 1-D ``reduceat``):
    measured 11x faster than materializing the (n_shingles, num_hashes)
    matrix and reducing along axis 0 — the wide layout is cache-hostile and
    axis-0 reduceat strides across rows.  Memory: one n_shingles temporary.
    """
    sig = np.empty((starts.size, A.size), dtype=np.uint64)
    tmp = np.empty(h.size, dtype=np.uint64)
    for j in range(A.size):
        np.multiply(h, A[j], out=tmp)
        np.add(tmp, B[j], out=tmp)
        sig[:, j] = np.minimum.reduceat(tmp, starts)
    return sig


def _shingle_kernel(
    slim: DataFrame,
    units,
    k: int,
    num_hashes: int,
    with_sh: bool,
    with_sig: bool,
    where: str,
) -> DataFrame:
    """The one MinHash kernel behind :func:`shingle_minhash` and
    :func:`token_shingle_minhash`: (doc_id[, sh][, sig]) from ``slim`` =
    (doc_id long, payload) in ONE vectorized Arrow pass, zero shuffles.

    ``units(rb)`` yields ``(ids, unit_hashes, units_per_doc)`` per slice of
    a batch (uint64 word hashes for text, raw token values for tokens).
    k-unit shingle hashes come from a rolling combine over the concatenated
    units, minus the windows that straddle a doc boundary, deduped per doc
    by one lexsort; the affine family ``(a_j*h + b_j) mod 2^64`` is reduced
    per doc (see _affine_min_sig).  64-bit shingle hashes stand in for
    shingle strings downstream (collisions ~2^-50 per corpus).  A
    higher-order-function formulation was measured 10-40x slower.

    ``k`` and ``num_hashes`` are checked at call time: a bad value would
    otherwise fail inside a Python worker at the first collect.
    """
    import pyarrow as pa

    if k < 1 or num_hashes < 1:
        raise ValueError(
            f"{where}: k and num_hashes must be >= 1, got k={k}, num_hashes={num_hashes}"
        )
    if not with_sh and not with_sig:
        raise ValueError(f"{where}: at least one of with_sh/with_sig required")
    rng = np.random.default_rng(_MINHASH_SEED)
    A = (rng.integers(1, 2**63 - 1, num_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63 - 1, num_hashes).astype(np.uint64)
    mix_rng = np.random.default_rng(_SH_MIX[0] & 0xFFFFFFFF)
    MIX = (mix_rng.integers(1, 2**63 - 1, k).astype(np.uint64) << np.uint64(1)) | np.uint64(1)

    fields = [("doc_id", pa.int64())]
    if with_sh:
        fields.append(("sh", pa.list_(pa.int64())))
    if with_sig:
        fields.append(("sig", pa.list_(pa.int64())))
    out_schema = pa.schema(fields)
    out_ddl = (
        "doc_id long"
        + (", sh array<long>" if with_sh else "")
        + (", sig array<long>" if with_sig else "")
    )

    def fn(batches):
        for ids, wh, lens in chain.from_iterable(map(units, batches)):
            if wh.size < k:
                continue
            m = wh.size - k + 1
            sh_all = wh[0:m] * MIX[0]
            for j in range(1, k):
                sh_all = sh_all + wh[j : m + j] * MIX[j]
            doc_of = np.repeat(np.arange(len(ids), dtype=np.int64), lens)
            in_doc = doc_of[:m] == doc_of[k - 1 :]
            sh_v = sh_all[in_doc]
            doc_v = doc_of[:m][in_doc]
            if sh_v.size == 0:
                continue
            if with_sh:
                order = np.lexsort((sh_v, doc_v))
                ds, ss = doc_v[order], sh_v[order]
                uniq = np.empty(ds.size, dtype=bool)
                uniq[0] = True
                uniq[1:] = (ds[1:] != ds[:-1]) | (ss[1:] != ss[:-1])
                h = ss[uniq]
                dh = ds[uniq]
            else:
                # signature-only mode: per-doc MINIMA are invariant under
                # duplicate shingles, and doc segments are already
                # contiguous — the lexsort+dedup (the kernel's single most
                # expensive step) is pure overhead here
                h = sh_v
                dh = doc_v
            slens = np.bincount(dh, minlength=len(ids))
            keep = slens > 0
            offs_all = np.concatenate(([0], np.cumsum(slens[keep])))
            arrays = [pa.array(ids[keep], pa.int64())]
            if with_sh:
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(offs_all.astype(np.int32), pa.int32()),
                        pa.array(h.view(np.int64), pa.int64()),
                    )
                )
            if with_sig:
                sig = _affine_min_sig(h, offs_all[:-1].astype(np.intp), A, B)
                arrays.append(
                    pa.FixedSizeListArray.from_arrays(
                        pa.array(sig.view(np.int64).ravel(), type=pa.int64()), num_hashes
                    ).cast(pa.list_(pa.int64()))
                )
            yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    return slim.mapInArrow(fn, out_ddl)


def shingle_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 128,
    with_sh: bool = True,
    with_sig: bool = True,
) -> DataFrame:
    """(doc_id, sh: distinct k-word-shingle hashes, sig: MinHash signature)
    for text documents, through :func:`_shingle_kernel`.

    ``with_sig=False`` skips the MinHash reduction entirely (column pruning
    cannot reach inside the kernel): consumers that only need the shingle
    sets — containment-mode decontamination — should not pay for 128
    affine reductions per doc.  Words are split on ``' '`` and hashed with
    SipHash (fixed key — deterministic across runs/executors).
    """

    def units(rb):
        import pandas as pd
        import pyarrow.compute as pc

        # split + vocab-dedup in Arrow C++; SipHash only the UNIQUE words
        # (pd.util.hash_array over the dictionary — identical hash values
        # to hashing every word, ~40x fewer hashes and no per-word Python
        # objects, which also cuts the DRAM pressure that capped 2->8
        # core scaling)
        words_col = pc.split_pattern(rb.column(1), pattern=" ")
        wlens = (
            words_col.value_lengths()
            .fill_null(0)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        enc = words_col.flatten().dictionary_encode()  # null cells contribute 0 words
        inv = enc.indices.to_numpy(zero_copy_only=False)
        uh = pd.util.hash_array(enc.dictionary.to_numpy(zero_copy_only=False))
        yield rb.column(0).to_numpy(zero_copy_only=False), uh[inv], wlens

    slim = df.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("__text"))
    return _shingle_kernel(slim, units, k, num_hashes, with_sh, with_sig, "shingle_minhash")


def _grouped_bucket_pairs(
    df: DataFrame, key_cols: list[str], id_col: str, max_bucket: int | None
) -> DataFrame:
    """Distinct (doc_a < doc_b) id pairs sharing a bucket, via ONE
    aggregation instead of a count-window + self-join.

    ``groupBy(bucket).collect_list(id)`` shuffles each 12-byte band row
    once; the i<j pair combinations are generated JVM-side from the
    grouped array (whole-stage codegen ``transform``/``slice``), so
    there is no window sort and no hash-join build over the exploded
    band table.  The hot-bucket cap is a free ``size(ids)`` filter here:
    a degenerate bucket of E members would otherwise emit E^2/2 pairs
    (recall notes in the callers).  ``None`` disables.

    (A two-stage variant — codegen bucket counts first, then regroup only
    colliding buckets via broadcast semi-join — measured faster in
    isolation but consistently ~35% slower inside the full bench session:
    the two extra actions and the second pass over the exploded bands
    cost more than the ObjectHashAggregate they avoid.  Reverted; noted
    here so the next optimizer doesn't re-walk that path without a
    session-context measurement.)
    """
    grouped = df.groupBy(*key_cols).agg(F.collect_list(id_col).alias("ids"))
    cond = F.size("ids") >= 2
    if max_bucket:
        cond = cond & (F.size("ids") <= max_bucket)
    # two-stage explode so no single array ever holds a bucket's s^2/2
    # pairs (flattening them into ONE value would cost ~0.8 GB in one row
    # at the default cap, and >2^31 elements for uncapped megabuckets):
    # stage 1 emits one row per anchor id (carrying the <=64 KB id list),
    # stage 2 streams that anchor's partners — peak per-row memory is one
    # bucket list, and the quadratic row count flows through codegen the
    # same way the old self-join streamed it
    return (
        grouped.filter(cond)
        .select(F.col("ids"), F.posexplode("ids").alias("i", "x"))
        .select(
            F.col("x"),
            F.explode(F.expr("slice(ids, i + 2, size(ids) - i - 1)")).alias("y"),
        )
        .select(
            F.least("x", "y").alias("doc_a"), F.greatest("x", "y").alias("doc_b")
        )
        # duplicate ids inside one bucket (a doc appearing twice in the
        # input) would emit a least==greatest self-pair; the old `<` join
        # excluded those, so keep that contract
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def _sig_bands(sig_df: DataFrame, rows_per_band: int, num_hashes: int) -> DataFrame:
    """Explode a (doc_id, sig) table into (doc_id, band_idx, band_hash) rows.

    The Arrow hop producing sig is a projection barrier, so the band
    expressions read the materialized sig array instead of inlining (and
    recomputing) the full signature subtree per band.
    """
    b = num_hashes // rows_per_band
    idx = ", ".join(f"sig[{rows_per_band} * j + {i}]" for i in range(rows_per_band))
    bands = F.expr(f"transform(sequence(0, {b - 1}), j -> xxhash64(j, {idx}))")
    return sig_df.select("doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    rows_per_band: int = 2,
    num_hashes: int = 128,
    max_bucket: int | None = 8192,
) -> DataFrame:
    """Banded LSH: bucket by (band_idx, hash of r consecutive sig values),
    emit distinct id pairs that share >= 1 bucket.

    Shuffle key is (int, int64) — documents never shuffle.  With r=2, b=64
    the miss probability at jaccard 0.7 is (1-0.49)^64 ~= 2e-19; precision
    is restored by the exact verify in :func:`neardup_pairs`.

    Hot-bucket cap: a degenerate bucket of E members self-joins into
    E^2/2 rows, so one pathological band key (boilerplate shingles, exact
    copies) would dominate the whole job's shuffle.  Buckets larger than
    ``max_bucket`` are excluded from pair generation (the default still
    admits ~33M pairs from one bucket).  Recall impact: a pair whose ONLY
    shared buckets are over-cap is missed — for genuinely near-dup text
    that requires every shared band to be degenerate, i.e. E-way
    duplicate groups, which :func:`dedup_exact` should collapse first
    (see the skew note in :func:`neardup_pairs`).  ``max_bucket=None``
    disables the cap.
    """
    exploded = _sig_bands(sig_df, rows_per_band, num_hashes)
    return _grouped_bucket_pairs(
        exploded, ["band_idx", "band_hash"], "doc_id", max_bucket
    )


def neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 70,
    k: int = 3,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    verify: str = "cached",
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates + exact jaccard verify.

    Output = pairs whose exact distinct-k-shingle jaccard >= threshold_pct/100,
    verified with pure integer arithmetic (``100*i >= t*(|A|+|B|-i)``) so the
    result is engine-exact.  Cost: O(n·bands) candidate generation + one
    shingle-set join per candidate — never O(n^2) over the corpus.  The
    verify compares 64-bit shingle-hash sets (int64 ``array_intersect``,
    far cheaper than string sets; collision odds ~2^-50 per corpus).

    Skew note: a group of E EXACT copies shares every band bucket and emits
    E^2/2 candidate pairs — that is the correct answer, but on dup-heavy
    corpora run :func:`dedup_exact` first so near-dup detection only pays
    for genuinely-distinct content.

    ``verify`` picks the shingle-set strategy for the exact-verify stage:

    * ``"cached"`` (default): ONE kernel pass emits signatures + shingle
      sets, both cached — fastest when the per-doc sets fit executor
      storage (sets are ~2-3 KB/doc).
    * ``"recompute"`` (the 10^12-doc shape): pass 1 computes SIGNATURES
      ONLY corpus-wide (1 KB/doc cached — 3x lighter); after banding
      yields candidates, pass 2 recomputes shingle sets for the CANDIDATE
      docs only (broadcast-semi-pruned before the kernel), so the heavy
      per-doc sets are never materialized, cached, or shuffled for the
      non-candidate bulk of the corpus.  Costs ~2 extra jobs + one pruned
      corpus re-scan — noise at scale, measurable on small corpora.

    Both modes return identical pairs (pinned by test).
    """
    return _neardup_impl(
        shingle_minhash, df, text_col, id_col, k, num_hashes, threshold_pct, rows_per_band,
        verify,
    )


def _nd_shingler(kernel, k: int, num_hashes: int):
    """``shingler(frame, with_sh, with_sig)`` over the ``(__nd_id,
    __nd_payload)`` frames the near-dup and decontamination drivers pass
    around; ``kernel`` is :func:`shingle_minhash` or
    :func:`token_shingle_minhash` — the only payload-specific piece."""

    def shingler(frame: DataFrame, with_sh: bool, with_sig: bool) -> DataFrame:
        return kernel(frame, "__nd_payload", "__nd_id", k, num_hashes, with_sh, with_sig)

    return shingler


def _nd_project(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).cast("long").alias("__nd_id"), F.col(payload_col).alias("__nd_payload")
    )


def _neardup_impl(
    kernel,
    df: DataFrame,
    payload_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    threshold_pct: int,
    rows_per_band: int,
    verify: str,
) -> DataFrame:
    """Shared near-dup driver (text and token paths): MinHash-LSH candidates
    + exact integer-jaccard verify, in ``verify`` mode "cached" or
    "recompute" (see :func:`neardup_pairs`)."""
    if verify not in ("cached", "recompute"):
        raise ValueError(f"unknown verify mode {verify!r}")
    slim = _nd_project(df, id_col, payload_col)
    shingler = _nd_shingler(kernel, k, num_hashes)
    if verify == "cached":
        shmin = shingler(slim, True, True).persist()
        cand = lsh_candidate_pairs(
            shmin.select("doc_id", "sig"), rows_per_band=rows_per_band,
            num_hashes=num_hashes,
        ).persist()
        cand.count()  # materialize before the broadcast subtrees build
        return _finalize_unpersist(
            _verify_pairs(shmin.select("doc_id", "sh"), cand, threshold_pct),
            [shmin, cand],
        )
    sig = shingler(slim, False, True).persist()
    cand = lsh_candidate_pairs(sig, rows_per_band=rows_per_band, num_hashes=num_hashes)
    cand = cand.persist()
    # materialize the caches with one action before the join plan builds:
    # the broadcast subtrees otherwise evaluate concurrently with the main
    # plan and race the cache population — the signature kernel and the
    # band join were measured running ~1.4x redundantly without this
    cand.count()
    cand_ids = (
        cand.select(F.col("doc_a").alias("__nd_id"))
        .union(cand.select(F.col("doc_b").alias("__nd_id")))
        .distinct()
    )
    docs_c = slim.join(F.broadcast(cand_ids), "__nd_id", "left_semi")
    shc = shingler(docs_c, True, False).persist()  # verify reads only the shingle sets
    return _finalize_unpersist(_verify_pairs(shc, cand, threshold_pct), [sig, cand, shc])


def _verify_pairs(
    sh_df: DataFrame,
    cand: DataFrame,
    threshold_pct: int,
    sh_df_b: DataFrame | None = None,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    broadcast_b: bool = False,
) -> DataFrame:
    """Exact integer-jaccard verification of candidate pairs.

    ``sh_df`` is a (doc_id, sh) table covering at least every candidate id;
    it is pruned to candidate ids with BROADCAST semi-joins (8 B/id) before
    the wide join, so shingle arrays of non-candidate documents never
    shuffle — the verify stage's cost is proportional to the candidate set,
    not the corpus.  Callers persist/materialize ``sh_df`` and ``cand``
    (both feed multiple plan branches).

    ``sh_df_b`` serves the CROSS-corpus case (decontaminate): the b side
    reads a different shingle table, and ``broadcast_b=True`` ships it
    whole (small eval corpora) instead of semi-pruning.  The integer
    jaccard threshold formula lives only here — both the symmetric and
    the cross-corpus operators share it.
    """
    sa = sh_df.select(F.col("doc_id").alias(a_col), F.col("sh").alias("sh_a"))
    sb_src = sh_df if sh_df_b is None else sh_df_b
    sb = sb_src.select(F.col("doc_id").alias(b_col), F.col("sh").alias("sh_b"))
    sa = sa.join(F.broadcast(cand.select(a_col).distinct()), a_col, "left_semi")
    if broadcast_b:
        joined = cand.join(sa, a_col).join(F.broadcast(sb), b_col)
    else:
        sb = sb.join(F.broadcast(cand.select(b_col).distinct()), b_col, "left_semi")
        joined = cand.join(sa, a_col).join(sb, b_col)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    return (
        joined.filter((100 * inter) >= (threshold_pct * union))
        .select(a_col, b_col)
    )


def _finalize_unpersist(res: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """Materialize ``res`` (small by construction: flagged pairs), then
    release the corpus-sized cached intermediates feeding it.  Without this
    every call leaks persisted storage for the session lifetime — in a
    long-lived driver (or a bench loop) that accumulates until executor
    heap OOM.  The returned result itself stays cached (it must — its
    lineage now points at unpersisted frames); callers looping over many
    corpora should ``res.unpersist()`` when done with each result.
    """
    res = res.persist()
    res.count()
    for c in caches:
        c.unpersist()
    return res


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 70,
    k: int = 3,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    metric: str = "jaccard",
    eval_broadcast_max_shingles: int = 8_000_000,
) -> DataFrame:
    """Training docs that leak evaluation content (cross-corpus near-dup).

    The benchmark-decontamination step of an LLM data pipeline: find
    (train_id, eval_id) pairs whose k-shingle overlap clears
    ``threshold_pct``, exact integer verify — feed the train ids to a
    ``left_anti`` join to clean the corpus.

    ``metric="jaccard"`` is the symmetric near-dup test;
    ``metric="containment"`` scores ``|A ∩ E| / |E|`` against the EVAL
    doc's shingle set — the right test when a short eval item is embedded
    inside a longer training document (jaccard would dilute it).

    Scale shape: eval corpora are small (benchmarks), so every eval-side
    artifact is BROADCAST and the train corpus never shuffles documents.
    Jaccard mode runs the signatures-only corpus pass (~1 KB/doc cached),
    generates candidates with a broadcast hash join on MinHash band keys,
    then RECOMPUTES shingle sets for candidate train docs only before the
    integer verify — the heavy per-doc sets are never materialized for
    the non-candidate bulk (the ``neardup_pairs`` verify="recompute"
    strategy).  Containment mode skips MinHash ENTIRELY — symmetric LSH
    provably misses a small eval doc embedded in a long train doc (the
    pair's jaccard is tiny, so bands never collide); instead train
    shingles stream uncached through a broadcast inner join against the
    eval shingle table, so only MATCHING shingles survive to the
    (train_id, eval_id) count — exact containment, shuffle volume
    proportional to actual overlap, not the corpus.

    ``eval_broadcast_max_shingles`` bounds the containment-mode broadcast:
    the exploded eval shingle table costs ~16 B/shingle on every executor,
    so the default 8 M (~128 MB) covers any realistic benchmark suite.  An
    oversized "eval" corpus falls back to a shuffled shingle join — same
    exact result, shuffle volume ~ both exploded sides.
    """
    return _decontaminate_impl(
        shingle_minhash, train_df, eval_df, text_col, id_col, k, num_hashes, threshold_pct,
        rows_per_band, metric, eval_broadcast_max_shingles,
    )


def _decontaminate_impl(
    kernel,
    train_df: DataFrame,
    eval_df: DataFrame,
    payload_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    threshold_pct: int,
    rows_per_band: int,
    metric: str,
    eval_broadcast_max_shingles: int,
) -> DataFrame:
    """Shared cross-corpus leak-detection pipeline (text and token paths).

    ``kernel`` (via :func:`_nd_shingler`) produces the (doc_id[, sh][,
    sig]) table for either corpus; everything downstream — broadcast
    eval-side artifacts, signatures-only train pass with candidate-pruned
    shingle recompute (jaccard), exploded-shingle broadcast join
    (containment), shared integer verify — is payload-agnostic.
    """
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown metric {metric!r}")
    tr = _nd_project(train_df, id_col, payload_col)
    ev = _nd_project(eval_df, id_col, payload_col)
    shingler = _nd_shingler(kernel, k, num_hashes)
    shm_e = shingler(ev, True, metric == "jaccard").persist()
    shm_e.count()  # materialize before the broadcast subtrees build
    if metric == "containment":
        # single streaming pass over train shingles (never cached): only
        # shingles MATCHING the broadcast eval table survive the inner
        # join, so shuffle volume tracks actual overlap, not the corpus
        shm_t = shingler(tr, True, False)
        t_sh = shm_t.select(F.col("doc_id").alias("train_id"), F.explode("sh").alias("__s"))
        e_sh = shm_e.select(F.col("doc_id").alias("eval_id"), F.explode("sh").alias("__s"))
        e_cnt = shm_e.select(
            F.col("doc_id").alias("eval_id"), F.size("sh").cast("long").alias("__ne")
        )
        # broadcast-size guard: shm_e is already persisted, so the shingle
        # count is one cheap agg.  Above the bound the exploded eval table
        # would blow every executor's broadcast memory -> plain shuffle
        # join (same exact result, shuffle ~ both exploded sides).
        n_ev_sh = shm_e.agg(F.sum(F.size("sh"))).collect()[0][0] or 0
        e_side = F.broadcast(e_sh) if n_ev_sh <= eval_broadcast_max_shingles else e_sh
        inter = (
            t_sh.join(e_side, "__s")
            .groupBy("train_id", "eval_id")
            .agg(F.count("*").cast("long").alias("__i"))
        )
        res = (
            inter.join(F.broadcast(e_cnt), "eval_id")
            .filter((100 * F.col("__i")) >= (threshold_pct * F.col("__ne")))
            .select("train_id", "eval_id")
        )
        return _finalize_unpersist(res, [shm_e])
    # jaccard: the 10^12-doc shape — corpus-wide pass computes SIGNATURES
    # only (~1 KB/doc, never cached: the band table below is its ONLY
    # consumer, so persisting it just paid one extra full kernel pass);
    # the heavy per-doc shingle sets are recomputed for CANDIDATE train
    # docs only (broadcast-semi-pruned), so they are never materialized
    # for the non-candidate bulk (the neardup_pairs verify="recompute"
    # strategy)
    sig_t = shingler(tr, False, True)
    bt = _sig_bands(sig_t.select("doc_id", "sig"), rows_per_band, num_hashes)
    be = _sig_bands(shm_e.select("doc_id", "sig"), rows_per_band, num_hashes).withColumnRenamed(
        "doc_id", "eval_id"
    )
    cand = (
        bt.join(F.broadcast(be), ["band_idx", "band_hash"])
        .select(F.col("doc_id").alias("train_id"), "eval_id")
        .distinct()
        .persist()
    )
    cand.count()
    cand_ids = cand.select(F.col("train_id").alias("__nd_id")).distinct()
    docs_c = tr.join(F.broadcast(cand_ids), "__nd_id", "left_semi")
    shc = shingler(docs_c, True, False).persist()
    res = _verify_pairs(
        shc, cand, threshold_pct,
        sh_df_b=shm_e.select("doc_id", "sh"),
        a_col="train_id", b_col="eval_id", broadcast_b=True,
    )
    return _finalize_unpersist(res, [shm_e, cand, shc])


def corpus_report(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-row corpus health report: dedup pressure, quality, language mix.

    The corpus-level analog of ``analyze_and_recommend`` (reference
    ``config.ex:26-172``) for text tables — what you run BEFORE deciding to
    dedup/filter.  All integer-exact (engine-reproducible): duplicate rate
    as a percentage of rows, mean quality via integer division, stopword-
    argmax language counts.
    """
    q = quality_score(df, text_col=text_col, id_col=id_col)
    langs = lang_id(df, text_col=text_col, id_col=id_col)
    base = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__h"), F.length(text_col).alias("__len")
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("__h").cast("long").alias("n_distinct"),
        F.sum("__len").cast("long").alias("total_chars"),
    )
    qagg = q.agg(F.sum("quality").cast("long").alias("qsum"), F.count("*").alias("qn"))
    lagg = langs.groupBy().pivot("lang_pred", ["en", "es", "de", "fr"]).count().na.fill(0)
    out = agg.crossJoin(qagg).crossJoin(lagg)
    return out.select(
        "n_docs",
        "n_distinct",
        # guard the empty corpus: Spark 4 ANSI throws DIVIDE_BY_ZERO
        F.expr(
            "CASE WHEN n_docs = 0 THEN 0L"
            " ELSE ((n_docs - n_distinct) * 100) div n_docs END"
        ).cast("long").alias("dup_pct"),
        F.coalesce(F.col("total_chars"), F.lit(0)).cast("long").alias("total_chars"),
        F.expr("CASE WHEN qn = 0 THEN 0L ELSE qsum div qn END")
        .cast("long")
        .alias("mean_quality"),
        F.coalesce(F.col("en"), F.lit(0)).cast("long").alias("n_en"),
        F.coalesce(F.col("es"), F.lit(0)).cast("long").alias("n_es"),
        F.coalesce(F.col("de"), F.lit(0)).cast("long").alias("n_de"),
        F.coalesce(F.col("fr"), F.lit(0)).cast("long").alias("n_fr"),
    )


def token_shingle_minhash(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 128,
    with_sh: bool = True,
    with_sig: bool = True,
) -> DataFrame:
    """(doc_id, sh, sig) for TOKEN-ARRAY documents — the engine's native
    data model.  Same :func:`_shingle_kernel` as :func:`shingle_minhash`,
    but the k-gram rolling combine runs over the raw token values (zero-copy
    Arrow flatten, no string hashing at all): the cheapest near-dup path
    when the corpus is already tokenized.
    """

    def units(rb):
        from gorilla_stream_spark.engine import _flatten_arrow, _token_batch_slices

        for part in _token_batch_slices(rb, 1):
            flat, lens = _flatten_arrow(part.column(1))
            yield part.column(0).to_numpy(zero_copy_only=False), flat.view(np.uint64), lens

    slim = df.select(F.col(id_col).cast("long").alias("doc_id"), F.col(tokens_col))
    return _shingle_kernel(slim, units, k, num_hashes, with_sh, with_sig, "token_shingle_minhash")


def decontaminate_tokens(
    train_df: DataFrame,
    eval_df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    threshold_pct: int = 70,
    k: int = 3,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    metric: str = "jaccard",
    eval_broadcast_max_shingles: int = 8_000_000,
) -> DataFrame:
    """:func:`decontaminate` over TOKEN-ARRAY corpora — the engine's native
    data model; a tokenized training set cannot ride the text path without
    detokenizing.  Same scale shape (broadcast eval side, signatures-only
    train pass with candidate recompute, exact containment via exploded
    token k-grams) through the shared pipeline; k-gram jaccard /
    containment of token sequences.
    """
    return _decontaminate_impl(
        token_shingle_minhash, train_df, eval_df, tokens_col, id_col, k, num_hashes,
        threshold_pct, rows_per_band, metric, eval_broadcast_max_shingles,
    )


def neardup_pairs_tokens(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    threshold_pct: int = 70,
    k: int = 3,
    num_hashes: int = 128,
    rows_per_band: int = 2,
) -> DataFrame:
    """:func:`neardup_pairs` over token-array documents (k-gram jaccard of
    token sequences instead of word shingles)."""
    return _neardup_impl(
        token_shingle_minhash, df, tokens_col, id_col, k, num_hashes, threshold_pct,
        rows_per_band, "cached",
    )


def token_stats(
    df: DataFrame, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc stats of the NATIVE token-array table (the engine's input
    shape, BASELINE input_hint): counts, vocabulary, value range, checksum
    — all JVM array expressions, integer-exact, no Python.  Docs with empty
    token arrays are excluded (no stats are defined on them; ``validate``
    flags them upstream)."""
    return df.filter(F.size(tokens_col) > 0).select(
        F.col(id_col),
        F.size(tokens_col).cast("long").alias("n_tok"),
        F.size(F.array_distinct(tokens_col)).cast("long").alias("n_distinct_tok"),
        F.array_min(tokens_col).cast("long").alias("min_tok"),
        F.array_max(tokens_col).cast("long").alias("max_tok"),
        F.expr(f"aggregate({tokens_col}, 0L, (a, t) -> a + t)").alias("sum_tok"),
    )


# ---------------------------------------------------------------------------
# Exact substring-duplication spans (rolling token windows)
# ---------------------------------------------------------------------------


_RH_B = 0x9E3779B97F4A7C15  # odd multiplier (invertible mod 2^64)
_RH_B2 = 0xC2B2AE3D27D4EB4F | 1  # independent radix for the anchor hash

# duplicate_spans: duplicated-hash sets up to this many entries attach to
# the window table via broadcast (8 B/hash -> ~64 MB at the cap); beyond it
# the attach falls back to a shuffle join (identical rows)
_DUP_BROADCAST_MAX = 8_000_000


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — bijective, so it de-structures the
    polynomial hash without changing its collision set."""
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


_RH_CHUNK = 1 << 17  # 128K elements: every per-chunk temporary stays ~1 MB
_RH_POWS: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _rh_pows(radix: int) -> tuple[np.ndarray, np.ndarray]:
    """Chunk-local (B^i, B^-i) tables for i < _RH_CHUNK — computed once per
    worker per radix and reused forever (B odd ⇒ invertible mod 2^64)."""
    cached = _RH_POWS.get(radix)
    if cached is not None:
        return cached
    B = np.uint64(radix)
    Binv = np.uint64(pow(radix, -1, 1 << 64))
    powB = np.ones(_RH_CHUNK, dtype=np.uint64)
    if _RH_CHUNK > 1:
        powB[1:] = np.cumprod(np.full(_RH_CHUNK - 1, B, dtype=np.uint64))
    powBinv = np.ones(_RH_CHUNK, dtype=np.uint64)
    if _RH_CHUNK > 1:
        powBinv[1:] = np.cumprod(np.full(_RH_CHUNK - 1, Binv, dtype=np.uint64))
    _RH_POWS[radix] = (powB, powBinv)
    return powB, powBinv


def _rolling_hashes(flat: np.ndarray, n: int, k: int, radix: int) -> np.ndarray:
    """All k-window polynomial hashes of ``flat`` (uint64, wraparound):
    prefix sums of ``t[j]*B^j`` normalized by ``B^-i`` (B odd ⇒ invertible
    mod 2^64) give every window — the Rabin-Karp rolling hash, batch-
    vectorized.  Returns H where H[i] = mix64(Σ_{j<k} flat[i+j]·B^j);
    windows crossing doc boundaries are present but the caller never
    selects them.

    Computed CHUNKWISE (1 MB temporaries, cached power tables, carry
    propagation — every step exact mod 2^64, so output is bit-identical to
    the whole-array formulation): the straightforward version allocated
    ~10 n-sized uint64 temporaries per call, and under 32 concurrent
    workers the resulting mmap/page-fault churn plus DRAM traffic made the
    kernel ~10x slower than its single-process speed (see engine
    _KERNEL_SLICE_TOKENS).  Chunking keeps the working set cache-resident
    and the worker heap warm."""
    powB, powBinv = _rh_pows(radix)
    # chunk-step exponents as python ints mod 2^64 (scalar uint64 numpy
    # multiplies would raise overflow RuntimeWarnings; array ops wrap
    # silently and exactly)
    mod = 1 << 64
    b_step = pow(radix, _RH_CHUNK, mod)
    binv_step = pow(pow(radix, -1, mod), _RH_CHUNK, mod)
    u = flat.view(np.uint64) if flat.dtype == np.int64 else flat.astype(np.uint64)
    pref = np.empty(n + 1, dtype=np.uint64)
    pref[0] = 0
    t = np.empty(min(_RH_CHUNK, n), dtype=np.uint64)
    base = 1  # B^s for the current chunk start s
    for s in range(0, n, _RH_CHUNK):
        e = min(s + _RH_CHUNK, n)
        c = e - s
        tc = t[:c]
        np.multiply(u[s:e], powB[:c], out=tc)
        if base != 1:
            np.multiply(tc, np.uint64(base), out=tc)
        np.cumsum(tc, out=pref[s + 1 : e + 1])
        if s:
            pref[s + 1 : e + 1] += pref[s]
        base = (base * b_step) % mod
    m = n - k + 1  # window count (callers guarantee n >= k)
    out = np.empty(m, dtype=np.uint64)
    ibase = 1  # B^-s for the current chunk start s
    M1 = np.uint64(0xBF58476D1CE4E5B9)
    M2 = np.uint64(0x94D049BB133111EB)
    for s in range(0, m, _RH_CHUNK):
        e = min(s + _RH_CHUNK, m)
        c = e - s
        w = out[s:e]
        np.subtract(pref[s + k : e + k], pref[s:e], out=w)
        np.multiply(w, powBinv[:c], out=w)
        if ibase != 1:
            np.multiply(w, np.uint64(ibase), out=w)
        # in-place splitmix64 finalizer — identical to _mix64
        sc = t[:c]
        np.right_shift(w, np.uint64(30), out=sc)
        np.bitwise_xor(w, sc, out=w)
        np.multiply(w, M1, out=w)
        np.right_shift(w, np.uint64(27), out=sc)
        np.bitwise_xor(w, sc, out=w)
        np.multiply(w, M2, out=w)
        np.right_shift(w, np.uint64(31), out=sc)
        np.bitwise_xor(w, sc, out=w)
        ibase = (ibase * binv_step) % mod
    return out


def _window_table(
    df: DataFrame,
    tokens_col: str,
    id_col: str,
    k: int,
    stride: int,
    anchored: bool,
    anchor_gram: int,
    hashes_only: bool = False,
    match_bc=None,
) -> DataFrame:
    """Exploded (id, pos, wh) window table via ONE vectorized Arrow pass.

    Spark's higher-order-function lambdas run interpreted (no codegen), so
    hashing every window via ``transform``/``slice`` costs ~100x a numpy
    rolling hash over the same flat batch — this kernel computes all
    window hashes (and, when ``anchored``, all ``anchor_gram``-token
    anchor hashes with an independent radix) in O(tokens) per batch, then
    emits only the selected positions.  ``anchored`` keeps positions whose
    anchor hash ≡ 0 (mod stride): content-defined, so off-phase copies of
    a span still collide (the rsync/CDC trick; fixed stride only matches
    same-alignment copies).
    """
    import pyarrow as pa

    from gorilla_stream_spark.engine import _flatten_arrow, _token_batch_slices

    g = min(anchor_gram, k)

    def selected(rb):
        """(ids_arrow, doc_idx, pos, selected window hashes) for one batch."""
        ids = rb.column(0)
        flat, lens = _flatten_arrow(rb.column(1))
        n = int(flat.size)
        if n == 0 or n < k:
            return None
        wh = _rolling_hashes(flat, n, k, _RH_B)
        starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
        m = np.maximum(lens - k + 1, 0)  # windows per doc
        total = int(m.sum())
        if total == 0:
            return None
        doc_idx = np.repeat(np.arange(lens.size), m)
        pos = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(m)))[:-1], m
        )
        gpos = starts[doc_idx] + pos  # global window start
        if stride > 1:
            if anchored:
                ah = _rolling_hashes(flat, n, g, _RH_B2)
                keep = ah[gpos] % np.uint64(stride) == 0
            else:
                keep = pos % stride == 0
            doc_idx, pos, gpos = doc_idx[keep], pos[keep], gpos[keep]
        if pos.size == 0:
            return None
        return ids, doc_idx, pos, wh[gpos]

    def fn(batches):
        for rb0 in batches:
          for rb in _token_batch_slices(rb0, 1):
            sel = selected(rb)
            if sel is None:
                continue
            ids, doc_idx, pos, whs = sel
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(doc_idx)).cast(pa.string()),
                    pa.array(pos.astype(np.int32), pa.int32()),
                    pa.array(whs.view(np.int64), pa.int64()),
                ],
                names=["__sd_id", "pos", "wh"],
            )

    def fn_match(batches):
        # match mode: the duplicated-hash set rides a task broadcast as one
        # sorted int64 array; membership is a vectorized searchsorted, so
        # ONLY duplicated-window rows (rare by nature) ever cross the Arrow
        # boundary — no join, no full window table materialized anywhere.
        dup_sorted = match_bc.value
        for rb0 in batches:
          for rb in _token_batch_slices(rb0, 1):
            if dup_sorted.size == 0:
                continue
            sel = selected(rb)
            if sel is None:
                continue
            ids, doc_idx, pos, whs = sel
            w64 = whs.view(np.int64)
            p = np.minimum(np.searchsorted(dup_sorted, w64), dup_sorted.size - 1)
            hit = dup_sorted[p] == w64
            if not hit.any():
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(doc_idx[hit])).cast(pa.string()),
                    pa.array(pos[hit].astype(np.int32), pa.int32()),
                    pa.array(w64[hit], pa.int64()),
                ],
                names=["__sd_id", "pos", "wh"],
            )

    def fn_counts(batches):
        # counting mode: per-TASK partial aggregation of window-hash counts
        # (np.unique over the task's selected hashes), so the duplicate-hash
        # shuffle carries one (wh, cnt) row per distinct hash per task —
        # never doc ids or positions.  This is the dup-detection analog of
        # vocab.token_counts' map-side combine.
        parts: list[np.ndarray] = []
        for rb0 in batches:
          for rb in _token_batch_slices(rb0, 1):
            sel = selected(rb)
            if sel is not None:
                parts.append(sel[3])
        if parts:
            uniq, cnt = np.unique(np.concatenate(parts), return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(uniq.view(np.int64), pa.int64()),
                    pa.array(cnt.astype(np.int64), pa.int64()),
                ],
                names=["wh", "cnt"],
            )

    slim = df.select(F.col(id_col).cast("string"), tokens_col)
    if hashes_only:
        return slim.mapInArrow(fn_counts, "wh long, cnt long")
    if match_bc is not None:
        return slim.mapInArrow(fn_match, "__sd_id string, pos int, wh long")
    return slim.mapInArrow(fn, "__sd_id string, pos int, wh long")


def duplicate_spans(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    k: int = 50,
    stride: int = 1,
    min_count: int = 2,
    keep_first: bool = False,
    anchored: bool = False,
    anchor_gram: int = 8,
) -> DataFrame:
    """Exact substring-level duplication: find every maximal span of ``k``
    or more tokens that occurs ``min_count``+ times across the corpus (the
    suffix-array dedup of "Deduplicating Training Data Makes Language
    Models Better", re-expressed for Spark as rolling hashed windows —
    MinHash/SimHash near-dup misses VERBATIM spans embedded in otherwise
    distinct documents; this catches them).

    Shape: each doc emits 64-bit rolling hashes of its length-``k`` token
    windows (one vectorized Arrow pass, O(tokens) — see
    :func:`_window_table`; Spark HOF lambdas are interpreted and cost
    ~100x on this per-position workload).  A window hash seen ``min_count``+ times
    marks all its positions (minus the first occurrence — min ``(doc, pos)``
    — when ``keep_first``); per doc, marked positions merge into maximal
    spans with linear array HOFs.

    Scale: the only corpus-sized shuffle is the duplicate-hash COUNT — the
    kernel pre-aggregates per task, so it moves one 16-byte ``(wh, cnt)``
    row per distinct hash per task and hash-aggregates (no sort, no ids,
    no positions).  The surviving duplicated hashes (rare by nature)
    broadcast back onto a second kernel pass of the window table — the
    re-scan is O(tokens) vectorized work, far cheaper than shuffling the
    wide (id, pos, hash) table — and only duplicated-window rows reach the
    doc-level regroup.  Degenerate corpora whose dup-hash set exceeds the
    broadcast budget fall back to a shuffle join (identical rows).  ``stride > 1`` bounds the window table at
    1/stride; set ``anchored=True`` with it so off-phase copies still
    collide (fixed stride detects only same-alignment duplicates).  Spans
    shorter than ``k + stride - 1`` tokens can be missed at stride > 1 —
    the standard recall trade-off; stride=1 is exact.

    Returns one row per doc with at least one duplicated window:
    ``(id_col, spans array<struct<s,e>>, n_dup_windows, n_spans,
    dup_tokens)`` — spans are [s, e) 0-based token positions,
    ``dup_tokens`` the number of covered positions.

    Exactness caveat: window equality is decided by 64-bit rolling-hash
    equality without re-verifying token content, so two DIFFERENT windows
    collide with probability ~2^-64 per pair.  At ~10^12 windows the
    birthday bound yields an expected handful of false duplicate windows
    corpus-wide (each marking one k-token span spuriously); treat
    "exact" as exact-up-to-2^-64-hash-collisions at that scale, or run a
    content compare over the (tiny) flagged span set before destructive
    stripping.
    """
    if k < 1 or stride < 1 or min_count < 2:
        raise ValueError(f"bad k={k} stride={stride} min_count={min_count}")
    # Pass 1 — find DUPLICATED window hashes only.  The kernel's counting
    # mode emits per-task (wh, cnt) partials, so the only corpus-sized
    # shuffle carries 16-byte rows hash-aggregated (no sort, no doc ids, no
    # positions); the old shape shuffled AND SORTED the full (id, pos, wh)
    # window table under a Window function — ~3x the bytes plus an O(W log W)
    # sort for what is a pure counting question.
    counts = _window_table(
        df, tokens_col, id_col, k, stride, anchored, anchor_gram, hashes_only=True
    )
    dup = (
        counts.groupBy("wh")
        .agg(F.sum("cnt").alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("wh")
        .persist()
    )
    n_dup = dup.count()
    # Pass 2 — re-run the window kernel (O(tokens) vectorized; the re-scan
    # is far cheaper than shuffling the wide (id, pos, wh) table) with the
    # duplicated-hash set as a task-broadcast sorted array: membership is
    # one searchsorted per batch and ONLY duplicated-window rows (rare by
    # nature) are emitted — no join, no full window table anywhere.  A
    # degenerate corpus past the broadcast budget falls back to a shuffle
    # join of the full window table (identical rows).
    broadcastable = n_dup <= _DUP_BROADCAST_MAX
    if broadcastable:
        dup_arr = np.sort(dup.toPandas()["wh"].to_numpy(np.int64))
        dup.unpersist()
        bc = df.sparkSession.sparkContext.broadcast(dup_arr)
        m = _window_table(
            df, tokens_col, id_col, k, stride, anchored, anchor_gram, match_bc=bc
        )
    else:
        w = _window_table(df, tokens_col, id_col, k, stride, anchored, anchor_gram)
        m = w.join(dup, "wh")
    if keep_first:
        byh = Window.partitionBy("wh")
        m = m.withColumn(
            "__first", F.min(F.struct("__sd_id", "pos")).over(byh)
        ).filter(
            (F.col("__sd_id") != F.col("__first.__sd_id"))
            | (F.col("pos") != F.col("__first.pos"))
        )
    ps = m.groupBy("__sd_id").agg(F.sort_array(F.collect_set("pos")).alias("ps"))
    # maximal spans: a new span starts where the gap to the previous marked
    # position exceeds k (touching windows merge); linear HOFs, no O(n^2)
    # accumulator slicing
    spans = F.expr(
        "zip_with("
        f" filter(transform(ps, (p, i) -> IF(i = 0 OR p - element_at(ps, i) > {k}, p, -1)),"
        "         x -> x >= 0),"
        f" filter(transform(ps, (p, i) -> IF(i = size(ps) - 1 OR element_at(ps, i + 2) - p > {k},"
        f"                                   p + {k}, -1)), x -> x >= 0),"
        " (s, e) -> named_struct('s', s, 'e', e))"
    )
    res = ps.select(
        F.col("__sd_id").alias(id_col),
        spans.alias("spans"),
        F.size("ps").cast("long").alias("n_dup_windows"),
    ).select(
        id_col,
        "spans",
        "n_dup_windows",
        F.size("spans").alias("n_spans"),
        F.expr("aggregate(spans, 0L, (a, sp) -> a + sp.e - sp.s)").alias("dup_tokens"),
    )
    if broadcastable:
        # the broadcast path's lineage references only the task broadcast —
        # res stays LAZY (re-evaluation re-runs just the pass-2 kernel)
        return res
    return _finalize_unpersist(res, [dup])


def strip_duplicate_spans(
    df: DataFrame,
    spans_df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove the token positions covered by :func:`duplicate_spans` output
    (run it with ``keep_first=True`` to retain one copy of each duplicated
    span corpus-wide).  Docs without spans pass through unchanged; other
    columns are preserved.  Left join on the doc id (spans side is the
    aggregated span table — tiny next to the corpus; AQE broadcasts it when
    it fits), then one JVM filter pass per doc — ``O(n_tok * n_spans)``
    comparisons, spans per doc are few by construction (merged maximal)."""
    joined = df.join(
        spans_df.select(F.col(id_col).alias("__sd_jid"), "spans"),
        on=[df[id_col] == F.col("__sd_jid")],
        how="left",
    )
    cleaned = F.expr(
        f"CASE WHEN spans IS NULL THEN {tokens_col} ELSE "
        f"transform(filter(transform({tokens_col}, (t, i) -> named_struct('t', t, 'i', i)),"
        f"  x -> NOT exists(spans, sp -> x.i >= sp.s AND x.i < sp.e)), x -> x.t)"
        " END"
    )
    out_cols = [
        cleaned.alias(tokens_col) if c == tokens_col else df[c] for c in df.columns
    ]
    return joined.select(*out_cols)
