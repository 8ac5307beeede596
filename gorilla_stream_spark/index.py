"""Block-level token membership index — zone maps + bloom filters.

"Which documents contain token T?" is the grep of a tokenized corpus
(tracing a contaminated id, counting a special token, auditing a vocab
change).  Without an index it costs a full decode of every block; at 100 TB
that is the whole table.  This module gives encoded tables the classic
warehouse answer (zone maps + blocked bloom filters, the same structures
Parquet/ORC keep per row group — see also the reference's per-block
metadata envelope, ``encoder/metadata.ex:55-125``, which stores only
count/bounds and cannot prune on content):

* ``build_token_index`` — one decode pass over the encoded table emitting a
  TINY per-block summary: ``(block_id, tok_min, tok_max, n_distinct,
  bloom)`` where ``bloom`` is a ``bloom_words x 64``-bit filter over the
  block's DISTINCT tokens (k independent splitmix64-derived probes).  The
  index is O(blocks), ~100 B/block — a 100 TB table's index fits one
  executor, let alone a table scan.
* ``prune_blocks_for_token`` — evaluates the zone-map range check and all k
  bloom probes as PURE JVM expressions over the index (``shiftright`` +
  bit-mask on the ``array<long>`` words — no Python, no decode), then
  broadcast-semi-joins the surviving block ids against the encoded table.
* ``find_docs_with_token`` — decodes ONLY the surviving blocks and counts
  per-doc occurrences vectorized (``flatnonzero`` + ``searchsorted`` into
  the doc-offset array).  Bloom false positives cost a wasted block decode,
  never a wrong answer; false negatives cannot happen (every distinct token
  sets its bits).

Scale design: the index build is a map-only pass (no shuffle); the prune is
an index-only JVM scan; the search shuffles nothing but the final
``(doc_id, n_hits)`` rows.  The candidate-id broadcast carries 8 B/block —
bounded by the index size, not the data.

Incremental maintenance: index rows are pure per-block functions keyed by
``block_id``, so an appended table needs only ``build_token_index(new
blocks)`` unioned with the existing index — never a rebuild (the batch
test asserts union == full rebuild).  After ``compact_blocks`` re-index
just the compacted part_id namespace the same way.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gorilla_stream_spark.codecs import register_container_dict
from gorilla_stream_spark.engine import _decode_block_checked, _decode_docs_checked

__all__ = [
    "build_token_index",
    "prune_blocks_for_token",
    "find_docs_with_token",
    "find_docs_with_phrase",
]

DEFAULT_BLOOM_WORDS = 8  # 512 bits
DEFAULT_BLOOM_K = 4

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constants)."""
    with np.errstate(over="ignore"):
        x = (x + _SM_GAMMA).astype(np.uint64)
        x ^= x >> np.uint64(30)
        x *= _SM_M1
        x ^= x >> np.uint64(27)
        x *= _SM_M2
        x ^= x >> np.uint64(31)
    return x


def _bloom_positions(tokens: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """(k, n) bit positions for each token: k seeded splitmix64 probes."""
    t = tokens.astype(np.int64).view(np.uint64)
    out = np.empty((k, t.size), dtype=np.uint64)
    for j in range(k):
        with np.errstate(over="ignore"):
            seeded = t + np.uint64(j) * _SM_M2
        out[j] = _splitmix64(seeded) % np.uint64(n_bits)
    return out


def build_token_index(
    enc_df: DataFrame,
    bloom_words: int = DEFAULT_BLOOM_WORDS,
    k: int = DEFAULT_BLOOM_K,
    strict: bool = True,
    container_dict: bytes | None = None,
) -> DataFrame:
    """Per-block zone map + bloom filter over distinct tokens.

    Output ``(block_id, tok_min, tok_max, n_distinct, bloom_words, k,
    bloom array<long>)`` — self-describing (the search side reads the
    parameters back from the index, so a persisted index never needs its
    build arguments remembered).  Map-only: one decode pass, no shuffle.
    """
    import pyarrow as pa

    if bloom_words < 1 or k < 1 or k > 16:
        raise ValueError("bloom_words >= 1 and 1 <= k <= 16 required")
    n_bits = bloom_words * 64

    out_schema = pa.schema(
        [
            ("block_id", pa.int64()),
            ("tok_min", pa.int32()),
            ("tok_max", pa.int32()),
            ("n_distinct", pa.int32()),
            ("bloom_words", pa.int32()),
            ("k", pa.int32()),
            ("bloom", pa.list_(pa.int64())),
        ]
    )

    def fn(batches: Iterator) -> Iterator:
        register_container_dict(container_dict)
        for rb in batches:
            names = rb.schema.names
            col = {n: rb.column(i) for i, n in enumerate(names)}
            cols: dict[str, list] = {n: [] for n in out_schema.names}
            for i in range(rb.num_rows):
                flat = _decode_block_checked(col, i, strict)
                if flat.size == 0:
                    continue
                uniq = np.unique(flat)
                pos = _bloom_positions(uniq, n_bits, k).ravel()
                words = np.zeros(bloom_words, dtype=np.uint64)
                np.bitwise_or.at(
                    words, (pos >> np.uint64(6)).astype(np.int64),
                    np.uint64(1) << (pos & np.uint64(63)),
                )
                cols["block_id"].append(col["block_id"][i].as_py())
                cols["tok_min"].append(int(uniq[0]))
                cols["tok_max"].append(int(uniq[-1]))
                cols["n_distinct"].append(int(uniq.size))
                cols["bloom_words"].append(bloom_words)
                cols["k"].append(k)
                cols["bloom"].append(words.view(np.int64))
            if cols["block_id"]:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(cols[n], type=out_schema.field(n).type)
                        for n in out_schema.names
                    ],
                    schema=out_schema,
                )

    needed = ["block_id", "crc32_raw", "buffer"]
    if strict and "crc32_buf" in enc_df.columns:
        needed.insert(-1, "crc32_buf")
    return enc_df.select(*needed).mapInArrow(
        fn,
        "block_id long, tok_min int, tok_max int, n_distinct int,"
        " bloom_words int, k int, bloom array<long>",
    )


def _index_params(index_df: DataFrame) -> list[tuple[int, int]]:
    """Distinct (bloom_words, k) build-parameter groups of the index.

    A unioned index (the documented incremental-maintenance shape) may mix
    parameters; probes must be computed PER GROUP and OR'd, or rows built
    with other parameters would be silently excluded — a false negative,
    violating the 'false positives waste a decode, never a wrong answer'
    contract.  Bounded: more than 16 groups is a mis-assembled index."""
    r = index_df.agg(
        F.min("bloom_words").alias("bw0"), F.max("bloom_words").alias("bw1"),
        F.min("k").alias("k0"), F.max("k").alias("k1"),
    ).first()
    if r is None or r["bw0"] is None:
        return [(DEFAULT_BLOOM_WORDS, DEFAULT_BLOOM_K)]  # empty index
    if r["bw0"] == r["bw1"] and r["k0"] == r["k1"]:
        return [(int(r["bw0"]), int(r["k0"]))]  # homogeneous (the normal case)
    rows = index_df.select("bloom_words", "k").distinct().limit(17).collect()
    if len(rows) > 16:
        raise ValueError(
            "token index mixes >16 distinct (bloom_words, k) parameter"
            " groups — rebuild it instead of unioning further"
        )
    return sorted((int(row["bloom_words"]), int(row["k"])) for row in rows)


def _candidate_filter(token: int, bloom_words: int, k: int):
    """Zone-map + k bloom probes as one JVM boolean expression."""
    n_bits = bloom_words * 64
    pos = _bloom_positions(np.array([token], dtype=np.int64), n_bits, k)[:, 0]
    cond = (F.col("tok_min") <= F.lit(int(token))) & (
        F.col("tok_max") >= F.lit(int(token))
    )
    # mismatched build params would silently false-negative; gate per row
    cond = cond & (F.col("bloom_words") == bloom_words) & (F.col("k") == k)
    for p in pos.tolist():
        word, bit = int(p) >> 6, int(p) & 63
        cond = cond & (
            F.shiftright(F.element_at("bloom", word + 1), bit).bitwiseAND(1) == 1
        )
    return cond


PUSHDOWN_CANDIDATE_LIMIT = 8192
"""Below this many surviving blocks the prune becomes a LITERAL ``IN``
filter instead of a broadcast join: a literal predicate reaches the
parquet scan (``PushedFilters: In(block_id, ...)``), so row groups whose
``block_id`` stats miss every candidate are never read — the selective
case (rare token, zone-map kill) touches only matching row groups.  A
broadcast join cannot push its build side into the scan.  Above the limit
the candidate list is no longer selective enough for an IN-list to pay
(and the driver shouldn't hold it), so the broadcast join takes over."""


def _candidate_ids(index_df: DataFrame, cond) -> DataFrame:
    return index_df.filter(cond).select("block_id")


def _prune_with(enc_df: DataFrame, cand: DataFrame) -> DataFrame:
    """Shared prune tail: literal-IN pushdown when few candidates, else
    broadcast semi-join (see ``PUSHDOWN_CANDIDATE_LIMIT``)."""
    head = cand.limit(PUSHDOWN_CANDIDATE_LIMIT + 1).collect()
    if len(head) <= PUSHDOWN_CANDIDATE_LIMIT:
        ids = [r["block_id"] for r in head]
        if not ids:
            return enc_df.filter(F.lit(False))
        return enc_df.filter(F.col("block_id").isin(ids))
    return enc_df.join(F.broadcast(cand), "block_id", "inner")


def prune_blocks_for_token(
    enc_df: DataFrame, index_df: DataFrame, token: int
) -> DataFrame:
    """Encoded table restricted to blocks that MAY contain ``token``.

    The index scan is JVM-only; the surviving ids prune the encoded table
    via literal-IN pushdown (selective case — reaches the parquet row-group
    stats) or a broadcast semi-join (large candidate sets)."""
    cond = None
    for bloom_words, k in _index_params(index_df):
        c = _candidate_filter(int(token), bloom_words, k)
        cond = c if cond is None else (cond | c)
    return _prune_with(enc_df, _candidate_ids(index_df, cond))


def find_docs_with_token(
    enc_df: DataFrame,
    index_df: DataFrame,
    token: int,
    strict: bool = True,
    container_dict: bytes | None = None,
) -> DataFrame:
    """Documents containing ``token``: ``(doc_id, n_hits)`` — exact.

    Decodes only index-surviving blocks; per-doc occurrence counting is one
    ``flatnonzero`` + ``searchsorted`` against the block's doc offsets.
    """
    import pyarrow as pa

    pruned = prune_blocks_for_token(enc_df, index_df, int(token))

    def fn(batches: Iterator) -> Iterator:
        register_container_dict(container_dict)
        tok = np.int64(int(token))
        for rb in batches:
            names = rb.schema.names
            col = {n: rb.column(i) for i, n in enumerate(names)}
            for i in range(rb.num_rows):
                flat, lens = _decode_docs_checked(col, i, strict)
                hits = np.flatnonzero(flat == tok)
                if hits.size == 0:
                    continue  # bloom false positive: wasted decode, no rows
                ends = np.cumsum(lens)
                doc_idx = np.searchsorted(ends, hits, side="right")
                uniq_docs, n_hits = np.unique(doc_idx, return_counts=True)
                ids = col["doc_ids"][i].values.take(
                    pa.array(uniq_docs.astype(np.int64))
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.cast(pa.string()),
                        pa.array(n_hits.astype(np.int64), type=pa.int64()),
                    ],
                    names=["doc_id", "n_hits"],
                )

    needed = ["block_id", "doc_ids", "doc_lens", "crc32_raw", "buffer"]
    if strict and "crc32_buf" in enc_df.columns:
        needed.insert(-1, "crc32_buf")
    return pruned.select(*needed).mapInArrow(fn, "doc_id string, n_hits long")


def find_docs_with_phrase(
    enc_df: DataFrame,
    index_df: DataFrame,
    phrase: list[int],
    strict: bool = True,
    container_dict: bytes | None = None,
) -> DataFrame:
    """Documents containing the consecutive token sequence ``phrase``.

    The contamination grep: "does this exact token run appear anywhere in
    the corpus?".  Pruning is the conjunction of every DISTINCT phrase
    token's zone-map + bloom conditions (a block lacking ANY token cannot
    contain the phrase) — still pure JVM over the index.  Surviving blocks
    are decoded once and matched with a k-lane vectorized sliding
    comparison; counts are per-doc OVERLAPPING occurrences (the
    position-scan definition DuckDB's ``substr`` oracle reproduces), and a
    match never crosses a document boundary.

    Output ``(doc_id, n_hits)`` — exact, like :func:`find_docs_with_token`
    (bloom false positives only waste a decode).
    """
    import pyarrow as pa

    ph = [int(t) for t in phrase]
    if not ph:
        raise ValueError("phrase must contain at least one token")
    if len(ph) == 1:
        return find_docs_with_token(
            enc_df, index_df, ph[0], strict=strict, container_dict=container_dict
        )

    groups = _index_params(index_df)
    cond = None
    for t in sorted(set(ph)):
        tc = None
        for bloom_words, k in groups:
            c = _candidate_filter(t, bloom_words, k)
            tc = c if tc is None else (tc | c)
        cond = tc if cond is None else (cond & tc)
    pruned = _prune_with(enc_df, _candidate_ids(index_df, cond))

    def fn(batches: Iterator) -> Iterator:
        register_container_dict(container_dict)
        pharr = np.array(ph, dtype=np.int64)
        kk = pharr.size
        for rb in batches:
            names = rb.schema.names
            col = {n: rb.column(i) for i, n in enumerate(names)}
            for i in range(rb.num_rows):
                flat, lens = _decode_docs_checked(col, i, strict)
                n = flat.size
                if n < kk:
                    continue
                ok = flat[: n - kk + 1] == pharr[0]
                for j in range(1, kk):
                    ok = ok & (flat[j : n - kk + 1 + j] == pharr[j])
                starts = np.flatnonzero(ok)
                if starts.size == 0:
                    continue
                ends = np.cumsum(lens)
                d0 = np.searchsorted(ends, starts, side="right")
                d1 = np.searchsorted(ends, starts + kk - 1, side="right")
                same = d0 == d1  # matches may not straddle doc boundaries
                if not same.any():
                    continue
                uniq_docs, n_hits = np.unique(d0[same], return_counts=True)
                ids = col["doc_ids"][i].values.take(
                    pa.array(uniq_docs.astype(np.int64))
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.cast(pa.string()),
                        pa.array(n_hits.astype(np.int64), type=pa.int64()),
                    ],
                    names=["doc_id", "n_hits"],
                )

    needed = ["block_id", "doc_ids", "doc_lens", "crc32_raw", "buffer"]
    if strict and "crc32_buf" in enc_df.columns:
        needed.insert(-1, "crc32_buf")
    return pruned.select(*needed).mapInArrow(fn, "doc_id string, n_hits long")
