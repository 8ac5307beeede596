"""Explicit salted repartitioning for sequence-length skew.

The reference has no skew story (uniform 5,000-point chunks,
``/root/reference/lib/gorilla_stream/stream.ex:70-86``); the north rule
demands one because pre-tokenized training corpora have long-tail ``n_tok``
(lognormal, heavy tail).  Strategy:

* deterministic partition assignment by :func:`partition_of`, the one
  definition of the doc->partition rule, which routes the rows and which
  resume and incremental re-encode evaluate — resume-safe lineage (same
  doc -> same partition on every run, regardless of input split order),
  and hash-uniform so long docs scatter instead of clumping;
* downstream, the engine re-chunks each partition into ~equal-token blocks,
  so one hot partition cannot produce one giant Arrow batch.

``skew_stats`` measures the before/after partition token histogram — the
evidence the plan would hold at 1000 executors.  ``range_partition`` is the
ordered counterpart for time series: range bounds taken from the data
alone, so a re-run of the same input lands every row where it did before.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["partition_of", "salted_repartition", "range_partition", "skew_stats",
           "cluster_for_compression"]

# Sampled keys per output partition for range_partition's bounds: 100 kept
# the largest partition within 1.34x of the mean row count at 4, 8 and 32
# partitions of a bursty series (90 % of the points in 0.1 % of the time
# range, four seeds); the collected sample is a few thousand keys.
_RANGE_SAMPLE_PER_PARTITION = 100


def partition_of(id_col: str | Column, num_partitions: int) -> Column:
    """The salted layout's doc->partition rule, ``pmod(hash(xxhash64(id)),
    P)``: ``salted_repartition`` routes rows by it, and checkpoint resume
    and incremental encode prune and re-stamp ``part_id`` by it.  ``id_col``
    is a name or a Column (e.g. ``F.element_at("doc_ids", 1)``)."""
    return F.pmod(F.hash(F.xxhash64(id_col)), F.lit(num_partitions))


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    id_col: str = "doc_id",
    sort_within: bool = True,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Repartition by a deterministic salt of the doc id.

    ``repartitionById(P, partition_of(id, P))`` gives one shuffle whose
    keys are uniform regardless of how skewed ``n_tok`` or the input layout
    is; each row lands in the partition the Column names.  The full 64-bit
    hash (not ``hash % P``) feeds the rule: pre-bucketing to P values and
    re-hashing them would collide for small P and leave partitions empty.
    Sorting within partitions by id makes downstream block formation
    deterministic (required for idempotent checkpoint resume).
    """
    P = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    salted = df.repartitionById(P, partition_of(id_col, P))
    if not sort_within:
        return salted
    return salted.sortWithinPartitions(*(sort_cols or [id_col]))


def range_partition(df: DataFrame, key: str, n: int) -> DataFrame:
    """Range-partition ``df`` on ``key`` into ``n`` partitions, range *i* in
    partition *i*, with bounds that depend only on the data.

    ``repartitionByRange`` seeds its sample with the RDD id, so the same
    input splits differently on every run.  Here the sample is the
    ``_RANGE_SAMPLE_PER_PARTITION * n`` non-NULL rows with the smallest
    ``(xxhash64(key), key)``, one ``orderBy().limit()`` job, and its
    quantiles are the bounds; ``repartitionById`` routes each row through a
    JVM CASE tree over them.  A NULL key lands in the last partition, where
    the caller's own null check reports it.
    """
    k = F.col(key)
    bounds = []
    if n > 1:
        sample = sorted(
            r[0]
            for r in df.select(k).where(k.isNotNull())
            .orderBy(F.xxhash64(k), k)
            .limit(_RANGE_SAMPLE_PER_PARTITION * n)
            .collect()
        )
        bounds = [sample[len(sample) * i // n] for i in range(1, n)] if sample else []

    def pid(lo: int, hi: int):  # partitions lo..hi; bounds[i - 1] opens partition i
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return F.when(k < F.lit(bounds[mid - 1]), pid(lo, mid - 1)).otherwise(pid(mid, hi))

    return df.repartitionById(n, pid(0, len(bounds)))


def cluster_for_compression(
    df: DataFrame,
    by: tuple[str, ...] = ("source",),
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    prefix_tokens: int = 16,
) -> DataFrame:
    """Similarity-ordered layout: co-locate alike rows before encoding.

    The encode path's salted layout optimizes for SKEW (uniform partition
    load); this optimizes for RATIO: range-partition + sort by
    ``(by..., first prefix_tokens of the token array, id)`` so rows with
    shared provenance and shared content prefixes become block neighbors.
    Homogeneous blocks shrink twice over — the per-block codec sees a
    narrower value range / longer runs (FOR width, RLE runs, dict
    cardinality are all per-block), and the zstd/zlib containers find
    cross-doc matches inside the block window.  This is the classic
    row-reordering-for-compression lever from columnar warehouses (the
    same reason Parquet writers sort before writing); the reference cannot
    express it — its unit is a single stream.

    One range shuffle total.  Feed the result to ``encode(...,
    repartition=False)`` to preserve the layout (the default salted
    repartition would destroy it).  Trade-off vs ``salted_repartition``:
    range partitioning balances ROW counts, not token counts — for
    heavy-tail corpora keep the salted path for throughput and use this
    when storage ratio is the target (cold tiers, archives).

    Decode equality is unaffected (clustering permutes rows, the engine's
    round-trip contract is per-doc) — asserted by the q60 driver oracle.

    When it does NOT pay: the salted encode path already sorts WITHIN each
    partition by ``(source, id)``, so if partitions are much larger than
    blocks the per-partition sort delivers most of the homogeneity and this
    global reorder adds little (bench q4e records ~0 delta on the mixed
    strata corpus for exactly that reason).  The win case is content
    families INTERLEAVED across the grouping columns' sort order — prefix
    clustering groups what the group-column sort cannot (ratio-gain
    pytest).  Measure with ``analyze_and_recommend``'s ``layout_hint``
    before paying the range shuffle.
    """
    P = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    keys = [F.col(c) for c in by]
    if prefix_tokens:
        # arrays order lexicographically in Spark; the slice bounds the
        # sort-key width so the range exchange never ships whole documents
        # twice
        keys.append(F.expr(f"slice({tokens_col}, 1, {int(prefix_tokens)})"))
    keys.append(F.col(id_col))
    return df.repartitionByRange(P, *keys).sortWithinPartitions(*keys)


def skew_stats(df: DataFrame, size_col: str = "n_tok") -> DataFrame:
    """Per-partition token-count totals (skew evidence for BENCH/)."""
    return (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(
            F.count("*").alias("rows"),
            F.sum(size_col).alias("tokens"),
            F.max(size_col).alias("max_doc"),
        )
        .orderBy("__pid")
    )
