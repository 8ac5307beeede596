"""Checkpointed encode job with per-partition lineage and idempotent resume.

North-rule requirement with no reference analog (the reference's chunks are
independent but carry no resume story, ``/root/reference/lib/gorilla_stream/
stream.ex:62-86``).  Design:

* **Deterministic lineage.** Partition membership is a pure function of
  ``doc_id`` (salted repartition, ``skew.py``), rows are sorted within
  partitions, and blocks chunk at fixed token budgets — so partition P of
  run 2 contains exactly the rows of partition P of run 1.  Each encode
  task commits its completed partition to the checkpoint table.
* **Idempotent resume.** On restart, committed ``part_id``s (for the same
  ``run_id`` + partition count + codec config) are anti-joined away; only
  missing partitions re-encode.  Re-running a completed job is a no-op.
* **Atomicity.** Each task writes ``part-<id>`` parquet files into the
  output dir only after the full partition encodes; the checkpoint row is
  written after the data file.  A crash between the two re-encodes that
  partition (overwrite of the same deterministic file = idempotent).

On a real deployment the output/checkpoint tables would be Iceberg
(snapshot-isolated appends); this sandbox has no Iceberg runtime jar, so the
implementation uses directory-of-parquet with the same commit protocol and
keeps the table layout Iceberg-compatible (see README).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gorilla_stream_spark.engine import DEFAULT_BLOCK_TOKENS, encode, encode_multi
from gorilla_stream_spark.skew import partition_of, salted_repartition

__all__ = ["CheckpointedEncode", "encode_with_checkpoint"]


@dataclass
class CheckpointedEncode:
    output_path: str
    checkpoint_path: str
    run_id: str
    num_partitions: int
    codec: str = "auto"
    block_tokens: int = DEFAULT_BLOCK_TOKENS
    container: str = "none"
    container_level: int | None = None
    container_dict: bytes | None = None
    # multi-column mode: encode these array<int> columns per block
    # (engine.encode_multi); None = the single `tokens` column path
    token_cols: list[str] | None = None

    def _config_fingerprint(self) -> str:
        fp = f"{self.run_id}:{self.num_partitions}:{self.codec}:{self.block_tokens}"
        if self.token_cols:
            fp = f"{fp}:cols={','.join(self.token_cols)}"
        # container/level joined only when set — keeps fingerprints of
        # existing checkpoints stable
        if self.container != "none":
            fp = f"{fp}:{self.container}"
            if self.container_level is not None:
                fp = f"{fp}@{self.container_level}"
        if self.container_dict is not None:
            # the dictionary is part of the wire format: resuming with a
            # different dict would mix undecodable buffers in one table
            import zlib as _zlib

            fp = f"{fp}:dict={_zlib.crc32(self.container_dict) & 0xFFFFFFFF:08x}"
        return fp

    def committed_parts(self, spark: SparkSession) -> list[int]:
        from pyspark.errors import AnalysisException

        try:
            cp = spark.read.parquet(self.checkpoint_path)
        except AnalysisException as e:
            # ONLY "no checkpoint yet" means "nothing committed": a missing
            # dir, or a dir holding nothing but _temporary/ debris from a
            # run that crashed before its first task commit (Spark then
            # cannot infer a schema).  Any other failure (permissions,
            # corrupt footer, transient FS outage) must raise — treating it
            # as empty would silently re-encode and re-commit the whole job
            msg = str(e)
            if (
                "PATH_NOT_FOUND" in msg
                or "Path does not exist" in msg
                or "UNABLE_TO_INFER_SCHEMA" in msg
            ):
                return []
            raise
        fp = self._config_fingerprint()
        return [
            r["part_id"]
            for r in cp.filter(F.col("config_fp") == fp).select("part_id").distinct().collect()
        ]

    def _reject_legacy_layout(self, spark: SparkSession) -> None:
        """Fail fast on a pre-(config_fp, part_id) output table.

        Tables written before the layout change are partitioned by part_id
        only; dynamic-overwriting config_fp=<fp>/part_id=N directories next
        to legacy part_id=N ones makes Spark's partition discovery fail
        with conflicting directory structures AFTER data was written.
        Detect up front (streaming's _detect_layout pattern) and refuse
        with migration instructions instead.
        """
        from gorilla_stream_spark.streaming import _hadoop_path

        fs, jpath = _hadoop_path(spark, self.output_path)
        if not fs.exists(jpath):
            return
        for st in fs.listStatus(jpath):
            if st.isDirectory() and st.getPath().getName().startswith("part_id="):
                raise ValueError(
                    f"{self.output_path} uses the legacy part_id=N layout; "
                    "resuming would interleave config_fp=<fp>/part_id=N dirs "
                    "and break partition discovery. Migrate first: read the "
                    "legacy table, write it under a fresh output path via "
                    "CheckpointedEncode (or spark.read.parquet(legacy)"
                    ".withColumn('config_fp', lit(<fp>)).write.partitionBy("
                    "'config_fp', 'part_id')), then point output_path there."
                )

    def run(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """Encode ``df``; skip partitions already committed; return manifest.

        Resume prunes *input rows* of committed partitions before any encode
        work: ``salted_repartition`` routes each doc to
        ``skew.partition_of(doc_id, P)``, so committed partitions become a
        pushed-down filter on the scan by the same Column.
        """
        self._reject_legacy_layout(spark)
        done = set(self.committed_parts(spark))
        P = self.num_partitions
        pruned = df
        if done:
            pruned = df.filter(~partition_of("doc_id", P).isin(*sorted(done)))
        sort_cols = (["source"] if "source" in df.columns else []) + ["doc_id"]
        salted = salted_repartition(pruned, num_partitions=P, sort_cols=sort_cols)
        fp = self._config_fingerprint()
        if self.token_cols:
            if self.container != "none":
                raise ValueError("container layer not supported with token_cols")
            enc = encode_multi(
                salted,
                self.token_cols,
                num_partitions=None,  # already salted here
                block_tokens=self.block_tokens,
                codec=self.codec,
            )
        else:
            if self.container in ("zlib-dict", "zstd-dict") and self.container_dict is None:
                raise ValueError(
                    f"container={self.container!r} requires container_dict bytes"
                )
            enc = encode(
                salted,
                codec=self.codec,
                block_tokens=self.block_tokens,
                repartition=False,  # already salted here
                container=self.container,
                container_level=self.container_level,
                container_dict=self.container_dict,
            )
        # re-derive the lineage partition id from doc content, not from the
        # task's physical partition id (which shifts once rows are pruned)
        enc = enc.withColumn(
            "part_id",
            partition_of(F.element_at("doc_ids", 1), P).cast("int"),
        ).withColumn("config_fp", F.lit(fp))
        t0 = time.time()
        # dynamic partition overwrite: a partition half-written by a crashed
        # run (data present, checkpoint row absent) is replaced, not
        # duplicated — the idempotent analog of an Iceberg overwrite-by-filter
        # partition by (config_fp, part_id): dynamic overwrite then replaces
        # only THIS fingerprint's directories — a second run with a
        # different config into the same output table cannot wipe the
        # first's files while its checkpoint still claims them committed
        (
            enc.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("compression", "zstd")
            .partitionBy("config_fp", "part_id")
            .parquet(self.output_path)
        )
        wall = time.time() - t0
        # commit checkpoint rows (per-partition lineage + metrics).
        # Prune the re-read on part_id — the PARTITION column — so a resume
        # only scans the partitions this run just wrote; committed partitions'
        # buffers are never re-read (at 100 TB a resume that rescanned the
        # whole encoded table to write a few manifest rows would dominate).
        # pin the schema: the (config_fp, part_id) layout lets configs with
        # DIFFERENT block schemas (single-column vs token_cols) share one
        # output table, so inference from a random file could pick the
        # other config's schema and break the aggregation below.  The
        # config_fp filter is partition pruning — only this config's files
        # are ever scanned.
        from pyspark.sql.types import StringType, StructField, StructType

        if self.token_cols:
            from gorilla_stream_spark.engine import MULTI_ENCODED_DDL

            base_schema = StructType.fromDDL(MULTI_ENCODED_DDL)
        else:
            from gorilla_stream_spark.engine import ENCODED_SCHEMA

            base_schema = ENCODED_SCHEMA
        read_schema = StructType(
            list(base_schema.fields) + [StructField("config_fp", StringType(), True)]
        )
        out = spark.read.schema(read_schema).parquet(self.output_path)
        if done:
            new_parts = sorted(set(range(self.num_partitions)) - done)
            # fully-committed job: nothing new to aggregate or commit
            out = out.limit(0) if not new_parts else out.filter(F.col("part_id").isin(new_parts))
        out = out.filter(F.col("config_fp") == fp)
        n_tokens_agg = (
            # first column is the token column; summing its per-doc lens
            # counts tokens only (raw_bytes div 4 would also count mask/
            # label values, inflating the metric by the column count)
            F.sum(F.expr("aggregate(col_lens[0], 0L, (a, x) -> a + x)")).alias("n_tokens")
            if self.token_cols
            else F.sum("n_tokens").alias("n_tokens")
        )
        # the stored per-buffer crcs (zlib.crc32 at encode): the commit
        # never reads a written buffer back
        crc_agg = (
            F.sum(F.expr("aggregate(crc32_bufs, 0L, (a, x) -> a + x)")).alias("crc_sum")
            if self.token_cols
            else F.sum("crc32_buf").alias("crc_sum")
        )
        man = (
            out.groupBy("part_id")
            .agg(
                F.count("*").alias("n_blocks"),
                F.sum("n_docs").alias("n_docs"),
                n_tokens_agg,
                F.sum("raw_bytes").alias("raw_bytes"),
                F.sum("enc_bytes").alias("enc_bytes"),
                crc_agg,
            )
            .withColumn("config_fp", F.lit(fp))
            .withColumn("committed_at", F.current_timestamp())
            .withColumn("wall_sec", F.lit(wall))
        )
        man.write.mode("append").parquet(self.checkpoint_path)
        return man

    def metrics(self, spark: SparkSession) -> dict:
        cp = spark.read.parquet(self.checkpoint_path).filter(
            F.col("config_fp") == self._config_fingerprint()
        )
        row = cp.agg(
            F.countDistinct("part_id").alias("parts"),
            F.sum("n_docs").alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("raw_bytes").alias("raw"),
            F.sum("enc_bytes").alias("enc"),
        ).first()
        return {
            "parts_committed": row["parts"],
            "docs": row["docs"],
            "tokens": row["tokens"],
            "raw_bytes": row["raw"],
            "enc_bytes": row["enc"],
            "ratio": (row["enc"] / row["raw"]) if row["raw"] else None,
        }


def encode_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    run_id: str = "run1",
    num_partitions: int | None = None,
    codec: str = "auto",
    container: str = "none",
    container_level: int | None = None,
    container_dict: bytes | None = None,
    token_cols: list[str] | None = None,
) -> dict:
    """One-call checkpointed encode; returns summary metrics dict."""
    P = num_partitions or spark.sparkContext.defaultParallelism
    job = CheckpointedEncode(
        output_path=output_path,
        checkpoint_path=checkpoint_path,
        run_id=run_id,
        num_partitions=P,
        codec=codec,
        container=container,
        container_level=container_level,
        container_dict=container_dict,
        token_cols=token_cols,
    )
    job.run(spark, df)
    m = job.metrics(spark)
    # Hadoop FS write (not local open()): checkpoint_path may be an
    # hdfs:///s3a:// URI, and a local-fs failure here would surface AFTER
    # the job fully committed
    payload = json.dumps({k: (float(v) if v is not None else None) for k, v in m.items()})
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(checkpoint_path + "/_summary.json")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(payload.encode()))
    finally:
        out.close()
    return m
