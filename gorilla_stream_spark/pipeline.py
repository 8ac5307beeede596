"""Staged end-to-end training-data pipeline with fingerprinted resume.

Composes the engine's LLM-pipeline operators into the canonical
prepare-and-encode flow over the native corpus shape
``(doc_id string, tokens array<int>, n_tok int, source string)``:

    clean → dedup → neardup → decontaminate → score → sample → pack →
    (shards | encode)

WHY an orchestrator when every stage is one function call: at the 10^12-
sequence target the pipeline is days of cluster time — each stage MUST
materialize (a crash in stage 5 cannot afford to re-run stages 1–4) and a
re-run MUST skip finished stages.  Each stage writes its table under
``workdir/NN_<stage>`` plus a fingerprint file; a re-run skips any stage
whose output is committed (``_SUCCESS``) AND whose fingerprint matches.
The fingerprint chains: ``fp_i = sha256(stage, params_i, fp_{i-1})`` with
``fp_0`` pinned to the input LOCATION — so editing a mid-pipeline
parameter recomputes exactly that stage and everything downstream, while
upstream stages are reused untouched.  The input table's CONTENT is not
digested (that would cost a full corpus pass per re-run); re-pointing or
rewriting the input requires ``resume=False`` or a fresh workdir —
documented on the CLI.  (For content-level change detection between
snapshot runs, use :mod:`gorilla_stream_spark.incremental` instead; the
two compose: run the pipeline per snapshot into per-snapshot workdirs and
let ``incremental_encode`` reuse unchanged encode work.)

Stage inventory (scale shapes documented on the wrapped functions):

========  ==============================================================
clean     ``validate.clean`` — null/range/dup-id hygiene (scan-only)
dedup     ``textops.dedup_exact`` on the token arrays (fixed-width
          md5 keys, map-side window group limit)
neardup   ``textops.neardup_pairs_tokens`` → greedy pair-loser drop
          (banded LSH, never all-pairs; keep the smaller id per pair)
decontaminate  ``textops.decontaminate_tokens`` pairs → ``left_anti``
          against an eval corpus (train side never fully shuffles)
score     ``vocab.unigram_logprob`` + threshold filter (one counting
          pass, then map-only scoring; id-only semi-join back)
sample    ``textops.sample_corpus`` — deterministic stratified mix
          (pure scan predicate, zero shuffle)
pack      ``packing.pack_sequences`` → ``(seq_id, tokens, n_tok,
          doc_spans)`` (interior chunks never shuffle)
shards    ``packing.write_training_shards`` — loader-facing terminal:
          balanced Hive-partitioned shards of the packed sequences
          (mutually exclusive with encode; requires pack)
encode    ``engine.encode`` — or ``engine.encode_multi`` after pack so
          ``doc_spans`` survives as a second per-block column
========  ==============================================================
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gorilla_stream_spark.catalog import read_table, write_table

__all__ = ["PIPELINE_STAGES", "run_pipeline"]

PIPELINE_STAGES = (
    "clean",
    "dedup",
    "neardup",
    "decontaminate",
    "score",
    "sample",
    "pack",
    "shards",
    "encode",
)


def _fingerprint(stage: str, params: dict[str, Any], parent_fp: str) -> str:
    blob = json.dumps({"stage": stage, "params": params, "parent": parent_fp},
                      sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()


def _committed(path: str) -> bool:
    # local-filesystem probe; an Iceberg/URI location never reports
    # committed, so its stage recomputes on every run (see run_pipeline
    # docstring)
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _input_identity(path: str) -> str:
    """URIs and catalog names keep their verbatim string; local paths
    normalize so a driver restarted from a different cwd doesn't silently
    invalidate the whole fingerprint chain."""
    if "://" in path or path.startswith("iceberg:"):
        return path
    return os.path.abspath(path)


def _require_long_ids(df: DataFrame, stage: str) -> None:
    """The minhash/decontaminate kernels key docs by CAST(doc_id AS LONG)
    (fixed-width shuffle keys); a non-castable id would silently drop out
    of candidate generation — fail loud instead.  (Distinct ids that cast
    to the SAME long — '5' vs '05' — are the caller's contract violation;
    ids are engine-wide unique keys.)"""
    bad = df.filter(
        F.expr("try_cast(doc_id AS BIGINT)").isNull()
    ).limit(1).collect()
    if bad:
        raise ValueError(
            f"{stage} stage requires doc_id values castable to BIGINT "
            f"(the near-dup kernels shuffle fixed-width long keys); found "
            f"e.g. {bad[0]['doc_id']!r}. Remap ids first (a zipWithIndex-"
            f"style surrogate) or run the stage functions directly with "
            f"string-keyed variants."
        )


def _stage_params(stage: str, cfg: dict[str, Any]) -> dict[str, Any]:
    """The parameter subset that legitimately invalidates ``stage`` —
    scoped so an edit to one stage's knob never invalidates its siblings."""
    if stage == "clean":
        return {}
    if stage == "dedup":
        return {}
    if stage == "neardup":
        return {"threshold_pct": cfg["neardup_threshold_pct"]}
    if stage == "decontaminate":
        return {
            "eval_path": cfg["eval_path"],
            "threshold_pct": cfg["threshold_pct"],
            "metric": cfg["decontaminate_metric"],
        }
    if stage == "score":
        return {"min_logprob": cfg["min_logprob"]}
    if stage == "sample":
        return {"fractions": cfg["sample_fractions"], "seed": cfg["seed"]}
    if stage == "pack":
        return {"seq_len": cfg["seq_len"]}
    if stage == "shards":
        return {"seqs_per_shard": cfg["seqs_per_shard"]}
    if stage == "encode":
        return {
            "codec": cfg["codec"],
            "num_partitions": cfg["num_partitions"],
            "container": cfg["container"],
        }
    raise ValueError(f"unknown stage {stage!r}")


def _apply_stage(
    spark: SparkSession, stage: str, df: DataFrame, cfg: dict[str, Any], packed: bool
) -> DataFrame:
    if stage == "clean":
        from gorilla_stream_spark.validate import clean

        return clean(df)
    if stage == "dedup":
        from gorilla_stream_spark.textops import dedup_exact

        return dedup_exact(df, content_col="tokens")
    if stage == "neardup":
        from gorilla_stream_spark.textops import neardup_pairs_tokens

        _require_long_ids(df, "neardup")
        pairs = neardup_pairs_tokens(
            df, threshold_pct=cfg["neardup_threshold_pct"]
        )
        # greedy pair-loser drop (the standard production policy): keep
        # the numerically-smaller id of every verified pair.  Greedy, not
        # connected-components — a chain a~b~c where a!~c also drops c;
        # documented over-drop, bounded by the pairs themselves.  The
        # token minhash path keys docs by CAST(id AS LONG) (fixed-width
        # shuffle keys); mirror that cast for the anti-join.
        losers = pairs.select(
            F.greatest("doc_a", "doc_b").alias("__loser")
        ).distinct()
        return df.join(
            losers,
            F.expr("try_cast(doc_id AS BIGINT)") == F.col("__loser"),
            "left_anti",
        )
    if stage == "decontaminate":
        from gorilla_stream_spark.textops import decontaminate_tokens

        _require_long_ids(df, "decontaminate")
        ev = read_table(spark, cfg["eval_path"])
        pairs = decontaminate_tokens(
            df,
            ev,
            threshold_pct=cfg["threshold_pct"],
            metric=cfg["decontaminate_metric"],
        )
        # decontaminate_tokens keys docs by CAST(id AS LONG) (fixed-width
        # shuffle keys); mirror that cast for the anti-join
        leaked = pairs.select(F.col("train_id").alias("__leak_id")).distinct()
        return df.join(
            leaked,
            F.expr("try_cast(doc_id AS BIGINT)") == F.col("__leak_id"),
            "left_anti",
        )
    if stage == "score":
        from gorilla_stream_spark.vocab import unigram_logprob

        scored = unigram_logprob(df)
        keep = scored.filter(F.col("logprob") >= F.lit(cfg["min_logprob"])).select(
            "doc_id"
        )
        return df.join(keep, "doc_id", "left_semi")
    if stage == "sample":
        from gorilla_stream_spark.textops import sample_corpus

        return sample_corpus(df, cfg["sample_fractions"], seed=cfg["seed"])
    if stage == "pack":
        from gorilla_stream_spark.packing import pack_sequences

        return pack_sequences(df, cfg["seq_len"])
    if stage == "encode":
        from gorilla_stream_spark.engine import encode, encode_multi

        if packed:
            # packed rows carry doc_spans lineage — keep it next to the
            # tokens as a second per-block column (RLE-friendly)
            return encode_multi(
                df.withColumn("seq_id", F.col("seq_id").cast("string"))
                .withColumn("doc_spans", F.col("doc_spans").cast("array<int>")),
                ["tokens", "doc_spans"],
                id_col="seq_id",
                num_partitions=cfg["num_partitions"],
                codec=cfg["codec"],
            )
        return encode(
            df,
            codec=cfg["codec"],
            num_partitions=cfg["num_partitions"],
            container=cfg["container"],
        )
    raise ValueError(f"unknown stage {stage!r}")


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    workdir: str,
    output_path: str,
    stages: list[str] | tuple[str, ...] = ("clean", "dedup", "encode"),
    *,
    eval_path: str | None = None,
    neardup_threshold_pct: int = 85,
    threshold_pct: int = 70,
    decontaminate_metric: str = "jaccard",
    min_logprob: float | None = None,
    sample_fractions: dict[str, float] | float | None = None,
    seed: int = 1337,
    seq_len: int = 2048,
    seqs_per_shard: int = 1024,
    codec: str = "auto",
    num_partitions: int | None = None,
    container: str = "none",
    resume: bool = True,
) -> list[dict[str, Any]]:
    """Run the staged pipeline; returns one report dict per stage:
    ``{stage, skipped, rows, secs, output}``.

    ``stages`` must be a subsequence of :data:`PIPELINE_STAGES` (the
    canonical order is the only sound one: dedup before neardup kills
    the quadratic exact-copy bucket blowup, dedup/neardup before
    decontaminate keep the eval join small, score/sample before pack keeps packed
    sequences free of dropped docs, encode is terminal).  Stage outputs
    are parquet-or-Iceberg tables (``catalog`` adapter) under
    ``workdir/NN_<stage>``; the encode stage writes to ``output_path``.

    Resume scope: fingerprint files and ``_SUCCESS`` probes are driver-
    local file IO, so ``workdir`` must be a driver-visible path (enforced
    — URI/Iceberg workdirs raise).  An Iceberg ``output_path`` is legal
    but never probes as committed, so the encode stage recomputes on
    every run (Iceberg overwrite is snapshot-atomic, so that is safe,
    just not skip-cached).
    """
    order = {s: i for i, s in enumerate(PIPELINE_STAGES)}
    stages = list(stages)
    if not stages:
        raise ValueError("stages must be non-empty")
    unknown = [s for s in stages if s not in order]
    if unknown:
        raise ValueError(f"unknown stages {unknown}; valid: {PIPELINE_STAGES}")
    if [order[s] for s in stages] != sorted(order[s] for s in stages) or len(
        set(stages)
    ) != len(stages):
        raise ValueError(
            f"stages must follow the canonical order without repeats: "
            f"{PIPELINE_STAGES}"
        )
    if "encode" in stages and stages[-1] != "encode":
        raise ValueError("encode must be the last stage")
    if "decontaminate" in stages and not eval_path:
        raise ValueError("decontaminate stage requires eval_path")
    if "score" in stages and min_logprob is None:
        raise ValueError("score stage requires min_logprob")
    if "sample" in stages and sample_fractions is None:
        raise ValueError("sample stage requires sample_fractions")
    if "shards" in stages and "pack" not in stages:
        raise ValueError("shards stage requires the pack stage (it shards packed sequences)")
    if "shards" in stages and "encode" in stages:
        raise ValueError(
            "shards and encode are alternative terminals: shards writes the "
            "loader-facing packed layout, encode the compressed block table — "
            "run two pipelines off the shared pack stage (resume makes the "
            "second run skip straight to it)"
        )
    if "pack" in stages and "encode" in stages and container != "none":
        raise ValueError(
            "container is not supported on the packed (multi-column) "
            "encode stage — encode_multi has no container wrapper; drop "
            "--container or the pack stage"
        )
    if "://" in workdir or workdir.startswith("iceberg:"):
        raise ValueError(
            "workdir must be a driver-visible filesystem path: the resume "
            "machinery (fingerprint files, _SUCCESS probes) is local file "
            "IO.  On a multi-driver deployment put workdir on a shared "
            "mount; an object-store workdir needs a Hadoop-FS resume layer "
            "this sandbox cannot exercise."
        )

    cfg = {
        "eval_path": eval_path,
        "neardup_threshold_pct": neardup_threshold_pct,
        "threshold_pct": threshold_pct,
        "decontaminate_metric": decontaminate_metric,
        "min_logprob": min_logprob,
        "sample_fractions": sample_fractions,
        "seed": seed,
        "seq_len": seq_len,
        "seqs_per_shard": seqs_per_shard,
        "codec": codec,
        "num_partitions": num_partitions,
        "container": container,
    }

    os.makedirs(workdir, exist_ok=True)
    reports: list[dict[str, Any]] = []
    cur_path = input_path
    fp = _fingerprint("input", {"path": _input_identity(input_path)}, "")
    packed = False
    for i, stage in enumerate(stages):
        fp = _fingerprint(stage, _stage_params(stage, cfg), fp)
        out = (
            output_path
            if stage in ("encode", "shards")
            else os.path.join(workdir, f"{i:02d}_{stage}")
        )
        fp_file = os.path.join(workdir, f"{i:02d}_{stage}.fp")
        prev: dict[str, Any] = {}
        if os.path.exists(fp_file):
            with open(fp_file) as fh:
                raw = fh.read().strip()
            try:
                prev = json.loads(raw)
            except ValueError:
                prev = {"fp": raw}  # pre-JSON fp files from earlier runs
        t0 = time.time()
        if resume and prev.get("fp") == fp and _committed(out):
            # rows were recorded by the run that wrote the table — no
            # count job over a possibly-huge materialized stage on resume
            rows = prev.get("rows")
            if rows is None:
                rows = read_table(spark, out).count()
            reports.append(
                {
                    "stage": stage,
                    "skipped": True,
                    "rows": rows,
                    "secs": round(time.time() - t0, 3),
                    "output": out,
                }
            )
        else:
            src = read_table(spark, cur_path)
            if stage == "shards":
                from gorilla_stream_spark.packing import write_training_shards

                rows = write_training_shards(
                    src, out, seqs_per_shard=cfg["seqs_per_shard"]
                )
            else:
                res = _apply_stage(spark, stage, src, cfg, packed)
                rows = write_table(res, out)["rows"]
            with open(fp_file, "w") as fh:
                fh.write(json.dumps({"fp": fp, "rows": rows}))
            reports.append(
                {
                    "stage": stage,
                    "skipped": False,
                    "rows": rows,
                    "secs": round(time.time() - t0, 3),
                    "output": out,
                }
            )
        cur_path = out
        if stage == "pack":
            packed = True
    return reports
