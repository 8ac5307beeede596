"""spark-submit job entrypoints.

Ship pattern (north rule):

    zip -r engine.zip gorilla_stream_spark
    spark-submit --py-files engine.zip -m ... jobs.py encode \\
        --input /data/tokens --output /data/encoded \\
        --checkpoint /data/ckpt --codec auto --partitions 4096

Subcommands: ``encode`` (checkpointed, resumable), ``decode``,
``verify`` (decode + join + per-row bit-identity check), ``estimate``.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from gorilla_stream_spark.catalog import read_table, write_table


def _spark(app: str) -> SparkSession:
    return SparkSession.builder.appName(app).getOrCreate()


def _container_dict(args) -> bytes | None:
    """The ``--dict-path`` container dictionary bytes, or None."""
    if not getattr(args, "dict_path", None):
        return None
    with open(args.dict_path, "rb") as f:
        return f.read()


def cmd_encode(args) -> int:
    from gorilla_stream_spark.checkpoint import encode_with_checkpoint

    spark = _spark("gss-encode")
    df = read_table(spark, args.input)
    m = encode_with_checkpoint(
        spark,
        df,
        output_path=args.output,
        checkpoint_path=args.checkpoint,
        run_id=args.run_id,
        num_partitions=args.partitions,
        codec=args.codec,
        container=args.container,
        container_level=args.level,
        container_dict=_container_dict(args),
    )
    print(json.dumps({k: (float(v) if v is not None else None) for k, v in m.items()}))
    return 0


def cmd_decode(args) -> int:
    from gorilla_stream_spark import decode

    spark = _spark("gss-decode")
    enc = read_table(spark, args.input)
    dec = decode(enc, strict=not args.tolerant, container_dict=_container_dict(args))
    print(json.dumps({"rows": write_table(dec, args.output)["rows"]}))
    return 0


def cmd_compact(args) -> int:
    """Maintenance job: merge under-filled blocks (streaming-ingest debris)
    into full ones; healthy blocks pass through untouched."""
    from gorilla_stream_spark import compact_blocks

    spark = _spark("gss-compact")
    enc = read_table(spark, args.input)
    out = compact_blocks(
        enc,
        codec=args.codec,
        block_tokens=args.block_tokens,
        min_tokens=args.min_tokens,
        num_partitions=args.partitions,
        strict=not args.tolerant,
        container=args.container,
        container_level=args.level,
        container_dict=_container_dict(args),
    )
    before, prev_max = enc.agg(F.count("*"), F.max("part_id")).first()
    # merged-this-run rows sit ABOVE the input's previous max part_id
    # (earlier compactions' survivors keep their old reserved-range ids)
    m = write_table(
        out, args.output,
        merged=F.count_if(F.col("part_id") > int(prev_max or 0)), tokens=F.sum("n_tokens"),
    )
    print(json.dumps({
        "blocks_before": before, "blocks_after": m["rows"],
        "blocks_merged_into": m["merged"], "tokens": m["tokens"],
    }))
    return 0


def cmd_decontaminate(args) -> int:
    """Flag (and optionally drop) training docs that leak eval content."""
    from gorilla_stream_spark.textops import decontaminate

    spark = _spark("gss-decontaminate")
    train = read_table(spark, args.train)
    ev = read_table(spark, args.eval)
    pairs = decontaminate(
        train, ev, threshold_pct=args.threshold, metric=args.metric
    ).cache()
    out = {
        "pairs": write_table(pairs, args.output)["rows"],
        "train_docs_flagged": pairs.select("train_id").distinct().count(),
    }
    if args.cleaned:
        leaked = pairs.select(F.col("train_id").alias("doc_id")).distinct()
        kept = train.join(leaked, "doc_id", "left_anti")
        out["train_docs_kept"] = write_table(kept, args.cleaned)["rows"]
    print(json.dumps(out))
    return 0


def cmd_fsck(args) -> int:
    """Source-free integrity check: per-block crc + manifest consistency."""
    from gorilla_stream_spark.validate import fsck

    spark = _spark("gss-fsck")
    rep = fsck(read_table(spark, args.input), container_dict=_container_dict(args)).cache()
    bad = rep.filter(~F.col("ok"))
    n_bad = bad.count()
    if args.report:
        write_table(bad, args.report)
    print(json.dumps({
        "blocks": rep.count(), "bad": n_bad,
        "first_errors": [r.error for r in bad.limit(5).collect()],
    }))
    return 0 if n_bad == 0 else 1


def cmd_verify(args) -> int:
    """Round-trip gate: every doc's decoded tokens bit-identical to source."""
    from gorilla_stream_spark import decode

    spark = _spark("gss-verify")
    src = read_table(spark, args.source)
    dec = decode(read_table(spark, args.encoded), container_dict=_container_dict(args))
    joined = src.alias("s").join(dec.alias("d"), "doc_id", "full_outer")
    bad = joined.filter(
        F.col("s.tokens").isNull()
        | F.col("d.tokens").isNull()
        | (F.col("s.tokens") != F.col("d.tokens"))
    ).count()
    total = src.count()
    print(json.dumps({"docs": total, "mismatches": bad, "ok": bad == 0}))
    return 0 if bad == 0 else 1


def cmd_estimate(args) -> int:
    from gorilla_stream_spark import estimate

    spark = _spark("gss-estimate")
    df = read_table(spark, args.input)
    rows = (
        estimate(df)
        .groupBy("codec")
        .agg(
            F.count("*").alias("blocks"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("est_bytes").alias("est_bytes"),
        )
        .collect()
    )
    print(json.dumps([r.asDict() for r in rows]))
    return 0


def cmd_analyze(args) -> int:
    """Pattern analysis + config recommendation (reference Config analog)."""
    from gorilla_stream_spark import analyze_and_recommend

    spark = _spark("gss-analyze")
    df = read_table(spark, args.input)
    print(json.dumps(analyze_and_recommend(df)))
    return 0


def cmd_info(args) -> int:
    """Header-only table info from the block manifest — no buffer is read
    (the analog of GorillaStream.File.get_file_info/1, reference
    ``file.ex:121-148``): block/doc/token counts, sizes, ratio, codec mix."""
    from gorilla_stream_spark.engine import manifest

    spark = _spark("gss-info")
    man = manifest(read_table(spark, args.input))
    agg = man.agg(
        F.count("*").alias("blocks"),
        F.sum("n_docs").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
    ).first()
    mix = {
        r["codec"]: r["n"]
        for r in man.groupBy("codec").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({
        "blocks": agg["blocks"], "docs": agg["docs"], "tokens": agg["tokens"],
        "raw_bytes": agg["raw_bytes"], "enc_bytes": agg["enc_bytes"],
        "ratio": (agg["enc_bytes"] / agg["raw_bytes"]) if agg["raw_bytes"] else None,
        "codec_mix": mix,
    }))
    return 0


def cmd_dedup(args) -> int:
    """Exact content dedup: write surviving rows."""
    from gorilla_stream_spark.textops import dedup_exact

    spark = _spark("gss-dedup")
    df = read_table(spark, args.input)
    before = df.count()
    out = dedup_exact(df, content_col=args.text_col, id_col=args.id_col)
    after = write_table(out, args.output)["rows"]
    print(json.dumps({"rows_in": before, "rows_out": after, "removed": before - after}))
    return 0


def cmd_neardup(args) -> int:
    """MinHash-LSH near-duplicate pairs: write (doc_a, doc_b).

    ``--dedup-first`` drops exact copies before candidate generation: a
    group of E exact copies shares every band bucket and would emit E^2/2
    candidate pairs, so dup-heavy corpora pay quadratically for content
    that exact dedup removes in linear time.
    """
    from gorilla_stream_spark.textops import dedup_exact, neardup_pairs

    spark = _spark("gss-neardup")
    df = read_table(spark, args.input)
    n_in = None
    if args.dedup_first:
        n_in = df.count()
        # cache: the deduped lineage feeds BOTH the near-dup pipeline and
        # the rows_after_dedup metric — without it the corpus-wide dedup
        # shuffle executes twice
        df = dedup_exact(df, content_col=args.text_col, id_col=args.id_col).cache()
    pairs = neardup_pairs(
        df, text_col=args.text_col, id_col=args.id_col, threshold_pct=args.threshold,
        verify=args.verify_mode,
    )
    out = {"pairs": write_table(pairs, args.output)["rows"]}
    if args.dedup_first:
        out["rows_in"] = n_in
        out["rows_after_dedup"] = df.count()
    print(json.dumps(out))
    return 0


def cmd_encode_multi(args) -> int:
    """Per-column encode of several array<int> columns (tokens + masks +
    labels...) into one block table; codec auto-selected per column/page.
    With ``--checkpoint`` the run is resumable with per-partition lineage,
    exactly like the single-column encode job."""
    from gorilla_stream_spark.engine import encode_multi

    spark = _spark("gss-encode-multi")
    cols = [c.strip() for c in args.columns.split(",") if c.strip()]
    df = read_table(spark, args.input)
    if args.checkpoint:
        if getattr(args, "wide", False):
            # the checkpoint protocol appends the nested lifecycle layout;
            # widen after the run completes (widen_multi is a projection)
            raise SystemExit(
                "--wide is not supported with --checkpoint; run widen_multi"
                " on the finished table instead"
            )
        if args.id_col != "doc_id":
            # the checkpoint protocol's lineage/resume exprs key on doc_id;
            # silently ignoring --id-col would fingerprint the wrong column
            raise SystemExit(
                "--id-col is not supported with --checkpoint; rename the id"
                " column to doc_id upstream"
            )
        from gorilla_stream_spark.checkpoint import encode_with_checkpoint

        m = encode_with_checkpoint(
            spark, df, output_path=args.output, checkpoint_path=args.checkpoint,
            run_id=args.run_id, num_partitions=args.partitions, codec=args.codec,
            token_cols=cols,
        )
        print(json.dumps({k: (float(v) if v is not None else None) for k, v in m.items()}))
        return 0
    enc = encode_multi(
        df, cols, id_col=args.id_col, num_partitions=args.partitions, codec=args.codec
    )
    if getattr(args, "wide", False):
        from gorilla_stream_spark.engine import widen_multi

        enc = widen_multi(enc, cols)
    m = write_table(enc, args.output, raw=F.sum("raw_bytes"), enc=F.sum("enc_bytes"))
    print(json.dumps({
        "blocks": m["rows"], "columns": cols, "raw_bytes": m["raw"],
        "enc_bytes": m["enc"],
        "ratio": (m["enc"] / m["raw"]) if m["raw"] else None,
    }))
    return 0


def cmd_decode_multi(args) -> int:
    from gorilla_stream_spark.engine import decode_multi

    spark = _spark("gss-decode-multi")
    cols = [c.strip() for c in args.columns.split(",") if c.strip()]
    dec = decode_multi(read_table(spark, args.input), cols, strict=not args.tolerant)
    print(json.dumps({"rows": write_table(dec, args.output)["rows"], "columns": cols}))
    return 0


def cmd_encode_vectors(args) -> int:
    from gorilla_stream_spark.vectors import encode_vectors, write_vectors

    spark = _spark("gss-encode-vectors")
    df = read_table(spark, args.input)
    enc = encode_vectors(
        df, vec_col=args.vec_col, id_col=args.id_col,
        num_partitions=args.partitions, layout=args.layout,
        quantize=args.quantize,
    )
    # lsh layout partitions the sink by bucket_pfx -> ann probes prune dirs
    m = write_vectors(enc, args.output, raw=F.sum("raw_bytes"), enc=F.sum("enc_bytes"))
    print(json.dumps({
        "blocks": m["rows"], "raw_bytes": m["raw"], "enc_bytes": m["enc"],
        "ratio": (m["enc"] / m["raw"]) if m["raw"] else None,
    }))
    return 0


def cmd_decode_vectors(args) -> int:
    from gorilla_stream_spark.vectors import decode_vectors

    spark = _spark("gss-decode-vectors")
    dec = decode_vectors(read_table(spark, args.input), strict=not args.tolerant)
    print(json.dumps({"rows": write_table(dec, args.output)["rows"]}))
    return 0


def cmd_ann(args) -> int:
    """Top-k search over an lsh-layout encoded vector table."""
    from gorilla_stream_spark.vectors import ann_search

    spark = _spark("gss-ann")
    enc = read_table(spark, args.input)
    qdf = read_table(spark, args.queries)
    queries = [
        (int(r[args.id_col]), list(r[args.vec_col])) for r in qdf.collect()
    ]
    out = ann_search(enc, queries, k=args.k)
    print(json.dumps({"results": write_table(out, args.output)["rows"],
                      "queries": len(queries), "k": args.k}))
    return 0


def cmd_sample(args) -> int:
    """Deterministic stratified sampling (data mixing) as a scan predicate."""
    from gorilla_stream_spark.textops import sample_corpus

    spark = _spark("gss-sample")
    df = read_table(spark, args.input)
    if args.rates:
        fractions = {}
        for part in args.rates.split(","):
            k, _, v = part.partition("=")
            fractions[k.strip()] = float(v)
    else:
        fractions = float(args.fraction)
    out = sample_corpus(
        df, fractions, seed=args.seed, source_col=args.source_col, hash_fn=args.hash_fn
    )
    rows_out = write_table(out, args.output)["rows"]
    by_source = None
    if args.source_col in out.columns:
        # read-back: a per-source count is a group-by, not one observed aggregate
        res = read_table(spark, args.output)
        by_source = {
            r[args.source_col]: r["n"]
            for r in res.groupBy(args.source_col).agg(F.count("*").alias("n")).collect()
        }
    print(json.dumps({"rows_in": df.count(), "rows_out": rows_out, "by_source": by_source}))
    return 0


def cmd_dup_spans(args) -> int:
    """Exact substring-duplication spans; optionally strip them in place."""
    from gorilla_stream_spark.textops import duplicate_spans, strip_duplicate_spans

    spark = _spark("gss-dup-spans")
    df = read_table(spark, args.input)
    spans = duplicate_spans(
        df, tokens_col=args.tokens_col, id_col=args.id_col, k=args.k,
        stride=args.stride, min_count=args.min_count,
        keep_first=args.keep_first or bool(args.strip_output),
        anchored=args.anchored,
    )
    summary = write_table(
        spans, args.output, dup_windows=F.sum("n_dup_windows"), spans=F.sum("n_spans"),
        dup_tokens=F.sum("dup_tokens"),
    )
    if args.strip_output:
        # read-back: stripping consumes the written spans as data
        sp = read_table(spark, args.output)
        stripped_df = strip_duplicate_spans(
            df, sp, tokens_col=args.tokens_col, id_col=args.id_col
        )
        write_table(stripped_df, args.strip_output)
    print(json.dumps({
        "docs": df.count(),
        "docs_with_dups": summary["rows"],
        "dup_windows": int(summary["dup_windows"] or 0),
        "spans": int(summary["spans"] or 0),
        "dup_tokens": int(summary["dup_tokens"] or 0),
        "stripped": bool(args.strip_output),
    }))
    return 0


def cmd_incremental_encode(args) -> int:
    """Re-encode only the partitions that changed between two corpus
    snapshots, reusing the rest of the old encoded table untouched."""
    from gorilla_stream_spark.engine import DEFAULT_BLOCK_TOKENS
    from gorilla_stream_spark.incremental import changed_partitions, incremental_encode

    from gorilla_stream_spark.incremental import corpus_partition_digest

    spark = _spark("gss-incremental-encode")
    old_enc = read_table(spark, args.old_encoded)
    old_corpus = read_table(spark, args.old_input) if args.old_input else None
    old_digests = read_table(spark, args.old_digests) if args.old_digests else None
    new_corpus = read_table(spark, args.input)
    inc = incremental_encode(
        old_enc, old_corpus, new_corpus, args.partitions,
        codec=args.codec, tokens_col=args.tokens_col, id_col=args.id_col,
        block_tokens=args.block_tokens or DEFAULT_BLOCK_TOKENS,
        container=args.container, old_digests=old_digests,
    )
    m = write_table(inc, args.output, tokens=F.sum("n_tokens"))
    if args.save_digests:
        # persist the NEW snapshot's digest table (P rows) so the next
        # incremental run diffs with one scan via --old-digests
        write_table(
            corpus_partition_digest(
                new_corpus, args.partitions,
                tokens_col=args.tokens_col, id_col=args.id_col,
            ),
            args.save_digests,
        )
    n_changed = changed_partitions(
        old_corpus, new_corpus, args.partitions,
        tokens_col=args.tokens_col, id_col=args.id_col,
        old_digests=old_digests,
    ).count()
    n_parts_old = old_enc.select("part_id").distinct().count()
    print(json.dumps({
        "blocks": m["rows"],
        "tokens": int(m["tokens"] or 0),
        "parts_changed": n_changed,
        "parts_old": n_parts_old,
        "reuse_frac": round(max(0.0, 1.0 - n_changed / max(n_parts_old, 1)), 4),
    }))
    return 0


def cmd_diff_docs(args) -> int:
    """Doc-level snapshot diff report: which docs were added / removed /
    changed between two corpus snapshots."""
    from gorilla_stream_spark.incremental import snapshot_diff

    spark = _spark("gss-diff-docs")
    old = read_table(spark, args.old)
    new = read_table(spark, args.new)
    d = snapshot_diff(old, new, tokens_col=args.tokens_col, id_col=args.id_col)
    statuses = ("added", "removed", "changed")
    m = write_table(d, args.output, **{s: F.count_if(F.col("status") == s) for s in statuses})
    print(json.dumps({s: m[s] for s in statuses}))
    return 0


def cmd_score(args) -> int:
    """Corpus-conditional quality scoring: per-doc unigram log-probability
    (plus the integer count-sum core) under the corpus distribution."""
    from gorilla_stream_spark.vocab import token_counts, unigram_logprob

    spark = _spark("gss-score")
    if args.counts and args.save_counts:
        raise SystemExit(
            "--counts and --save-counts are mutually exclusive: pass "
            "--counts to reuse a persisted table, --save-counts to write "
            "a fresh one"
        )
    df = read_table(spark, args.input)
    counts = read_table(spark, args.counts) if args.counts else None
    if counts is None and args.save_counts:
        counts = token_counts(df, tokens_col=args.tokens_col)
        write_table(counts, args.save_counts)
        counts = read_table(spark, args.save_counts)
    scored = unigram_logprob(
        df, counts=counts, tokens_col=args.tokens_col, id_col=args.id_col,
        alpha=args.alpha,
    )
    m = write_table(
        scored, args.output, mean_logprob=F.avg("logprob"), min_logprob=F.min("logprob")
    )
    print(json.dumps({
        "docs": m["rows"],
        "mean_logprob": round(float(m["mean_logprob"] or 0.0), 6),
        "min_logprob": round(float(m["min_logprob"] or 0.0), 6),
    }))
    return 0


def cmd_pipeline(args) -> int:
    """Staged prepare-and-encode pipeline with fingerprinted resume:
    clean → dedup → neardup → decontaminate → score → sample → pack →
    encode (any in-order subset).  Re-runs skip committed stages whose
    fingerprint (params + upstream chain + input location) matches; the
    input's CONTENT is not digested — if the input table was rewritten
    in place, pass --no-resume (or a fresh --workdir)."""
    from gorilla_stream_spark.pipeline import run_pipeline

    spark = _spark("gss-pipeline")
    fractions = None
    if args.sample_fractions:
        parsed = json.loads(args.sample_fractions)
        ok = isinstance(parsed, dict) or (
            isinstance(parsed, (float, int)) and not isinstance(parsed, bool)
        )
        if not ok:
            raise SystemExit("--sample-fractions must be a JSON number or object")
        fractions = parsed
    reports = run_pipeline(
        spark,
        args.input,
        args.workdir,
        args.output,
        stages=args.stages.split(","),
        eval_path=args.eval,
        neardup_threshold_pct=args.neardup_threshold_pct,
        threshold_pct=args.threshold_pct,
        decontaminate_metric=args.metric,
        min_logprob=args.min_logprob,
        sample_fractions=fractions,
        seed=args.seed,
        seq_len=args.seq_len,
        seqs_per_shard=args.seqs_per_shard,
        codec=args.codec,
        num_partitions=args.partitions,
        container=args.container,
        resume=not args.no_resume,
    )
    print(json.dumps({"stages": reports}))
    return 0


def cmd_shards(args) -> int:
    """Write packed sequences as size-balanced training shards
    (Hive-partitioned shard_id=N/ layout) and print the manifest rollup."""
    from gorilla_stream_spark.packing import shard_manifest, write_training_shards

    spark = _spark("gss-shards")
    df = read_table(spark, args.input)
    write_training_shards(df, args.output, seqs_per_shard=args.seqs_per_shard)
    man = shard_manifest(spark, args.output)
    if args.manifest:
        write_table(man, args.manifest)
    agg = man.agg(
        F.count("*").alias("shards"),
        F.sum("n_seqs").alias("seqs"),
        F.sum("n_tokens").alias("tokens"),
        F.max("n_seqs").alias("max_seqs_per_shard"),
    ).first()
    print(json.dumps({
        "shards": agg["shards"], "seqs": agg["seqs"], "tokens": agg["tokens"],
        "max_seqs_per_shard": agg["max_seqs_per_shard"],
    }))
    return 0


def cmd_delete(args) -> int:
    """Targeted delete: remove named docs from an encoded table in place
    (affected blocks re-encode, everything else passes through)."""
    from gorilla_stream_spark.engine import delete_docs

    spark = _spark("gss-delete")
    enc = read_table(spark, args.input)
    ids = [i for i in (args.ids.split(",") if args.ids else []) if i]
    if args.ids_file:
        with open(args.ids_file) as f:
            ids += [line.strip() for line in f if line.strip()]
    out = delete_docs(enc, ids, codec=args.codec, strict=not args.tolerant)
    before = enc.agg(F.sum("n_docs"), F.count("*")).first()
    after = write_table(out, args.output, docs=F.sum("n_docs"))
    print(json.dumps({
        "ids_requested": len(ids),
        "docs_before": int(before[0] or 0), "docs_after": int(after["docs"] or 0),
        "docs_deleted": int((before[0] or 0) - (after["docs"] or 0)),
        "blocks_before": before[1], "blocks_after": after["rows"],
    }))
    return 0


def cmd_pack(args) -> int:
    """Pack documents into fixed-length training sequences."""
    from gorilla_stream_spark.packing import pack_sequences

    spark = _spark("gss-pack")
    df = read_table(spark, args.input)
    packed = pack_sequences(
        df,
        args.seq_len,
        tokens_col=args.tokens_col,
        id_col=args.id_col,
        num_partitions=args.partitions,
        drop_last=args.drop_last,
    )
    m = write_table(packed, args.output, tokens=F.sum("n_tok"))
    print(json.dumps({"seqs": m["rows"], "tokens": int(m["tokens"] or 0)}))
    return 0


def cmd_wire_export(args) -> int:
    """Export a (ts, value) parquet table as reference .gorilla wire blocks
    (byte-for-byte the reference format — a gorilla_stream user can decode
    every block with GorillaStream.decompress/1)."""
    from gorilla_stream_spark.gorilla_wire import encode_timeseries_wire

    spark = _spark("gss-wire-export")
    df = read_table(spark, args.input)
    enc = encode_timeseries_wire(
        df,
        ts_col=args.ts_col,
        val_col=args.value_col,
        num_partitions=args.partitions,
        block_points=args.block_points,
        victoria_metrics=args.victoria_metrics,
        is_counter=args.counter,
    )
    m = write_table(enc, args.output, points=F.sum("n_points"), enc_bytes=F.sum("enc_bytes"))
    print(json.dumps({
        "blocks": m["rows"], "points": int(m["points"] or 0),
        "enc_bytes": int(m["enc_bytes"] or 0),
        "ratio": (m["enc_bytes"] / (m["points"] * 16)) if m["points"] else None,
    }))
    return 0


def cmd_wire_import(args) -> int:
    """Decode reference .gorilla wire blocks back to (ts, value) rows."""
    from gorilla_stream_spark.gorilla_wire import decode_timeseries_wire

    spark = _spark("gss-wire-import")
    enc = read_table(spark, args.input)
    dec = decode_timeseries_wire(enc, strict=not args.tolerant)
    print(json.dumps({"rows": write_table(dec, args.output)["rows"]}))
    return 0


def cmd_index(args) -> int:
    """Build the zone-map + bloom token membership index for a table."""
    from gorilla_stream_spark.index import build_token_index

    spark = _spark("gss-index")
    enc = read_table(spark, args.encoded)
    idx = build_token_index(
        enc, bloom_words=args.bloom_words, k=args.k, strict=not args.tolerant
    )
    print(json.dumps({"blocks": write_table(idx, args.output)["rows"]}))
    return 0


def cmd_grep_token(args) -> int:
    """Docs containing a token (or consecutive token phrase), decoding
    only index-surviving blocks."""
    from gorilla_stream_spark.index import (
        find_docs_with_phrase,
        find_docs_with_token,
        prune_blocks_for_token,
    )

    if (args.token is None) == (args.phrase is None):
        raise SystemExit("grep-token: exactly one of --token / --phrase required")
    spark = _spark("gss-grep-token")
    enc = read_table(spark, args.encoded)
    idx = read_table(spark, args.index)
    total = enc.count()
    if args.phrase is not None:
        phrase = [int(t) for t in args.phrase.split(",")]
        cand = None  # conjunction prune happens inside find_docs_with_phrase
        res = find_docs_with_phrase(enc, idx, phrase, strict=not args.tolerant)
        what = {"phrase": phrase}
    else:
        cand = prune_blocks_for_token(enc, idx, args.token).count()
        res = find_docs_with_token(enc, idx, args.token, strict=not args.tolerant)
        what = {"token": args.token}
    if args.output:
        m = write_table(res, args.output, hits=F.sum("n_hits"))
    else:
        m = res.agg(F.count("*").alias("rows"), F.sum("n_hits").alias("hits")).first()
    print(json.dumps({
        **what, "candidate_blocks": cand, "total_blocks": total,
        "docs": m["rows"], "hits": int(m["hits"] or 0),
    }))
    return 0


def cmd_build_dict(args) -> int:
    """Corpus-global frequency-ranked token dictionary."""
    from gorilla_stream_spark.vocab import build_global_dict

    spark = _spark("gss-build-dict")
    df = read_table(spark, args.input)
    vocab = build_global_dict(df, tokens_col=args.tokens_col)
    print(json.dumps({"vocab": write_table(vocab, args.output)["rows"]}))
    return 0


def cmd_remap(args) -> int:
    """Rewrite token arrays to global frequency ranks (or back)."""
    from gorilla_stream_spark.vocab import remap_tokens, unmap_tokens

    spark = _spark("gss-remap")
    df = read_table(spark, args.input)
    d = read_table(spark, args.dict)
    if args.inverse:
        out = unmap_tokens(df, d, tokens_col=args.tokens_col)
    else:
        out = remap_tokens(
            df, d, tokens_col=args.tokens_col, strict=not args.lenient
        )
    m = write_table(out, args.output, toks=F.sum(F.size(args.tokens_col)))
    print(json.dumps({"rows": m["rows"], "tokens": int(m["toks"] or 0)}))
    return 0


def cmd_merge(args) -> int:
    """Metadata-only union of two encoded tables (collision-free ids)."""
    from gorilla_stream_spark import merge_tables

    spark = _spark("gss-merge")
    a = read_table(spark, args.a)
    b = read_table(spark, args.b)
    m = write_table(merge_tables(a, b), args.output, docs=F.sum("n_docs"))
    # read-back: observed metrics refuse DISTINCT aggregates
    distinct_ids = read_table(spark, args.output).agg(F.count_distinct("block_id")).first()[0]
    print(json.dumps({
        "blocks": m["rows"], "distinct_ids": distinct_ids,
        "docs": int(m["docs"] or 0), "ok": m["rows"] == distinct_ids,
    }))
    return 0


def cmd_transcode(args) -> int:
    """Re-encode every block in place with a new codec/container."""
    from gorilla_stream_spark import transcode_blocks

    spark = _spark("gss-transcode")
    enc = read_table(spark, args.input)
    out = transcode_blocks(
        enc,
        codec=args.codec,
        container=args.container,
        container_level=args.level,
        container_dict=_container_dict(args),
        strict=not args.tolerant,
    )
    m = write_table(out, args.output, r=F.sum("raw_bytes"), e=F.sum("enc_bytes"))
    print(json.dumps({
        "blocks": m["rows"],
        "ratio": (m["e"] / m["r"]) if m["r"] else None,
    }))
    return 0


def cmd_drift(args) -> int:
    """Token-distribution drift report between two corpora."""
    from gorilla_stream_spark.vocab import compare_corpora

    spark = _spark("gss-drift")
    a = read_table(spark, args.a)
    b = read_table(spark, args.b)
    rep = compare_corpora(a, b, tokens_col=args.tokens_col, min_count=args.min_count)
    m = write_table(
        rep, args.output,
        appeared=F.count_if(F.col("cnt_a") == 0), vanished=F.count_if(F.col("cnt_b") == 0),
    )
    print(json.dumps({
        "tokens": m["rows"], "appeared": m["appeared"], "vanished": m["vanished"],
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="gorilla_stream_spark.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("encode", help="checkpointed resumable encode")
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--checkpoint", required=True)
    e.add_argument("--codec", default="auto")
    e.add_argument(
        "--container", default="none",
        choices=["none", "auto", "zlib", "zstd", "zlib-dict", "zstd-dict"],
    )
    e.add_argument(
        "--level", type=int, default=None,
        help="container compression level (zstd 1-22, zlib 0-9; default codec default)",
    )
    e.add_argument("--dict-path", default=None,
                   help="container dictionary file (required for *-dict containers)")
    e.add_argument("--partitions", type=int, default=None)
    e.add_argument("--run-id", default="run1")
    e.set_defaults(fn=cmd_encode)

    d = sub.add_parser("decode", help="decode blocks back to token rows")
    d.add_argument("--input", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--tolerant", action="store_true", help="don't fail on crc mismatch")
    d.add_argument("--dict-path", default=None,
                   help="container dictionary file (zlib-dict tables)")
    d.set_defaults(fn=cmd_decode)

    cp = sub.add_parser("compact", help="merge under-filled blocks into full ones")
    cp.add_argument("--input", required=True)
    cp.add_argument("--output", required=True)
    cp.add_argument("--codec", default="auto")
    cp.add_argument("--block-tokens", type=int, default=1 << 20)
    cp.add_argument("--min-tokens", type=int, default=None)
    cp.add_argument("--partitions", type=int, default=None)
    cp.add_argument("--container", default="none",
                    help="re-wrap merged blocks (match the table's encode container)")
    cp.add_argument("--level", type=int, default=None)
    cp.add_argument("--dict-path", default=None,
                    help="container dictionary file (zlib-dict tables need it to decode)")
    cp.add_argument("--tolerant", action="store_true", help="don't fail on crc mismatch")
    cp.set_defaults(fn=cmd_compact)

    dc = sub.add_parser("decontaminate", help="drop training docs that leak eval content")
    dc.add_argument("--train", required=True)
    dc.add_argument("--eval", required=True)
    dc.add_argument("--output", required=True, help="(train_id, eval_id) pairs parquet")
    dc.add_argument("--cleaned", default=None, help="also write the cleaned train table here")
    dc.add_argument("--threshold", type=int, default=70)
    dc.add_argument("--metric", default="jaccard", choices=["jaccard", "containment"])
    dc.set_defaults(fn=cmd_decontaminate)

    fs = sub.add_parser("fsck", help="source-free integrity check, any block-table kind")
    fs.add_argument("--input", required=True)
    fs.add_argument("--report", default=None, help="write bad-block rows here")
    fs.add_argument("--dict-path", default=None,
                    help="container dictionary file (zlib-dict tables)")
    fs.set_defaults(fn=cmd_fsck)

    v = sub.add_parser("verify", help="bit-identity round-trip check")
    v.add_argument("--source", required=True)
    v.add_argument("--encoded", required=True)
    v.add_argument("--dict-path", default=None,
                   help="container dictionary file (*-dict tables need it to decode)")
    v.set_defaults(fn=cmd_verify)

    s = sub.add_parser("estimate", help="codec selector preview, no encode")
    s.add_argument("--input", required=True)
    s.set_defaults(fn=cmd_estimate)

    a = sub.add_parser("analyze", help="pattern analysis + config recommendation")
    a.add_argument("--input", required=True)
    a.set_defaults(fn=cmd_analyze)

    info = sub.add_parser("info", help="header-only manifest rollup (no buffers read)")
    info.add_argument("--input", required=True, help="encoded block table")
    info.set_defaults(fn=cmd_info)

    dd = sub.add_parser("dedup", help="exact content dedup (keep lowest id)")
    dd.add_argument("--input", required=True)
    dd.add_argument("--output", required=True)
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--id-col", default="doc_id")
    dd.set_defaults(fn=cmd_dedup)

    nd = sub.add_parser("neardup", help="MinHash-LSH near-dup pairs")
    nd.add_argument("--input", required=True)
    nd.add_argument("--output", required=True)
    nd.add_argument("--text-col", default="text")
    nd.add_argument("--id-col", default="doc_id")
    nd.add_argument("--threshold", type=int, default=70, help="jaccard %% threshold")
    nd.add_argument(
        "--verify-mode", default="cached", choices=["cached", "recompute"],
        help="shingle sets for exact verify: cached corpus-wide (fast, fits-in-"
             "storage corpora) or recomputed for candidates only (10^12-doc shape)",
    )
    nd.add_argument(
        "--dedup-first", action="store_true",
        help="exact-dedup before near-dup (avoids E^2 pairs on exact-copy groups)",
    )
    nd.set_defaults(fn=cmd_neardup)

    em = sub.add_parser("encode-multi", help="per-column encode of several array<int> columns")
    em.add_argument("--input", required=True)
    em.add_argument("--output", required=True)
    em.add_argument("--columns", required=True, help="comma-separated array<int> column names")
    em.add_argument("--id-col", default="doc_id")
    em.add_argument("--codec", default="auto")
    em.add_argument("--partitions", type=int, default=None)
    em.add_argument("--checkpoint", default=None, help="enable resumable checkpointed run")
    em.add_argument("--run-id", default="run1")
    em.add_argument(
        "--wide", action="store_true",
        help="write the WIDE layout (one buf_<col> column per token column:"
        " single-column decodes read only that column's bytes)",
    )
    em.set_defaults(fn=cmd_encode_multi)

    dm = sub.add_parser("decode-multi", help="decode multi-column blocks")
    dm.add_argument("--input", required=True)
    dm.add_argument("--output", required=True)
    dm.add_argument("--columns", required=True, help="comma-separated column names (block order)")
    dm.add_argument("--tolerant", action="store_true")
    dm.set_defaults(fn=cmd_decode_multi)

    ev = sub.add_parser("encode-vectors", help="embedding block codec encode")
    ev.add_argument("--input", required=True)
    ev.add_argument("--output", required=True)
    ev.add_argument("--vec-col", default="embedding")
    ev.add_argument("--id-col", default="vec_id")
    ev.add_argument("--partitions", type=int, default=None)
    ev.add_argument("--layout", default="hash", choices=["hash", "lsh"])
    ev.add_argument(
        "--quantize", default=None, choices=["int8", "fp16"],
        help="opt-in lossy storage (default: bit-lossless f32)",
    )
    ev.set_defaults(fn=cmd_encode_vectors)

    dv = sub.add_parser("decode-vectors", help="embedding block codec decode")
    dv.add_argument("--input", required=True)
    dv.add_argument("--output", required=True)
    dv.add_argument("--tolerant", action="store_true")
    dv.set_defaults(fn=cmd_decode_vectors)

    sm = sub.add_parser("sample", help="deterministic stratified sampling (data mixing)")
    sm.add_argument("--input", required=True)
    sm.add_argument("--output", required=True)
    sm.add_argument("--fraction", type=float, default=1.0, help="global keep rate")
    sm.add_argument("--rates", default=None, help="per-source rates: src1=0.5,src2=0.1")
    sm.add_argument("--seed", type=int, default=1337)
    sm.add_argument("--source-col", default="source")
    sm.add_argument("--hash-fn", default="xxhash64", choices=["xxhash64", "md5"])
    sm.set_defaults(fn=cmd_sample)

    ds = sub.add_parser("dup-spans", help="exact substring-duplication spans (k-token windows)")
    ds.add_argument("--input", required=True)
    ds.add_argument("--output", required=True, help="span table parquet")
    ds.add_argument("--strip-output", default=None,
                    help="also write the corpus with duplicated spans removed"
                    " (keeps the first occurrence corpus-wide)")
    ds.add_argument("--tokens-col", default="tokens")
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--k", type=int, default=50, help="window length in tokens")
    ds.add_argument("--stride", type=int, default=1)
    ds.add_argument("--min-count", type=int, default=2)
    ds.add_argument("--keep-first", action="store_true",
                    help="exclude the first occurrence of each window from spans")
    ds.add_argument("--anchored", action="store_true",
                    help="content-defined window positions (use with --stride > 1)")
    ds.set_defaults(fn=cmd_dup_spans)

    ie = sub.add_parser(
        "incremental-encode",
        help="re-encode only partitions changed between two corpus snapshots",
    )
    ie.add_argument("--old-encoded", required=True, help="existing encoded table")
    ie.add_argument("--old-input", default=None,
                    help="snapshot the table was encoded from (or use --old-digests)")
    ie.add_argument("--old-digests", default=None,
                    help="persisted digest table of the old snapshot (skips its scan)")
    ie.add_argument("--save-digests", default=None,
                    help="write the new snapshot's digest table here for the next run")
    ie.add_argument("--input", required=True, help="new corpus snapshot")
    ie.add_argument("--output", required=True)
    ie.add_argument("--partitions", type=int, required=True,
                    help="the old table's ingest partition count (lineage-checked)")
    ie.add_argument("--codec", default="auto")
    ie.add_argument("--container", default="none",
                    choices=["none", "auto", "zlib", "zstd"])
    ie.add_argument("--block-tokens", type=int, default=None)
    ie.add_argument("--tokens-col", default="tokens")
    ie.add_argument("--id-col", default="doc_id")
    ie.set_defaults(fn=cmd_incremental_encode)

    dd = sub.add_parser("diff-docs", help="doc-level snapshot diff (added/removed/changed)")
    dd.add_argument("--old", required=True)
    dd.add_argument("--new", required=True)
    dd.add_argument("--output", required=True)
    dd.add_argument("--tokens-col", default="tokens")
    dd.add_argument("--id-col", default="doc_id")
    dd.set_defaults(fn=cmd_diff_docs)

    sc = sub.add_parser("score", help="per-doc unigram log-probability quality score")
    sc.add_argument("--input", required=True)
    sc.add_argument("--output", required=True)
    sc.add_argument("--counts", default=None,
                    help="persisted token_counts table (skips the counting pass)")
    sc.add_argument("--save-counts", default=None,
                    help="write the counting pass result here for reuse")
    sc.add_argument("--alpha", type=float, default=1.0)
    sc.add_argument("--tokens-col", default="tokens")
    sc.add_argument("--id-col", default="doc_id")
    sc.set_defaults(fn=cmd_score)

    pl = sub.add_parser(
        "pipeline",
        help="staged prepare-and-encode pipeline with fingerprinted resume",
    )
    pl.add_argument("--input", required=True)
    pl.add_argument("--workdir", required=True,
                    help="stage outputs + fingerprints live here")
    pl.add_argument("--output", required=True, help="encoded table destination")
    pl.add_argument("--stages", default="clean,dedup,encode",
                    help="comma list, in-order subset of clean,dedup,neardup,"
                         "decontaminate,score,sample,pack,shards|encode")
    pl.add_argument("--eval", default=None, help="eval corpus (decontaminate)")
    pl.add_argument("--neardup-threshold-pct", type=int, default=85)
    pl.add_argument("--threshold-pct", type=int, default=70)
    pl.add_argument("--metric", default="jaccard", choices=["jaccard", "containment"])
    pl.add_argument("--min-logprob", type=float, default=None, help="score filter")
    pl.add_argument("--sample-fractions", default=None,
                    help="JSON: global fraction or {source: fraction}")
    pl.add_argument("--seed", type=int, default=1337)
    pl.add_argument("--seq-len", type=int, default=2048)
    pl.add_argument("--seqs-per-shard", type=int, default=1024)
    pl.add_argument("--codec", default="auto")
    pl.add_argument("--partitions", type=int, default=None)
    pl.add_argument("--container", default="none")
    pl.add_argument("--no-resume", action="store_true",
                    help="recompute every stage (input rewritten in place)")
    pl.set_defaults(fn=cmd_pipeline)

    sh = sub.add_parser("shards", help="write packed sequences as balanced training shards")
    sh.add_argument("--input", required=True, help="packed-sequence table (pack output)")
    sh.add_argument("--output", required=True)
    sh.add_argument("--seqs-per-shard", type=int, default=1024)
    sh.add_argument("--manifest", default=None, help="write the per-shard manifest here")
    sh.set_defaults(fn=cmd_shards)

    dl = sub.add_parser("delete", help="targeted delete of docs from an encoded table")
    dl.add_argument("--input", required=True, help="encoded table")
    dl.add_argument("--output", required=True)
    dl.add_argument("--ids", default="", help="comma-separated doc ids")
    dl.add_argument("--ids-file", default=None, help="file with one doc id per line")
    dl.add_argument("--codec", default="auto", help="codec for rewritten blocks")
    dl.add_argument("--tolerant", action="store_true")
    dl.set_defaults(fn=cmd_delete)

    pk = sub.add_parser("pack", help="pack docs into fixed-length training sequences")
    pk.add_argument("--input", required=True)
    pk.add_argument("--output", required=True)
    pk.add_argument("--seq-len", type=int, required=True)
    pk.add_argument("--tokens-col", default="tokens")
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--partitions", type=int, default=None)
    pk.add_argument("--drop-last", action="store_true")
    pk.set_defaults(fn=cmd_pack)

    we = sub.add_parser("wire-export", help="export to reference .gorilla wire blocks")
    we.add_argument("--input", required=True)
    we.add_argument("--output", required=True)
    we.add_argument("--ts-col", default="ts")
    we.add_argument("--value-col", default="value")
    we.add_argument("--partitions", type=int, default=None)
    we.add_argument("--block-points", type=int, default=5000)
    we.add_argument("--victoria-metrics", action="store_true")
    we.add_argument("--counter", action="store_true")
    we.set_defaults(fn=cmd_wire_export)

    wi = sub.add_parser("wire-import", help="decode reference .gorilla wire blocks")
    wi.add_argument("--input", required=True)
    wi.add_argument("--output", required=True)
    wi.add_argument("--tolerant", action="store_true", help="flag, not fail, on crc mismatch")
    wi.set_defaults(fn=cmd_wire_import)

    ix = sub.add_parser("index", help="build zone-map + bloom token membership index")
    ix.add_argument("--encoded", required=True)
    ix.add_argument("--output", required=True)
    ix.add_argument("--bloom-words", type=int, default=8)
    ix.add_argument("--k", type=int, default=4)
    ix.add_argument("--tolerant", action="store_true")
    ix.set_defaults(fn=cmd_index)

    gt = sub.add_parser("grep-token", help="docs containing a token (index-pruned)")
    gt.add_argument("--encoded", required=True)
    gt.add_argument("--index", required=True)
    gt.add_argument("--token", type=int)
    gt.add_argument("--phrase", help="comma-separated token sequence")
    gt.add_argument("--output")
    gt.add_argument("--tolerant", action="store_true")
    gt.set_defaults(fn=cmd_grep_token)

    bd = sub.add_parser("build-dict", help="corpus-global frequency-ranked token dictionary")
    bd.add_argument("--input", required=True)
    bd.add_argument("--output", required=True)
    bd.add_argument("--tokens-col", default="tokens")
    bd.set_defaults(fn=cmd_build_dict)

    rm = sub.add_parser("remap", help="rewrite tokens to global ranks (--inverse: back)")
    rm.add_argument("--input", required=True)
    rm.add_argument("--dict", required=True)
    rm.add_argument("--output", required=True)
    rm.add_argument("--tokens-col", default="tokens")
    rm.add_argument("--inverse", action="store_true")
    rm.add_argument("--lenient", action="store_true")
    rm.set_defaults(fn=cmd_remap)

    dr = sub.add_parser("drift", help="token-distribution drift between two corpora")
    dr.add_argument("--a", required=True, help="baseline corpus parquet")
    dr.add_argument("--b", required=True, help="candidate corpus parquet")
    dr.add_argument("--output", required=True)
    dr.add_argument("--tokens-col", default="tokens")
    dr.add_argument("--min-count", type=int, default=1)
    dr.set_defaults(fn=cmd_drift)

    mg = sub.add_parser("merge", help="metadata-only union of two encoded tables")
    mg.add_argument("--a", required=True, help="encoded table A (ids kept)")
    mg.add_argument("--b", required=True, help="encoded table B (ids re-stamped)")
    mg.add_argument("--output", required=True)
    mg.set_defaults(fn=cmd_merge)

    tc = sub.add_parser("transcode", help="re-encode blocks in place (codec migration)")
    tc.add_argument("--input", required=True)
    tc.add_argument("--output", required=True)
    tc.add_argument("--codec", default="auto")
    tc.add_argument("--container", default="none")
    tc.add_argument("--level", type=int)
    tc.add_argument("--dict-path")
    tc.add_argument("--tolerant", action="store_true")
    tc.set_defaults(fn=cmd_transcode)

    an = sub.add_parser("ann", help="top-k search over lsh-layout vector blocks")
    an.add_argument("--input", required=True, help="encoded vector table (layout=lsh)")
    an.add_argument("--queries", required=True, help="parquet of query vectors")
    an.add_argument("--output", required=True)
    an.add_argument("--k", type=int, default=10)
    an.add_argument("--vec-col", default="embedding")
    an.add_argument("--id-col", default="vec_id")
    an.set_defaults(fn=cmd_ann)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
