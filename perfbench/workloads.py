"""The workloads: generated fixtures, one closed-loop iteration each,
and the correctness checks on every output.

An iteration is a list of operations (:class:`Op`).  Each operation is
one public engine call plus the consume that forces it, timed together;
its check runs on the result and a mismatch or exception marks the
operation failed without stopping the run.
"""

from __future__ import annotations

import os
import shutil
import traceback
from collections.abc import Iterator
from dataclasses import dataclass, field
from time import perf_counter

import numpy as np

from perfbench.harness import NPROC, dir_bytes, host_ticks, steal_share, tree_cpu_s

SIZES = {
    # docs: codecs token table; curation_docs: curation token table
    # (before planted copies); points: timeseries length
    "full": {"docs": 5_000, "curation_docs": 2_000, "points": 500_000},
    "tiny": {"docs": 300, "curation_docs": 300, "points": 20_000},
}
SEQ_LEN = 2048
WIRE_BLOCK_POINTS = 65536
NEARDUP_THRESHOLD_PCT = 70
MASK32 = 0xFFFFFFFF
MASK64 = (1 << 64) - 1
TEXT_STRATA = ("random", "counter", "sorted_ids", "narrow_range")
# units of the per-iteration extras the workloads report
EXTRA_UNITS = {
    "compression_ratio": "ratio",
    "stored_bytes_per_raw_byte": "ratio",
    "ts_compression_ratio": "ratio",
    "neardup_pairs": "count",
    "dup_spans_docs": "count",
    "pack_seqs": "count",
}


@dataclass
class Op:
    name: str
    seconds: float
    cpu_s: float
    items: int
    ok: bool
    error: str = ""
    jit_s: float = 0.0
    steal: float = 0.0


@dataclass
class Ctx:
    """What one run hands to a workload."""

    spark: object
    tracer: object
    seed: int
    sizes: dict
    fixtures: object
    run_dir: str
    paths: dict = field(default_factory=dict)
    corrupt: bool = False


def timed_op(ctx: Ctx, name: str, items: int, call, check) -> tuple[Op, object]:
    """Run ``call()`` inside a span, then ``check(result)``; any exception
    or a false check marks the op failed.  Wall and CPU time cover the
    call, not the check."""
    h0, c0, t0 = host_ticks(), tree_cpu_s(), perf_counter()

    def op(ok: bool, error: str) -> Op:
        seconds, (work, jit) = perf_counter() - t0, tree_cpu_s()
        return Op(name, seconds, work - c0[0], items, ok, error, jit - c0[1],
                  steal_share(h0, host_ticks()))

    try:
        with ctx.tracer.span(name):
            result = call()
    except Exception:
        return op(False, traceback.format_exc(limit=3)), None
    done = op(True, "")
    try:
        if not check(result):
            done.ok, done.error = False, "check failed"
    except Exception:
        done.ok, done.error = False, traceback.format_exc(limit=3)
    return done, result


# ---------------------------------------------------------------------------
# Digests computed inside the Python workers (order-independent)
# ---------------------------------------------------------------------------


def _mix64(ts: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Per point, a 64-bit mix (splitmix64 finalizer) of the timestamp and
    the float's bits: summed mod 2^64 it is an order-independent digest
    that any changed bit moves."""
    x = ts.astype(np.int64, copy=False).view(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    x += vals.astype(np.float64, copy=False).view(np.uint64)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _ts_digest_batches(batches: Iterator) -> Iterator:
    """(rows, digest) of (ts, value) batches, the digest as a decimal
    string (it is unsigned 64-bit)."""
    import pyarrow as pa

    n, acc = 0, 0
    for rb in batches:
        x = _mix64(rb.column(0).to_numpy(zero_copy_only=False), rb.column(1).to_numpy(zero_copy_only=False))
        acc = (acc + int(x.sum(dtype=np.uint64))) & MASK64
        n += rb.num_rows
    yield pa.RecordBatch.from_pydict(
        {"n": pa.array([n], pa.int64()), "h": pa.array([str(acc)], pa.string())}
    )


def ts_digest(df) -> dict:
    rows = df.select("ts", "value").mapInArrow(_ts_digest_batches, "n long, h string").collect()
    return {
        "points": sum(r["n"] for r in rows),
        "hash": sum(int(r["h"]) for r in rows) & MASK64,
    }


def _token_digest_batches(batches: Iterator) -> Iterator:
    """Token conservation facts of a table with ``tokens``/``n_tok``
    columns, and for packed rows (``doc_spans`` present) the rows whose
    length is not ``SEQ_LEN`` or whose spans do not sum to their length."""
    import pyarrow as pa

    rows = toks = vsum = bad_len = short = bad_spans = 0
    for rb in batches:
        names = rb.schema.names
        tok = rb.column(names.index("tokens"))
        lens = tok.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
        n_tok = rb.column(names.index("n_tok")).to_numpy(zero_copy_only=False)
        rows += rb.num_rows
        toks += int(lens.sum())
        vsum += int(tok.flatten().to_numpy(zero_copy_only=False).astype(np.int64).sum())
        bad_len += int((n_tok != lens).sum())
        if "doc_spans" in names:
            sp = rb.column(names.index("doc_spans"))
            vals = sp.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            offs = sp.offsets.to_numpy(zero_copy_only=False)
            csum = np.concatenate(([0], np.cumsum(vals)))
            bad_spans += int(((csum[offs[1:]] - csum[offs[:-1]]) != lens).sum())
            short += int((lens != SEQ_LEN).sum())
    yield pa.RecordBatch.from_pydict(
        {k: pa.array([v], pa.int64()) for k, v in
         dict(rows=rows, tokens=toks, value_sum=vsum, bad_len=bad_len, short=short,
              bad_spans=bad_spans).items()}
    )


def token_digest(df) -> dict:
    cols = [c for c in ("tokens", "n_tok", "doc_spans") if c in df.columns]
    schema = "rows long, tokens long, value_sum long, bad_len long, short long, bad_spans long"
    parts = df.select(*cols).mapInArrow(_token_digest_batches, schema).collect()
    return {k: sum(r[k] for r in parts) for k in schema.replace(" long", "").split(", ")}


def table_digest(df) -> dict:
    """Row count, token count and a sum of masked per-doc xxhash64 over
    (doc_id, tokens, source).  The 32-bit mask keeps the sum inside a long
    (ANSI mode raises on overflow)."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count("*").alias("rows"),
        F.sum("n_tok").alias("tokens"),
        F.sum(F.xxhash64("doc_id", "tokens", "source").bitwiseAND(F.lit(MASK32))).alias("hash"),
    ).first()
    return {"rows": int(r["rows"]), "tokens": int(r["tokens"] or 0), "hash": int(r["hash"] or 0)}


def checkpoint_crc_sum(ckpt_dir: str) -> int:
    import pyarrow.parquet as pq

    return int(sum(pq.read_table(ckpt_dir, columns=["crc_sum"]).column(0).to_pylist()))


# ---------------------------------------------------------------------------
# Fixture builders
#
# Tables are generated on the driver with numpy and written with pyarrow as
# NPROC files of contiguous rows, the layout ``generator.tokens_df`` /
# ``spark.range`` would give; ``generator.tokens_pdf`` yields the same rows
# as ``tokens_df`` (both call ``gen_doc`` per index), without a Spark job.
# ---------------------------------------------------------------------------


def _write_parts(table, path: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, NPROC + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def _tokens_table(pdf):
    """pandas (doc_id, tokens ndarray, n_tok, source) -> Arrow table with
    Spark's tokens schema (``array<int>`` without nulls)."""
    import pyarrow as pa

    lens = pdf["n_tok"].to_numpy(np.int32)
    offsets = np.concatenate(([0], np.cumsum(lens, dtype=np.int64))).astype(np.int32)
    values = np.concatenate(list(pdf["tokens"])) if len(pdf) else np.empty(0, np.int32)
    tok_type = pa.list_(pa.field("element", pa.int32(), nullable=False))
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values.astype(np.int32)), type=tok_type)
    return pa.table(
        {
            "doc_id": pa.array(pdf["doc_id"], pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array(pdf["source"], pa.string()),
        }
    )


def tokens_fixture(ctx: Ctx) -> tuple[str, dict, bool]:
    """The generator's token table for the seed: all nine FIXTURES strata."""
    n_docs = ctx.sizes["docs"]

    def build(path: str) -> dict:
        from gorilla_stream_spark.generator import tokens_pdf

        out = os.path.join(path, "tokens")
        _write_parts(_tokens_table(tokens_pdf(n_docs, seed=ctx.seed)), out)
        return table_digest(ctx.spark.read.parquet(out))

    return ctx.fixtures.get(f"tokens-s{ctx.seed}-d{n_docs}", build)


def series_values(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Minute-interval sine + pseudo-noise, rounded to 3 decimals (the shape
    of ``bench.py`` q5b); the seed shifts the noise phase."""
    i = np.arange(n, dtype=np.int64)
    ts = 1_600_000_000 + i * 60
    vals = np.round(
        np.sin(i / 1440.0 * 6.283185307179586) * 10.0
        + np.sin((i + seed * 7919) * 12.9898) * 0.5
        + 20.0,
        3,
    )
    return ts, vals


def series_fixture(ctx: Ctx) -> tuple[str, dict, bool]:
    n = ctx.sizes["points"]

    def build(path: str) -> dict:
        import pyarrow as pa

        ts, vals = series_values(n, ctx.seed)
        _write_parts(pa.table({"ts": ts, "value": vals}), os.path.join(path, "series"))
        return {"points": n, "hash": int(_mix64(ts, vals).sum(dtype=np.uint64))}

    return ctx.fixtures.get(f"series-s{ctx.seed}-p{n}", build)


def _text_id(doc_id: str) -> int:
    """A 63-bit signed id for a text doc (``id + 13`` cannot overflow)."""
    import hashlib

    digest = hashlib.blake2b(doc_id.encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little", signed=True) >> 1


def curation_fixture(ctx: Ctx) -> tuple[str, dict, bool]:
    """Token table with planted verbatim spans, and a text corpus derived
    from its diverse strata with planted exact and near copies.

    * span copies: tokens 51..350 of every 8th ``random`` doc with at least
      400 tokens, as a new doc; both docs must come out of
      ``duplicate_spans``;
    * text docs: the first 256 tokens of each doc of ``TEXT_STRATA`` with at
      least 16 tokens, as words ``t<id>``; each doc whose id is 0 mod 50 is
      re-added under ``id + 13`` and each 1 mod 50 as a near copy (one extra
      word) under ``id + 7``; ``neardup_pairs`` must return every such pair.
    """
    n_docs = ctx.sizes["curation_docs"]

    def build(path: str) -> dict:
        import pandas as pd
        import pyarrow as pa

        from gorilla_stream_spark.generator import tokens_pdf

        pdf = tokens_pdf(n_docs, seed=ctx.seed)
        src = pdf[(pdf["source"] == "random") & (pdf["n_tok"] >= 400)].iloc[::8]
        copies = pd.DataFrame(
            {
                "doc_id": src["doc_id"] + "-copy",
                "tokens": [t[50:350] for t in src["tokens"]],
                "n_tok": np.full(len(src), 300, np.int32),
                "source": "planted",
            }
        )
        table = _tokens_table(pd.concat([pdf, copies], ignore_index=True))
        _write_parts(table, os.path.join(path, "tokens"))

        texts = pdf[pdf["source"].isin(TEXT_STRATA) & (pdf["n_tok"] >= 16)]
        ids = [_text_id(d) for d in texts["doc_id"]]
        words = [" ".join(f"t{t}" for t in toks[:256]) for toks in texts["tokens"]]
        rows = list(zip(ids, words))
        text_pairs = []
        for i, w in zip(ids, words):
            if i % 50 in (0, 1):
                off, text = (13, w) if i % 50 == 0 else (7, w + " xdup")
                rows.append((i + off, text))
                text_pairs.append([i, i + off])
        _write_parts(
            pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows], pa.string())}),
            os.path.join(path, "corpus"),
        )
        lens = table.column("n_tok").to_numpy()
        return {
            "docs": table.num_rows,
            "tokens": int(lens.sum()),
            "value_sum": int(
                table.column("tokens").combine_chunks().flatten().to_numpy().astype(np.int64).sum()
            ),
            "corpus_docs": len(rows),
            "span_pairs": [[d[: -len("-copy")], d] for d in copies["doc_id"]],
            "text_pairs": sorted(text_pairs),
        }

    return ctx.fixtures.get(f"curation-s{ctx.seed}-d{n_docs}", build)


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    """``prepare`` builds or reuses the fixtures (-> whether all were
    reused), ``iteration`` runs one closed-loop pass -> (ops, extras).

    ``rates`` names the throughput each op reports, as
    metric -> (op name, unit).
    """

    name = ""
    rates: dict[str, tuple[str, str]] = {}

    def __init__(self):
        self.facts: dict = {}

    def prepare(self, ctx: Ctx) -> bool:
        raise NotImplementedError

    def iteration(self, ctx: Ctx, k: int) -> tuple[list[Op], dict]:
        raise NotImplementedError


class Ingest(Workload):
    """``checkpoint.encode_with_checkpoint`` (codec ``auto``, the path
    ``jobs.py encode`` runs) into fresh output and checkpoint dirs, then
    ``decode`` of the table just written, consumed fully by a per-doc
    checksum that must equal the source's."""

    name = "ingest"
    rates = {
        "encode_tok_per_s": ("checkpoint.encode_with_checkpoint", "tokens/s"),
        "decode_tok_per_s": ("engine.decode", "tokens/s"),
    }

    def prepare(self, ctx: Ctx) -> bool:
        path, self.facts, reused = tokens_fixture(ctx)
        ctx.paths["tokens"] = os.path.join(path, "tokens")
        self.toks = ctx.spark.read.parquet(ctx.paths["tokens"])
        return reused

    def iteration(self, ctx: Ctx, k: int) -> tuple[list[Op], dict]:
        from gorilla_stream_spark.checkpoint import encode_with_checkpoint
        from gorilla_stream_spark.engine import decode

        run = os.path.join(ctx.run_dir, f"ingest-{k}")
        out, ckpt = os.path.join(run, "enc"), os.path.join(run, "ckpt")
        f = dict(self.facts)

        def check(m: dict) -> bool:
            # counts against the source; bytes and buffer crcs against the
            # run's first iteration (encode is deterministic per input)
            got = (int(m["enc_bytes"]), checkpoint_crc_sum(ckpt))
            first = self.facts.setdefault("first_output", got)
            return (
                m["docs"] == f["rows"]
                and m["tokens"] == f["tokens"]
                and m["raw_bytes"] == 4 * f["tokens"]
                and m["parts_committed"] == NPROC
                and got == first
            )

        enc_op, m = timed_op(
            ctx, "checkpoint.encode_with_checkpoint", f["tokens"],
            lambda: encode_with_checkpoint(ctx.spark, self.toks, out, ckpt, num_partitions=NPROC),
            check,
        )
        extras = {}
        if m is not None:
            extras = {
                "compression_ratio": m["enc_bytes"] / m["raw_bytes"],
                "stored_bytes_per_raw_byte": dir_bytes(out) / m["raw_bytes"],
            }
            if ctx.corrupt:
                _corrupt_one_byte(out)
        want = {"rows": f["rows"], "tokens": f["tokens"], "hash": f["hash"]}
        dec_op, _ = timed_op(
            ctx, "engine.decode", f["tokens"],
            lambda: table_digest(decode(ctx.spark.read.parquet(out))),
            lambda got: got == want,
        )
        shutil.rmtree(run, ignore_errors=True)
        return [enc_op, dec_op], extras


def _corrupt_one_byte(table_dir: str) -> None:
    """Flip one byte inside one block buffer of an encoded table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for dirpath, _, files in sorted(os.walk(table_dir)):
        for name in sorted(files):
            if name.endswith(".parquet"):
                path = os.path.join(dirpath, name)
                tbl = pq.read_table(path)
                bufs = tbl.column("buffer").to_pylist()
                b = bytearray(bufs[0])
                b[len(b) // 2] ^= 0x01
                bufs[0] = bytes(b)
                i = tbl.schema.get_field_index("buffer")
                pq.write_table(tbl.set_column(i, "buffer", pa.array(bufs, pa.binary())), path)
                # drop the file-system checksum so the engine's own crc
                # check is what sees the flipped byte
                crc = os.path.join(dirpath, f".{name}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                return
    raise FileNotFoundError(f"no parquet file under {table_dir}")


class Timeseries(Workload):
    """Gorilla-family encode/decode of the series through parquet, then
    export/import through the reference wire format."""

    name = "timeseries"
    rates = {
        "ts_encode_pts_per_s": ("engine.encode_timeseries", "points/s"),
        "ts_decode_pts_per_s": ("engine.decode_timeseries", "points/s"),
        "wire_encode_pts_per_s": ("gorilla_wire.encode_timeseries_wire", "points/s"),
        "wire_decode_pts_per_s": ("gorilla_wire.decode_timeseries_wire", "points/s"),
    }

    def prepare(self, ctx: Ctx) -> bool:
        path, self.facts, reused = series_fixture(ctx)
        ctx.paths["series"] = os.path.join(path, "series")
        self.pts = ctx.spark.read.parquet(ctx.paths["series"])
        return reused

    def iteration(self, ctx: Ctx, k: int) -> tuple[list[Op], dict]:
        import pyarrow.parquet as pq

        from gorilla_stream_spark.engine import decode_timeseries, encode_timeseries
        from gorilla_stream_spark.gorilla_wire import (
            decode_timeseries_wire,
            encode_timeseries_wire,
        )

        spark, n = ctx.spark, self.facts["points"]
        want = {"points": n, "hash": self.facts["hash"]}
        run = os.path.join(ctx.run_dir, f"timeseries-{k}")
        enc, wire = os.path.join(run, "enc"), os.path.join(run, "wire")

        def points_in(path: str) -> int:
            return sum(pq.read_table(path, columns=["n_points"]).column(0).to_pylist())

        ops = []
        op, _ = timed_op(
            ctx, "engine.encode_timeseries", n,
            lambda: encode_timeseries(self.pts, num_partitions=NPROC).write.parquet(enc),
            lambda _: points_in(enc) == n,
        )
        ops.append(op)
        op, _ = timed_op(
            ctx, "engine.decode_timeseries", n,
            lambda: ts_digest(decode_timeseries(spark.read.parquet(enc))),
            lambda got: got == want,
        )
        ops.append(op)
        op, _ = timed_op(
            ctx, "gorilla_wire.encode_timeseries_wire", n,
            lambda: encode_timeseries_wire(
                self.pts, num_partitions=NPROC, block_points=WIRE_BLOCK_POINTS
            ).write.parquet(wire),
            lambda _: points_in(wire) == n,
        )
        ops.append(op)
        op, _ = timed_op(
            ctx, "gorilla_wire.decode_timeseries_wire", n,
            lambda: ts_digest(decode_timeseries_wire(spark.read.parquet(wire))),
            lambda got: got == want,
        )
        ops.append(op)
        extras = {}
        if ops[0].ok:
            t = pq.read_table(enc, columns=["raw_bytes", "enc_bytes"])
            extras["ts_compression_ratio"] = sum(t.column("enc_bytes").to_pylist()) / sum(
                t.column("raw_bytes").to_pylist()
            )
        shutil.rmtree(run, ignore_errors=True)
        return ops, extras


class Curation(Workload):
    """MinHash-LSH near-dup pairs over the derived text corpus, exact
    duplicate spans and sequence packing over the token table."""

    name = "curation"
    rates = {
        "neardup_docs_per_s": ("textops.neardup_pairs", "docs/s"),
        "dup_spans_tok_per_s": ("textops.duplicate_spans", "tokens/s"),
        "pack_tok_per_s": ("packing.pack_sequences", "tokens/s"),
    }

    def prepare(self, ctx: Ctx) -> bool:
        path, self.facts, reused = curation_fixture(ctx)
        ctx.paths["tokens"] = os.path.join(path, "tokens")
        ctx.paths["corpus"] = os.path.join(path, "corpus")
        self.toks = ctx.spark.read.parquet(ctx.paths["tokens"])
        self.corpus = ctx.spark.read.parquet(ctx.paths["corpus"])
        return reused

    def iteration(self, ctx: Ctx, k: int) -> tuple[list[Op], dict]:
        from gorilla_stream_spark.packing import pack_sequences
        from gorilla_stream_spark.textops import duplicate_spans, neardup_pairs

        f = self.facts

        def pairs() -> set:
            res = neardup_pairs(self.corpus, threshold_pct=NEARDUP_THRESHOLD_PCT)
            try:
                return {tuple(sorted((r[0], r[1]))) for r in res.collect()}
            finally:
                res.unpersist()

        def spans() -> dict:
            res = duplicate_spans(self.toks, k=50, stride=8, anchored=True)
            return {r["doc_id"]: r["dup_tokens"] for r in res.select("doc_id", "dup_tokens").collect()}

        def packed_ok(d: dict) -> bool:
            return (
                d["tokens"] == f["tokens"]
                and d["value_sum"] == f["value_sum"]
                and d["rows"] == -(-f["tokens"] // SEQ_LEN)
                and d["short"] <= 1
                and d["bad_len"] == 0
                and d["bad_spans"] == 0
            )

        ops = []
        op, found = timed_op(
            ctx, "textops.neardup_pairs", f["corpus_docs"], pairs,
            lambda got: all(tuple(p) in got for p in f["text_pairs"]),
        )
        ops.append(op)
        op, dup = timed_op(
            ctx, "textops.duplicate_spans", f["tokens"], spans,
            lambda got: all(got.get(a, 0) >= 50 and got.get(b, 0) >= 50 for a, b in f["span_pairs"]),
        )
        ops.append(op)
        op, pk = timed_op(
            ctx, "packing.pack_sequences", f["tokens"],
            lambda: token_digest(pack_sequences(self.toks, SEQ_LEN, num_partitions=NPROC)),
            packed_ok,
        )
        ops.append(op)
        # pack_sequences leaves its range-partitioned input cached
        ctx.spark.catalog.clearCache()
        extras = {
            "neardup_pairs": len(found) if found is not None else 0,
            "dup_spans_docs": len(dup) if dup is not None else 0,
            "pack_seqs": pk["rows"] if pk is not None else 0,
        }
        return ops, extras


class Codecs(Workload):
    """Every codec layer: the token table through the shipped ingest path
    and back (``Ingest``), then the series through the native
    Gorilla-family path and the reference wire format (``Timeseries``)."""

    name = "codecs"
    rates = {**Ingest.rates, **Timeseries.rates}

    def __init__(self):
        super().__init__()
        self.parts = [Ingest(), Timeseries()]

    def prepare(self, ctx: Ctx) -> bool:
        return all([p.prepare(ctx) for p in self.parts])

    def iteration(self, ctx: Ctx, k: int) -> tuple[list[Op], dict]:
        ops, extras = [], {}
        for p in self.parts:
            o, e = p.iteration(ctx, k)
            ops += o
            extras.update(e)
        return ops, extras


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (Codecs, Curation)}
