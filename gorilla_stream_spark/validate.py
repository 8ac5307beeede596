"""Input validation and cleaning for token tables.

Analog of ``GorillaStream.Validator``
(``/root/reference/lib/gorilla_stream/validator.ex:24-203``): per-point
checks (the reference flags negative timestamps, NaN/Inf values, ordering,
duplicates, gaps), here re-expressed as declarative DataFrame predicates so
Catalyst pushes them into the scan — no UDFs.

Checks on (doc_id, tokens, n_tok, source):
  * doc_id non-null / non-duplicate
  * tokens non-null, n_tok == size(tokens)  (count invariant — the analog
    of the reference's ts/value count equality, encoder/bit_packing.ex:30-36)
  * token values within [0, max_token]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["validate", "clean", "validate_timeseries", "validate_vectors", "fsck_blocks", "fsck"]

MAX_TOKEN = (1 << 32) - 2  # fsst pair-packing bound


def _issue_col(max_token: int):
    return (
        F.when(F.col("doc_id").isNull(), "null_doc_id")
        .when(F.col("tokens").isNull(), "null_tokens")
        .when(
            F.col("n_tok").isNull() | (F.col("n_tok") != F.size("tokens")),
            "n_tok_mismatch",
        )
        .when(F.exists("tokens", lambda t: t.isNull()), "null_token")
        .when(
            F.exists("tokens", lambda t: (t < F.lit(0)) | (t > F.lit(max_token))),
            "token_out_of_range",
        )
        .otherwise(None)
    )


def validate(df: DataFrame, max_token: int = MAX_TOKEN) -> DataFrame:
    """Row-level quality report: (doc_id, issue) for every offending row,
    plus duplicate doc_ids.  Empty result == valid dataset."""
    issues = (
        df.withColumn("issue", _issue_col(max_token))
        .filter(F.col("issue").isNotNull())
        .select("doc_id", "issue")
    )
    dupes = (
        df.groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
        .select("doc_id", F.lit("duplicate_doc_id").alias("issue"))
    )
    return issues.unionByName(dupes)


def clean(df: DataFrame, max_token: int = MAX_TOKEN) -> DataFrame:
    """Filter to valid rows, fix n_tok, and drop duplicate doc_ids —
    analog of ``Validator.clean/2`` (validator.ex:67-90: filter + sort +
    dedupe)."""
    return (
        df.filter(F.col("doc_id").isNotNull() & F.col("tokens").isNotNull())
        .filter(~F.exists("tokens", lambda t: t.isNull() | (t < F.lit(0)) | (t > F.lit(max_token))))
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .dropDuplicates(["doc_id"])
    )


def validate_timeseries(
    df: DataFrame,
    ts_col: str = "ts",
    val_col: str = "value",
    series_col: str | None = None,
) -> DataFrame:
    """Per-series gap analysis + 0-100 quality score.

    Port of the reference validator's gap detection and quality score
    (``/root/reference/lib/gorilla_stream/validator.ex:157-203``):

    * large gap  = delta > 3 * mean(delta); rendered integer-exact as
      ``delta * n_deltas > 3 * sum(deltas)`` (no float mean)
    * ``significant_gaps`` = large gaps exceed 10% of deltas
      (``large_gaps * 10 > n_deltas``)
    * ``quality_pct`` = ``max(0, valid*100 div total - 10 * issue_count)``
      — the reference's ``valid/total - 0.1 * |issues|`` scaled to an
      integer percentage so every engine computes it bit-identically.

    Issues counted: duplicate timestamps, significant gaps, NaN values,
    infinite values, invalid points (negative ts / non-finite value — the
    reference's per-point validation).  The reference's ``unsorted`` issue
    has no relational analog (DataFrames carry no input order; the engine
    sorts within partitions anyway).  One output row per series (or one row
    total with ``series_col=None``).
    """
    series = series_col or F.lit(0).alias("__series")
    skey = series_col if series_col else "__series"
    ts = F.col(ts_col).cast("long")
    val = F.col(val_col).cast("double")
    base = df.select(
        series if series_col is None else F.col(series_col),
        ts.alias("__ts"),
        val.alias("__val"),
    )
    w = Window.partitionBy(skey).orderBy("__ts")
    base = base.withColumn("__delta", F.col("__ts") - F.lag("__ts").over(w))
    agg = base.groupBy(skey).agg(
        F.count("*").cast("long").alias("n_points"),
        F.countDistinct("__ts").cast("long").alias("n_distinct_ts"),
        # countDistinct skips NULLs, so duplicates must compare against the
        # non-null count or any NULL ts fabricates a phantom duplicate
        F.count("__ts").cast("long").alias("n_ts_nonnull"),
        F.sum(
            F.when(
                (F.col("__ts") >= 0) & ~F.isnan("__val") & (F.abs("__val") != float("inf")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_valid"),
        F.sum(F.when(F.isnan("__val"), 1).otherwise(0)).cast("long").alias("nan_count"),
        F.sum(F.when(F.abs("__val") == float("inf"), 1).otherwise(0))
        .cast("long").alias("inf_count"),
        F.count("__delta").cast("long").alias("n_deltas"),
        F.sum("__delta").cast("long").alias("sum_delta"),
    )
    # large-gap count needs the per-series delta sum next to each delta: one
    # broadcastable self-join on the (tiny) aggregate, then an integer-exact
    # comparison — no float mean ever materializes
    gaps = (
        base.join(F.broadcast(agg.select(skey, "n_deltas", "sum_delta")), skey)
        .filter(F.col("__delta").isNotNull())
        .groupBy(skey)
        .agg(
            F.sum(
                F.when(F.col("__delta") * F.col("n_deltas") > 3 * F.col("sum_delta"), 1)
                .otherwise(0)
            ).cast("long").alias("large_gaps")
        )
    )
    out = agg.join(gaps, skey, "left").na.fill({"large_gaps": 0, "sum_delta": 0})
    sig_gaps = (F.col("large_gaps") * 10 > F.col("n_deltas")).cast("int")
    issues = (
        sig_gaps
        + (F.col("n_distinct_ts") < F.col("n_ts_nonnull")).cast("int")
        + (F.col("nan_count") > 0).cast("int")
        + (F.col("inf_count") > 0).cast("int")
        + (F.col("n_valid") < F.col("n_points")).cast("int")
    )
    quality = F.greatest(
        F.lit(0).cast("long"),
        F.expr("(n_valid * 100) div n_points").cast("long") - 10 * issues.cast("long"),
    )
    cols = [skey] if series_col else []
    return out.select(
        *cols,
        "n_points",
        "n_valid",
        "n_deltas",
        "sum_delta",
        "large_gaps",
        sig_gaps.cast("boolean").alias("significant_gaps"),
        (F.col("n_distinct_ts") < F.col("n_ts_nonnull")).alias("duplicate_timestamps"),
        "nan_count",
        "inf_count",
        quality.alias("quality_pct"),
    )


def validate_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    expect_dim: int | None = None,
    max_abs: float | None = None,
) -> DataFrame:
    """Row-level embedding quality report: (vec_id, issue) per offending row.

    The vector analog of :func:`validate` (reference ``validator.ex:24-90``
    flags NaN/Inf values; here per-component over ``array<float>``):
    null / empty vectors, NaN or Inf components, dimension mismatches
    (``expect_dim`` defaults to the corpus-wide modal dimension being
    enforced downstream by the kernels' ``_fixed_dim`` guard — pass it
    explicitly for a declarative check), and components beyond ``max_abs``
    (the int64-exact-scoring bound, see ``vectors._check_i64_dot_safe``).
    All declarative predicates — no UDFs, pushdown-friendly.  Empty result
    == valid dataset.
    """
    checks = (
        F.when(F.col(vec_col).isNull(), "null_vector")
        .when(F.size(vec_col) == 0, "empty_vector")
        .when(F.exists(vec_col, lambda x: x.isNull()), "null_component")
        .when(F.exists(vec_col, lambda x: F.isnan(x)), "nan_component")
        .when(
            F.exists(vec_col, lambda x: F.abs(x) == F.lit(float("inf"))),
            "inf_component",
        )
    )
    if expect_dim is not None:
        checks = checks.when(F.size(vec_col) != expect_dim, "dim_mismatch")
    if max_abs is not None:
        checks = checks.when(
            F.exists(vec_col, lambda x: F.abs(x) > F.lit(float(max_abs))),
            "component_out_of_range",
        )
    return (
        df.withColumn("issue", checks.otherwise(None))
        .filter(F.col("issue").isNotNull())
        .select(F.col(id_col), "issue")
    )


def _fsck_frame(
    enc_df: DataFrame,
    needed: list[str],
    row_check,
    container_dict: bytes | None = None,
) -> DataFrame:
    """Shared fsck runner: per-row ``row_check(col, i)`` raises on any
    inconsistency; the report row records the first error instead."""
    from collections.abc import Iterator

    def fn(batches: Iterator) -> Iterator:
        import pyarrow as pa

        from gorilla_stream_spark.codecs import register_container_dict

        register_container_dict(container_dict)
        for rb in batches:
            col = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            out_id, out_ok, out_err = [], [], []
            for i in range(rb.num_rows):
                err = None
                try:
                    row_check(col, i)
                except Exception as e:  # noqa: BLE001 — fsck reports, never dies
                    err = f"{type(e).__name__}: {e}"
                out_id.append(col["block_id"][i].as_py())
                out_ok.append(err is None)
                out_err.append(err)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_id, pa.int64()),
                    pa.array(out_ok, pa.bool_()),
                    pa.array(out_err, pa.string()),
                ],
                names=["block_id", "ok", "error"],
            )

    cols = [c for c in needed if c in enc_df.columns]
    return enc_df.select(*cols).mapInArrow(fn, "block_id long, ok boolean, error string")


def fsck_blocks(
    enc_df: DataFrame, container_dict: bytes | None = None
) -> DataFrame:
    """Distributed integrity check of an encoded block table — no source
    needed (the fsck a 100 TB table gets after a copy/migration, when
    re-deriving from raw is off the table).

    Per block: buffer crc, full decode, raw-stream crc, and manifest
    consistency (``doc_lens`` non-negative and summing to the decoded size,
    which ``n_tokens`` must equal).  Never raises —
    returns one row per block with ``ok`` and the first error string, so
    the caller aggregates or quarantines.  Tables written with
    ``container='zlib-dict'`` need the same ``container_dict`` bytes or
    every block reports undecodable.
    """
    from gorilla_stream_spark.engine import _decode_docs_checked

    def check(col, i):
        flat, lens = _decode_docs_checked(col, i, strict=True)
        n_tok = col["n_tokens"][i].as_py()
        if int(flat.size) != n_tok:
            raise ValueError(f"count mismatch: n_tokens={n_tok}, decoded={int(flat.size)}")
        if len(col["doc_ids"][i]) != len(lens):
            raise ValueError("doc_ids / doc_lens length mismatch")

    return _fsck_frame(
        enc_df,
        ["block_id", "n_tokens", "doc_ids", "doc_lens", "crc32_raw", "crc32_buf", "buffer"],
        check,
        container_dict=container_dict,
    )


def fsck_vectors(enc_df: DataFrame) -> DataFrame:
    """Integrity report for vector block tables (``encode_vectors``)."""
    import zlib

    from gorilla_stream_spark.codecs import decode_array

    def check(col, i):
        buf = col["buffer"][i].as_py()
        if "crc32_buf" in col and zlib.crc32(buf) != col["crc32_buf"][i].as_py():
            raise ValueError("buffer crc32 mismatch")
        flat = decode_array(buf)
        n_values = col["n_values"][i].as_py()
        lens = col["vec_lens"][i].values.to_numpy(zero_copy_only=False)
        if int(flat.size) != n_values or int(lens.sum()) != n_values:
            raise ValueError(
                f"count mismatch: n_values={n_values}, decoded={int(flat.size)},"
                f" vec_lens sum={int(lens.sum())}"
            )
        if len(col["vec_ids"][i]) != len(lens):
            raise ValueError("vec_ids / vec_lens length mismatch")

    return _fsck_frame(
        enc_df,
        ["block_id", "n_values", "vec_ids", "vec_lens", "crc32_buf", "buffer"],
        check,
    )


def fsck_timeseries(enc_df: DataFrame) -> DataFrame:
    """Integrity report for timeseries block tables (``encode_timeseries``).

    These blocks carry no crc (the self-describing codecs validate their own
    counts); fsck decodes both buffers and cross-checks n_points and the
    (ts_min, ts_max) pruning manifest — a wrong manifest silently breaks
    ``read_timerange``, so it is an integrity error here.
    """
    from gorilla_stream_spark.codecs import decode_array

    def check(col, i):
        ts = decode_array(col["ts_buffer"][i].as_py())
        vals = decode_array(col["val_buffer"][i].as_py())
        n = col["n_points"][i].as_py()
        if ts.size != n or vals.size != n:
            raise ValueError(f"count mismatch: n_points={n}, ts={ts.size}, vals={vals.size}")
        if n and "ts_min" in col:
            lo, hi = col["ts_min"][i].as_py(), col["ts_max"][i].as_py()
            if lo is not None and (int(ts.min()) != lo or int(ts.max()) != hi):
                raise ValueError(
                    f"pruning manifest mismatch: [{lo}, {hi}] vs"
                    f" data [{int(ts.min())}, {int(ts.max())}]"
                )

    return _fsck_frame(
        enc_df,
        ["block_id", "n_points", "ts_min", "ts_max", "ts_buffer", "val_buffer"],
        check,
    )


def fsck_multi(enc_df: DataFrame) -> DataFrame:
    """Integrity report for multi-column block tables (``encode_multi``)."""
    import zlib

    from gorilla_stream_spark.codecs import decode_array

    def check(col, i):
        bufs = col["buffers"][i].as_py()
        crcs = col["crc32_bufs"][i].as_py()
        col_lens = col["col_lens"][i].as_py()
        if not (len(bufs) == len(crcs) == len(col_lens)):
            raise ValueError("buffers / crc32_bufs / col_lens arity mismatch")
        n_docs = col["n_docs"][i].as_py()
        for ci, buf in enumerate(bufs):
            if zlib.crc32(buf) != crcs[ci]:
                raise ValueError(f"buffer crc32 mismatch on column {ci}")
            flat = decode_array(buf)
            lens = col_lens[ci]
            if len(lens) != n_docs:
                raise ValueError(f"col_lens[{ci}] length {len(lens)} != n_docs {n_docs}")
            if int(flat.size) != int(sum(lens)):
                raise ValueError(
                    f"column {ci} count mismatch: decoded {int(flat.size)},"
                    f" col_lens sum {int(sum(lens))}"
                )

    return _fsck_frame(
        enc_df,
        ["block_id", "n_docs", "col_lens", "crc32_bufs", "buffers"],
        check,
    )


def fsck_multi_wide(enc_df: DataFrame) -> DataFrame:
    """Integrity report for WIDE multi-column block tables
    (``widen_multi``): per-column buffer crc + decoded-count vs lens vs
    n_docs — the same invariants as :func:`fsck_multi`, read from the
    top-level ``lens_<c> / crc32_<c> / buf_<c>`` column groups."""
    import zlib

    from gorilla_stream_spark.codecs import decode_array

    wide_cols = [c[len("buf_"):] for c in enc_df.columns if c.startswith("buf_")]
    if not wide_cols:
        raise ValueError(f"no buf_* columns in {sorted(enc_df.columns)}")

    def check(col, i):
        n_docs = col["n_docs"][i].as_py()
        for c in wide_cols:
            buf = col[f"buf_{c}"][i].as_py()
            if zlib.crc32(buf) != col[f"crc32_{c}"][i].as_py():
                raise ValueError(f"buffer crc32 mismatch on column {c}")
            flat = decode_array(buf)
            lens = col[f"lens_{c}"][i].values.to_numpy(zero_copy_only=False)
            if len(lens) != n_docs:
                raise ValueError(f"lens_{c} length {len(lens)} != n_docs {n_docs}")
            if int(flat.size) != int(lens.sum()):
                raise ValueError(
                    f"column {c} count mismatch: decoded {int(flat.size)},"
                    f" lens sum {int(lens.sum())}"
                )

    needed = ["block_id", "n_docs"] + [
        x for c in wide_cols for x in (f"lens_{c}", f"crc32_{c}", f"buf_{c}")
    ]
    return _fsck_frame(enc_df, needed, check)


def fsck_wire(enc_df: DataFrame) -> DataFrame:
    """Integrity report for reference wire-format tables
    (``encode_timeseries_wire``): full decode + count + pruning manifest."""
    from gorilla_stream_spark.gorilla_wire import decode_points

    def check(col, i):
        buf = col["buffer"][i].as_py()
        if "enc_bytes" in col and len(buf) != col["enc_bytes"][i].as_py():
            raise ValueError(
                f"enc_bytes {col['enc_bytes'][i].as_py()} != buffer length {len(buf)}"
            )
        ts, vals, _info = decode_points(buf)
        n = col["n_points"][i].as_py()
        if ts.size != n or vals.size != n:
            raise ValueError(f"count mismatch: n_points={n}, decoded={ts.size}")
        if n and "ts_min" in col:
            lo, hi = col["ts_min"][i].as_py(), col["ts_max"][i].as_py()
            if lo is not None and (int(ts.min()) != lo or int(ts.max()) != hi):
                raise ValueError("pruning manifest mismatch")

    return _fsck_frame(
        enc_df, ["block_id", "n_points", "enc_bytes", "ts_min", "ts_max", "buffer"], check
    )


def fsck(enc_df: DataFrame, container_dict: bytes | None = None) -> DataFrame:
    """Integrity check for ANY engine table — dispatches on the manifest
    shape (token blocks, vector blocks, multi-column blocks nested or wide,
    timeseries blocks, reference wire blocks).  Returns (block_id, ok,
    error)."""
    cols = set(enc_df.columns)
    if "buffers" in cols:
        return fsck_multi(enc_df)
    if any(c.startswith("buf_") for c in cols):
        return fsck_multi_wide(enc_df)
    if "vec_ids" in cols:
        return fsck_vectors(enc_df)
    if "ts_buffer" in cols:
        return fsck_timeseries(enc_df)
    if "doc_ids" in cols:
        return fsck_blocks(enc_df, container_dict=container_dict)
    if "n_points" in cols and "buffer" in cols:
        return fsck_wire(enc_df)
    raise ValueError(f"unrecognized block-table schema: {sorted(cols)}")
