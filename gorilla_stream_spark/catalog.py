"""Table IO adapter: Iceberg catalog tables or parquet directories.

The north rule targets Iceberg tables of pre-tokenized sequences.  This
sandbox ships no iceberg-spark runtime jar (probed at call time, never
assumed), so every job reads/writes through this adapter instead of
hard-coding either storage:

* location ``iceberg:catalog.db.table`` → the Iceberg catalog path
  (``spark.table`` / ``DataFrameWriterV2.writeTo``) — requires the runtime
  jar + catalog config on the session; fails loudly here with the exact
  spark-submit flags to add on a real cluster;
* any other location → a parquet directory (the layout is kept
  Iceberg-compatible: plain columns, zstd pages, part_id-deterministic
  files — see README "Storage").

Why an explicit prefix instead of sniffing: a job resubmitted on a cluster
WITH Iceberg must not silently change where it writes; storage choice is
part of the job contract, so it lives in the location string the operator
passes.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "iceberg_available", "is_iceberg_location", "observed", "read_table", "write_table",
]

_PREFIX = "iceberg:"

_ICEBERG_HINT = (
    "Iceberg runtime not available on this Spark session. On a real "
    "deployment add the runtime jar and a catalog, e.g.: spark-submit "
    "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> "
    "--conf spark.sql.extensions=org.apache.iceberg.spark.extensions."
    "IcebergSparkSessionExtensions --conf spark.sql.catalog.<name>="
    "org.apache.iceberg.spark.SparkCatalog"
)


def iceberg_available(spark: SparkSession) -> bool:
    """Runtime probe for the Iceberg Spark integration (never cached:
    cheap, and sessions can differ within one process)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        )
        return True
    except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFound opaquely
        return False


def is_iceberg_location(location: str) -> bool:
    return location.startswith(_PREFIX)


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """Read a corpus/encoded table from either storage (see module doc)."""
    if is_iceberg_location(location):
        if not iceberg_available(spark):
            raise RuntimeError(f"cannot read {location!r}: {_ICEBERG_HINT}")
        return spark.table(location[len(_PREFIX):])
    return spark.read.parquet(location)


def observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """``df`` with an :class:`Observation` attached: ``rows = count(1)`` plus
    the named aggregate ``metrics``.  The next action on the returned frame
    fills ``obs.get`` from the pass that runs anyway — no second scan.
    DISTINCT aggregates are refused by Spark (observed metrics merge
    per-task partials)."""
    obs = Observation()
    cols = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in metrics.items()]
    return df.observe(obs, *cols), obs


def write_table(
    df: DataFrame, location: str, mode: str = "overwrite", **metrics: Column
) -> dict[str, Any]:
    """Write to either storage and return the metrics observed during the
    write: ``rows`` plus each named aggregate in ``metrics`` (see
    :func:`observed`).  ``mode`` is ``overwrite`` or ``append``;
    Iceberg overwrite is ``createOrReplace`` (snapshot-isolated, atomic),
    parquet overwrite is directory replace (atomic per partition-file via
    the job commit protocol, not per table — the documented gap Iceberg
    closes on a real deployment)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported write mode {mode!r}")
    df, obs = observed(df, **metrics)
    if is_iceberg_location(location):
        if not iceberg_available(df.sparkSession):
            raise RuntimeError(f"cannot write {location!r}: {_ICEBERG_HINT}")
        w = df.writeTo(location[len(_PREFIX):])
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
    else:
        df.write.mode(mode).option("compression", "zstd").parquet(location)
    return obs.get
