"""ANALYZE — table-level column statistics from per-file mergeable
sketches.

Iceberg keeps per-column NDV ("distinct counts") in Puffin stats files of
theta sketches next to the table so engines can cost joins without
scanning data; the reference's stats machinery stops at per-file
min/max/null counts (/root/reference/src/writer.rs:655-707). This module
is that missing layer rebuilt Spark-first over this repo's HLL sketches:

- **One scan, every column**: per requested column the 60-bit item hash,
  register bucket, and rank are codegen expressions; the per-column pairs
  stack into rows ``(file, column, bucket, rho)`` via one ``explode``, and
  ONE map-side-combined ``groupBy(file, column, bucket).max(rho)``
  produces all per-file sketches together. No Python in the scan.
- **Per-FILE sketches, persisted as parquet**: data files are immutable,
  so their sketches are too — the artifact under ``<root>/_stats/ndv/``
  is itself a table Spark reads and writes (at 10^12 rows the stats for
  millions of files do not fit in a driver JSON). Its lifecycle — the
  atomically published index, incremental reuse (only unseen files are
  scanned, removed files' rows dropped, cost ∝ churn) and cleanup — is
  the shared one in maintenance/artifacts.py; this module supplies the
  register rows.
- **Table-level NDV without touching data**: registers MAX-merge across
  files (the HLL property pytest-proven in tests/test_sketches.py), then
  one exact-integer estimate — ``ndv_df`` reads ONLY the artifact.

Sketches are computed over FILE CONTENTS (Iceberg semantics: stats attach
to immutable data files). While merge-on-read deletes are live the
table-level NDV is an upper estimate; folding them (``rewrite_deletes``,
compaction, OPTIMIZE) restores exactness — same caveat as Iceberg's.
NULLs are not items (``COUNT(DISTINCT)`` semantics); null counts are
already in the manifest per file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.maintenance import artifacts
from kafka_delta_ingest_spark.operators.sketches import (
    hll_bucket_rho,
    hll_estimate,
)
from kafka_delta_ingest_spark.table.format import Table

_ROW_DDL = "path string, column string, bucket int, rho int"


def _register_rows(
    df: DataFrame, columns: list[str], p: int, salt: str, family: str
) -> DataFrame:
    """Stack per-column HLL (bucket, rho) pairs into rows
    ``(_file, column, bucket, rho)`` — one pass over the scan, NULL items
    skipped per column (a NULL contributes no register, matching
    COUNT(DISTINCT)). The register math is the SHARED ``hll_bucket_rho``
    definition, so per-file artifacts MAX-merge bit-identically with
    whole-table ``hll_registers`` sketches (pytest-asserted)."""
    pairs = []
    for c in columns:
        bucket, rho = hll_bucket_rho([F.col(c)], p, salt, family)
        pairs.append(
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    F.lit(c).alias("column"),
                    bucket.alias("bucket"),
                    rho.alias("rho"),
                ),
            )
        )
    return (
        df.select(F.col("_file"), F.explode(F.array(*pairs)).alias("s"))
        .where(F.col("s").isNotNull())
        .select(
            "_file",
            F.col("s.column").alias("column"),
            F.col("s.bucket").alias("bucket"),
            F.col("s.rho").alias("rho"),
        )
    )


def analyze(
    spark: SparkSession,
    table: Table,
    columns: list[str],
    p: int = 8,
    salt: str = "hll",
    family: str = "xxhash64",
) -> dict:
    """Build or incrementally refresh the NDV stats artifact for the
    current snapshot. Returns the artifact metrics of
    ``artifacts.refresh``.

    A previous artifact is reused when its (p, salt, family) match; a
    parameter change rebuilds from scratch (sketches with different
    parameters cannot merge). Columns UNION: a subset re-analyze keeps
    the already-paid-for sketches of every other column, and a column
    the artifact has never seen triggers one extra pass over the
    surviving files for that column only."""

    def file_rows(scan, _entries, cols):
        return (
            _register_rows(scan, cols, p, salt, family)
            .groupBy(F.col("_file").alias("path"), "column", "bucket")
            .agg(F.max("rho").alias("rho"))
        )

    return artifacts.refresh(
        spark, table, "ndv", columns,
        {"p": p, "salt": salt, "family": family}, _ROW_DDL, file_rows,
    )


def _index(table: Table) -> dict:
    idx = artifacts.load_index(table, "ndv")
    if idx is None:
        raise ValueError(
            f"no NDV stats artifact at {artifacts.artifact_dir(table, 'ndv')}"
        )
    return idx


def ndv_df(spark: SparkSession, table: Table) -> DataFrame:
    """Table-level NDV per analyzed column, computed from the stats
    artifact ALONE (no data read): MAX-merge the per-file registers, then
    the exact-integer HLL estimate. Columns: ``column, ndv_estimate,
    zero_registers, register_sum, register_checksum``."""
    idx = _index(table)
    regs = artifacts.read_artifact(spark, table, "ndv", idx)
    merged = regs.groupBy("column", "bucket").agg(F.max("rho").alias("rho"))
    est = hll_estimate(merged, ["column"], p=idx["p"])
    return est.withColumnRenamed("hll_estimate", "ndv_estimate")


def ndv_estimates(spark: SparkSession, table: Table) -> dict[str, float]:
    """LC-corrected per-column NDV from the stats artifact — the number a
    planner consumes. Applies the standard HLL small-range correction
    (LinearCounting from the exact ``zero_registers`` count when the raw
    estimate is below 2.5·m) driver-side, keeping ``ln`` out of the
    hash-checked sketch columns (see sketches.py on why)."""
    import math

    m = 1 << _index(table)["p"]
    out: dict[str, float] = {}
    for r in ndv_df(spark, table).collect():
        z = r["zero_registers"]
        if z and r["ndv_estimate"] < 2.5 * m:
            out[r["column"]] = m * math.log(m / z)
        else:
            out[r["column"]] = r["ndv_estimate"]
    return out
