"""INSERT OVERWRITE — predicate-scoped (Delta ``replaceWhere``) and
dynamic-partition (Spark ``partitionOverwriteMode=dynamic`` / Iceberg
``overwritePartitions``) atomic replacement.

The idiom behind every backfill and derived-table re-materialization at
10^12 rows: "recompute day X / source S and swap it in atomically,
touching nothing else". The reference's closest shape is the
buffer-then-atomic-commit append (/root/reference/src/lib.rs:931-1024);
this is the same transaction discipline where the commit REPLACES a
predicate's worth of rows instead of appending.

Two scale properties worth the module:

- **Metadata-only removal when the predicate aligns**: files the manifest
  PROVES fully-matching (``split_files_by_predicate`` — partition values,
  or min/max + zero nulls) are removed without being read. A
  partition-aligned ``replaceWhere`` on a million-file table reads zero
  old bytes; only *straddling* files are rewritten keeping their
  non-matching rows (copy-on-write, pure Catalyst).
- **One write, one commit**: survivors of straddling files union the new
  data into a single staged write; the commit removes inside+straddling
  and adds the staged files. Readers pinned at the prior version see the
  old rows until expiry+GC (snapshot isolation, as everywhere here).

Dynamic mode stages the new data FIRST and takes the distinct partition
tuples from the staged ``FileEntry.partition_values`` themselves — the
exact rendering recorded in the manifest — so "which partitions does the
new data cover" and "which live files belong to those partitions" can
never disagree on formatting. On an unpartitioned table every file shares
the empty tuple, so dynamic overwrite degenerates to a full-table replace
(Spark's own semantics for INSERT OVERWRITE of an unpartitioned table).

Delta's ``replaceWhere`` constraint is enforced: every NEW row must
satisfy the predicate (a row outside the replaced region would silently
double). The check is one codegen'd count over the batch BEFORE anything
is staged — a violation aborts with the exact row count and no cleanup
debt; the batch side of an overwrite is the small side, so the extra
pass is bounded by the backfill, not the table."""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.maintenance.dml import (
    Conjunct,
    predicate_column,
)
from kafka_delta_ingest_spark.plans.pruning import (
    prune_files,
    split_files_by_predicate,
)
from kafka_delta_ingest_spark.table.format import Table, Transaction
from kafka_delta_ingest_spark.table.writer import stage_dataframe


def _assert_rows_match(df: DataFrame, conjuncts: list[Conjunct]) -> DataFrame:
    pred = F.coalesce(predicate_column(conjuncts), F.lit(False))
    bad = df.where(~pred).count()
    if bad:
        raise ValueError(
            f"overwrite_where: {bad} new rows do not satisfy the "
            "overwrite predicate (they would fall outside the replaced "
            "region and silently duplicate)"
        )
    return df


def overwrite_where(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    conjuncts: list[Conjunct],
    job_id: str | None = None,
) -> dict:
    """Atomically replace all rows matching the AND of ``conjuncts`` with
    ``df`` (Delta ``replaceWhere``). Returns metrics with the
    metadata-only vs rewritten file split."""
    job_id = job_id or f"overwrite-{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    snap = table.snapshot()
    cols = [f.name for f in snap.schema.fields]

    may = prune_files(snap.files, conjuncts, snap.schema,
                      spec=snap.partition_cols)
    inside, straddling = split_files_by_predicate(may, conjuncts, snap.schema)
    # point predicates (=/in) narrow the straddling set further through
    # the per-file bloom artifact when one covers the column
    from kafka_delta_ingest_spark.maintenance.bloom import (
        prune_entries_by_conjuncts,
    )

    straddling = prune_entries_by_conjuncts(
        spark, table, snap.schema, conjuncts, straddling
    )

    new_rows = _assert_rows_match(df.select(*cols), conjuncts)
    if straddling:
        # delete-aware read; survivors = rows NOT matching (NULL predicate
        # rows do not match a comparison, so they survive)
        pred = F.coalesce(predicate_column(conjuncts), F.lit(False))
        survivors = snap.read(spark, straddling).where(~pred).select(*cols)
        out = survivors.unionByName(new_rows)
    else:
        out = new_rows

    removes = [f.path for f in inside] + [f.path for f in straddling]
    _, adds = stage_dataframe(
        spark, table, out, snap.partition_cols, snap.schema,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )
    if not adds and not removes:
        return {
            "job_id": job_id,
            "version": snap.version,
            "files_removed_metadata_only": 0,
            "files_rewritten": 0,
            "files_written": 0,
            "rows_written": 0,
            "duration_s": time.time() - t0,
        }
    v = table.commit(
        Transaction(
            operation="overwrite",
            adds=adds,
            removes=removes,
            data_change=True,
            metadata={
                "job_id": job_id,
                "predicate": [list(c) for c in conjuncts],
            },
        ),
        expected_schema=snap.schema,
    )
    return {
        "job_id": job_id,
        "version": v,
        "files_removed_metadata_only": len(inside),
        "files_rewritten": len(straddling),
        "files_written": len(adds),
        "rows_written": sum(a.num_records for a in adds),
        "duration_s": time.time() - t0,
    }


def overwrite_dynamic(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    job_id: str | None = None,
) -> dict:
    """Replace exactly the partitions present in ``df``, leaving every
    other partition's files untouched (byte-identical paths). Removal is
    metadata-only by construction — files are partition-aligned."""
    job_id = job_id or f"overwrite-dyn-{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    snap = table.snapshot()
    cols = [f.name for f in snap.schema.fields]

    _, adds = stage_dataframe(
        spark, table, df.select(*cols), snap.partition_cols, snap.schema,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )
    from kafka_delta_ingest_spark.table import transforms

    keys = transforms.keys(snap.partition_cols)
    covered = {tuple(a.partition_values.get(k) for k in keys) for a in adds}
    removes = [
        f.path
        for f in snap.files
        if tuple(f.partition_values.get(k) for k in keys) in covered
    ]
    if not adds and not removes:
        return {
            "job_id": job_id,
            "version": snap.version,
            "partitions_replaced": 0,
            "files_removed": 0,
            "files_written": 0,
            "rows_written": 0,
            "duration_s": time.time() - t0,
        }
    v = table.commit(
        Transaction(
            operation="overwrite-dynamic",
            adds=adds,
            removes=removes,
            data_change=True,
            metadata={
                "job_id": job_id,
                "partitions": sorted(
                    ",".join("" if x is None else x for x in t) for t in covered
                ),
            },
        ),
        expected_schema=snap.schema,
    )
    return {
        "job_id": job_id,
        "version": v,
        "partitions_replaced": len(covered),
        "files_removed": len(removes),
        "files_written": len(adds),
        "rows_written": sum(a.num_records for a in adds),
        "duration_s": time.time() - t0,
    }
