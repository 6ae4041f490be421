"""Incremental derived-table refresh: maintain a downstream aggregate
table from a source table's *appends only* — never rescanning history.

This is the materialized-view maintenance loop every lakehouse ETL runs,
and it is the reference's exactly-once consume loop transplanted onto
table versions: where kafka-delta-ingest records consumed Kafka offsets
as Delta app-transactions so a replayed batch is a no-op
(/root/reference/src/lib.rs:1148-1170, src/offsets.rs:35-101), the
refresher records the CONSUMED SOURCE VERSION as an app-txn on the
destination table. Crash after commit ⇒ replay sees the stored version
and no-ops; crash before ⇒ re-run re-reads the same appends (reads are
idempotent). The commit-time ``ConflictingOffsetsError`` guard makes two
racing refreshers serialize instead of double-counting.

The merge of new partial aggregates into the running aggregate is a
full-outer join on the group key — the destination is aggregate-sized
(|groups| rows), so this is a broadcast-scale operation no matter how
big the source grows. Interleaved maintenance on the source (compaction,
clustering) is invisible by construction: ``incremental_scan`` skips
``data_change=False`` commits. A DELETE/UPDATE/MERGE on the source
raises (the delta is no longer append-only) — the caller must then
rebuild with ``full_refresh``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_delta_ingest_spark.table.format import Table, Transaction
from kafka_delta_ingest_spark.table.inspect import incremental_scan
from kafka_delta_ingest_spark.table.writer import stage_dataframe


def _agg_schema(group_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )


def _partial(delta: DataFrame, group_col: str) -> DataFrame:
    return delta.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("n_tokens"),
    )


def refresh_aggregate(
    spark: SparkSession,
    source: Table,
    dest_root: str,
    group_col: str = "source",
    app_id: str | None = None,
) -> dict:
    """Fold appends since the last refresh into the per-group aggregate
    table at ``dest_root`` (created on first call). Returns metrics incl.
    the consumed version range; a replay (no new appends) is a no-op."""
    app_key = app_id or f"incr-agg-{group_col}"
    schema = _agg_schema(group_col)
    if not Table(dest_root).exists():
        dest = Table.create(dest_root, schema, [])
    else:
        dest = Table(dest_root)
    last = dest.txn_version(app_key)  # -1 on first run
    head = source.latest_version()
    from_v = max(last, 0)
    if last >= 0 and head <= last:
        return {"consumed_from": last, "consumed_to": last, "rows": 0, "noop": True}

    delta = incremental_scan(spark, source, from_version=from_v, to_version=head)
    partial = _partial(delta, group_col)

    dsnap = dest.snapshot()
    if dsnap.files:
        current = dsnap.scan(spark)
        merged = (
            current.unionByName(partial)
            .groupBy(group_col)
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )
        )
    else:
        merged = partial
    merged = merged.select(*[f.name for f in schema.fields]).coalesce(1)

    _, adds = stage_dataframe(
        spark, dest, merged, [], schema,
        properties=dsnap.properties, column_mapping=dsnap.column_mapping,
    )
    v = dest.commit(
        Transaction(
            operation="incremental-refresh",
            adds=adds,
            removes=[f.path for f in dsnap.files],
            app_txns={app_key: head},
            data_change=True,
            metadata={"source_from": from_v, "source_to": head},
        )
    )
    return {
        "consumed_from": from_v,
        "consumed_to": head,
        "dest_version": v,
        "rows": sum(a.num_records for a in adds),
        "noop": False,
    }


def full_refresh(
    spark: SparkSession,
    source: Table,
    dest_root: str,
    group_col: str = "source",
    app_id: str | None = None,
) -> dict:
    """Rebuild the aggregate from a full source scan (the recovery path
    after row-level changes break append-only incrementality)."""
    app_key = app_id or f"incr-agg-{group_col}"
    schema = _agg_schema(group_col)
    if not Table(dest_root).exists():
        dest = Table.create(dest_root, schema, [])
    else:
        dest = Table(dest_root)
    head = source.latest_version()
    snap = source.snapshot(head)
    merged = _partial(snap.scan(spark), group_col).select(
        *[f.name for f in schema.fields]
    ).coalesce(1)
    dsnap = dest.snapshot()
    _, adds = stage_dataframe(
        spark, dest, merged, [], schema,
        properties=dsnap.properties, column_mapping=dsnap.column_mapping,
    )
    stored = dest.txn_version(app_key)
    v = dest.commit(
        Transaction(
            operation="full-refresh",
            adds=adds,
            removes=[f.path for f in dsnap.files],
            # app-txn offsets must strictly advance; a full refresh at the
            # same head is recorded only if it moves the version forward
            app_txns={app_key: head} if head > stored else {},
            data_change=True,
            metadata={"source_to": head},
        )
    )
    return {"consumed_to": head, "dest_version": v,
            "rows": sum(a.num_records for a in adds), "noop": False}


def refresh_aggregate_cdc(
    spark: SparkSession,
    source: Table,
    dest_root: str,
    group_col: str = "source",
    key: str = "doc_id",
    app_id: str | None = None,
) -> dict:
    """Maintain the aggregate under ARBITRARY source history — UPDATE /
    DELETE / MERGE / upsert included — by folding the row-level change
    feed (table/changes.py) as SIGNED deltas: inserts and update
    postimages add, deletes and update preimages subtract. Algebraic
    aggregates (count, sum) absorb signed deltas exactly, so the
    incremental result equals a from-scratch rebuild (oracle-checked);
    a doc moving BETWEEN groups is two signed rows and lands correctly
    on both sides. Groups whose count reaches zero are dropped.

    Same exactly-once spine as refresh_aggregate: the consumed source
    version rides as a dest app-txn, replays no-op, racing refreshers
    serialize. The delta is changed-files-sized, the destination is
    |groups|-sized — the source is never rescanned after bootstrap."""
    from kafka_delta_ingest_spark.table.changes import row_changes

    app_key = app_id or f"incr-agg-cdc-{group_col}"
    schema = _agg_schema(group_col)
    dest = Table(dest_root) if Table(dest_root).exists() else Table.create(
        dest_root, schema, []
    )
    last = dest.txn_version(app_key)
    head = source.latest_version()
    if last >= 0 and head <= last:
        return {"consumed_from": last, "consumed_to": last, "rows": 0,
                "noop": True}

    if last < 0:  # bootstrap: one full aggregate of the current snapshot
        merged = _partial(source.snapshot(head).scan(spark), group_col)
    else:
        ch = row_changes(spark, source, last, head, key=key)
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1),
        ).otherwise(F.lit(-1)).cast("long")
        delta = ch.groupBy(group_col).agg(
            F.sum(sign).alias("n_docs"),
            F.sum(sign * F.col("n_tok").cast("long")).alias("n_tokens"),
        )
        current = dest.snapshot().scan(spark)
        merged = (
            current.unionByName(delta)
            .groupBy(group_col)
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )
            .where(F.col("n_docs") > 0)
        )
    merged = merged.select(*[f.name for f in schema.fields]).coalesce(1)

    dsnap = dest.snapshot()
    _, adds = stage_dataframe(
        spark, dest, merged, [], schema,
        properties=dsnap.properties, column_mapping=dsnap.column_mapping,
    )
    v = dest.commit(
        Transaction(
            operation="incremental-refresh-cdc",
            adds=adds,
            removes=[f.path for f in dsnap.files],
            app_txns={app_key: head},
            data_change=True,
            metadata={"source_from": max(last, 0), "source_to": head},
        )
    )
    return {
        "consumed_from": max(last, 0),
        "consumed_to": head,
        "dest_version": v,
        "rows": sum(a.num_records for a in adds),
        "noop": False,
    }
