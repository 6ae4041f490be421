"""Zero-read CDC upsert via equality deletes (Iceberg-v2 style).

``MERGE INTO`` (merge.py) is the copy-on-write upsert: it reads and
rewrites every touched target file — right for batch reconciliation,
wrong for a streaming CDC feed against a 10^12-row table, where each
micro-batch would rewrite gigabytes to upsert thousands of keys.

``upsert`` is the merge-on-read fast path: ONE atomic commit appends the
batch's rows as new data files AND adds an equality-delete file of the
batch's keys. Work is O(batch); the table is never read. The Iceberg
sequence rule (an equality delete applies only to data files with a
strictly smaller data sequence number) makes the new rows survive their
own delete while every older row with a matching key disappears from
scans. The commit carries the batch's key min/max, so scans and folds
skip provably-disjoint older files; ``rewrite_deletes`` (dml.py) folds
accumulated deletes back into pure parquet, and the maintenance advisor
says when.

This is the table-maintenance reincarnation of the reference's
buffer-then-atomic-commit ingest loop (kafka-delta-ingest consumes,
buffers, and commits with offsets in one Delta txn —
/root/reference/src/lib.rs:1026-1170); ``app_txns`` passes through so a
streaming caller gets the same exactly-once replay protection
(ConflictingOffsetsError on regressed offsets).
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from kafka_delta_ingest_spark.table.format import (
    DeleteEntry,
    Table,
    Transaction,
)
from kafka_delta_ingest_spark.table.writer import stage_dataframe


def upsert(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key: str | list[str] = "doc_id",
    check_unique: bool = True,
    app_txns: dict[str, int] | None = None,
) -> dict:
    """Upsert ``source`` by ``key`` in one commit, without reading the table.

    ``check_unique``: a batch with duplicate keys would land ALL its
    versions of a key (same data sequence number — neither deletes the
    other), so duplicates are rejected. The check is free: the delete
    file is key-distinct by construction, so its footer row count vs the
    staged rows' manifest count IS the comparison — no extra job.
    """
    t0 = time.time()
    keys = [key] if isinstance(key, str) else list(key)
    snap = table.snapshot()
    missing = [c for c in keys if c not in {f.name for f in snap.schema.fields}]
    if missing:
        raise ValueError(f"upsert key columns not in schema: {missing}")

    _, adds = stage_dataframe(
        spark, table, source, snap.partition_cols, snap.schema,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )
    rows_in = sum(a.num_records for a in adds)

    # the equality-delete file: the batch's distinct keys, one parquet
    # (keys are tiny next to token rows; a shuffled distinct over the
    # BATCH only, never the table)
    absd, reld = table.new_data_dir()
    source.select(*keys).dropDuplicates(keys).coalesce(1).write.mode(
        "overwrite"
    ).parquet(absd)
    written = [n for n in os.listdir(absd) if n.endswith(".parquet")]
    assert len(written) == 1, f"expected one delete file, got {len(written)}"
    fpath = os.path.join(absd, written[0])

    pf = pq.ParquetFile(fpath)
    n_keys = pf.metadata.num_rows
    if check_unique and n_keys != rows_in:
        raise ValueError(
            f"upsert batch has duplicate keys: {rows_in} rows, "
            f"{n_keys} distinct {keys} — latest-wins is ambiguous within "
            "one batch; pre-aggregate the batch first"
        )

    # key min/max from the parquet footer (free) -> scan/fold pruning
    mins: dict = {}
    maxs: dict = {}
    names = [pf.schema_arrow.field(i).name for i in range(len(pf.schema_arrow))]
    for rg in range(pf.metadata.num_row_groups):
        for ci in range(pf.metadata.num_columns):
            st = pf.metadata.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                continue
            c = names[ci]
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
            mins[c] = lo if c not in mins else min(mins[c], lo)
            maxs[c] = hi if c not in maxs else max(maxs[c], hi)

    entry = DeleteEntry(
        path=f"{reld}/{written[0]}",
        size=os.path.getsize(fpath),
        kind="equality",
        equality_ids=keys,
        num_rows=n_keys,
        stats={"min": mins, "max": maxs},
    )
    v = table.commit(
        Transaction(
            operation="upsert-eq",
            adds=adds,
            add_deletes=[entry],
            app_txns=app_txns or {},
            data_change=True,
            metadata={"key": keys, "rows": rows_in},
        ),
        expected_schema=snap.schema,
    )
    return {
        "operation": "upsert-eq",
        "rows_upserted": rows_in,
        "distinct_keys": n_keys,
        "bytes_written": sum(a.size for a in adds) + entry.size,
        "files_written": len(adds),
        "delete_files_written": 1,
        "files_rewritten": 0,
        "version": v,
        "duration_s": time.time() - t0,
    }
