"""Row-level DML: ``DELETE FROM ... WHERE`` and ``UPDATE ... SET ... WHERE``
as copy-on-write maintenance transactions.

The reference has no row-level mutation (its only "delete" is the DLQ side
output); a lakehouse of training sequences needs both — takedown requests
and label fixes are per-row operations over petabyte tables. Same scale
shape as MERGE (maintenance/merge.py):

  1. **Touched-file pruning from the manifest**: the predicate is a list of
     ``(col, op, literal)`` conjuncts — the same shape the scan planner
     pushes — evaluated against per-file min/max stats (plans/pruning.py).
     Only files that MAY contain a matching row are read; on a Z-ordered
     table a selective predicate touches a handful of files out of
     millions, and the decision is metadata-only (no data scan).
  2. Touched files are rewritten in one distributed pass — deletes keep the
     complement, updates rewrite matched rows via ``CASE WHEN`` column
     expressions (pure Catalyst, whole-stage codegen; no per-row Python).
  3. One atomic replace commit: Add(rewritten) + Remove(touched). Untouched
     files never move. ``data_change=True`` — row counts may change, so the
     pure-rewrite row-conservation guard does not apply; instead each op
     returns exact before/after row accounting from the manifests.

Snapshot isolation is inherited from the commit protocol: readers pinned
at the pre-DML version still scan the removed files until expiry + GC.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.plans.pruning import prune_files
from kafka_delta_ingest_spark.table.format import Table, Transaction
from kafka_delta_ingest_spark.table.scan import read_files
from kafka_delta_ingest_spark.table.writer import stage_dataframe

Conjunct = tuple[str, str, Any]


def predicate_column(conjuncts: list[Conjunct]) -> Column:
    """AND of simple conjuncts as a Catalyst Column (same ops the manifest
    pruner understands, so the data filter and the file filter agree)."""
    if not conjuncts:
        raise ValueError("empty predicate — refusing full-table DML")
    out = None
    for col, op, lit in conjuncts:
        c = F.col(col)
        if op in ("=", "=="):
            e = c == F.lit(lit)
        elif op == "<":
            e = c < F.lit(lit)
        elif op == "<=":
            e = c <= F.lit(lit)
        elif op == ">":
            e = c > F.lit(lit)
        elif op == ">=":
            e = c >= F.lit(lit)
        elif op == "in":
            e = c.isin(*list(lit))
        else:
            raise ValueError(f"unsupported DML predicate op: {op}")
        out = e if out is None else (out & e)
    return out


def _bloom_narrowed(spark, table, snap, touched, conjuncts):
    """Fourth DML pruning layer: per-file key blooms answer the
    equality / IN conjuncts (maintenance/bloom.py) — the prune that works
    when a point predicate's column is randomly distributed and min/max
    ranges overlap every file. Conservative by construction: no artifact,
    uncovered files, or range-only predicates leave ``touched`` as-is."""
    from kafka_delta_ingest_spark.maintenance.bloom import (
        prune_entries_by_conjuncts,
    )

    return prune_entries_by_conjuncts(
        spark, table, snap.schema, conjuncts, touched
    )


def _rewrite_touched(
    spark: SparkSession,
    table: Table,
    conjuncts: list[Conjunct],
    transform,
    operation: str,
) -> dict:
    t0 = time.time()
    snap = table.snapshot()
    touched = _bloom_narrowed(
        spark, table, snap,
        prune_files(snap.files, conjuncts, snap.schema,
                    spec=snap.partition_cols),
        conjuncts,
    )
    metrics = {
        "operation": operation,
        "files_total": len(snap.files),
        "files_touched": len(touched),
        "rows_before": snap.num_live_records(),
    }
    if not touched:
        metrics.update(rows_after=snap.num_live_records(), version=snap.version,
                       duration_s=time.time() - t0)
        return metrics
    # Snapshot.read applies existing position deletes, so a CoW rewrite
    # over a file that also has merge-on-read deletes cannot resurrect them
    df = snap.read(spark, touched)
    out = transform(df, predicate_column(conjuncts))
    _, adds = stage_dataframe(
        spark, table, out, snap.partition_cols, snap.schema,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )
    v = table.commit(
        Transaction(
            operation=operation,
            adds=adds,
            removes=[fe.path for fe in touched],
            data_change=True,
            metadata={"predicate": [list(c) for c in conjuncts]},
        )
    )
    after = table.snapshot(v)
    metrics.update(
        files_written=len(adds),
        rows_after=after.num_live_records(),
        version=v,
        duration_s=time.time() - t0,
    )
    return metrics


def delete_where(
    spark: SparkSession,
    table: Table,
    conjuncts: list[Conjunct],
    mode: str = "copy_on_write",
) -> dict:
    """``DELETE FROM table WHERE <AND of conjuncts>``.

    ``mode="copy_on_write"`` rewrites every touched file without the
    matched rows — right for mass deletes, wrong for point deletes at
    10^12 rows (rewriting a 128 MiB file to drop 3 rows).
    ``mode="merge_on_read"`` writes a position-delete file instead
    (Iceberg-v2 semantics): touched files are scanned for matching row
    positions, ONE parquet of (data_path, pos) rows commits, and no data
    file moves — scans anti-join it until ``rewrite_position_deletes``
    (or any compact/cluster/optimize over the covered files) folds it in.

    Returns metrics incl. exact rows_before/rows_after from the manifests
    (``rows_deleted`` = difference). After copy-on-write mass deletes run
    compaction to restore target file sizes."""
    if mode == "merge_on_read":
        return _delete_merge_on_read(spark, table, conjuncts)
    if mode != "copy_on_write":
        raise ValueError(f"unknown DELETE mode: {mode!r}")
    m = _rewrite_touched(
        spark, table, conjuncts,
        lambda df, pred: df.where(~pred),
        "delete",
    )
    m["rows_deleted"] = m["rows_before"] - m["rows_after"]
    return m


def _delete_merge_on_read(
    spark: SparkSession, table: Table, conjuncts: list[Conjunct]
) -> dict:
    import os

    from kafka_delta_ingest_spark.table.format import DeleteEntry

    t0 = time.time()
    snap = table.snapshot()
    touched = _bloom_narrowed(
        spark, table, snap,
        prune_files(snap.files, conjuncts, snap.schema,
                    spec=snap.partition_cols),
        conjuncts,
    )
    metrics = {
        "operation": "delete-mor",
        "files_total": len(snap.files),
        "files_touched": len(touched),
        "rows_before": snap.num_live_records(),
    }
    if not touched:
        metrics.update(rows_after=metrics["rows_before"], rows_deleted=0,
                       version=snap.version, duration_s=time.time() - t0)
        return metrics

    # scan ONLY candidate files, with existing deletes applied (a row
    # already position-deleted must not be deleted twice — counts feed
    # exact manifest accounting), keeping the file path + row position.
    # The predicate pushes into the parquet scan; the output here is
    # (data_path, pos) rows — dims only, tokens never reach the shuffle.
    pred = predicate_column(conjuncts)
    # only data-column conjuncts pass INTO the read, where they reach
    # PushedFilters (filters placed after input_file_name cannot push
    # down); partition-column conjuncts can't exist pre-reconstruction,
    # so the full predicate is re-applied after. Splitting here (the
    # conjunct columns are known) keeps the read's filter analyzable.
    pcols = set(snap.partition_cols)
    data_conj = [c for c in conjuncts if c[0] not in pcols]
    df = snap.read(
        spark, touched, file_path_col="_kdi_abs", row_index_col="_pos",
        predicate=predicate_column(data_conj) if data_conj else None,
    )
    root_strip = len(table.root) + 2
    hits = (
        df.where(pred)
        .select(
            F.expr(f"substring(_kdi_abs, {root_strip})").alias("data_path"),
            F.col("_pos").alias("pos"),
        )
    )

    # ONE delete file per commit (coalesce(1)): position deletes are the
    # point-delete path — (path,pos) pairs are tiny next to token rows.
    # Mass deletes belong on copy_on_write, where rewriting is the work.
    absd, reld = table.new_data_dir()
    hits.coalesce(1).write.mode("overwrite").parquet(absd)
    written = [
        os.path.join(absd, n) for n in os.listdir(absd) if n.endswith(".parquet")
    ]
    assert len(written) == 1, f"expected one delete file, got {len(written)}"
    counts_rows = (
        spark.read.parquet(absd).groupBy("data_path").count().collect()
    )
    counts = {r["data_path"]: r["count"] for r in counts_rows}
    n_del = sum(counts.values())
    if not n_del:
        # predicate matched no rows: drop the empty dir, no commit
        metrics.update(rows_after=metrics["rows_before"], rows_deleted=0,
                       version=snap.version, duration_s=time.time() - t0)
        return metrics
    entry = DeleteEntry(
        path=f"{reld}/{os.path.basename(written[0])}",
        size=sum(os.path.getsize(p) for p in written),
        counts=counts,
    )
    v = table.commit(
        Transaction(
            operation="delete-mor",
            add_deletes=[entry],
            data_change=True,
            metadata={"predicate": [list(c) for c in conjuncts]},
        )
    )
    metrics.update(
        rows_after=metrics["rows_before"] - n_del,
        rows_deleted=n_del,
        files_rewritten=0,
        delete_files_written=1,
        version=v,
        duration_s=time.time() - t0,
    )
    return metrics


def compact_position_deletes(
    spark: SparkSession, table: Table, job_id: str | None = None
) -> dict:
    """Minor delete compaction (Iceberg ``rewrite_position_delete_files``):
    consolidate many small position-delete files into ONE without
    touching any data file. Every point DELETE adds a delete file, and
    every scan of a covered file pays one anti-join per overlapping
    delete relation — at 10^12 rows the delete-file count, not the
    deleted-row count, becomes the scan tax. The major fold
    (``rewrite_deletes``) rewrites the covered DATA files; this op is
    the cheap middle ground: O(deleted rows) I/O, zero data movement.

    Rows referencing data files that have since been rewritten are
    dropped (snapshot replay already pruned them from the manifest
    counts, so the ``data_change=False`` conservation check proves the
    consolidated file deletes EXACTLY the same live rows)."""
    t0 = time.time()
    snap = table.snapshot()
    pos = [de for de in snap.delete_entries if de.kind == "position"]
    metrics = {
        "operation": "compact-deletes",
        "delete_files_before": len(pos),
    }
    if len(pos) < 2:
        metrics.update(delete_files_after=len(pos), version=snap.version,
                       duration_s=time.time() - t0)
        return metrics
    covered = sorted({p for de in pos for p in de.counts})
    dl = spark.read.schema("data_path string, pos long").parquet(
        *[f"{table.root}/{de.path}" for de in pos]
    )
    cov_df = spark.createDataFrame([(p,) for p in covered], "_c string")
    dl = (
        dl.join(F.broadcast(cov_df), dl["data_path"] == cov_df["_c"])
        .drop("_c")
        .dropDuplicates(["data_path", "pos"])
    )
    import os

    absd, reld = table.new_data_dir()
    dl.coalesce(1).write.mode("overwrite").parquet(absd)
    written = [
        os.path.join(absd, n)
        for n in os.listdir(absd)
        if n.endswith(".parquet")
    ]
    assert len(written) == 1, f"expected one delete file, got {len(written)}"
    counts_rows = (
        spark.read.parquet(absd).groupBy("data_path").count().collect()
    )
    counts = {r["data_path"]: r["count"] for r in counts_rows}
    from kafka_delta_ingest_spark.table.format import DeleteEntry

    entry = DeleteEntry(
        path=f"{reld}/{os.path.basename(written[0])}",
        size=sum(os.path.getsize(p) for p in written),
        counts=counts,
    )
    v = table.commit(
        Transaction(
            operation="compact-deletes",
            add_deletes=[entry],
            remove_deletes=[de.path for de in pos],
            # zero data change: the conservation check verifies the new
            # file deletes exactly the rows the old ones did
            data_change=False,
            metadata={"job_id": job_id or "compact-deletes"},
        )
    )
    metrics.update(
        delete_files_after=1,
        rows_deleted=sum(counts.values()),
        version=v,
        duration_s=time.time() - t0,
    )
    return metrics


def rewrite_deletes(spark: SparkSession, table: Table) -> dict:
    """Fold every live delete file (position AND equality) back into pure
    parquet: read affected data files (deletes applied via Snapshot.read),
    rewrite them, remove the originals in one atomic commit. Affected =
    position-covered ∪ equality-applicable (older seq + intersecting key
    range — manifest stats exempt provably-disjoint files from the
    rewrite entirely). Replay prunes position entries the moment their
    covered files are removed and equality entries once no intersecting
    older file remains, so the commit carries no explicit delete-removal
    action; the physical delete files stay on disk for pinned readers
    until snapshot expiry + orphan GC. ``data_change=False`` — scans are
    identical before/after (rows were already hidden at read time);
    conservation is commit-validated except where equality deletes make
    counts unknowable from metadata."""
    t0 = time.time()
    snap = table.snapshot()
    pos_covered = {
        p
        for de in snap.delete_entries
        if de.kind == "position"
        for p in de.counts
    }
    eq = snap.equality_entries
    covered = [
        fe
        for fe in snap.files
        if fe.path in pos_covered or any(de.applies_to(fe) for de in eq)
    ]
    metrics = {
        "operation": "rewrite-deletes",
        "delete_files": len(snap.delete_entries),
        "equality_delete_files": len(eq),
        "files_covered": len(covered),
        "rows_position_deleted_folded": snap.num_deleted(),
    }
    if not covered:
        metrics.update(version=snap.version, duration_s=time.time() - t0)
        return metrics
    df = snap.read(spark, covered)
    _, adds = stage_dataframe(
        spark, table, df, snap.partition_cols, snap.schema,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )
    v = table.commit(
        Transaction(
            operation="rewrite-deletes",
            adds=adds,
            removes=[fe.path for fe in covered],
            data_change=False,
        ),
        expected_schema=snap.schema,
    )
    after = table.snapshot(v)
    metrics.update(
        files_written=len(adds),
        delete_files_remaining=len(after.delete_entries),
        version=v,
        duration_s=time.time() - t0,
    )
    return metrics


# historical name (position deletes landed first); folds both kinds
rewrite_position_deletes = rewrite_deletes


def update_where(
    spark: SparkSession,
    table: Table,
    conjuncts: list[Conjunct],
    set_exprs: dict[str, "Column | str"],
) -> dict:
    """``UPDATE table SET col=expr, ... WHERE <AND of conjuncts>`` —
    copy-on-write. ``set_exprs`` values are Columns or SQL expression
    strings over the pre-update row. Partition columns cannot be updated
    (that is a repartition-the-row move — use MERGE delete+insert).
    Row count is conserved (asserted via manifests)."""
    from kafka_delta_ingest_spark.table import transforms

    # reject updates to identity partition cols AND to source columns of
    # partition transforms (either would move the row across partitions)
    snap_cols = {
        transforms.source_col(e) for e in table.snapshot().partition_cols
    }
    bad = sorted(set(set_exprs) & snap_cols)
    if bad:
        raise ValueError(f"cannot UPDATE partition columns: {bad}")

    def _apply(df: DataFrame, pred: Column) -> DataFrame:
        out = df
        # evaluate all SET right-hand sides against the PRE-update row:
        # stage into temp columns first, then swap (SQL UPDATE semantics —
        # sequential withColumn would let one SET see another's result)
        tmp = {}
        for i, (col, expr) in enumerate(set_exprs.items()):
            e = F.expr(expr) if isinstance(expr, str) else expr
            name = f"_set_{i}"
            tmp[col] = name
            out = out.withColumn(name, F.when(pred, e).otherwise(F.col(col)))
        for col, name in tmp.items():
            out = out.withColumn(col, F.col(name)).drop(name)
        return out.select(*[f.name for f in df.schema.fields])

    m = _rewrite_touched(spark, table, conjuncts, _apply, "update")
    if m["rows_after"] != m["rows_before"]:
        raise AssertionError(
            f"UPDATE changed row count: {m['rows_before']} -> {m['rows_after']}"
        )
    return m
