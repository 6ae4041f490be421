"""Per-file stats artifacts — one build/reuse/publish/cleanup lifecycle
for every kind of stats layer kept beside a table.

The reference's stats stop at per-file min/max/null counts in the log
(its ``src/writer.rs:655-707``). This engine keeps richer
per-file stats as parquet tables under ``<root>/_stats/<kind>/``: NDV
sketches (``ndv``, maintenance/analyze.py) and key bloom filters
(``bloom``, maintenance/bloom.py). Data files are immutable, so their
stats rows are too; this module owns everything about an artifact except
how one file's rows are computed:

- **Layout**: each build writes a fresh ``v{version:020d}_{uuid8}``
  directory of rows ``(path, column, ...)``; a tiny ``INDEX.json`` names
  the live one plus the build parameters, the analyzed columns and the
  covered file paths. The index is swapped atomically (tmp +
  ``os.replace``), so readers see the old artifact or the new, never half.
- **Reuse**: a refresh whose parameters equal the stored ones keeps the
  rows of every surviving file (path join against the old artifact, never
  a rescan), scans only files the artifact has not seen, drops removed
  files, and keeps the already-paid-for rows of columns not requested
  this time. A requested column the artifact has never seen costs one
  extra pass over the surviving files for that column only. Any parameter
  change rebuilds from scratch.
- **Cleanup**: only the artifact this refresh superseded, and
  unreferenced directories older than ``CLEANUP_GRACE_S`` (crashed runs),
  are deleted — never a fresh unknown directory, which may be a
  concurrent refresh that has written its artifact but not yet swapped
  the index. Same grace-window discipline as ``gc_orphans``.

A kind supplies its parameters, its row DDL and a per-file row function.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.table.format import Table
from kafka_delta_ingest_spark.table.scan import read_entries

# unreferenced artifact dirs older than this are crashed runs' leftovers
CLEANUP_GRACE_S = 3600.0


def artifact_dir(table: Table, kind: str) -> str:
    return os.path.join(table.root, "_stats", kind)


def _index_path(table: Table, kind: str) -> str:
    return os.path.join(artifact_dir(table, kind), "INDEX.json")


def load_index(table: Table, kind: str) -> dict | None:
    try:
        with open(_index_path(table, kind)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def artifact_path(table: Table, kind: str, idx: dict) -> str:
    """Directory of the artifact ``idx`` names."""
    return os.path.join(artifact_dir(table, kind), idx["artifact"])


def read_artifact(
    spark: SparkSession, table: Table, kind: str, idx: dict
) -> DataFrame:
    return spark.read.parquet(artifact_path(table, kind, idx))


def refresh(
    spark: SparkSession,
    table: Table,
    kind: str,
    columns: list[str],
    params: dict,
    row_ddl: str,
    file_rows: Callable[[DataFrame, list, list[str]], DataFrame],
) -> dict:
    """Build or incrementally refresh the ``kind`` artifact for the
    current snapshot and return its metrics: ``analyzed_version``,
    ``artifact_path``, ``columns`` and ``files_total`` / ``files_scanned``
    / ``files_reused`` / ``files_dropped``.

    ``row_ddl`` is the artifact schema; its first two columns are
    ``path string, column string``. ``file_rows(scan, entries, cols)``
    turns a scan of ``entries`` — the table schema plus ``_file``, each
    row's file path relative to the table root — into artifact rows for
    ``cols``. An empty table gets an empty artifact."""
    columns = list(columns)
    snap = table.snapshot()
    live = {f.path for f in snap.files}
    schema_names = {f.name for f in snap.schema.fields}
    for c in columns:
        if c not in schema_names:
            raise ValueError(f"{kind}: no such column {c!r}")

    idx = load_index(table, kind)
    prev = None
    prev_paths: set[str] = set()
    prev_cols: set[str] = set()
    if idx is not None and all(idx.get(k) == v for k, v in params.items()):
        prev = read_artifact(spark, table, kind, idx)
        prev_paths = set(idx["file_paths"])
        # columns dropped by schema evolution leave the artifact: new
        # files can't maintain them
        prev_cols = set(idx["columns"]) & schema_names
    eff_cols = sorted(set(columns) | prev_cols)
    new_cols = sorted(set(columns) - prev_cols) if prev is not None else []

    keep = sorted(prev_paths & live)
    todo = [f for f in snap.files if f.path not in prev_paths]
    empty = spark.createDataFrame([], row_ddl)
    names = empty.columns
    prefix_len = len(os.path.abspath(table.root) + os.sep)

    def _rows(entries, cols) -> DataFrame:
        scan = read_entries(
            spark, table.root, entries, snap.schema, snap.partition_cols,
            file_path_col="_file", column_mapping=snap.column_mapping,
            file_defaults=snap.defaults,
        ).withColumn("_file", F.expr(f"substring(_file, {prefix_len + 1})"))
        return file_rows(scan, entries, cols).select(*names)

    parts = []
    if keep:
        keep_df = spark.createDataFrame([(p,) for p in keep], "_keep string")
        parts.append(
            prev.join(F.broadcast(keep_df), prev["path"] == keep_df["_keep"])
            .where(F.col("column").isin(sorted(prev_cols)))
            .select(*names)
        )
    if todo:
        parts.append(_rows(todo, eff_cols))
    if new_cols and keep:
        kset = set(keep)
        parts.append(_rows([f for f in snap.files if f.path in kset], new_cols))
    merged = reduce(DataFrame.unionByName, parts) if parts else empty

    # unique dir per run: Spark reads `prev` lazily DURING the write, so a
    # same-version refresh must never overwrite the dir it merges from,
    # and two concurrent refreshes must never write the same dir (the
    # index swap is last-writer-wins between two valid artifacts)
    artifact = f"v{snap.version:020d}_{uuid.uuid4().hex[:8]}"
    out_dir = os.path.join(artifact_dir(table, kind), artifact)
    merged.write.mode("overwrite").parquet(out_dir)

    index = {
        "analyzed_version": snap.version,
        "artifact": artifact,
        **params,
        "columns": eff_cols,
        "file_paths": sorted(live),
    }
    tmp = _index_path(table, kind) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(index, f)
    os.replace(tmp, _index_path(table, kind))
    _cleanup(table, kind, artifact, idx["artifact"] if idx else None)

    scanned = len(todo) + (len(keep) if new_cols else 0)
    return {
        "analyzed_version": snap.version,
        "artifact_path": out_dir,
        "columns": eff_cols,
        "files_total": len(live),
        "files_scanned": scanned,
        "files_reused": len(live) - scanned,
        "files_dropped": len(prev_paths - live),
    }


def _cleanup(table: Table, kind: str, ours: str, superseded: str | None) -> None:
    """Best-effort removal of the two safe classes of dir: ``superseded``
    (any racer merging from it has its own copy of the rows by now, or
    loses the index swap to us) and unreferenced dirs past the grace
    window. Deleting a fresh unknown dir would strand a concurrent
    refresh's index at a missing path."""
    live_idx = load_index(table, kind)
    keep_dirs = {ours, live_idx["artifact"] if live_idx else ours}
    now = time.time()
    root = artifact_dir(table, kind)
    for name in os.listdir(root):
        full = os.path.join(root, name)
        if not os.path.isdir(full) or name in keep_dirs:
            continue
        if name == superseded or now - os.path.getmtime(full) > CLEANUP_GRACE_S:
            shutil.rmtree(full, ignore_errors=True)
