"""Bin-packing small-file compaction (north-rule op B1).

Semantics inherited from the reference:
- file-size targeting: bins aim at ``target_file_bytes`` exactly as the
  ingest buffers aim at ``min_bytes_per_file``
  (/root/reference/src/lib.rs:1127-1145, default src/lib.rs:311);
- buffer-then-atomic-commit: all rewritten files become visible in ONE
  replace commit (``Add`` new + ``Remove`` old), validated against the
  head for concurrent deletes (src/lib.rs:931-1024);
- ``data_change=False``: compaction must not change scan results — the
  token-array-equality invariant, enforced optionally in-line via the
  distributed content fingerprint;
- resumable from the partition ledger with per-bin lineage + metrics
  (src/lib.rs:1026-1046 seek-past-completed semantics).

Execution is ONE Spark job regardless of bin count:

    read(binned files) ──broadcast-join── file→bin map (metadata-sized)
      └─ repartition(n_bins, "_bin")          # each bin lands in one task
           └─ write_staged(bin_col="_bin")     # exactly one file per bin

The write is table/writer.py ``write_staged``, the staging path every data
write shares (schema cast, hidden-partition values, physical column names,
``write.parquet.*`` options, ``partitionBy(parts + "_bin")``). As a
pre-binned, content-preserving rewrite it skips CHECK constraints and
``write.sort.order``, which apply to new rows only.

Hash-partitioning on ``_bin`` with n_bins partitions may co-locate two bins
in one task, but ``partitionBy`` still splits them into separate files per
``_bin=`` directory — output granularity stays exact while the job uses one
shuffle. Task input is bounded by ``target_file_bytes``, so no task-level
skew at any scale. At 10^6-file scale the planner chunks work via
``max_bins_per_commit`` so the broadcast map and single commit stay bounded.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.maintenance.ledger import Ledger, bin_key
from kafka_delta_ingest_spark.plans.bin_packing import (
    DEFAULT_TARGET_FILE_BYTES,
    Bin,
    plan_bins,
)
from kafka_delta_ingest_spark.table.format import Snapshot, Table, Transaction
from kafka_delta_ingest_spark.table.stats import compute_add_entries
from kafka_delta_ingest_spark.table.writer import write_staged


def _rewrite_bins(
    spark: SparkSession, table: Table, snap: Snapshot, bins: list[Bin]
) -> tuple[str, dict[int, list]]:
    """One Spark job: rewrite every bin into exactly one output file.
    Returns (staging_dir, {bin_id: [FileEntry, ...]})."""
    file_to_bin = [
        (os.path.join(table.root, f.path), b.bin_id) for b in bins for f in b.files
    ]
    bins_map = spark.createDataFrame(file_to_bin, "_path string, _bin int")

    # Snapshot.read applies position deletes, so compaction folds
    # merge-on-read deletes into the rewritten bins for free (the commit's
    # live-row conservation check validates the fold from metadata)
    binned = [f for b in bins for f in b.files]
    df = (
        snap.read(spark, binned, file_path_col="_path")
        .join(F.broadcast(bins_map), "_path")
        .drop("_path")
    )
    # 2× partitions over bins: hash collisions would otherwise give some
    # tasks two bins (stragglers); partitionBy still emits exactly one file
    # per bin because a bin's rows never split across tasks
    n_part = max(2 * len(bins), spark.sparkContext.defaultParallelism, 1)
    absd, keys = write_staged(
        table, df.repartition(n_part, "_bin"), snap.partition_cols,
        snap.schema, snap.properties, snap.column_mapping, bin_col="_bin",
    )
    # stats over staged output; _bin is a synthetic partition col we strip
    adds = compute_add_entries(spark, table.root, absd, snap.schema, keys,
                               column_mapping=snap.column_mapping)
    by_bin: dict[int, list] = {}
    for fe in adds:
        bid = int(fe.partition_values.pop("_bin"))
        by_bin.setdefault(bid, []).append(fe)
    return absd, by_bin


def compact(
    spark: SparkSession,
    table: Table,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    small_file_threshold: float = 0.75,
    min_files_per_bin: int = 2,
    max_bins_per_commit: int = 10_000,
    job_id: str | None = None,
    verify: bool = False,
    scope: list[tuple] | None = None,
) -> dict:
    """Compact small files; returns metrics. Idempotent/resumable: re-running
    with the same job_id skips bins already staged (ledger) or already
    committed (their inputs are no longer live, so the planner never
    re-proposes them).

    ``scope``: optional ``(col, op, literal)`` conjuncts restricting which
    files are eligible — evaluated against manifest partition values and
    min/max stats only (metadata, no data scan). At 10^12-row scale
    maintenance runs per partition/day, never whole-table; any file subset
    is safe to compact because the rewrite is content-preserving
    (data_change=False row conservation still enforced at commit)."""
    job_id = job_id or f"compact-{uuid.uuid4().hex[:8]}"
    ledger = Ledger(table.root, job_id)
    snap = table.snapshot()
    t0 = time.time()

    fingerprint_before = None
    if verify:
        from kafka_delta_ingest_spark.functions.verify import content_fingerprint

        fingerprint_before = content_fingerprint(snap.scan(spark))

    candidates = snap.files
    if scope:
        from kafka_delta_ingest_spark.plans.pruning import prune_files

        candidates = prune_files(candidates, list(scope), snap.schema,
                                 spec=snap.partition_cols)
    all_bins = plan_bins(
        candidates,
        target_file_bytes=target_file_bytes,
        small_file_threshold=small_file_threshold,
        min_files_per_bin=min_files_per_bin,
    )
    committed_versions: list[int] = []
    total_rows = total_bytes = files_rewritten = files_written = 0

    for batch_start in range(0, len(all_bins), max_bins_per_commit):
        batch = all_bins[batch_start : batch_start + max_bins_per_commit]
        # resume: bins already staged by a prior run of this job
        todo: list[Bin] = []
        resumed: dict[int, dict] = {}
        for b in batch:
            key = bin_key(b.input_paths())
            prior = ledger.check_resume(key, b.input_paths(), table.root)
            if prior is not None:
                resumed[b.bin_id] = prior
            else:
                todo.append(b)

        staged: dict[int, list] = {}
        if todo:
            t_run = time.time()
            _, staged = _rewrite_bins(spark, table, snap, todo)
            dt = time.time() - t_run
            # a planned bin has >= min_files_per_bin non-empty inputs, so a
            # rewrite that staged nothing means the read->bin join dropped
            # rows (e.g. path-key mismatch) — committing would Remove inputs
            # with zero Adds, silently deleting data. Hard error BEFORE any
            # ledger entry exists, so a retry re-runs the bin.
            empty = [b.bin_id for b in todo if not staged.get(b.bin_id)]
            if empty:
                raise RuntimeError(
                    f"compact {job_id}: {len(empty)} bin(s) staged no output "
                    f"(bin ids {empty[:5]}...); aborting before ledger/commit"
                )
            for b in todo:
                outs = staged.get(b.bin_id, [])
                ledger.record(
                    bin_key(b.input_paths()),
                    inputs=b.input_paths(),
                    outputs=[fe.path for fe in outs],
                    rows=sum(fe.num_records for fe in outs),
                    bytes_=sum(fe.size for fe in outs),
                    duration_s=dt / max(len(todo), 1),
                    extra={"op": "compact"},
                )

        adds, removes = [], []
        for b in batch:
            if b.bin_id in staged:
                outs = staged[b.bin_id]
            else:
                # resume: recompute Add entries for already-staged outputs
                entry = resumed[b.bin_id]
                outs = _entries_for_existing(spark, table, snap, entry["outputs"])
            adds.extend(outs)
            removes.extend(b.input_paths())
            total_rows += sum(fe.num_records for fe in outs)
            total_bytes += sum(fe.size for fe in outs)
            files_rewritten += len(b.files)
            files_written += len(outs)
        if adds or removes:
            v = table.commit(
                Transaction(
                    operation="compact",
                    adds=adds,
                    removes=removes,
                    data_change=False,
                    metadata={"job_id": job_id, "bins": len(batch)},
                ),
                expected_schema=snap.schema,
            )
            committed_versions.append(v)
            snap = table.snapshot()  # next batch plans against the new head

    if verify and fingerprint_before is not None:
        from kafka_delta_ingest_spark.functions.verify import content_fingerprint

        after = content_fingerprint(table.snapshot().scan(spark))
        if after != fingerprint_before:
            raise AssertionError(
                f"compaction changed scan contents: {fingerprint_before} -> {after}"
            )

    return {
        "job_id": job_id,
        "bins": len(all_bins),
        "files_rewritten": files_rewritten,
        "files_written": files_written,
        "rows": total_rows,
        "bytes": total_bytes,
        "versions": committed_versions,
        "duration_s": time.time() - t0,
        "ledger": ledger.metrics(),
    }


def _entries_for_existing(spark, table, snap, rel_paths: list[str]):
    """Recompute Add entries for already-staged parquet files (resume path)
    — footer stats, no data scan."""
    from kafka_delta_ingest_spark.table.footer_stats import (
        _one_file,
    )
    from kafka_delta_ingest_spark.table.stats import stat_leaves

    from kafka_delta_ingest_spark.table import transforms

    pkeys = transforms.keys(snap.partition_cols)
    pset = set(pkeys)
    leaf_types = {
        n: (dt, mm)
        for (n, dt, mm) in stat_leaves(snap.schema)
        if n.split(".", 1)[0] not in pset
    }
    out = [
        _one_file(os.path.join(table.root, p), table.root, leaf_types, pkeys)
        for p in rel_paths
    ]
    out.sort(key=lambda e: e.path)
    return out
