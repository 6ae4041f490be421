"""Which package functions the traced run wraps, and how their spans reduce
to the per-layer metrics.

Wrappers go on class methods and on module functions at every name a caller
looks them up by (``compute_add_entries``, for one, is imported by name into
the writer and three maintenance modules). Spans are opened from these
wrappers and from the workloads only; the package itself is not changed.
"""

from __future__ import annotations

import time

from spans import SPARK_COUNTERS, Tracer, self_times, spark_per_op

OPS = ("optimize_zorder", "optimize_hilbert", "scan", "ingest_batch",
       "compact", "gc", "lookup", "merge")

MODULE_METRICS = (
    "session.get_spark_s",
    "table.format.snapshot_calls", "table.format.commit_calls",
    "table.format.commit_attempts", "table.format.snapshot_s",
    "table.format.commit_s", "table.format.log_versions_replayed",
    "table.writer.stage_s", "table.writer.files_written", "table.writer.bytes_written",
    "table.stats.add_entries_s", "table.stats.files_statted",
    "plans.pruning.prune_s", "plans.pruning.files_kept_ratio",
    "table.scan.scan_s", "table.scan.rows_read_per_row_returned",
    "maintenance.zorder.bounds_s", "maintenance.zorder.shuffle_write_s",
    "maintenance.zorder.stats_s", "maintenance.zorder.commit_s",
    "maintenance.zorder.files_written",
    "maintenance.compact.s", "maintenance.compact.files_rewritten",
    "maintenance.merge.touched_ratio", "maintenance.merge.rows_written_per_row_merged",
    "maintenance.expire.expire_s", "maintenance.expire.gc_s",
    "maintenance.expire.orphans_deleted",
    "streaming.micro_batch.rows", "streaming.micro_batch.dead_rows",
    "streaming.micro_batch.replayed_rows_skipped",
)

PER_LAYER = (
    MODULE_METRICS
    + tuple(f"spark.{op}.{c}" for op in OPS for c in SPARK_COUNTERS)
    + ("spark.unattributed.jobs", "spark.unattributed.executor_run_s",
       "trace.unattributed_s", "trace.overhead_s")
)


def _on_snapshot(attrs, args, kwargs, out):
    table = args[0]
    # a head snapshot is a commit attempt when taken inside commit; a pinned
    # one (an explicit version) is the checkpoint writer's
    attrs["pinned"] = len(args) > 1 or kwargs.get("version") is not None
    ckpt = table._latest_checkpoint_at_or_before(out.version)
    attrs["replayed"] = out.version - (ckpt if ckpt is not None else -1)


def _on_stage(attrs, args, kwargs, out):
    adds = out[1]
    attrs["files"] = len(adds)
    attrs["bytes"] = sum(a.size for a in adds)


def _on_add_entries(attrs, args, kwargs, out):
    attrs["files"] = len(out)


def _on_prune(attrs, args, kwargs, out):
    files = args[0]
    attrs["considered"] = len(files) if hasattr(files, "__len__") else None
    attrs["kept"] = len(out)
    attrs["kept_rows"] = sum(f.num_records for f in out)


def _on_cluster(attrs, args, kwargs, out):
    attrs.update({k: out.get(k, 0) for k in
                  ("bounds_s", "write_s", "stats_s", "commit_s", "files_written")})


def install(tr: Tracer) -> None:
    from kafka_delta_ingest_spark.streaming.micro_batch import IngestPipeline
    from kafka_delta_ingest_spark.table.format import Snapshot, Table

    tr.wrap_method(Table, "snapshot", "table.format.snapshot", _on_snapshot)
    tr.wrap_method(Table, "commit", "table.format.commit")
    tr.wrap_method(Snapshot, "scan", "table.scan")
    tr.wrap_method(IngestPipeline, "ingest_batch", "streaming.micro_batch")
    p = "kafka_delta_ingest_spark."
    tr.wrap_function(p + "table.writer", "stage_dataframe", "table.writer", _on_stage,
                     also_in=(p + "streaming.micro_batch",))
    tr.wrap_function(p + "table.stats", "compute_add_entries", "table.stats", _on_add_entries,
                     also_in=(p + "table", p + "table.writer", p + "maintenance.zorder",
                              p + "maintenance.compact", p + "maintenance.merge"))
    tr.wrap_function(p + "table.footer_stats", "footer_add_entries", "table.footer_stats")
    tr.wrap_function(p + "plans.pruning", "prune_files", "plans.pruning", _on_prune,
                     also_in=(p + "maintenance.merge",))
    tr.wrap_function(p + "maintenance.zorder", "cluster", "maintenance.zorder", _on_cluster,
                     also_in=(p + "maintenance.optimize", p + "maintenance"))
    tr.wrap_function(p + "maintenance.compact", "compact", "maintenance.compact",
                     also_in=(p + "maintenance",))
    tr.wrap_function(p + "maintenance.merge", "merge_into", "maintenance.merge",
                     also_in=(p + "maintenance",))
    tr.wrap_function(p + "maintenance.expire", "expire_snapshots", "maintenance.expire.expire",
                     also_in=(p + "maintenance",))
    tr.wrap_function(p + "maintenance.expire", "gc_orphans", "maintenance.expire.gc",
                     also_in=(p + "maintenance",))
    for mod, fn in (("ingest.buffers", "dedupe_against_ledger"),
                    ("ingest.buffers", "watermarks_to_app_txns"),
                    ("ingest.coercions", "coerce_json"),
                    ("ingest.dead_letters", "split_dead_letters")):
        tr.wrap_function(p + mod, fn, mod, also_in=(p + "streaming.micro_batch",))


def span_cost_s(tr: Tracer, n: int = 2000) -> float:
    """Wall cost of one wrapped call over a bare one, per call."""
    def noop():
        return None

    wrapped = tr._wrapped(noop, "trace.calibrate", None)
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        wrapped()
    cost = (time.perf_counter() - t0 - bare) / n
    del tr.spans[-n:]
    return max(cost, 0.0)


def reduce(tr: Tracer, run, cycles: int, session_s: float, event_dir: str,
           tolerance: float) -> tuple[dict, dict]:
    """Per-layer metrics (sums per cycle; ratios of sums) and the self-time
    balance of every op, as (metrics, balance)."""
    spans = [s for s in tr.spans if s.end is not None]
    st = self_times(spans)
    in_op = [s for s in spans if s.op is not None]
    per = max(cycles, 1)

    def self_sum(*names):
        return sum(st[s.sid] for s in in_op if s.name in names) / per

    def spans_named(name):
        return [s for s in in_op if s.name == name]

    m = {k: 0.0 for k in PER_LAYER}
    m["session.get_spark_s"] = session_s
    snaps = spans_named("table.format.snapshot")
    commits = spans_named("table.format.commit")
    commit_ids = {s.sid for s in commits}
    m["table.format.snapshot_calls"] = len(snaps) / per
    m["table.format.commit_calls"] = len(commits) / per
    m["table.format.commit_attempts"] = sum(
        1 for s in snaps if s.parent in commit_ids and not s.attrs.get("pinned")
    ) / per
    m["table.format.snapshot_s"] = self_sum("table.format.snapshot")
    m["table.format.commit_s"] = self_sum("table.format.commit")
    m["table.format.log_versions_replayed"] = sum(s.attrs.get("replayed", 0) for s in snaps) / per
    stages = spans_named("table.writer")
    m["table.writer.stage_s"] = self_sum("table.writer")
    m["table.writer.files_written"] = sum(s.attrs.get("files", 0) for s in stages) / per
    m["table.writer.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in stages) / per
    m["table.stats.add_entries_s"] = self_sum("table.stats", "table.footer_stats")
    m["table.stats.files_statted"] = sum(s.attrs.get("files", 0) for s in spans_named("table.stats")) / per
    prunes = [s for s in spans_named("plans.pruning") if s.attrs.get("considered") is not None]
    m["plans.pruning.prune_s"] = self_sum("plans.pruning")
    considered = sum(s.attrs["considered"] for s in prunes)
    m["plans.pruning.files_kept_ratio"] = (
        sum(s.attrs["kept"] for s in prunes) / considered if considered else 0.0
    )
    m["table.scan.scan_s"] = self_sum("table.scan")
    # rows in the files a lookup kept, over rows it returned
    read_ops = [o for o in tr.ops if o["name"] == "lookup" and "rows_returned" in o]
    rows_read = rows_ret = 0
    for o in read_ops:
        kept = [s for s in in_op if s.op == o["id"] and s.name == "plans.pruning"]
        rows_read += kept[-1].attrs["kept_rows"] if kept else o["table_rows"]
        rows_ret += o["rows_returned"]
    m["table.scan.rows_read_per_row_returned"] = rows_read / rows_ret if rows_ret else 0.0
    zs = spans_named("maintenance.zorder")
    for k in ("bounds_s", "stats_s", "commit_s", "files_written"):
        m[f"maintenance.zorder.{k}"] = sum(s.attrs.get(k, 0) for s in zs) / per
    m["maintenance.zorder.shuffle_write_s"] = sum(
        s.attrs.get("write_s", 0) - s.attrs.get("bounds_s", 0) for s in zs
    ) / per
    m["maintenance.compact.s"] = self_sum("maintenance.compact")
    m["maintenance.compact.files_rewritten"] = run.counts.get("files_rewritten", 0) / per
    live = run.counts.get("live_files", 0)
    m["maintenance.merge.touched_ratio"] = run.counts.get("touched_files", 0) / live if live else 0.0
    merged = run.counts.get("rows_merged", 0)
    m["maintenance.merge.rows_written_per_row_merged"] = (
        run.counts.get("rows_written", 0) / merged if merged else 0.0
    )
    m["maintenance.expire.expire_s"] = self_sum("maintenance.expire.expire")
    m["maintenance.expire.gc_s"] = self_sum("maintenance.expire.gc")
    m["maintenance.expire.orphans_deleted"] = run.counts.get("orphans_deleted", 0) / per
    m["streaming.micro_batch.rows"] = run.counts.get("rows", 0) / per
    m["streaming.micro_batch.dead_rows"] = run.counts.get("dead_rows", 0) / per
    m["streaming.micro_batch.replayed_rows_skipped"] = (
        run.counts.get("replayed_rows_skipped", 0) / per
    )

    from spans import read_event_log

    jobs, stage_totals = read_event_log(event_dir)
    m.update(spark_per_op(tr.ops, jobs, stage_totals))

    # self-time balance: an op's layer self times plus its own remainder
    # (unattributed) must add up to its wall
    balance = {"tolerance": tolerance, "ops": 0, "worst_rel_error": 0.0}
    unattributed = 0.0
    for o in tr.ops:
        mine = [s for s in in_op if s.op == o["id"]]
        wall = o["end"] - o["start"]
        total = sum(st[s.sid] for s in mine)
        unattributed += sum(st[s.sid] for s in mine if s.parent is None)
        err = abs(total - wall) / wall if wall > 0 else 0.0
        balance["ops"] += 1
        balance["worst_rel_error"] = max(balance["worst_rel_error"], err)
    m["trace.unattributed_s"] = unattributed / per
    m["trace.overhead_s"] = len(in_op) * span_cost_s(tr) / per
    balance["ok"] = balance["worst_rel_error"] <= tolerance
    return m, balance
