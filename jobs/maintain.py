"""spark-submit entry point for table maintenance — the CLI analogue of
the reference's ``kafka-delta-ingest ingest`` command surface
(/root/reference/src/main.rs:313-465), reshaped for maintenance
transactions.

Usage:
  spark-submit --py-files kafka_delta_ingest_spark.zip jobs/maintain.py \
      --table /data/tokens --op compact --target-file-bytes 134217728 \
      --job-id nightly-compact
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    p = argparse.ArgumentParser(description="kdi-spark table maintenance")
    p.add_argument("--table", required=True)
    p.add_argument(
        "--op",
        required=True,
        choices=[
            "compact", "zorder", "hilbert", "optimize", "manifest",
            "expire", "gc", "stats", "delete", "update", "rollback",
            "rewrite-deletes", "upsert", "plan", "auto",
            "branch", "drop-branch", "tag", "delete-tag", "publish", "refs",
            "evolve-partitioning", "set-properties", "partitions", "changes",
            "describe", "optimize-partitions", "plan-files",
            "analyze", "ndv", "bloom", "generate-manifest", "clone",
            "doctor", "overwrite", "overwrite-dynamic", "rename-column",
            "drop-column", "adopt", "truncate", "compact-deletes",
        ],
    )
    p.add_argument(
        "--column", default=None,
        help="column name for --op rename-column/drop-column",
    )
    p.add_argument(
        "--to-name", default=None,
        help="new name for --op rename-column",
    )
    p.add_argument(
        "--max-partitions", type=int, default=None,
        help="for --op optimize-partitions: bound the sweep (most "
        "fragmented first); rerun to continue",
    )
    p.add_argument(
        "--from-version", type=int, default=None,
        help="for --op changes: base version of the change feed "
        "(--to-version bounds the end; default head)",
    )
    p.add_argument(
        "--properties", default=None,
        help='JSON object for --op set-properties, e.g. '
        '\'{"write.parquet.compression": "zstd"}\'; a null value deletes '
        "the key. write.parquet.* properties become parquet writer "
        "options on every subsequent data write",
    )
    p.add_argument(
        "--name", default=None,
        help="ref name for --op branch/drop-branch/tag/delete-tag/publish",
    )
    p.add_argument(
        "--at-version", type=int, default=None,
        help="fork/pin version for --op branch/tag (default: current head)",
    )
    p.add_argument(
        "--partition-cols", default=None,
        help="comma-separated partition-spec entries for "
        "--op evolve-partitioning ('' = unpartitioned): identity columns "
        "and/or hidden-partitioning transforms bucket(N,col) / "
        "truncate(W,col) / year|month|day|hour(col); future writes "
        "only, existing files keep their recorded layout",
    )
    p.add_argument(
        "--source-parquet",
        default=None,
        help="parquet path/glob of the batch for --op upsert (zero-read "
        "CDC upsert: appends the batch + equality-deletes its keys in one "
        "atomic commit)",
    )
    p.add_argument(
        "--key", default="doc_id",
        help="comma-separated upsert key columns for --op upsert",
    )
    p.add_argument(
        "--delete-mode",
        choices=["copy_on_write", "merge_on_read"],
        default="copy_on_write",
        help="DELETE strategy: copy_on_write rewrites touched files "
        "(mass deletes); merge_on_read writes one position-delete file "
        "and moves no data (point deletes) — fold later with "
        "--op rewrite-deletes or any compact/cluster/optimize",
    )
    p.add_argument(
        "--to-version", type=int, default=None,
        help="target snapshot version for --op rollback",
    )
    p.add_argument(
        "--scope",
        default=None,
        help='metadata file-scope conjuncts for compact/zorder/hilbert/'
        'optimize, e.g. [["source","=","web"]] — per-partition maintenance',
    )
    p.add_argument("--target-file-bytes", type=int, default=128 * 1024 * 1024)
    p.add_argument("--dims", default="source,n_tok,doc_id")
    p.add_argument(
        "--columns",
        default="source,n_tok,doc_id",
        help="comma-separated columns for --op analyze",
    )
    p.add_argument(
        "--dest", default=None, help="destination root for --op clone"
    )
    p.add_argument("--retain-last", type=int, default=10)
    p.add_argument(
        "--older-than-ms", type=int, default=None,
        help="for --op expire: only expire versions committed before this "
        "epoch-ms timestamp (whichever bound retains more wins)",
    )
    p.add_argument("--grace-seconds", type=float, default=3600.0)
    p.add_argument("--job-id", default=None)
    p.add_argument("--verify", action="store_true")
    p.add_argument(
        "--where",
        default=None,
        help='DML predicate as JSON conjuncts: [["n_tok","<=",5],["source","=","src1"]]',
    )
    p.add_argument(
        "--set",
        dest="set_exprs",
        default=None,
        help='UPDATE assignments as JSON: {"tokens": "transform(tokens, x -> x + 1)"}',
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from kafka_delta_ingest_spark.table.format import Table

    spark = SparkSession.builder.getOrCreate()
    if args.op == "adopt":
        # adopt CREATES the table — no existing log to load
        from kafka_delta_ingest_spark.maintenance.adopt import adopt_parquet

        if not args.source_parquet:
            p.error("--source-parquet is required for --op adopt")
        t = adopt_parquet(
            spark, args.table, args.source_parquet,
            job_id=args.job_id or "adopt",
        )
        snap = t.snapshot()
        print(json.dumps({
            "version": snap.version,
            "files": len(snap.files),
            "rows": snap.num_records(),
            "partition_spec": snap.partition_cols,
        }))
        return
    table = Table(args.table)

    scope = [tuple(c) for c in json.loads(args.scope)] if args.scope else None

    if args.dims == "auto" and args.op in ("zorder", "hilbert", "optimize"):
        # NDV-driven dim selection (advisor.suggest_cluster_dims): rank
        # ANALYZEd columns by cardinality, no data read
        from kafka_delta_ingest_spark.maintenance.advisor import (
            suggest_cluster_dims,
        )

        dims = suggest_cluster_dims(table)
        if not dims:
            p.error(
                "--dims auto needs an NDV stats artifact covering at "
                "least one prunable column (run --op analyze first)"
            )
        args.dims = ",".join(dims)

    if args.op == "compact":
        from kafka_delta_ingest_spark.maintenance.compact import compact

        out = compact(
            spark, table, target_file_bytes=args.target_file_bytes,
            job_id=args.job_id, verify=args.verify, scope=scope,
        )
    elif args.op in ("zorder", "hilbert"):
        from kafka_delta_ingest_spark.maintenance.zorder import cluster

        out = cluster(
            spark, table, dims=args.dims.split(","), curve=args.op,
            target_file_bytes=args.target_file_bytes, job_id=args.job_id,
            verify=args.verify, scope=scope,
        )
    elif args.op == "optimize":
        # fused compact+cluster: one read→shuffle→write pass, one commit
        from kafka_delta_ingest_spark.maintenance.optimize import optimize

        out = optimize(
            spark, table, dims=args.dims.split(","), curve="zorder",
            target_file_bytes=args.target_file_bytes, job_id=args.job_id,
            verify=args.verify, scope=scope,
        )
    elif args.op == "manifest":
        from kafka_delta_ingest_spark.maintenance.manifest import rewrite_manifests

        out = rewrite_manifests(spark, table, job_id=args.job_id or "manifest")
    elif args.op == "expire":
        from kafka_delta_ingest_spark.maintenance.expire import expire_snapshots

        out = expire_snapshots(
            table, retain_last=args.retain_last,
            older_than_ms=args.older_than_ms,
        )
    elif args.op == "gc":
        from kafka_delta_ingest_spark.maintenance.expire import gc_orphans

        out = gc_orphans(spark, table, grace_s=args.grace_seconds)
    elif args.op in ("delete", "update"):
        from kafka_delta_ingest_spark.maintenance.dml import (
            delete_where,
            update_where,
        )

        if not args.where:
            p.error(f"--where is required for --op {args.op}")
        conjuncts = [tuple(c) for c in json.loads(args.where)]
        if args.op == "delete":
            out = delete_where(spark, table, conjuncts, mode=args.delete_mode)
        else:
            if not args.set_exprs:
                p.error("--set is required for --op update")
            out = update_where(spark, table, conjuncts, json.loads(args.set_exprs))
    elif args.op in ("overwrite", "overwrite-dynamic"):
        from kafka_delta_ingest_spark.maintenance.overwrite import (
            overwrite_dynamic,
            overwrite_where,
        )

        if not args.source_parquet:
            p.error(f"--source-parquet is required for --op {args.op}")
        src = spark.read.parquet(args.source_parquet)
        if args.op == "overwrite":
            if not args.where:
                p.error("--where is required for --op overwrite")
            conjuncts = [tuple(c) for c in json.loads(args.where)]
            out = overwrite_where(
                spark, table, src, conjuncts, job_id=args.job_id
            )
        else:
            out = overwrite_dynamic(spark, table, src, job_id=args.job_id)
    elif args.op == "rewrite-deletes":
        from kafka_delta_ingest_spark.maintenance.dml import (
            rewrite_position_deletes,
        )

        out = rewrite_position_deletes(spark, table)
    elif args.op == "compact-deletes":
        from kafka_delta_ingest_spark.maintenance.dml import (
            compact_position_deletes,
        )

        out = compact_position_deletes(spark, table, job_id=args.job_id)
    elif args.op == "upsert":
        from kafka_delta_ingest_spark.maintenance.upsert import upsert

        if not args.source_parquet:
            p.error("--source-parquet is required for --op upsert")
        src = spark.read.parquet(args.source_parquet)
        out = upsert(spark, table, src, key=args.key.split(","))
    elif args.op == "rollback":
        from kafka_delta_ingest_spark.maintenance.rollback import rollback

        if args.to_version is None:
            p.error("--to-version is required for --op rollback")
        out = rollback(table, args.to_version)
    elif args.op in ("plan", "auto"):
        # advisor: metadata-only policy pass; "auto" executes the plan
        from kafka_delta_ingest_spark.maintenance.advisor import advise

        recs = advise(
            table,
            target_file_bytes=args.target_file_bytes,
            retain_last=args.retain_last,
            # --dims auto: derive dims from the NDV stats artifact
            # (advisor.suggest_cluster_dims) instead of prescribing them
            cluster_dims=(
                None if args.dims in (None, "", "auto")
                else args.dims.split(",")
            ),
        )
        out = {"plan": [r.to_json() for r in recs]}
        if args.op == "auto":
            executed = []
            for r in recs:
                if r.op == "compact":
                    from kafka_delta_ingest_spark.maintenance.compact import compact

                    m = compact(spark, table, job_id=args.job_id, scope=scope,
                                **r.kwargs)
                elif r.op == "optimize":
                    from kafka_delta_ingest_spark.maintenance.optimize import optimize

                    m = optimize(spark, table, job_id=args.job_id, scope=scope,
                                 **r.kwargs)
                elif r.op == "expire":
                    from kafka_delta_ingest_spark.maintenance.expire import (
                        expire_snapshots,
                    )

                    m = expire_snapshots(table, **r.kwargs)
                elif r.op == "gc":
                    from kafka_delta_ingest_spark.maintenance.expire import gc_orphans

                    m = gc_orphans(spark, table, grace_s=args.grace_seconds)
                elif r.op == "rewrite-deletes":
                    from kafka_delta_ingest_spark.maintenance.dml import (
                        rewrite_position_deletes,
                    )

                    m = rewrite_position_deletes(spark, table)
                elif r.op == "compact-deletes":
                    from kafka_delta_ingest_spark.maintenance.dml import (
                        compact_position_deletes,
                    )

                    m = compact_position_deletes(spark, table)
                elif r.op == "analyze":
                    from kafka_delta_ingest_spark.maintenance.analyze import (
                        analyze,
                    )

                    m = analyze(spark, table, **r.kwargs)
                elif r.op == "bloom":
                    from kafka_delta_ingest_spark.maintenance.bloom import (
                        build_bloom,
                    )

                    m = build_bloom(spark, table, **r.kwargs)
                else:
                    continue
                executed.append({"op": r.op, "metrics": m})
            out["executed"] = executed
    elif args.op in ("branch", "drop-branch", "tag", "delete-tag", "publish"):
        if not args.name:
            p.error(f"--name is required for --op {args.op}")
        if args.op == "branch":
            b = table.create_branch(args.name, at_version=args.at_version)
            out = {"branch": args.name, "fork_version": b.fork_version}
        elif args.op == "drop-branch":
            table.drop_branch(args.name)
            out = {"dropped": args.name}
        elif args.op == "tag":
            v = table.create_tag(args.name, version=args.at_version)
            out = {"tag": args.name, "version": v}
        elif args.op == "delete-tag":
            table.delete_tag(args.name)
            out = {"deleted_tag": args.name}
        else:  # publish: fast-forward when possible, else atomic squash
            v = table.publish_branch(args.name)
            out = {"published": args.name, "head": v}
    elif args.op == "refs":
        out = {"branches": table.list_branches(), "tags": table.list_tags()}
    elif args.op == "clone":
        from kafka_delta_ingest_spark.maintenance.clone import clone_table

        if not args.dest:
            p.error("--dest is required for --op clone")
        c = clone_table(table, args.dest, version=args.at_version)
        out = {
            "cloned_to": c.root,
            "source_version": (
                args.at_version
                if args.at_version is not None
                else table.latest_version()
            ),
            "files_linked": len(c.snapshot().files),
        }
    elif args.op == "doctor":
        from kafka_delta_ingest_spark.maintenance.doctor import check_table

        out = check_table(table)
    elif args.op == "generate-manifest":
        from kafka_delta_ingest_spark.maintenance.export import (
            generate_symlink_manifest,
        )

        out = generate_symlink_manifest(table)
    elif args.op == "analyze":
        from kafka_delta_ingest_spark.maintenance.analyze import analyze

        out = analyze(
            spark, table, [c.strip() for c in args.columns.split(",")]
        )
    elif args.op == "truncate":
        v = table.truncate()
        out = {"version": v, "rows": 0}
    elif args.op in ("rename-column", "drop-column"):
        if not args.column:
            p.error(f"--column is required for --op {args.op}")
        if args.op == "rename-column":
            if not args.to_name:
                p.error("--to-name is required for --op rename-column")
            v = table.rename_column(args.column, args.to_name)
            out = {"version": v, "renamed": {args.column: args.to_name}}
        else:
            v = table.drop_column(args.column)
            out = {"version": v, "dropped": args.column}
    elif args.op == "bloom":
        from kafka_delta_ingest_spark.maintenance.bloom import build_bloom

        out = build_bloom(
            spark, table, [c.strip() for c in args.columns.split(",")]
        )
    elif args.op == "ndv":
        from kafka_delta_ingest_spark.maintenance.analyze import ndv_estimates
        from kafka_delta_ingest_spark.maintenance.artifacts import load_index

        idx = load_index(table, "ndv")
        out = {
            "analyzed_version": idx["analyzed_version"] if idx else None,
            "ndv": ndv_estimates(spark, table) if idx else {},
        }
    elif args.op == "evolve-partitioning":
        if args.partition_cols is None:
            p.error("--partition-cols is required for --op evolve-partitioning")
        from kafka_delta_ingest_spark.table import transforms

        # paren-aware split: "source,bucket(16,doc_id)" is TWO entries
        cols = transforms.split_spec(args.partition_cols)
        v = table.evolve_partitioning(cols)
        out = {"version": v, "partition_cols": cols}
    elif args.op == "plan-files":
        # distributed scan planning: executors prune the checkpoint
        # manifest; only survivors are collected (plans/distributed_planning)
        from kafka_delta_ingest_spark.plans.distributed_planning import (
            plan_scan_paths,
        )

        paths = plan_scan_paths(spark, table, scope or [])
        out = {
            "files_matching": len(paths),
            "files_total": len(table.snapshot().files),
            "paths": paths[:50],
            "truncated": len(paths) > 50,
        }
    elif args.op == "optimize-partitions":
        from kafka_delta_ingest_spark.maintenance.orchestrate import (
            optimize_partitions,
        )

        out = optimize_partitions(
            spark, table, dims=args.dims.split(","),
            target_file_bytes=args.target_file_bytes,
            max_partitions=args.max_partitions, job_id=args.job_id,
        )
    elif args.op == "describe":
        snap = table.snapshot()
        out = {
            "version": snap.version,
            "schema": [
                {"name": f.name, "type": f.dataType.simpleString(),
                 "nullable": f.nullable}
                for f in snap.schema.fields
            ],
            "partition_spec": snap.partition_cols,
            "properties": snap.properties,
            "files": len(snap.files),
            "delete_files": len(snap.delete_entries),
            "rows": snap.num_live_records(),
            "bytes": snap.total_bytes(),
            "branches": table.list_branches(),
            "tags": table.list_tags(),
        }
    elif args.op == "partitions":
        from kafka_delta_ingest_spark.table.inspect import partitions_df

        out = {
            "partitions": [
                {**r.asDict(), "partition": dict(r["partition"])}
                for r in partitions_df(spark, table).collect()
            ]
        }
    elif args.op == "changes":
        from kafka_delta_ingest_spark.table.changes import row_changes

        if args.from_version is None:
            p.error("--from-version is required for --op changes")
        ch = row_changes(
            spark, table, args.from_version, args.to_version, key=args.key
        )
        counts = {
            r["_change_type"]: r["count"]
            for r in ch.groupBy("_change_type").count().collect()
        }
        out = {
            "from_version": args.from_version,
            "to_version": args.to_version
            if args.to_version is not None else table.latest_version(),
            "changes": counts,
        }
    elif args.op == "set-properties":
        if args.properties is None:
            p.error("--properties is required for --op set-properties")
        v = table.set_properties(json.loads(args.properties))
        out = {"version": v, "properties": table.snapshot().properties}
    elif args.op == "stats":
        snap = table.snapshot()
        out = {
            "version": snap.version,
            "files": len(snap.files),
            "rows": snap.num_live_records(),
            "rows_physical": snap.num_records(),
            "delete_files": len(snap.delete_entries),
            "rows_position_deleted": snap.num_deleted(),
            "bytes": snap.total_bytes(),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
