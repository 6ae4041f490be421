"""Dump the physical plan of every maintenance data write, so a change to the
write path can be checked for plan changes offline.

Usage:
    python tools/dump_write_plans.py <out_dir>
    python tools/dump_write_plans.py --diff <dump_a> <dump_b>

The first form runs compaction, Z-order OPTIMIZE, Hilbert OPTIMIZE, legacy
MERGE and tri-clause MERGE on one small seeded table (partitioned by
``source``, zstd, ``write.sort.order`` set) with Spark's event log on. For
each op it writes ``<op>.plan.txt``, the ``physicalPlanDescription`` of every
SQL-execution-start event whose plan holds a parquet insert, and
``<op>.nodes.txt``, the Exchange and Sort nodes of those plans with
expression and plan ids stripped. ``--diff`` compares the nodes files of two
dumps and exits 1 on any difference.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OPS = ("compact", "optimize_zorder", "optimize_hilbert", "merge_legacy",
       "merge_clauses")
_NODE = re.compile(r"^\(\d+\) (Exchange|Sort)\b.*?^Arguments: (.*?)$",
                   re.M | re.S)


def _nodes(plan: str) -> list[str]:
    out = []
    for kind, args in _NODE.findall(plan):
        args = re.sub(r"#\d+L?|, \[plan_id=\d+\]", "", args)
        out.append(f"{kind} {args}")
    return out


def _run_ops(spark, root: str) -> None:
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.datagen import make_small_file_table, tokens_df
    from kafka_delta_ingest_spark.maintenance.compact import compact
    from kafka_delta_ingest_spark.maintenance.merge import MergeClause, merge_into
    from kafka_delta_ingest_spark.maintenance.optimize import optimize

    t = make_small_file_table(
        spark, root, n_docs=2000, n_files=24, max_tok=16,
        properties={"write.parquet.compression": "zstd",
                    "write.sort.order": "n_tok DESC"},
    )
    did = F.col("doc_id").substr(5, 12).cast("long")
    src = tokens_df(spark, 2400, seed=7, max_tok=16).where(did % 5 == 0)
    sc = spark.sparkContext
    for op in OPS:
        sc.setJobDescription(op)
        if op == "compact":
            compact(spark, t, target_file_bytes=64 * 1024, job_id="plans")
        elif op.startswith("optimize_"):
            optimize(spark, t, dims=["n_tok", "doc_id"], curve=op[9:],
                     target_file_bytes=64 * 1024)
        elif op == "merge_legacy":
            merge_into(spark, t, src, key="doc_id", use_bloom=False)
        else:
            merge_into(spark, t, src.where(did % 10 == 0), key="doc_id",
                       when_matched=[MergeClause("update", "n_tok > 4")],
                       use_bloom=False)
    sc.setJobDescription(None)


def dump(out_dir: str) -> None:
    from kafka_delta_ingest_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="kdi-write-plans-")
    events = os.path.join(work, "events")
    os.makedirs(events)
    spark = get_spark(app_name="write-plans", cores=4, shuffle_partitions=4,
                      extra_conf={"spark.eventLog.enabled": "true",
                                  "spark.eventLog.dir": "file://" + events,
                                  "spark.eventLog.compress": "false"})
    try:
        _run_ops(spark, os.path.join(work, "t"))
    finally:
        spark.stop()
    plans: dict[str, list[str]] = {op: [] for op in OPS}
    logs = sorted(os.path.join(d, n) for d, _, ns in os.walk(events)
                  for n in ns if not n.startswith((".", "appstatus")))
    for path in logs:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if (ev.get("Event", "").endswith("SQLExecutionStart")
                        and ev.get("description") in plans
                        and "InsertIntoHadoopFsRelationCommand"
                        in ev["physicalPlanDescription"]):
                    plans[ev["description"]].append(ev["physicalPlanDescription"])
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for op, ps in plans.items():
        with open(os.path.join(out_dir, f"{op}.plan.txt"), "w") as f:
            f.write("\n\n".join(ps))
        with open(os.path.join(out_dir, f"{op}.nodes.txt"), "w") as f:
            f.write("".join(n + "\n" for p in ps for n in _nodes(p)))
        print(f"{op}: {len(ps)} write plan(s)")


def diff(a: str, b: str) -> int:
    bad = 0
    for op in OPS:
        na, nb = (open(os.path.join(d, f"{op}.nodes.txt")).read() for d in (a, b))
        same = na == nb and na != ""
        bad += not same
        print(f"{op}: {'identical' if same else 'DIFFERENT'} "
              f"({na.count(chr(10))} Exchange/Sort nodes)")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1] == "--diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    dump(sys.argv[1])
