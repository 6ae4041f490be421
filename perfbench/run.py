"""Closed-loop benchmark of kafka_delta_ingest_spark.

    python3 perfbench/run.py --workload <optimize_bulk|ingest_stream|lookup_merge> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One process, one Spark session at
``local[nproc]`` with the package's session defaults otherwise, one caller:
each op starts after the previous one returns. Inputs come from ``--seed``;
every output is checked against an oracle. All scratch data (tables, Spark
local dirs, JVM temp files, event logs) lives under ``.perfbench_work/`` in
the checkout and is removed at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
package's layer functions with spans, ties Spark jobs to ops through job
groups and an event log, and prints the per-layer metrics. A line starting
``perfbench report`` precedes the result with the named per-workload
metrics, sample counts, host fingerprint and gate failures. The last line
is the result object; the exit code is non-zero when any op or correctness
gate failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import host
import layers
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_success_ratio": "ratio",
    "bytes_written_per_user_byte": "ratio",
    "tokens_per_s": "tokens/s",
    "bg_op_p50_s": "s",
}


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if "ratio" in name or "_per_" in name:
        return "ratio"
    return "count"


def start_spark(work: str, trace: bool):
    """The package's session at local[nproc], with every scratch path moved
    inside ``work``."""
    from kafka_delta_ingest_spark import session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["KDI_SPARK_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    extra = {
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
        })
    return session.get_spark(app_name="perfbench", cores=nproc, extra_conf=extra)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def end_to_end(run, setup_s: float) -> dict:
    ops_s = run.op_walls()
    return {
        "setup_s": setup_s,
        "op_success_ratio": 1.0 - run.failed / max(run.attempted, 1),
        "bytes_written_per_user_byte": run.written / run.user if run.user else 0.0,
        "tokens_per_s": run.tokens / ops_s if ops_s else 0.0,
        "fg_op_p50_s": statistics.median(run.fg) if run.fg else 0.0,
        "bg_op_p50_s": statistics.median(run.bg) if run.bg else 0.0,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import kafka_delta_ingest_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout ({e})", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "contract.json")) as f:
        contract = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, WORKLOADS[args.workload](), work, contract)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str, contract: dict) -> int:
    from workloads import Run

    trace = args.trace == 1
    jiffies0 = host.cpu_jiffies()
    t0 = time.perf_counter()
    spark = start_spark(work, trace)
    session_s = time.perf_counter() - t0
    error = None
    tr = Tracer(spark.sparkContext, enabled=trace)
    run = Run(spark, tr, work, args.seed)
    try:
        with host.RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            if trace:
                layers.install(tr)
            try:
                t1 = time.perf_counter()
                wl.setup(run)
                setup_s = session_s + time.perf_counter() - t1
                run.reset()
                # a fixed number of whole cycles sized to --seconds at the
                # workload's nominal cycle time: the work done, and every
                # count, is the same on every run and on both sides of a
                # comparison, however fast the host is
                cycles = max(1, round(args.seconds / wl.CYCLE_S))
                loop0 = time.perf_counter()
                for _ in range(cycles):
                    wl.cycle(run)
                loop_s = time.perf_counter() - loop0
                wl.finish(run)
            except Exception:  # an op or gate raised: the run has failed
                error = traceback.format_exc()
                run.failed += 1
                run.failures.append(error.strip().splitlines()[-1])
        hostinfo = host.fingerprint(spark, jiffies0, host.cpu_jiffies())
    finally:
        tr.unwrap()
        stop_spark(spark)

    if error:
        print(error, file=sys.stderr)
        print("perfbench report " + json.dumps({"workload": args.workload,
                                                "failures": run.failures}))
        return 1
    e2e = end_to_end(run, setup_s)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cycles": cycles, "loop_s": loop_s, "ops": len(run.tr.ops),
        "session_s": session_s,
        "op_failure_ratio": run.failed / max(run.attempted, 1),
        # driver JVM plus its Python workers; too noisy under the session's
        # 64g ParallelGC heap to gate (0.1-0.7 quartile spread over seeds)
        "peak_rss_mb": rss.peak_kb / 1024.0,
        # fg_op_p50_s is reported, not gated: per-run medians of the
        # sub-second lookups moved 0.20-0.27 (quartile spread over ten
        # seeds) with each fresh JVM, beyond the widest allowed bound
        "end_to_end": e2e,
        "named": {k: {"value": v, "unit": u, "n": n}
                  for k, (v, u, n) in wl.report(run).items()},
        "host": hostinfo, "failures": run.failures,
        "samples": run.samples,
    }
    if trace:
        metrics, balance = layers.reduce(
            tr, run, cycles, session_s, os.path.join(work, "events"),
            contract["self_time_tolerance"],
        )
        report["self_time_balance"] = balance
        run.check(balance["ok"], f"self times do not add up to op walls: {balance}")
        out = {k: {"value": metrics[k], "unit": unit_of(k)} for k in layers.PER_LAYER}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print("perfbench report " + json.dumps(report))
    ok = run.failed == 0
    print(json.dumps({"correct": ok, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
