"""The three closed-loop workloads: one caller, each op starts after the
previous one returns, every output checked against an oracle.

Each workload builds its inputs from the seed in ``setup`` (which also runs
the warm-up ops, so one-time JIT and worker start-up never land in the timed
loop), runs whole ``cycle``s until the time budget is spent, and checks its
end state in ``finish``.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import shutil
import statistics

from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.datagen import TOKENS_SCHEMA, make_small_file_table, tokens_df
from kafka_delta_ingest_spark.functions.verify import content_fingerprint
from kafka_delta_ingest_spark.ingest.dead_letters import DEAD_LETTER_SCHEMA
# Modules, not functions: the package re-exports ``compact`` and others
# under the same names as their modules, and the traced run wraps each
# function at its module attribute, where these calls look it up.
compact_mod = importlib.import_module("kafka_delta_ingest_spark.maintenance.compact")
doctor_mod = importlib.import_module("kafka_delta_ingest_spark.maintenance.doctor")
expire_mod = importlib.import_module("kafka_delta_ingest_spark.maintenance.expire")
merge_mod = importlib.import_module("kafka_delta_ingest_spark.maintenance.merge")
optimize_mod = importlib.import_module("kafka_delta_ingest_spark.maintenance.optimize")
from kafka_delta_ingest_spark.streaming.micro_batch import IngestPipeline
from kafka_delta_ingest_spark.table.format import Table

ZSTD = {"write.parquet.compression": "zstd"}
SOURCES = ["web", "books", "code", "wiki", "forums", "papers"]


def parquet_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(os.path.join(root, "data")):
        for fn in files:
            if fn.endswith(".parquet"):
                p = os.path.join(d, fn)
                out[p] = os.path.getsize(p)
    return out


def new_bytes(root: str, before: dict[str, int]) -> int:
    return sum(s for p, s in parquet_sizes(root).items() if p not in before)


def row_bytes(doc_id: str, n_tok: int, source: str) -> int:
    """Raw size of one tokens row: key, int32 tokens, int32 n_tok, source."""
    return len(doc_id) + 4 * n_tok + 4 + len(source)


class Run:
    """Closed-loop state shared by a workload's ops and gates."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tr, self.work, self.seed = spark, tracer, work, seed
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.fg: list[float] = []  # foreground op walls (s)
        self.bg: list[float] = []  # background op walls (s), one per cycle
        self.tokens = 0  # tokens moved by the timed ops
        self.written = self.user = 0  # data-file bytes written / user bytes
        self.samples: dict[str, list[float]] = {}  # named timings for the report
        self.counts: dict[str, float] = {}  # per-run counters for per-layer metrics

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def op(self, name: str):
        self.attempted += 1
        return self.tr.op(name)

    def sample(self, key: str, v: float) -> None:
        self.samples.setdefault(key, []).append(v)

    def count(self, key: str, v: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + v

    def doctor(self, table: Table, what: str) -> None:
        r = doctor_mod.check_table(table)
        errs = [f for f in r["findings"] if f.get("severity") == "error"]
        self.check(not errs, f"doctor {what}: {errs[:3]}")

    def reset(self) -> None:
        """Drop what setup and warm-up recorded; the timed loop starts clean."""
        self.fg, self.bg, self.samples, self.counts = [], [], {}, {}
        self.tokens = self.written = self.user = 0
        self.tr.ops.clear()
        self.tr.spans.clear()

    def op_walls(self) -> float:
        return sum(o["end"] - o["start"] for o in self.tr.ops)


# ------------------------------------------------------------ ingest_stream
class IngestStream:
    """JSON tokens messages over four Kafka partitions through
    ``IngestPipeline.ingest_batch`` with a DLQ table. A fixed share of
    messages fails coercion, the last batch of every cycle is redelivered,
    and each cycle ends with compact, expire_snapshots and gc_orphans."""

    CYCLE_S = 10.0  # nominal cycle wall at local[4]; sets the cycle count
    PARTITIONS, PER_PARTITION, MAX_TOK = 4, 500, 32
    BAD_EVERY = 40  # every 40th message carries an uncoercible n_tok
    FRESH_PER_CYCLE = 2
    APP = "perfbench"

    def setup(self, run: Run) -> None:
        root = os.path.join(run.work, "is_table")
        self.table = Table.create(root, TOKENS_SCHEMA, ["source"], properties=ZSTD)
        self.dlq = Table.create(os.path.join(run.work, "is_dlq"), DEAD_LETTER_SCHEMA, ["date"])
        self.pipe = IngestPipeline(self.table, app_id=self.APP, dlq_table=self.dlq)
        self.next_offset = [0] * self.PARTITIONS
        self.n_msgs = 0
        self.good: list[tuple] = []
        self.n_bad = 0
        self.cycle(run, fresh=1)

    def _batch(self, run: Run):
        rng = run.rng
        rows, good, bad = [], [], 0
        for p in range(self.PARTITIONS):
            for _ in range(self.PER_PARTITION):
                n = rng.randint(1, self.MAX_TOK)
                doc = {
                    "doc_id": f"msg-{self.n_msgs:09d}",
                    "tokens": [rng.randrange(50_000) for _ in range(n)],
                    "n_tok": n,
                    "source": SOURCES[min(int(rng.paretovariate(1.2)) - 1, 5)],
                }
                self.n_msgs += 1
                if self.n_msgs % self.BAD_EVERY == 0:
                    doc["n_tok"] = f"x{n}"
                    bad += 1
                else:
                    good.append((doc["doc_id"], doc["tokens"], n, doc["source"]))
                rows.append((json.dumps(doc), p, self.next_offset[p]))
                self.next_offset[p] += 1
        # materialized on the JVM before the op, like a fetched Kafka batch:
        # the pipeline's jobs must not re-serialize Python rows each time
        df = run.spark.createDataFrame(
            rows, "value string, _partition int, _offset long"
        ).localCheckpoint()
        return df, good, bad, len(rows)

    def cycle(self, run: Run, fresh: int = FRESH_PER_CYCLE) -> None:
        spark = run.spark
        for _ in range(fresh):
            df, good, bad, n = self._batch(run)
            before = parquet_sizes(self.table.root)
            with run.op("ingest_batch") as rec:
                m = self.pipe.ingest_batch(spark, df)
            wall = rec["end"] - rec["start"]
            run.fg.append(wall)
            run.sample("ingest_batch", wall)
            run.check(m.get("rows") == len(good) and m.get("dead") == bad,
                      f"ingest_batch: rows {m.get('rows')} dead {m.get('dead')}, "
                      f"expected {len(good)} / {bad}")
            self.good.extend(good)
            self.n_bad += bad
            run.written += new_bytes(self.table.root, before)
            run.user += m.get("bytes", 0)
            run.tokens += sum(g[2] for g in good)
            run.count("rows", m.get("rows", 0))
            run.count("dead_rows", m.get("dead", 0))
        # redelivery of the last batch: offsets replay, nothing may commit
        v, dv = self.table.latest_version(), self.dlq.latest_version()
        with run.op("ingest_batch") as rec:
            m = self.pipe.ingest_batch(spark, df)
        run.sample("ingest_replay", rec["end"] - rec["start"])
        run.check(bool(m.get("skipped_all")) and self.table.latest_version() == v
                  and self.dlq.latest_version() == dv,
                  f"redelivered batch committed: {m}")
        run.count("replayed_rows_skipped", n - m.get("rows", 0) - m.get("dead", 0))

        before = parquet_sizes(self.table.root)
        with run.op("compact") as c_rec:
            cm = compact_mod.compact(spark, self.table, target_file_bytes=1 << 20)
        run.written += new_bytes(self.table.root, before)
        run.count("files_rewritten", cm["files_rewritten"])
        with run.op("gc") as g_rec:
            expire_mod.expire_snapshots(self.table, retain_last=4)
            gm = expire_mod.gc_orphans(spark, self.table, grace_s=0.0)
        run.count("orphans_deleted", gm["deleted"])
        maint = (c_rec["end"] - c_rec["start"]) + (g_rec["end"] - g_rec["start"])
        run.bg.append(maint)
        run.sample("stream_maintenance", maint)

    def finish(self, run: Run) -> None:
        spark = run.spark
        oracle = content_fingerprint(spark.createDataFrame(self.good, TOKENS_SCHEMA))
        got = content_fingerprint(self.table.snapshot().scan(spark))
        run.check(got == oracle, "ingest_stream: table differs from the good messages")
        n_dlq = self.dlq.snapshot().scan(spark).count()
        run.check(n_dlq == self.n_bad, f"ingest_stream: DLQ holds {n_dlq}, expected {self.n_bad}")
        want = {f"{self.APP}-{p}": o - 1 for p, o in enumerate(self.next_offset)}
        have = self.table.snapshot().app_txns
        run.check(have == want, f"ingest_stream: app_txns {have} != {want}")
        run.doctor(self.table, "ingest_stream table")
        run.doctor(self.dlq, "ingest_stream dlq")

    def report(self, run: Run) -> dict:
        med = statistics.median
        xs = run.samples["ingest_batch"]
        loop = sum(xs) + sum(run.samples["ingest_replay"])
        out = {
            "ingest_rows_per_s": (run.counts["rows"] / loop, "rows/s", len(xs)),
            "ingest_batch_p50_s": (med(xs), "s", len(xs)),
            "stream_maintenance_s": (med(run.samples["stream_maintenance"]), "s",
                                     len(run.samples["stream_maintenance"])),
        }
        out["ingest_batch_p90_s"] = p90(xs)
        return out


# ---------------------------------------------------- optimize_lookup_merge
class OptimizeLookupMerge:
    """A fragmented tokens table (zstd, partitioned by the skewed ``source``
    column, hundreds of small files) restored per cycle from a pristine
    copy. Each cycle runs OPTIMIZE Z-order on ``[n_tok, doc_id]``, selective
    ``Snapshot.scan`` lookups on the clustering dims, a contiguous-key and a
    random-key CDC ``merge_into``, more lookups on the merged layout,
    OPTIMIZE Hilbert, and a full-scan fingerprint."""

    CYCLE_S = 12.0  # nominal cycle wall at local[4]; sets the cycle count
    DOCS, FILES, MAX_TOK, FILE_DIV = 8_000, 32, 128, 16
    DIMS = ["n_tok", "doc_id"]
    BAND, MERGE_KEYS, NEW_KEY_SHARE = 2, 400, 0.1
    LOOKUP_PAIRS = 2  # per layout: after Z-order, and after the merges
    WARM_LOOKUP_PAIRS = 8

    def setup(self, run: Run) -> None:
        spark = run.spark
        self.pristine = os.path.join(run.work, "olm_pristine")
        self.live = os.path.join(run.work, "olm_live")
        make_small_file_table(
            spark, self.pristine, n_docs=self.DOCS, n_files=self.FILES,
            seed=run.seed, partition_by_source=True, max_tok=self.MAX_TOK,
            properties=ZSTD,
        )
        # the oracle is the generator itself, plus the CDC batches once
        # merges have run; every OPTIMIZE must preserve it exactly
        self.base = tokens_df(spark, self.DOCS, seed=run.seed, max_tok=self.MAX_TOK)
        self.base_fp = content_fingerprint(self.base)
        self.table_tokens = self.base.agg(F.sum("n_tok")).collect()[0][0]
        self.target = Table(self.pristine).snapshot().total_bytes() // self.FILE_DIV
        # the lookup oracle: doc_id -> (n_tok, source, tokens)
        self.base_model = {
            r["doc_id"]: (r["n_tok"], r["source"], tuple(r["tokens"]))
            for r in self.base.collect()
        }
        self.n_new = 0
        self.cycle(run)  # warm-up
        # lookups keep speeding up for a while after the first cycle (JIT);
        # more of them before timing flattens that trend out of the loop
        for _ in range(self.WARM_LOOKUP_PAIRS):
            self._lookup_pair(run)

    def _optimize(self, run: Run, curve: str) -> float:
        name = f"optimize_{curve}"
        before = parquet_sizes(self.live)
        table_bytes = self.table.snapshot().total_bytes()
        with run.op(name) as rec:
            m = optimize_mod.optimize(
                run.spark, self.table, dims=self.DIMS, curve=curve,
                target_file_bytes=self.target,
            )
        wall = rec["end"] - rec["start"]
        run.sample(name, wall)
        run.written += new_bytes(self.live, before)
        run.user += table_bytes
        run.tokens += self.table_tokens
        run.check(m["rows"] == len(self.model), f"{name}: rows {m['rows']}")
        return wall

    def _fingerprint(self, run: Run, op: str | None = None) -> dict:
        if op is None:
            return content_fingerprint(self.table.snapshot().scan(run.spark))
        with run.op(op) as rec:
            fp = content_fingerprint(self.table.snapshot().scan(run.spark))
        run.tokens += self.table_tokens
        run.sample(op, rec["end"] - rec["start"])
        return fp

    def _lookup(self, run: Run, with_doc_range: bool) -> float:
        rng = run.rng
        lo = rng.randint(1, self.MAX_TOK - self.BAND + 1)
        conj = [("n_tok", ">=", lo), ("n_tok", "<", lo + self.BAND)]
        pred = (F.col("n_tok") >= lo) & (F.col("n_tok") < lo + self.BAND)
        if with_doc_range:
            span = self.DOCS // 8
            a = rng.randrange(self.DOCS - span)
            d_lo, d_hi = f"doc-{a:012d}", f"doc-{a + span:012d}"
            conj += [("doc_id", ">=", d_lo), ("doc_id", "<", d_hi)]
            pred = pred & (F.col("doc_id") >= d_lo) & (F.col("doc_id") < d_hi)
        else:
            d_lo = d_hi = None
        with run.op("lookup") as rec:
            snap = self.table.snapshot()
            with run.tr.span("table.scan"):
                rows = snap.scan(run.spark, predicate=pred, predicate_stats=conj).collect()
        wall = rec["end"] - rec["start"]
        run.sample("lookup", wall)
        got = sorted((r["doc_id"], r["n_tok"], r["source"], tuple(r["tokens"])) for r in rows)
        want = sorted(
            (k, v[0], v[1], v[2]) for k, v in self.model.items()
            if lo <= v[0] < lo + self.BAND and (d_lo is None or d_lo <= k < d_hi)
        )
        run.check(got == want, f"lookup n_tok [{lo},{lo + self.BAND}) doc [{d_lo},{d_hi}): "
                               f"{len(got)} rows, oracle {len(want)}")
        run.tokens += sum(r[1] for r in got)
        rec["rows_returned"] = len(got)
        rec["table_rows"] = snap.num_records()
        return wall

    def _lookup_pair(self, run: Run) -> None:
        # one sample = a band lookup plus a band-and-range lookup, so a seed
        # changes the keys, not the mix of lookup shapes
        run.fg.append(self._lookup(run, False) + self._lookup(run, True))

    def _merge(self, run: Run, local: bool) -> float:
        rng = run.rng
        n_old = int(self.MERGE_KEYS * (1 - self.NEW_KEY_SHARE))
        if local:
            a = rng.randrange(self.DOCS - n_old)
            keys = [f"doc-{a + j:012d}" for j in range(n_old)]
        else:
            keys = [f"doc-{j:012d}" for j in rng.sample(range(self.DOCS), n_old)]
        for _ in range(self.MERGE_KEYS - n_old):
            keys.append(f"new-{self.n_new:09d}")
            self.n_new += 1
        rows = []
        for k in keys:
            n = rng.randint(1, self.MAX_TOK)
            src = self.model[k][1] if k in self.model else rng.choice(SOURCES)
            rows.append((k, [rng.randrange(50_000) for _ in range(n)], n, src))
        # materialized on the JVM before the op, like a fetched CDC batch
        src_df = run.spark.createDataFrame(rows, TOKENS_SCHEMA).localCheckpoint()
        before = parquet_sizes(self.live)
        name = "merge_local" if local else "merge_random"
        with run.op("merge") as rec:
            m = merge_mod.merge_into(run.spark, self.table, src_df, key="doc_id")
        wall = rec["end"] - rec["start"]
        run.sample(name, wall)
        run.written += new_bytes(self.live, before)
        run.user += sum(row_bytes(k, n, s) for k, _t, n, s in rows)
        run.tokens += sum(r[2] for r in rows)
        for k, toks, n, s in rows:
            self.model[k] = (n, s, tuple(toks))
        self.cdc.extend((len(self.cdc), *r) for r in rows)
        run.count("touched_files", m["touched_files"])
        run.count("live_files", m["touched_files"] + m["untouched_files"])
        run.count("rows_written", m["rows_written"])
        run.count("rows_merged", len(rows))
        return wall

    def _cdc_oracle(self, run: Run) -> dict:
        """Plain-Spark base ⊕ CDC: latest CDC row per key replaces the base."""
        cdc = run.spark.createDataFrame(
            self.cdc, "seq long, doc_id string, tokens array<int>, n_tok int, source string"
        )
        w = Window.partitionBy("doc_id").orderBy(F.col("seq").desc())
        latest = (cdc.withColumn("rn", F.row_number().over(w))
                  .where("rn = 1").drop("rn", "seq"))
        return content_fingerprint(
            self.base.join(latest.select("doc_id"), "doc_id", "left_anti").unionByName(latest)
        )

    def cycle(self, run: Run) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)
        self.table = Table(self.live)
        self.model = dict(self.base_model)
        self.cdc: list[tuple] = []
        # gates: the scan fingerprint is equal before and after each OPTIMIZE
        write = self._optimize(run, "zorder")
        run.check(self._fingerprint(run) == self.base_fp,
                  "optimize_zorder changed the scan contents")
        for _ in range(self.LOOKUP_PAIRS):
            self._lookup_pair(run)
        write += self._merge(run, True) + self._merge(run, False)
        for _ in range(self.LOOKUP_PAIRS):
            self._lookup_pair(run)
        before = self._fingerprint(run)
        write += self._optimize(run, "hilbert")
        run.check(self._fingerprint(run, "scan") == before,
                  "optimize_hilbert changed the scan contents")
        run.bg.append(write)

    def finish(self, run: Run) -> None:
        run.check(self._fingerprint(run) == self._cdc_oracle(run),
                  "optimize_lookup_merge: table differs from base + CDC oracle")
        run.doctor(self.table, "optimize_lookup_merge")

    def report(self, run: Run) -> dict:
        med = statistics.median
        s = run.samples
        return {
            "optimize_zorder_tokens_per_s": (self.table_tokens / med(s["optimize_zorder"]), "tokens/s", len(s["optimize_zorder"])),
            "optimize_hilbert_tokens_per_s": (self.table_tokens / med(s["optimize_hilbert"]), "tokens/s", len(s["optimize_hilbert"])),
            "scan_tokens_per_s": (self.table_tokens / med(s["scan"]), "tokens/s", len(s["scan"])),
            "lookup_p50_s": (med(s["lookup"]), "s", len(s["lookup"])),
            "lookup_p90_s": p90(s["lookup"]),
            "merge_local_p50_s": (med(s["merge_local"]), "s", len(s["merge_local"])),
            "merge_random_p50_s": (med(s["merge_random"]), "s", len(s["merge_random"])),
        }


def p90(xs: list[float]) -> tuple:
    """p90 only when at least ten samples lie beyond it (n >= 100);
    otherwise None with the sample count, so an unsupported tail is never
    reported as measured."""
    if len(xs) >= 100:
        return (statistics.quantiles(xs, n=10)[-1], "s", len(xs))
    return (None, "s", len(xs))


WORKLOADS = {
    "ingest_stream": IngestStream,
    "optimize_lookup_merge": OptimizeLookupMerge,
}
