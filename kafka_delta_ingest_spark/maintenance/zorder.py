"""Z-order / Hilbert-curve clustering (north-rule op B2).

Multi-dimensional clustering so manifest min/max stats (the machinery of
/root/reference/src/writer.rs:655-707) actually prune scans: after
clustering on (source, n_tok, doc_id-hash), a predicate on any dim touches
a small fraction of files.

Plan shape (scale-first):
  scan(snapshot) → dim normalization (JVM: width_bucket / xxhash64, using
  manifest min/max — **no extra pass over the data**) → bit-interleaved
  key: pure-Catalyst morton expression for Z-order ≤3 dims (whole-stage
  codegen, zero Python processes — the Arrow path collapsed 6.6× at
  local[32], see cluster_keyed_df), vectorized Arrow pandas_udf over
  numpy uint64 for Hilbert/higher dims (not SQL-expressible; the only
  Python in the engine, per north rule) →
  manifest-byte-weighted quantile bounds over a dims-only projection
  (one pruned agg job; tokens never decoded) → codegen'd binary-search
  bucket id → ONE hash shuffle on a table-wide dense bin id → write
  (table/writer.py write_staged, one file per bin) → atomic replace commit
  (data_change=False; scan must be token-array identical).

Range placement is explicit rather than ``repartitionByRange``: Spark's
RangePartitioner samples by RE-EXECUTING the child plan over full rows,
which re-reads and re-decodes every token array once per OPTIMIZE —
profiled at 2.46B tokens as more core-seconds than the map stage itself
(771 vs 631). Byte-weighted quantile cuts give the same even-sized,
key-range-disjoint output files (the clustering analogue of the
reference's file-size targeting, src/lib.rs:1127-1145) from a scan that
Catalyst prunes to the clustering dims.
"""

from __future__ import annotations

import math
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from kafka_delta_ingest_spark.plans.bin_packing import DEFAULT_TARGET_FILE_BYTES
from kafka_delta_ingest_spark.table.format import (
    HIVE_DEFAULT_PARTITION,
    Snapshot,
    Table,
    Transaction,
)
from kafka_delta_ingest_spark.table.stats import compute_add_entries
from kafka_delta_ingest_spark.table.writer import write_staged

# 63 bits of key: bits-per-dim by dimensionality
_BITS_FOR_DIMS = {1: 62, 2: 31, 3: 21, 4: 15}  # 1-dim capped so 1<<bits fits a long


# ---------------------------------------------------------------- morton
def _spread2(x: np.ndarray) -> np.ndarray:
    """Spread 31-bit ints so there is a 0 bit between consecutive bits."""
    x = x.astype(np.uint64) & np.uint64(0x7FFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def _spread3(x: np.ndarray) -> np.ndarray:
    """Spread 21-bit ints with two 0 bits between consecutive bits."""
    x = x.astype(np.uint64) & np.uint64(0x1FFFFF)
    x = (x | (x << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x << np.uint64(2))) & np.uint64(0x1249249249249249)
    return x


def morton_key(coords: list[np.ndarray]) -> np.ndarray:
    """Bit-interleave k equal-width coordinate arrays into one uint64."""
    k = len(coords)
    if k == 1:
        return coords[0].astype(np.uint64)
    if k == 2:
        return _spread2(coords[0]) | (_spread2(coords[1]) << np.uint64(1))
    if k == 3:
        return (
            _spread3(coords[0])
            | (_spread3(coords[1]) << np.uint64(1))
            | (_spread3(coords[2]) << np.uint64(2))
        )
    # generic (rare): per-bit loop, vectorized across rows
    bits = _BITS_FOR_DIMS.get(k, 63 // k)
    out = np.zeros_like(coords[0], dtype=np.uint64)
    for b in range(bits):
        for d, c in enumerate(coords):
            out |= ((c.astype(np.uint64) >> np.uint64(b)) & np.uint64(1)) << np.uint64(
                b * k + d
            )
    return out


# ---------------------------------------------------------------- hilbert
def hilbert_key(coords: list[np.ndarray], bits: int) -> np.ndarray:
    """Skilling's transpose→Hilbert-index algorithm, vectorized across rows
    (loops are over bits×dims only). Public-domain algorithm
    ("Programming the Hilbert curve", J. Skilling, 2004)."""
    n = len(coords)
    X = [c.astype(np.uint64).copy() for c in coords]
    M = np.uint64(1) << np.uint64(bits - 1)
    # inverse undo excess work
    Q = M
    while Q > np.uint64(1):
        P = Q - np.uint64(1)
        for i in range(n):
            mask = (X[i] & Q) != 0
            # invert low bits of X[0] where bit set
            X[0] = np.where(mask, X[0] ^ P, X[0])
            # exchange low bits of X[i] and X[0] where bit not set
            t = (X[0] ^ X[i]) & P
            t = np.where(mask, np.uint64(0), t)
            X[0] ^= t
            X[i] ^= t
        Q >>= np.uint64(1)
    # gray encode
    for i in range(1, n):
        X[i] ^= X[i - 1]
    t = np.zeros_like(X[0])
    Q = M
    while Q > np.uint64(1):
        t = np.where((X[n - 1] & Q) != 0, t ^ (Q - np.uint64(1)), t)
        Q >>= np.uint64(1)
    for i in range(n):
        X[i] ^= t
    # interleave transposed bits into a single index (row-major bit order)
    out = np.zeros_like(X[0])
    for b in range(bits - 1, -1, -1):
        for i in range(n):
            out = (out << np.uint64(1)) | ((X[i] >> np.uint64(b)) & np.uint64(1))
    return out


def make_curve_udf(n_dims: int, curve: str = "zorder"):
    """Build the vectorized Arrow UDF computing the clustering key from
    pre-bucketed integer coordinates (the engine's single pandas UDF)."""
    bits = _BITS_FOR_DIMS.get(n_dims, max(1, 63 // n_dims))

    @pandas_udf(T.LongType())
    def curve_key(*cols: pd.Series) -> pd.Series:
        coords = [c.to_numpy(dtype=np.int64, na_value=0).astype(np.uint64) for c in cols]
        coords = [c & np.uint64((1 << bits) - 1) for c in coords]
        if curve == "hilbert":
            key = hilbert_key(coords, bits)
        else:
            key = morton_key(coords)
        # keep inside signed-long positive range for range partitioning
        return pd.Series((key & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64))

    return curve_key


# ------------------------------------------------- JVM-side morton (A/B)
def _spread_sql(c: Column, shifts: list[int], masks: list[int]) -> Column:
    for sh, mask in zip(shifts, masks):
        c = (c.bitwiseOR(F.shiftleft(c, sh))).bitwiseAND(F.lit(mask))
    return c


def morton_key_sql(coords: list[Column]) -> Column:
    """Pure-Catalyst bit interleave (no Python) — same key values as the
    Arrow UDF's morton_key; used to A/B the Python-node overhead and as a
    fallback for UDF-restricted environments."""
    k = len(coords)
    if k == 1:
        return coords[0]
    if k == 2:
        shifts = [16, 8, 4, 2, 1]
        masks = [0x0000FFFF0000FFFF, 0x00FF00FF00FF00FF, 0x0F0F0F0F0F0F0F0F,
                 0x3333333333333333, 0x5555555555555555]
        a = _spread_sql(coords[0].bitwiseAND(F.lit(0x7FFFFFFF)), shifts, masks)
        b = _spread_sql(coords[1].bitwiseAND(F.lit(0x7FFFFFFF)), shifts, masks)
        return a.bitwiseOR(F.shiftleft(b, 1)).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))
    if k == 3:
        shifts = [32, 16, 8, 4, 2]
        masks = [0x1F00000000FFFF, 0x1F0000FF0000FF, 0x100F00F00F00F00F,
                 0x10C30C30C30C30C3, 0x1249249249249249]
        parts = [
            _spread_sql(c.bitwiseAND(F.lit(0x1FFFFF)), shifts, masks)
            for c in coords
        ]
        return (
            parts[0]
            .bitwiseOR(F.shiftleft(parts[1], 1))
            .bitwiseOR(F.shiftleft(parts[2], 2))
            .bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))
        )
    raise ValueError("morton_key_sql supports 1-3 dims")


# ----------------------------------------------------------- dim bucketing
def dim_to_coord(
    col_name: str, dtype: T.DataType, bits: int, lo=None, hi=None
) -> Column:
    """Normalize a dimension to a [0, 2^bits) integer, JVM-side.

    Numeric dims: equi-width bucket over [lo, hi] taken from **manifest
    stats** (no data pass). String/other dims: xxhash64 → uniform bits.
    """
    c = F.col(col_name)
    nbuckets = 1 << bits
    if isinstance(
        dtype, (T.IntegerType, T.LongType, T.ShortType, T.ByteType, T.FloatType, T.DoubleType)
    ) and lo is not None and hi is not None and hi > lo:
        frac = (c.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo))
        b = F.floor(frac * F.lit(nbuckets)).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(nbuckets - 1), b))
    return F.pmod(F.xxhash64(c), F.lit(nbuckets)).cast("long")


def cluster_keyed_df(
    df: DataFrame,
    dims: list[str],
    curve: str,
    stats_ranges: dict[str, tuple] | None = None,
    key_impl: str = "auto",  # auto | arrow (pandas UDF) | sql (pure Catalyst)
) -> DataFrame:
    """Attach the clustering key column ``_ckey`` to a DataFrame.

    ``auto`` picks the pure-Catalyst morton expression whenever it can
    (zorder, ≤3 dims) and the Arrow UDF otherwise (hilbert's iterative
    bit transform is not SQL-expressible). The SQL path is not just a
    nicety: at local[32] the Arrow path collapsed 6.6× (92.6 s vs 14.0 s
    on tmpfs, 154M tokens — ~40% of machine time went to KERNEL overhead
    around 32 Python workers' Arrow IPC and allocator churn), while the
    JVM expression stays inside whole-stage codegen with zero Python
    processes. Both paths produce identical keys (pytest equivalence)."""
    bits = _BITS_FOR_DIMS.get(len(dims), max(1, 63 // len(dims)))
    ranges = stats_ranges or {}
    schema = {f.name: f.dataType for f in df.schema.fields}
    coords = []
    for d in dims:
        lo, hi = ranges.get(d, (None, None))
        coords.append(dim_to_coord(d, schema[d], bits, lo, hi))
    if key_impl in ("sql", "auto") and curve == "zorder" and len(dims) <= 3:
        return df.withColumn("_ckey", morton_key_sql(coords))
    udf = make_curve_udf(len(dims), curve)
    return df.withColumn("_ckey", udf(*coords))


def _manifest_ranges(files, dims: list[str]) -> dict[str, tuple]:
    """Global [min,max] per numeric dim from manifest stats — metadata only."""
    out: dict[str, tuple] = {}
    for d in dims:
        los = [f.stats.get("min", {}).get(d) for f in files]
        his = [f.stats.get("max", {}).get(d) for f in files]
        los = [x for x in los if isinstance(x, (int, float))]
        his = [x for x in his if isinstance(x, (int, float))]
        if los and his:
            out[d] = (min(los), max(his))
    return out


def _sample_files_for_bounds(
    files,
    partition_cols: list[str],
    min_files: int = 256,
    frac: float = 0.1,
) -> list[str]:
    """Deterministic stratified file sample for the quantile-bounds scan:
    every k-th file per partition value (path-sorted), sized so the total
    is ~max(min_files, frac*|files|). Every partition value keeps at least
    one file so no partition is left without cut points."""
    n_total = len(files)
    budget = max(min_files, int(frac * n_total))
    if n_total <= budget:
        return [f.path for f in files]
    by_part: dict[tuple, list] = {}
    for f in files:
        pk = tuple(str(f.partition_values.get(c)) for c in partition_cols)
        by_part.setdefault(pk, []).append(f.path)
    out: list[str] = []
    for paths in by_part.values():
        paths.sort()
        take = max(1, round(budget * len(paths) / n_total))
        step = max(1, len(paths) // take)
        out.extend(paths[::step][:take])
    return out


def _bucket_bounds(
    spark: SparkSession,
    keyed_dims: DataFrame,
    partition_cols: list[str],
    bytes_by_partition: dict[tuple, int],
    target_file_bytes: int,
    granularity: int | None = None,
) -> tuple[DataFrame, int]:
    """Per-partition-value curve-key quantile bounds, sized so each bucket
    targets ``target_file_bytes`` (byte weights from the manifest, exact).

    Returns (bounds DataFrame ``partition_cols + [_bounds array<long>]``,
    total bucket count). ONE aggregation job over a dims-only projection —
    the token column is never decoded for bounds (unlike Spark's
    RangePartitioner, whose sampler re-executes the child plan over full
    rows: measured as more core-seconds than the map stage itself)."""
    if granularity is None:
        # quantile-grid resolution: ≥2 grid cells per needed bucket in the
        # LARGEST partition value, floor 128 — a fixed 128 would cap every
        # partition value at 128 output files, but one hot partition of a
        # 10^12-token table needs thousands of target-size buckets. Capped:
        # the sketch result is granularity longs per partition value on
        # the driver (64k ⇒ 512 KiB/value), and beyond that scoped
        # (per-partition) maintenance is the intended path anyway.
        max_np = max(
            (math.ceil(b / target_file_bytes) for b in bytes_by_partition.values()),
            default=1,
        )
        granularity = min(65536, max(128, 2 * max_np))
    fracs = [i / granularity for i in range(1, granularity)]
    if partition_cols:
        qrows = (
            keyed_dims.groupBy(*partition_cols)
            .agg(
                F.percentile_approx(
                    "_ckey", fracs, max(10_000, granularity)
                ).alias("_qs")
            )
            .collect()
        )
    else:
        qrows = [
            keyed_dims.agg(
                F.percentile_approx(
                    "_ckey", fracs, max(10_000, granularity)
                ).alias("_qs")
            ).collect()[0]
        ]

    def _norm(v):
        return None if v is None or v == HIVE_DEFAULT_PARTITION else str(v)

    rows, total = [], 0
    for r in qrows:
        pkey = tuple(_norm(r[c]) for c in partition_cols)
        pbytes = bytes_by_partition.get(pkey, 0)
        n_p = max(1, math.ceil(pbytes / target_file_bytes))
        qs = r["_qs"] or []
        # n_p-1 evenly spaced cut points from the G-quantile sketch,
        # deduped (constant-key partitions collapse to one bucket)
        cuts = sorted(
            {qs[min(len(qs) - 1, int(j * granularity / n_p) - 1)]
             for j in range(1, n_p)}
        ) if qs and n_p > 1 else []
        # _base: global bucket-id offset for this partition value, so
        # _base + local bucket is a table-wide dense bin id — each bin
        # hashes to its own task and the writer never sees two output
        # partitions in one task (the multi-partition dynamic write path
        # SORTS full token rows per task; round-1 lesson, reprofiled here)
        rows.append(tuple(r[c] for c in partition_cols) + (cuts, total))
        total += len(cuts) + 1

    fmap = {f.name: f for f in keyed_dims.schema.fields}
    schema = T.StructType(
        [fmap[c] for c in partition_cols]
        + [
            T.StructField("_bounds", T.ArrayType(T.LongType())),
            T.StructField("_base", T.LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema), total


def cluster(
    spark: SparkSession,
    table: Table,
    dims: list[str],
    curve: str = "zorder",  # or "hilbert"
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    job_id: str | None = None,
    verify: bool = False,
    key_impl: str = "auto",
    sort_rows: bool = False,
    scope: list[tuple] | None = None,
) -> dict:
    """Rewrite the table (or a metadata-scoped file subset) clustered by
    the space-filling-curve key.

    File-level clustering (what manifest min/max pruning consumes) comes
    from the RANGE PARTITIONING alone: every output file covers a bounded
    slice of curve-key space. ``sort_rows=True`` additionally sorts rows
    inside each file for parquet row-group/page-level skipping — costs an
    in-memory sort of the full (token-heavy) rows per task, which is the
    single most memory-hungry operation in the engine; enable it when
    row-group skipping matters more than rewrite throughput.

    Returns metrics incl. rows/bytes/duration (ledger-style)."""
    job_id = job_id or f"{curve}-{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    snap = table.snapshot()
    scoped = snap.files
    if scope:
        from kafka_delta_ingest_spark.plans.pruning import prune_files

        scoped = prune_files(scoped, list(scope), snap.schema,
                             spec=snap.partition_cols)
    old_paths = [f.path for f in scoped]
    if not old_paths:
        return {"job_id": job_id, "rows": 0, "bytes": 0, "files_written": 0, "duration_s": 0.0}

    fp_before = None
    if verify:
        from kafka_delta_ingest_spark.functions.verify import content_fingerprint

        fp_before = content_fingerprint(snap.scan(spark))

    total_bytes = sum(f.size for f in scoped)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))

    # right-size input splits: a freshly compacted table has few large
    # files, and the default 128 MiB split would leave most cores idle —
    # aim for ~2 splits per core. Floor 32 MiB: with a heavily fragmented
    # input (thousands of small files) the 4 MiB-per-file open-cost
    # padding divides by the split size, so an 8 MiB split exploded a
    # 2304-file scan into ~1200 near-empty tasks whose launch overhead
    # made local[32] SLOWER than local[8].
    cores = spark.sparkContext.defaultParallelism
    split = max(32 * 1024 * 1024, min(128 * 1024 * 1024, total_bytes // max(2 * cores, 1) or 1))
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))

    t_write0 = time.time()
    try:
        if scope:
            # Snapshot.read: position deletes applied in the scoped path too
            df = snap.read(spark, scoped)
        else:
            df = snap.scan(spark)
        # hidden partitioning: per-partition grouping, bounds, and the
        # final layout all operate on partition KEYS; transform values are
        # recomputed from source columns (pure Catalyst) after the read
        from kafka_delta_ingest_spark.table import transforms

        pkeys = transforms.keys(snap.partition_cols)
        dexprs = transforms.derived_exprs(snap.partition_cols, snap.schema)
        for k, expr in dexprs.items():
            df = df.withColumn(k, expr)
        stat_ranges = _manifest_ranges(scoped, dims)
        keyed = cluster_keyed_df(df, dims, curve, stat_ranges, key_impl)

        # Range placement WITHOUT repartitionByRange: Spark's
        # RangePartitioner samples by re-executing the child plan over
        # FULL rows — a second read+decode of the token arrays per
        # OPTIMIZE (profiled at 2.46B tokens: the sampling stage cost more
        # core-seconds than the map stage). Instead: quantile bounds from
        # a dims-only projection (its own job ⇒ column pruning keeps the
        # token column un-decoded), byte-weighted per partition value from
        # the manifest, then a pure-expression bucket id and ONE hash
        # shuffle — the same one-file-per-bucket pattern compaction uses.
        # Per-partition OUTPUT-byte estimate, not raw input bytes: tiny
        # parquet files carry fixed footer/dictionary overhead and weaker
        # encoding, so summing their sizes overestimates the post-rewrite
        # footprint (measured 1.5x on a 2304-small-file input → 64 files
        # written where 42 suffice). When the scope contains any file near
        # target size (steady-state maintenance always does — previously
        # optimized data plus fresh small files), its bytes/row is the
        # honest density; all-small inputs fall back to input bytes and
        # converge on the next optimize.
        big = [f for f in scoped if f.size >= target_file_bytes // 2]
        big_rows = sum(f.num_records for f in big)
        rho = (sum(f.size for f in big) / big_rows) if big_rows else None
        bytes_by_partition: dict[tuple, int] = {}
        for f in scoped:
            pk = tuple(
                None
                if f.partition_values.get(c) in (None, HIVE_DEFAULT_PARTITION)
                else str(f.partition_values.get(c))
                for c in pkeys
            )
            est = int(f.num_records * rho) if rho else f.size
            bytes_by_partition[pk] = bytes_by_partition.get(pk, 0) + est
        # Bounds input: a stratified FILE sample, not the full table. Cut
        # positions never affect correctness (scan identity and per-file
        # key-slice disjointness hold for ANY cut set — only file-size
        # evenness depends on them), so the quantile sketch can read a
        # deterministic every-k-th-file sample per partition value: at
        # 10^12 tokens that turns a dims-of-every-row pass into a ~10%
        # one; on fragmented inputs it removes thousands of file opens
        # from the bounds job (profiled: 3.9 s of a 13.7 s OPTIMIZE).
        sample_paths = _sample_files_for_bounds(scoped, pkeys)
        if len(sample_paths) < len(scoped):
            from kafka_delta_ingest_spark.table.scan import read_entries

            # read_entries (not read_files): sampled files may carry
            # different partition specs after evolve_partitioning
            sset = set(sample_paths)
            bounds_in = read_entries(
                spark,
                table.root,
                [f for f in scoped if f.path in sset],
                snap.schema,
                pkeys,
                column_mapping=snap.column_mapping,
                file_defaults=snap.defaults,
            )
            for k, expr in dexprs.items():
                bounds_in = bounds_in.withColumn(k, expr)
        else:
            bounds_in = df
        keyed_dims = cluster_keyed_df(
            bounds_in.select(*(pkeys + dims)), dims, curve,
            stat_ranges, key_impl,
        )
        t_bounds0 = time.time()
        bounds_df, n_buckets = _bucket_bounds(
            spark, keyed_dims, pkeys, bytes_by_partition,
            target_file_bytes,
        )
        t_bounds = time.time() - t_bounds0
        if pkeys:
            cond = None
            for c in pkeys:
                e = keyed[c].eqNullSafe(bounds_df[c])
                cond = e if cond is None else (cond & e)
            joined = keyed.join(F.broadcast(bounds_df), cond).drop(
                *[bounds_df[c] for c in pkeys]
            )
        else:
            joined = keyed.crossJoin(F.broadcast(bounds_df))
        # bucket = #bounds <= key, via an O(log n) binary-search ladder of
        # plain when/element_at expressions (whole-stage codegen). The
        # obvious F.aggregate(bounds, ...) higher-order fold costs a boxed
        # lambda call per array element per row — profiled 6x slower on
        # the map stage at 2.46B tokens.
        max_cuts = max(
            (r["_bounds"] for r in bounds_df.select("_bounds").collect()),
            key=len, default=[],
        )
        step = 1
        while step * 2 <= max(len(max_cuts), 1):
            step *= 2
        pos = F.lit(0)
        nb = F.size("_bounds")
        while step >= 1:
            cand = pos + F.lit(step)
            # try_element_at: NULL (not ANSI error) beyond the array end;
            # the NULL comparison falls through to .otherwise(pos)
            ok = (cand <= nb) & (
                F.try_element_at("_bounds", cand) <= F.col("_ckey")
            )
            pos = F.when(ok, cand).otherwise(pos)
            step //= 2
        bucketed = (
            joined.withColumn("_gbin", F.col("_base") + pos)
            .drop("_bounds", "_base")
        )
        n_part = max(2 * n_buckets, spark.sparkContext.defaultParallelism, 1)
        out = bucketed.repartition(n_part, "_gbin")
        if sort_rows:
            out = out.sortWithinPartitions("_gbin", "_ckey")
        # the shared write drops _ckey (not a table column) and recomputes
        # the hidden-partition values after the shuffle
        absd, keys = write_staged(
            table, out, snap.partition_cols, snap.schema, snap.properties,
            snap.column_mapping, bin_col="_gbin",
        )
    finally:
        if prev_split is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        else:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
    t_write = time.time() - t_write0

    t_stats0 = time.time()
    adds = compute_add_entries(spark, table.root, absd, snap.schema, keys,
                               column_mapping=snap.column_mapping)
    for fe in adds:
        fe.partition_values.pop("_gbin", None)
    t_stats = time.time() - t_stats0
    t_commit0 = time.time()
    v = table.commit(
        Transaction(
            operation=f"cluster-{curve}",
            adds=adds,
            removes=old_paths,
            data_change=False,
            metadata={"job_id": job_id, "dims": dims, "n_out": n_out},
        ),
        expected_schema=snap.schema,
    )
    t_commit = time.time() - t_commit0

    if verify and fp_before is not None:
        from kafka_delta_ingest_spark.functions.verify import content_fingerprint

        after = content_fingerprint(table.snapshot().scan(spark))
        if after != fp_before:
            raise AssertionError("clustering changed scan contents")

    rows = sum(a.num_records for a in adds)
    bts = sum(a.size for a in adds)
    return {
        "job_id": job_id,
        "version": v,
        "curve": curve,
        "dims": dims,
        "files_rewritten": len(old_paths),
        "files_written": len(adds),
        "rows": rows,
        "bytes": bts,
        "duration_s": time.time() - t0,
        # phase breakdown: quantile-bounds job / shuffle+write (includes
        # bounds) / footer stats / commit — the non-write entries are the
        # per-transaction latency floor that strong-scaling runs expose
        "bounds_s": round(t_bounds, 3),
        "write_s": round(t_write, 3),
        "stats_s": round(t_stats, 3),
        "commit_s": round(t_commit, 3),
    }
