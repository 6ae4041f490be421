"""Per-file key bloom filters — point-lookup file pruning for MERGE.

MERGE touched-file election (maintenance/merge.py) prunes on manifest
min/max ranges and partition-value membership. Both collapse on the
hardest common case: a **random-key CDC batch against a non-bucketed
table** — uniformly distributed ``doc_id`` s make every file's min/max
range overlap every batch, and without a ``bucket(N, key)`` spec there is
no membership dimension at all, so MERGE rewrites the whole table to
update a handful of rows. Iceberg's answer is a per-file bloom filter in
a Puffin stats blob; Delta's is a bloom-filter index per file. This
module is that layer rebuilt Spark-first. The artifact under
``<root>/_stats/bloom/`` has the same lifecycle as the NDV stats —
build, reuse, publish and cleanup live in maintenance/artifacts.py; this
module supplies the filter rows and the probe:

- **One scan, pure Catalyst**: probe positions are double-hashed
  (Kirsch–Mitzenmacher: ``pos_i = (h1 + i·h2_odd) mod m``) from the
  SHARED 60-bit sketch hash (operators/sketches.py ``_hash60``), so
  build and probe agree by construction. Bits assemble per file via one
  ``explode`` + two map-side-combined aggregations (``bit_or`` of word
  masks, then word-map → dense ``array<long>``). No Python in the scan.
- **Per-FILE filters, per-file sizing**: data files are immutable, so
  their blooms are too. Each file's filter is sized from its manifest
  ``num_records`` (``m = next_pow2(bits_per_key · rows)``, clamped), so
  small files don't pay the big-file footprint; the per-row ``m`` rides
  in the artifact and the probe expression uses it directly.
- **Incremental by construction**: re-build after a commit reuses every
  surviving file's rows (never a rescan), scans only unseen files, drops
  rows of removed files — cost ∝ churn.
- **No false negatives, ever**: files the artifact does not cover are
  conservatively touched; covered files prune only when EVERY probe bit
  of EVERY batch key misses. A file whose key column is all-NULL gets an
  all-zero filter (a non-null key can never live there).

At 10^12 rows the decisive effect: a 10k-row CDC batch against a
million-file table rewrites ≤ |batch| files instead of all of them, and
the decision itself reads ONLY the artifact (|candidate files| × |batch
keys| codegen'd bit tests, distributed), never the data.

Reference lineage: the same buffer-then-atomically-publish shape as the
reference's stats machinery (its ``src/writer.rs:655-707`` stops at
min/max/null-count; this is the point-lookup generalization).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.maintenance import artifacts
from kafka_delta_ingest_spark.operators.sketches import _hash60
from kafka_delta_ingest_spark.table.format import Table

_ROW_DDL = "path string, column string, m int, words array<bigint>"


def _bit_mask(b: Column) -> Column:
    """``1L << b`` for a COLUMN shift amount (``F.shiftleft`` only takes a
    Python int): a 64-entry literal mask array indexed by the bit
    position. Entry 63 is Python-folded to the negative two's-complement
    long, since ``1 << 63`` overflows a JVM long literal."""
    masks = F.array(
        *[
            F.lit((1 << j) if j < 63 else ((1 << j) - (1 << 64))).cast("long")
            for j in range(64)
        ]
    )
    return F.element_at(masks, b.cast("int") + 1)


def _hash_pair(col: Column, salt: str, family: str) -> tuple[Column, Column]:
    """Two independent nonnegative 60-bit hashes for double hashing.
    ``h2`` is forced odd so the probe sequence ``h1 + i·h2 (mod 2^j)``
    cycles the whole power-of-two filter (odd ⇒ coprime with m)."""
    h1 = _hash60([col], salt + ":h1", family)
    h2 = _hash60([col], salt + ":h2", family).bitwiseOR(F.lit(1))
    return h1, h2


def _position(h1: Column, h2: Column, i, m: Column) -> Column:
    """``(h1 + i·h2) mod m`` folded term-wise so the arithmetic stays far
    from long overflow under ANSI mode (h ≤ 2^60, k small, m ≤ 2^30)."""
    i_col = i if isinstance(i, Column) else F.lit(i)
    return F.pmod(
        F.pmod(h1, m) + i_col.cast("long") * F.pmod(h2, m), m
    ).cast("int")


def file_m_bits(num_records: int, bits_per_key: int, m_max: int) -> int:
    """Per-file filter size: next power of two ≥ bits_per_key·rows,
    clamped to [64, m_max]. Power-of-two keeps pmod cheap and the odd-h2
    cycle argument valid."""
    want = max(64, bits_per_key * max(1, num_records))
    m = 1 << max(6, math.ceil(math.log2(want)))
    return min(m, m_max)


def build_bloom(
    spark: SparkSession,
    table: Table,
    columns: list[str],
    bits_per_key: int = 10,
    k: int = 7,
    salt: str = "bloom",
    family: str = "xxhash64",
    m_max: int = 1 << 23,
) -> dict:
    """Build or incrementally refresh the per-file bloom artifact for the
    current snapshot. Artifact rows: ``(path, column, m, words)`` with
    ``words: array<long>`` of length ``m/64``. Returns the artifact
    metrics of ``artifacts.refresh``.

    A previous artifact is reused when its (k, salt, family,
    bits_per_key, m_max) match; a parameter change rebuilds (filters with
    different probe functions cannot be reused). Column handling is
    ANALYZE's: already-built columns of surviving files are kept,
    brand-new columns trigger one extra pass over surviving files for
    those columns only."""

    def file_rows(scan, entries, cols) -> DataFrame:
        m_of = {
            e.path: file_m_bits(e.num_records, bits_per_key, m_max)
            for e in entries
        }
        mdf = spark.createDataFrame(list(m_of.items()), "path string, m int")
        df = scan.join(F.broadcast(mdf), scan["_file"] == mdf["path"])
        probes = []
        for c in cols:
            h1, h2 = _hash_pair(F.col(c), salt, family)
            pos = F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: _position(h1, h2, i, F.col("m")),
            )
            probes.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(F.lit(c).alias("column"), pos.alias("pos")),
                )
            )
        bits = (
            df.select("path", "m", F.explode(F.array(*probes)).alias("s"))
            .where(F.col("s").isNotNull())
            .select(
                "path", "m",
                F.col("s.column").alias("column"),
                F.explode("s.pos").alias("pos"),
            )
            .groupBy("path", "column", "m", (F.col("pos") / 64).cast("int").alias("w"))
            .agg(F.bit_or(_bit_mask(F.pmod(F.col("pos"), F.lit(64)))).alias("word"))
            .groupBy("path", "column", "m")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("w", "word"))
                ).alias("wm")
            )
        )
        dense = bits.select(
            "path", "column", "m",
            F.transform(
                F.sequence(F.lit(0), (F.col("m") / 64).cast("int") - 1),
                lambda w: F.coalesce(
                    F.element_at("wm", w), F.lit(0).cast("long")
                ),
            ).alias("words"),
        )
        # files whose column is entirely NULL produce no bit rows but ARE
        # covered: an all-zero filter correctly prunes them for any
        # non-null key
        cand = spark.createDataFrame(
            [(p, c, m) for p, m in m_of.items() for c in cols],
            "path string, column string, m int",
        )
        empty = (
            cand.join(dense.select("path", "column"), ["path", "column"], "left_anti")
            .select(
                "path", "column", "m",
                F.transform(
                    F.sequence(F.lit(0), (F.col("m") / 64).cast("int") - 1),
                    lambda w: F.lit(0).cast("long"),
                ).alias("words"),
            )
        )
        return dense.unionByName(empty)

    return artifacts.refresh(
        spark, table, "bloom", columns,
        {"k": k, "salt": salt, "family": family,
         "bits_per_key": bits_per_key, "m_max": m_max},
        _ROW_DDL, file_rows,
    )


def prune_entries_by_conjuncts(
    spark: SparkSession,
    table: Table,
    schema,
    conjuncts,
    entries: list,
) -> list:
    """Narrow a candidate ``FileEntry`` list using per-file blooms for the
    **equality / IN conjuncts** of a DML predicate (``=`` and ``in`` are
    the point-lookup shapes a bloom can answer; ranges cannot). Each
    covered conjunct independently prunes and the survivors intersect —
    AND semantics, matching the manifest pruner. No artifact, or no
    covered column ⇒ the list is returned unchanged (conservative)."""
    idx = artifacts.load_index(table, "bloom")
    if idx is None or not entries:
        return entries
    from pyspark.sql import types as T

    keep = {f.path for f in entries}
    by_path = {f.path: f for f in entries}
    for col, op, lit in conjuncts:
        if col not in idx["columns"] or not keep:
            continue
        if op in ("=", "=="):
            vals = [lit]
        elif op == "in":
            vals = list(lit)
        else:
            continue
        keys = spark.createDataFrame(
            [(v,) for v in vals],
            T.StructType([T.StructField(col, schema[col].dataType)]),
        )
        got = bloom_prune(spark, table, col, keys, sorted(keep))
        if got is not None:
            keep &= set(got)
    return [by_path[p] for p in sorted(keep)]


def bloom_prune(
    spark: SparkSession,
    table: Table,
    key: str,
    keys_df: DataFrame,
    candidate_paths: list[str],
) -> list[str] | None:
    """Prune ``candidate_paths`` to files whose bloom admits at least one
    batch key. Returns ``None`` when no usable artifact covers ``key``
    (caller keeps its candidates); otherwise a sorted subset with **no
    false negatives**: uncovered files (written after the artifact, or
    never analyzed) stay touched, and NULL keys probe nothing (a NULL
    never equi-matches, so it cannot make a file matched).

    Cost: reads ONLY the artifact — |candidates| × |distinct keys|
    codegen'd k-bit tests, keys broadcast."""
    idx = artifacts.load_index(table, "bloom")
    if idx is None or key not in idx["columns"]:
        return None
    covered = set(idx["file_paths"])
    uncovered = sorted(p for p in candidate_paths if p not in covered)
    to_test = sorted(set(candidate_paths) - set(uncovered))
    if not to_test:
        return uncovered

    art = artifacts.read_artifact(spark, table, "bloom", idx).where(
        F.col("column") == key
    )
    cand_df = spark.createDataFrame([(p,) for p in to_test], "_cand string")
    art = art.join(F.broadcast(cand_df), art["path"] == cand_df["_cand"])

    h1, h2 = _hash_pair(F.col("_k"), idx["salt"], idx["family"])
    keys = (
        keys_df.select(F.col(key).alias("_k"))
        .where(F.col("_k").isNotNull())
        .distinct()
        .select("_k", h1.alias("_h1"), h2.alias("_h2"))
    )
    kk = idx["k"]
    hit = F.forall(
        F.sequence(F.lit(0), F.lit(kk - 1)),
        lambda i: (
            F.element_at(
                "words",
                (_position(F.col("_h1"), F.col("_h2"), i, F.col("m")) / 64)
                .cast("int") + 1,
            ).bitwiseAND(
                _bit_mask(
                    F.pmod(
                        _position(F.col("_h1"), F.col("_h2"), i, F.col("m")),
                        F.lit(64),
                    )
                )
            )
            != 0
        ),
    )
    hits = (
        art.crossJoin(F.broadcast(keys))
        .where(hit)
        .select("path")
        .distinct()
        .collect()
    )
    return sorted({r["path"] for r in hits} | set(uncovered))
