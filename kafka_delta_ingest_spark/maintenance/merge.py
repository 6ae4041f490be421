"""MERGE INTO (upsert) — north-rule op B5, copy-on-write.

Semantics inherited from the reference:
- the by-key dedupe guard of ValueBuffers (offset <= last_offset rejected,
  /root/reference/src/value_buffers.rs:26-30) generalizes to upsert-by-key:
  a source row replaces the target row with the same ``doc_id``;
- conflict stance of the commit loop (src/lib.rs:1148-1170): the replace
  commit re-validates that every file we rewrite is still live, so a
  concurrent writer can't be silently clobbered;
- rows failing schema validation go to the dead-letter side output instead
  of poisoning the commit (src/dead_letters.rs, src/writer.rs:617-637).

Plan shape (scale-first):
  1. **touched-file pruning**: join the *manifest* (path, min/max doc_id —
     metadata-sized) against source keys on range overlap; only overlapping
     files are rewritten. Manifest side is broadcast — it is thousands of
     rows per maintenance chunk even on huge tables.
  2. **salted hash join** of touched-file rows ⋈ source on doc_id with
     explicit hot-key splitting (plans.salting) — skew shows up when many
     source rows share a join key (e.g. merging by ``source`` partition) or
     when AQE is off; explicit split per north rule.
  3. untouched files stay as-is (no data movement);
     inserts = source keys matching no touched-file row.
  4. one atomic replace commit: Add(rewritten + inserts) + Remove(touched).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_delta_ingest_spark.plans.pruning import prune_files
from kafka_delta_ingest_spark.plans.salting import salted_join
from kafka_delta_ingest_spark.table.format import Table, Transaction
# not called here: perfbench/layers.py wraps it by name in this module
from kafka_delta_ingest_spark.table.stats import compute_add_entries  # noqa: F401
from kafka_delta_ingest_spark.table.writer import stage_dataframe


@dataclass
class MergeClause:
    """One WHEN clause of a tri-clause MERGE.

    ``action``: "update" | "delete" (matched / not-matched-by-source) or
    "insert" (not-matched). ``condition``: SQL boolean evaluated per row —
    target columns by name, source columns as ``src_<name>`` (NULL on
    not-matched-by-source rows, so a src_-referencing condition is simply
    false there, ANSI MERGE semantics). ``set``: update assignments
    ``{target_col: sql_expr}`` (same namespace); ``set=None`` on a matched
    update means full-row replace from source. ``scope``: optional
    ``[(col, op, lit), ...]`` conjuncts that bound which FILES a
    not-matched-by-source clause can touch — pruned on manifest partition
    values + min/max stats, so an unconditioned-looking NMBS delete
    scoped to one partition rewrites that partition only, not the table
    (the difference between a feasible and an infeasible op at 10^12
    rows)."""

    action: str
    condition: str | None = None
    set: dict[str, str] | None = None
    scope: list[tuple] | None = None


def _touched_files(spark: SparkSession, snap, source: DataFrame, key: str) -> list[str]:
    """Manifest ⋈ source-keys join → distinct file paths that may contain
    a matching key. Metadata-side broadcast, data-side distinct on the key
    column only (column-pruned scan of the source). Two independent
    pruning dimensions, ANDed:

    - **min/max range overlap**: the manifest bounds (JSON scalars or ISO
      strings, depending on the stats path) are cast back to the key
      column's ACTUAL type before comparing — stringified numerics compare
      lexicographically ('5' <= '19' is false) and would silently skip
      files, corrupting the table with duplicate keys. A bound that fails
      ``try_cast`` degrades to "always touched".
    - **partition-value membership through the spec** (hidden
      partitioning, table/transforms.py): when the table is laid out by
      ``bucket(N, key)`` (or truncate/temporal/identity over the key), a
      file is touched only if its RECORDED partition value equals the
      transform of some source key. For a point-y CDC batch against a
      doc_id-keyed table this is the decisive prune: random doc_ids make
      every file's min/max range overlap every batch, while bucket
      membership cuts the rewrite to ≤ |batch| buckets of N.

    Both prunes are conservative (NULL recorded value / no stats ⇒ keep)."""
    from kafka_delta_ingest_spark.table import transforms
    from kafka_delta_ingest_spark.table.format import HIVE_DEFAULT_PARTITION

    ktype = snap.schema[key].dataType
    # spec entries that partition BY the merge key (directly or through a
    # transform); identity entries only for types whose partitionBy path
    # rendering equals the string cast (strings / integrals)
    pentries = []
    for e in snap.partition_cols:
        kind, col, _p = transforms.parse(e)
        if col != key:
            continue
        if kind == "identity" and not isinstance(
            ktype, (T.StringType, T.ByteType, T.ShortType, T.IntegerType,
                    T.LongType)
        ):
            continue
        pentries.append(e)

    def _pv(f, e):
        v = f.partition_values.get(transforms.key(e))
        return None if v in (None, HIVE_DEFAULT_PARTITION) else str(v)

    manifest = [
        (
            f.path,
            _stat_str(f.stats.get("min", {}).get(key)),
            _stat_str(f.stats.get("max", {}).get(key)),
            *[_pv(f, e) for e in pentries],
        )
        for f in snap.files
    ]
    # files without stats OR partition values are always range-touched;
    # fully unprunable only when every dimension is missing
    no_stats = [
        row[0]
        for row in manifest
        if (row[1] is None or row[2] is None) and all(v is None for v in row[3:])
    ]
    ns = set(no_stats)
    ranged = [r for r in manifest if r[0] not in ns]
    if not ranged:
        return sorted(set(no_stats))
    pv_names = [f"pv{i}" for i in range(len(pentries))]
    ddl = "path string, lo string, hi string" + "".join(
        f", {n} string" for n in pv_names
    )
    mdf = spark.createDataFrame(ranged, ddl).select(
        "path",
        F.col("lo").try_cast(ktype).alias("lo"),
        F.col("hi").try_cast(ktype).alias("hi"),
        *pv_names,
    )
    keys = source.select(F.col(key).alias("k")).distinct()
    cond = (
        F.col("lo").isNull()
        | F.col("hi").isNull()
        | ((F.col("k") >= F.col("lo")) & (F.col("k") <= F.col("hi")))
    )
    for e, n in zip(pentries, pv_names):
        tk = transforms.apply_expr(e, F.col("k"), ktype).cast("string")
        cond = cond & (F.col(n).isNull() | (tk == F.col(n)))
    touched = (
        keys.join(F.broadcast(mdf), cond).select("path").distinct().collect()
    )
    return sorted({r["path"] for r in touched} | set(no_stats))


def _bloom_filtered(
    spark: SparkSession,
    table: Table,
    key: str,
    source: DataFrame,
    touched: list[str],
    use_bloom,
) -> list[str]:
    """Third pruning dimension, applied AFTER min/max + partition
    membership: per-file key bloom filters (maintenance/bloom.py). The
    decisive prune for a random-key CDC batch against a non-bucketed
    table, where ranges and membership cannot discriminate. ``"auto"``
    uses the artifact when one covers the key (stale artifacts stay safe:
    uncovered files remain touched); ``True`` insists; ``False`` skips."""
    if use_bloom is False or not touched:
        return touched
    from kafka_delta_ingest_spark.maintenance.bloom import bloom_prune

    pruned = bloom_prune(spark, table, key, source, touched)
    if pruned is None:
        if use_bloom is True:
            raise ValueError(
                f"use_bloom=True but no bloom artifact covers {key!r} "
                f"(run build_bloom / --op bloom first)"
            )
        return touched
    return pruned


def _stat_str(v) -> str | None:
    """Render a manifest stat bound as a string Spark can cast back to the
    column type (bools via JSON rendering would be 'True'/'False' from
    Python — normalize to SQL-castable lowercase)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def merge_into(
    spark: SparkSession,
    table: Table,
    source: DataFrame,
    key: str = "doc_id",
    salt_factor: "int | str" = 16,
    hot_keys: list | None = None,
    auto_detect_skew: bool = False,
    job_id: str | None = None,
    when_matched: "str | list[MergeClause]" = "update",  # update | delete | clauses
    when_not_matched: "bool | MergeClause" = True,
    when_not_matched_by_source: "list[MergeClause] | None" = None,
    use_bloom: "bool | str" = "auto",
) -> dict:
    """MERGE ``source`` into the table by ``key``.

    Legacy form (``when_matched`` a string): matched rows are replaced by
    the source row (or deleted); unmatched source rows are inserted.

    Tri-clause form (ANSI MERGE): ordered ``when_matched`` clauses
    (first-true-wins UPDATE SET / DELETE, each optionally conditioned),
    ``when_not_matched`` insert (bool or a conditioned MergeClause), and
    ``when_not_matched_by_source`` UPDATE/DELETE clauses over target rows
    no source row matches — file eligibility bounded by each clause's
    ``scope`` conjuncts via manifest pruning. One salted full-outer join
    pass computes all three row categories. Returns metrics.

    ``salt_factor="stats"`` resolves the strategy from the NDV stats
    artifact (plans/join_planning.py) with no data read: a near-unique
    key skips salting AND the hot-key sampling job; a low-NDV key gets a
    stats-sized factor (table must have been ANALYZEd over the key)."""
    job_id = job_id or f"merge-{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    if isinstance(salt_factor, str):
        if salt_factor != "stats":
            raise ValueError(
                f"salt_factor must be an int or 'stats', got {salt_factor!r}"
            )
        from kafka_delta_ingest_spark.plans.join_planning import (
            resolve_salt_factor,
        )

        salt_factor, hot_keys, auto_detect_skew = resolve_salt_factor(
            spark, table, key, salt_factor, hot_keys, auto_detect_skew
        )
    snap = table.snapshot()
    # SQL MERGE forbids multiple source matches per target row; we keep the
    # last-wins stance of the reference's buffer dedupe (value_buffers.rs:26-30)
    source = source.select(*[f.name for f in snap.schema.fields]).dropDuplicates([key])

    legacy = (
        isinstance(when_matched, str)
        and when_not_matched is True
        and not when_not_matched_by_source
    )
    if not legacy:
        return _merge_clauses(
            spark, table, snap, source, key, salt_factor, hot_keys,
            auto_detect_skew, job_id, t0,
            when_matched, when_not_matched, when_not_matched_by_source,
            use_bloom,
        )

    touched = _bloom_filtered(
        spark, table, key, source,
        _touched_files(spark, snap, source, key), use_bloom,
    )
    untouched = [f.path for f in snap.files if f.path not in set(touched)]

    tset = set(touched)
    # delete-aware read: MERGE over files carrying position deletes must
    # not resurrect deleted rows into the rewritten files
    tdf = snap.read(spark, [f for f in snap.files if f.path in tset])

    marked_src = source.withColumn("__is_src", F.lit(True))
    # salted left join: target rows keep or take the source version
    # merge keys are unique, so key-level skew only arises when merging by a
    # low-cardinality key (e.g. `source`): salting is explicit via hot_keys
    # or opt-in detection — a detection pass on a unique key is wasted work
    joined = salted_join(
        tdf,
        marked_src.select(key, "__is_src"),
        key,
        how="left",
        salt_factor=salt_factor,
        hot_keys=hot_keys,
        auto_detect=auto_detect_skew and hot_keys is None,
    )
    # matched target rows are dropped; on update their replacement comes
    # from source (both updates and brand-new keys)
    out = joined.where(F.col("__is_src").isNull()).drop("__is_src")
    if when_matched != "delete":
        out = out.unionByName(source)
    _, adds = stage_dataframe(
        spark, table, out, snap.partition_cols, snap.schema,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )

    v = table.commit(
        Transaction(
            operation="merge",
            adds=adds,
            removes=touched,
            data_change=True,
            metadata={"job_id": job_id, "key": key, "touched": len(touched)},
        ),
        expected_schema=snap.schema,
    )
    return {
        "job_id": job_id,
        "version": v,
        "touched_files": len(touched),
        "untouched_files": len(untouched),
        "files_written": len(adds),
        "rows_written": sum(a.num_records for a in adds),
        "duration_s": time.time() - t0,
    }


def _merge_clauses(
    spark: SparkSession,
    table: Table,
    snap,
    source: DataFrame,
    key: str,
    salt_factor: int,
    hot_keys: list | None,
    auto_detect_skew: bool,
    job_id: str,
    t0: float,
    when_matched,
    when_not_matched,
    when_not_matched_by_source,
    use_bloom="auto",
) -> dict:
    """General tri-clause MERGE: ONE salted full-outer join pass.

    Row categories fall out of the join: matched (both sides), target-only
    (feeds not-matched-by-source clauses), source-only (feeds the insert
    clause — correct against the WHOLE table because key-overlap pruning
    guarantees every possible match lives in a touched file). Clause
    resolution is a single first-true-wins CASE per row; per-column values
    are CASE over the resolved action — all pure Catalyst, one shuffle."""
    cols = [f.name for f in snap.schema.fields]

    matched_clauses = (
        [MergeClause(when_matched)] if isinstance(when_matched, str)
        else list(when_matched or [])
    )
    for cl in matched_clauses:
        if cl.action not in ("update", "delete"):
            raise ValueError(f"when_matched action must be update|delete: {cl.action}")
    if when_not_matched is True:
        ins_clause = MergeClause("insert")
    elif not when_not_matched:
        ins_clause = None
    else:
        ins_clause = when_not_matched
    if ins_clause and ins_clause.action != "insert":
        raise ValueError(f"when_not_matched action must be insert: {ins_clause.action}")
    nmbs = list(when_not_matched_by_source or [])
    for cl in nmbs:
        if cl.action not in ("update", "delete"):
            raise ValueError(
                f"when_not_matched_by_source action must be update|delete: {cl.action}"
            )
        if cl.action == "update" and not cl.set:
            raise ValueError("not-matched-by-source update requires set exprs")
        bad = sorted(set(cl.set or {}) - set(cols))
        if bad:
            raise ValueError(f"set targets not in schema: {bad}")
    for cl in matched_clauses:
        bad = sorted(set(cl.set or {}) - set(cols))
        if bad:
            raise ValueError(f"set targets not in schema: {bad}")

    # ---- touched files: key overlap ∪ each NMBS clause's pruned scope
    key_touched = (
        set(_bloom_filtered(
            spark, table, key, source,
            _touched_files(spark, snap, source, key), use_bloom,
        ))
        if (matched_clauses or ins_clause)
        else set()
    )
    nmbs_touched: set = set()
    for cl in nmbs:
        if cl.scope:
            nmbs_touched |= {
                f.path
                for f in prune_files(
                    snap.files, cl.scope, snap.schema, spec=snap.partition_cols
                )
            }
        else:
            nmbs_touched = {f.path for f in snap.files}
            break
    tset = key_touched | nmbs_touched
    touched = sorted(tset)

    # delete-aware read (position/equality deletes must not resurrect)
    tdf = snap.read(spark, [f for f in snap.files if f.path in tset]).withColumn(
        "__is_tgt", F.lit(True)
    )
    src_renamed = source.select(
        F.col(key), *[F.col(c).alias(f"src_{c}") for c in cols if c != key]
    ).withColumn("__is_src", F.lit(True))

    joined = salted_join(
        tdf,
        src_renamed,
        key,
        how="full",
        salt_factor=salt_factor,
        hot_keys=hot_keys,
        auto_detect=auto_detect_skew and hot_keys is None,
    )

    is_tgt = F.col("__is_tgt").isNotNull()
    is_src = F.col("__is_src").isNotNull()

    def _cond(cl: MergeClause):
        return F.expr(cl.condition) if cl.condition else F.lit(True)

    w = None

    def _add(cond, tag):
        nonlocal w
        w = F.when(cond, F.lit(tag)) if w is None else w.when(cond, F.lit(tag))

    for i, cl in enumerate(matched_clauses):
        _add(is_tgt & is_src & _cond(cl), f"m{i}")
    for i, cl in enumerate(nmbs):
        _add(is_tgt & ~is_src & _cond(cl), f"s{i}")
    if ins_clause:
        _add(~is_tgt & _cond(ins_clause), "i")
    default = F.when(is_tgt, F.lit("keep")).otherwise(F.lit("drop"))
    act = w.otherwise(default) if w is not None else default

    drop_tags = ["drop"]
    drop_tags += [f"m{i}" for i, cl in enumerate(matched_clauses) if cl.action == "delete"]
    drop_tags += [f"s{i}" for i, cl in enumerate(nmbs) if cl.action == "delete"]

    kept = joined.withColumn("__action", act).where(~F.col("__action").isin(drop_tags))

    def _clause_value(cl: MergeClause, c: str):
        if cl.set is None:  # full-row replace from source
            return F.col(key) if c == key else F.col(f"src_{c}")
        return F.expr(cl.set[c]) if c in cl.set else F.col(c)

    out_cols = []
    for c in cols:
        v = None
        for i, cl in enumerate(matched_clauses):
            if cl.action != "update":
                continue
            val = _clause_value(cl, c)
            v = (
                F.when(F.col("__action") == f"m{i}", val)
                if v is None
                else v.when(F.col("__action") == f"m{i}", val)
            )
        for i, cl in enumerate(nmbs):
            if cl.action != "update":
                continue
            val = _clause_value(cl, c)
            v = (
                F.when(F.col("__action") == f"s{i}", val)
                if v is None
                else v.when(F.col("__action") == f"s{i}", val)
            )
        if ins_clause:
            val = F.col(key) if c == key else F.col(f"src_{c}")
            v = (
                F.when(F.col("__action") == "i", val)
                if v is None
                else v.when(F.col("__action") == "i", val)
            )
        expr = v.otherwise(F.col(c)) if v is not None else F.col(c)
        out_cols.append(expr.alias(c))  # staging casts to the table schema
    out = kept.select(*out_cols)
    _, adds = stage_dataframe(
        spark, table, out, snap.partition_cols, snap.schema,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )

    v = table.commit(
        Transaction(
            operation="merge",
            adds=adds,
            removes=touched,
            data_change=True,
            metadata={
                "job_id": job_id,
                "key": key,
                "touched": len(touched),
                "clauses": {
                    "matched": [cl.action for cl in matched_clauses],
                    "not_matched": bool(ins_clause),
                    "not_matched_by_source": [cl.action for cl in nmbs],
                },
            },
        ),
        expected_schema=snap.schema,
    )
    return {
        "job_id": job_id,
        "version": v,
        "touched_files": len(touched),
        "untouched_files": len(snap.files) - len(touched),
        "files_written": len(adds),
        "rows_written": sum(a.num_records for a in adds),
        "duration_s": time.time() - t0,
    }
