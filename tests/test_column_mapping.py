"""Column mapping (table/format.py rename_column / drop_column):
metadata-only renames and drops, Delta column-mapping semantics over
immutable PHYSICAL parquet names.

The property under test everywhere: ZERO data files move on a rename or
drop, yet every read path (scan, maintenance rewrites, time travel,
rollback, checkpointed replay) sees the correct logical names and the
correct values."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.datagen import make_small_file_table, tokens_df
from kafka_delta_ingest_spark.functions.verify import content_fingerprint
from kafka_delta_ingest_spark.table.format import SchemaEvolutionError
from kafka_delta_ingest_spark.table.writer import write_dataframe


def _mk(spark, root, **kw):
    kw.setdefault("n_docs", 120)
    kw.setdefault("n_files", 4)
    kw.setdefault("max_tok", 8)
    return make_small_file_table(spark, root, **kw)


def test_rename_is_metadata_only_and_value_preserving(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    pre_files = {f.path for f in t.snapshot().files}
    pre = {r["doc_id"]: r["n_tok"] for r in t.snapshot().scan(spark).collect()}
    t.rename_column("n_tok", "tok_len")
    snap = t.snapshot()
    assert snap.column_mapping == {"tok_len": "n_tok"}
    assert {f.path for f in snap.files} == pre_files  # zero data moved
    got = {r["doc_id"]: r["tok_len"] for r in snap.scan(spark).collect()}
    assert got == pre
    # time travel: the pre-rename snapshot keeps its old logical name
    v1 = snap.version - 1
    old_cols = t.snapshot(v1).scan(spark).columns
    assert "n_tok" in old_cols and "tok_len" not in old_cols


def test_writes_after_rename_use_physical_names(spark, tmp_table_root):
    t = _mk(spark, tmp_table_root)
    pre_files = {f.path for f in t.snapshot().files}
    t.rename_column("n_tok", "tok_len")
    extra = (
        tokens_df(spark, 30, seed=5, max_tok=8)
        .withColumnRenamed("n_tok", "tok_len")
        .withColumn("doc_id", F.concat(F.lit("x-"), F.col("doc_id")))
    )
    write_dataframe(spark, t, extra)
    snap = t.snapshot()
    newf = sorted({f.path for f in snap.files} - pre_files)
    assert newf
    for p in newf:
        names = pq.read_schema(os.path.join(t.root, p)).names
        # parquet pages carry the immutable PHYSICAL name
        assert "n_tok" in names and "tok_len" not in names
    # ...while manifest stats key by the CURRENT logical name
    fe = next(f for f in snap.files if f.path == newf[0])
    assert "tok_len" in fe.stats["min"] and "n_tok" not in fe.stats["min"]
    assert snap.scan(spark).count() == 150


def test_maintenance_rewrites_under_mapping(spark, tmp_table_root):
    from kafka_delta_ingest_spark.maintenance.compact import compact
    from kafka_delta_ingest_spark.maintenance.merge import merge_into
    from kafka_delta_ingest_spark.maintenance.optimize import optimize

    t = _mk(spark, tmp_table_root)
    t.rename_column("n_tok", "tok_len")
    fp = content_fingerprint(t.snapshot().scan(spark))
    pre_files = {f.path for f in t.snapshot().files}
    assert compact(spark, t, job_id="cm-compact")["files_written"] > 0
    snap = t.snapshot()
    assert content_fingerprint(snap.scan(spark)) == fp
    for f in snap.files:  # rewritten: physical pages, logical stats keys
        if f.path not in pre_files:
            assert "n_tok" in pq.read_schema(os.path.join(t.root, f.path)).names
            assert "tok_len" in f.stats["min"]
    optimize(spark, t, dims=["source", "tok_len", "doc_id"], curve="zorder",
             target_file_bytes=64 * 1024 * 1024)
    assert content_fingerprint(t.snapshot().scan(spark)) == fp

    # MERGE by the renamed key column's table: upsert one doc
    src = (
        tokens_df(spark, 120, max_tok=8)
        .withColumnRenamed("n_tok", "tok_len")
        .where(F.col("doc_id") == f"doc-{7:012d}")
        .withColumn("tokens", F.transform("tokens", lambda x: x + F.lit(1)))
    )
    merge_into(spark, t, src, key="doc_id", job_id="cm-merge")
    assert content_fingerprint(t.snapshot().scan(spark)) != fp
    assert t.snapshot().scan(spark).count() == 120


def test_drop_column_and_ghost_guard(spark, tmp_table_root):
    from pyspark.sql import types as T

    t = _mk(spark, tmp_table_root, partition_by_source=False)
    pre_files = {f.path for f in t.snapshot().files}
    v_pre = t.latest_version()
    t.drop_column("n_tok")
    snap = t.snapshot()
    assert {f.path for f in snap.files} == pre_files
    assert "n_tok" not in snap.scan(spark).columns
    assert snap.dropped_physical == ["n_tok"]
    # pinned pre-drop snapshot still reads the column
    assert "n_tok" in t.snapshot(v_pre).scan(spark).columns
    # re-adding the same name would resurrect old files' bytes — refused
    with pytest.raises(SchemaEvolutionError, match="shadow"):
        t.evolve_schema(
            T.StructType(
                list(snap.schema.fields)
                + [T.StructField("n_tok", T.IntegerType(), True)]
            )
        )
    # a fresh name is fine
    t.evolve_schema(
        T.StructType(
            list(snap.schema.fields)
            + [T.StructField("n_tok2", T.IntegerType(), True)]
        )
    )
    assert "n_tok2" in t.snapshot().scan(spark).columns


def test_rename_guards(spark, tmp_table_root):
    from kafka_delta_ingest_spark.maintenance.dml import delete_where

    t = _mk(spark, tmp_table_root)  # partitioned by source
    with pytest.raises(SchemaEvolutionError, match="partition-spec"):
        t.rename_column("source", "origin")
    with pytest.raises(SchemaEvolutionError, match="already exists"):
        t.rename_column("n_tok", "doc_id")
    with pytest.raises(SchemaEvolutionError, match="unknown column"):
        t.rename_column("nope", "x")
    # rename back onto the physical name is allowed (identity mapping)
    t.rename_column("n_tok", "tok_len")
    t.rename_column("tok_len", "n_tok")
    assert t.snapshot().column_mapping == {}
    # refused while MOR deletes are live
    delete_where(spark, t, [("doc_id", "=", f"doc-{3:012d}")],
                 mode="merge_on_read")
    with pytest.raises(SchemaEvolutionError, match="merge-on-read"):
        t.rename_column("n_tok", "tok_len")


def test_rollback_restores_mapping(spark, tmp_table_root):
    from kafka_delta_ingest_spark.maintenance.rollback import rollback

    t = _mk(spark, tmp_table_root)
    v_pre = t.latest_version()
    fp = content_fingerprint(t.snapshot().scan(spark))
    t.rename_column("n_tok", "tok_len")
    extra = (
        tokens_df(spark, 10, seed=6, max_tok=8)
        .withColumnRenamed("n_tok", "tok_len")
        .withColumn("doc_id", F.concat(F.lit("y-"), F.col("doc_id")))
    )
    write_dataframe(spark, t, extra)
    rollback(t, v_pre)
    snap = t.snapshot()
    assert snap.column_mapping == {} and "n_tok" in snap.scan(spark).columns
    assert content_fingerprint(snap.scan(spark)) == fp


def test_mapping_survives_checkpointed_replay(spark, tmp_table_root):
    from kafka_delta_ingest_spark.table.format import Table

    t = _mk(spark, tmp_table_root, n_files=2)
    t.rename_column("n_tok", "tok_len")
    fp = content_fingerprint(t.snapshot().scan(spark))
    # push past a checkpoint boundary (every 10th version)
    for i in range(10):
        t.set_properties({f"k{i}": str(i)})
    assert t._latest_checkpoint_at_or_before(t.latest_version()) is not None
    # fresh Table object replays from the checkpoint
    t2 = Table(t.root)
    snap = t2.snapshot()
    assert snap.column_mapping == {"tok_len": "n_tok"}
    assert content_fingerprint(snap.scan(spark)) == fp


def test_python_datasource_reads_mapped_and_defaulted_tables(spark, tmp_table_root):
    """The batch DataSource applies the column mapping and per-file
    initial defaults per task (ScanFilePartition threads them), so its
    scan equals the native scan; the arrow WRITER still refuses mapped
    tables (it cannot rename to physical)."""
    from pyspark.sql import types as T

    from kafka_delta_ingest_spark.sources.table_batch import register

    t = _mk(spark, tmp_table_root, n_files=2)
    t.rename_column("n_tok", "tok_len")
    t.evolve_schema(
        T.StructType(
            list(t.snapshot().schema.fields)
            + [T.StructField("w", T.IntegerType(), True)]
        ),
        defaults={"w": 6},
    )
    # post-default rows with explicit NULL w (writer-supplied wins)
    extra = (
        tokens_df(spark, 10, seed=7, max_tok=8)
        .withColumnRenamed("n_tok", "tok_len")
        .withColumn("doc_id", F.concat(F.lit("d-"), F.col("doc_id")))
        .withColumn("w", F.lit(None).cast("int"))
    )
    write_dataframe(spark, t, extra)

    register(spark)
    ds = spark.read.format("kdi-table").option("path", t.root).load()
    native = t.snapshot().scan(spark)
    assert content_fingerprint(ds) == content_fingerprint(native)
    assert ds.where(F.col("w") == 6).count() == 120   # defaulted old rows
    assert ds.where(F.col("w").isNull()).count() == 10
    # logical-name row filter through the where option
    ds_f = (
        spark.read.format("kdi-table").option("path", t.root)
        .option("where", "tok_len >= 4").load()
    )
    assert ds_f.count() == native.where(F.col("tok_len") >= 4).count()
    # arrow writer refuses mapped tables
    with pytest.raises(Exception, match="column-mapped"):
        extra.write.format("kdi-table").mode("append").option(
            "path", t.root
        ).save()

def test_export_refuses_mapped_or_defaulted_tables(spark, tmp_table_root):
    """External engines read raw parquet: physical names and NULLs where
    defaults belong are silent wrong answers — export refuses."""
    from pyspark.sql import types as T

    from kafka_delta_ingest_spark.maintenance.export import (
        ExportRefusedError,
        generate_symlink_manifest,
    )

    t = _mk(spark, tmp_table_root, partition_by_source=False)
    t.rename_column("n_tok", "tok_len")
    with pytest.raises(ExportRefusedError, match="column mapping"):
        generate_symlink_manifest(t)
    t.rename_column("tok_len", "n_tok")  # identity again
    generate_symlink_manifest(t)  # ok now
    t.evolve_schema(
        T.StructType(
            list(t.snapshot().schema.fields)
            + [T.StructField("w", T.IntegerType(), True)]
        ),
        defaults={"w": 1},
    )
    with pytest.raises(ExportRefusedError):
        generate_symlink_manifest(t)


def test_clone_preserves_mapping_and_defaults(spark, tmp_path):
    """CLONE copies the log, so the mapping and defaults ride along —
    the clone scans identically to the source."""
    from pyspark.sql import types as T

    from kafka_delta_ingest_spark.maintenance.clone import clone_table

    t = _mk(spark, str(tmp_path / "src"), partition_by_source=False)
    t.rename_column("n_tok", "tok_len")
    t.evolve_schema(
        T.StructType(
            list(t.snapshot().schema.fields)
            + [T.StructField("w", T.IntegerType(), True)]
        ),
        defaults={"w": 5},
    )
    fp = content_fingerprint(t.snapshot().scan(spark))
    clone_table(t, str(tmp_path / "dst"))
    from kafka_delta_ingest_spark.table.format import Table

    c = Table(str(tmp_path / "dst"))
    snap = c.snapshot()
    assert snap.column_mapping == {"tok_len": "n_tok"}
    assert snap.defaults["w"]["value"] == 5
    assert content_fingerprint(snap.scan(spark)) == fp


def test_clone_preserves_mixed_default_applicability(spark, tmp_path):
    """A default added BETWEEN two appends applies to the first batch
    only; the clone's seq remap must preserve exactly that split, and
    rows appended to the CLONE afterwards must not inherit it."""
    from pyspark.sql import types as T

    from kafka_delta_ingest_spark.maintenance.clone import clone_table
    from kafka_delta_ingest_spark.table.format import Table

    t = _mk(spark, str(tmp_path / "src"), n_docs=40, n_files=2,
            partition_by_source=False)
    t.evolve_schema(
        T.StructType(
            list(t.snapshot().schema.fields)
            + [T.StructField("w", T.IntegerType(), True)]
        ),
        defaults={"w": 9},
    )
    post = tokens_df(spark, 10, seed=11, max_tok=8).withColumn(
        "doc_id", F.concat(F.lit("p-"), F.col("doc_id"))
    ).withColumn("w", F.lit(None).cast("int"))
    write_dataframe(spark, t, post)  # postdates the default: w stays NULL

    clone_table(t, str(tmp_path / "dst"))
    c = Table(str(tmp_path / "dst"))
    got = c.snapshot().scan(spark)
    assert got.where(F.col("w") == 9).count() == 40   # pre-default batch
    assert got.where(F.col("w").isNull()).count() == 10  # explicit NULLs

    # rows appended to the CLONE never inherit the default
    newer = tokens_df(spark, 5, seed=12, max_tok=8).withColumn(
        "doc_id", F.concat(F.lit("c-"), F.col("doc_id"))
    ).withColumn("w", F.lit(None).cast("int"))
    write_dataframe(spark, c, newer)
    got = c.snapshot().scan(spark)
    assert got.where(F.col("w") == 9).count() == 40
    assert got.where(F.col("w").isNull()).count() == 15


def test_inexact_stat_markers_rekey_to_logical_names(spark, tmp_table_root):
    """Truncated string bounds are flagged in stats['inexact'] (a LIST of
    column names): after a rename, new files' markers must carry the
    LOGICAL name, or metadata aggregates would read a truncated bound as
    exact."""
    t = _mk(spark, tmp_table_root, n_files=1, partition_by_source=False)
    t.rename_column("doc_id", "document_id")
    extra = (
        tokens_df(spark, 5, seed=9, max_tok=8)
        .withColumn(
            "doc_id", F.concat(F.lit("x" * 100), F.col("doc_id"))
        )  # > STRING_STAT_TRUNCATE -> inexact bound
        .withColumnRenamed("doc_id", "document_id")
    )
    pre = {f.path for f in t.snapshot().files}
    write_dataframe(spark, t, extra)
    new = [f for f in t.snapshot().files if f.path not in pre]
    fe = max(new, key=lambda f: f.num_records)  # skip empty-task parts
    assert fe.num_records > 0
    assert "document_id" in fe.stats.get("inexact", []), fe.stats
    assert "doc_id" not in fe.stats.get("inexact", [])


def test_change_feed_aligns_renamed_columns_by_physical_identity(spark, tmp_table_root):
    """A rename inside the CDF range must not NULL the old side's
    pre-images: a renamed column is the same column (physical identity),
    so only genuinely changed rows appear in the changelog."""
    from kafka_delta_ingest_spark.maintenance.dml import update_where
    from kafka_delta_ingest_spark.table.changes import row_changes

    t = _mk(spark, tmp_table_root, n_docs=60, n_files=2,
            partition_by_source=False)
    v0 = t.latest_version()
    t.rename_column("n_tok", "tok_len")
    update_where(
        spark, t, [("doc_id", "=", f"doc-{5:012d}")],
        {"tokens": "array(1, 2, 3)"},
    )
    ch = row_changes(spark, t, v_from=v0).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], []).append(r)
    # exactly one updated row — NOT 60 phantom updates from the rename
    assert set(by_type) == {"update_preimage", "update_postimage"}
    assert len(by_type["update_preimage"]) == 1
    pre = by_type["update_preimage"][0]
    post = by_type["update_postimage"][0]
    assert pre["doc_id"] == post["doc_id"] == f"doc-{5:012d}"
    # the pre-image carries the REAL old value under the new name
    assert pre["tok_len"] is not None
    assert post["tokens"] == [1, 2, 3]
