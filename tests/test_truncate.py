"""TRUNCATE TABLE (table/format.py Table.truncate): metadata-only
logical emptiness, physical reclamation deferred to expiry + GC."""

from pyspark.sql import functions as F

from kafka_delta_ingest_spark.datagen import make_small_file_table, tokens_df
from kafka_delta_ingest_spark.functions.verify import content_fingerprint
from kafka_delta_ingest_spark.table.writer import write_dataframe


def test_truncate_is_metadata_only_and_isolated(spark, tmp_table_root):
    import os

    t = make_small_file_table(spark, tmp_table_root, n_docs=100, n_files=4,
                              max_tok=8)
    fp = content_fingerprint(t.snapshot().scan(spark))
    v_pre = t.latest_version()
    paths = [os.path.join(t.root, f.path) for f in t.snapshot().files]

    t.truncate()
    assert t.snapshot().scan(spark).count() == 0
    assert t.snapshot().files == []
    # zero data I/O: the old bytes are still on disk for pinned readers
    assert all(os.path.exists(p) for p in paths)
    assert content_fingerprint(t.snapshot(v_pre).scan(spark)) == fp

    # the table keeps working: append after truncate
    write_dataframe(spark, t, tokens_df(spark, 10, seed=2, max_tok=8))
    assert t.snapshot().scan(spark).count() == 10


def test_truncate_clears_mor_deletes(spark, tmp_table_root):
    from kafka_delta_ingest_spark.maintenance.dml import delete_where

    t = make_small_file_table(spark, tmp_table_root, n_docs=50, n_files=2,
                              max_tok=8, partition_by_source=False)
    delete_where(spark, t, [("doc_id", "=", f"doc-{1:012d}")],
                 mode="merge_on_read")
    assert t.snapshot().delete_entries
    t.truncate()
    snap = t.snapshot()
    assert snap.files == [] and snap.delete_entries == []
    assert snap.scan(spark).count() == 0


def test_doctor_flags_missing_bloom_artifact(spark, tmp_table_root):
    import shutil

    from kafka_delta_ingest_spark.maintenance.artifacts import (
        artifact_dir,
        load_index,
    )
    from kafka_delta_ingest_spark.maintenance.bloom import build_bloom
    from kafka_delta_ingest_spark.maintenance.doctor import check_table

    t = make_small_file_table(spark, tmp_table_root, n_docs=30, n_files=2,
                              max_tok=8, partition_by_source=False)
    build_bloom(spark, t, ["doc_id"], bits_per_key=8)
    assert check_table(t)["ok"]
    import os

    idx = load_index(t, "bloom")
    shutil.rmtree(os.path.join(artifact_dir(t, "bloom"), idx["artifact"]))
    rep = check_table(t)
    assert not rep["ok"]
    assert any(f["check"] == "bloom" for f in rep["findings"])