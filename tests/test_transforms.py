"""Hidden partitioning (table/transforms.py): bucket/truncate partition
transforms — path-only derived values, source columns stay in data pages,
predicates on source columns prune files through the transform, and every
maintenance op preserves the layout."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.datagen import TOKENS_SCHEMA, tokens_df
from kafka_delta_ingest_spark.table import transforms
from kafka_delta_ingest_spark.table.format import Table, Transaction
from kafka_delta_ingest_spark.table.writer import stage_dataframe, write_dataframe


def _rows(df):
    return {r["doc_id"]: r["tokens"] for r in df.collect()}


def test_split_spec_paren_aware():
    assert transforms.split_spec("source,bucket(16,doc_id)") == [
        "source", "bucket(16,doc_id)"
    ]
    assert transforms.split_spec(" day(ts) , truncate(4, doc_id) ") == [
        "day(ts)", "truncate(4, doc_id)"
    ]
    assert transforms.split_spec("") == []


def test_temporal_transforms(spark, tmp_path):
    """year/month/day/hour hidden partitioning over a timestamp column:
    layout derives from the source column, scans stay byte-identical, and
    BOTH equality and range predicates on the source prune through the
    transform (floor transforms are monotonic + zero-padded)."""
    import datetime as dt

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ])
    assert transforms.key("day(ts)") == "ts_day"
    assert transforms.py_value("hour(ts)", "2024-03-05T07:09:00") == (
        "2024-03-05-07"
    )
    with pytest.raises(ValueError, match="date/timestamp"):
        transforms.validate_spec(["day(v)"], schema)

    rows = [
        (f"d{i}", dt.datetime(2024, 3, 1 + i % 4, 6 + i % 12), i)
        for i in range(64)
    ] + [("late", dt.datetime(2024, 3, 4, 23, 30), 64)]
    t = Table.create(str(tmp_path / "t"), schema, ["day(ts)"])
    df = spark.createDataFrame(rows, schema)
    write_dataframe(spark, t, df)
    snap = t.snapshot()
    days = {f.partition_values["ts_day"] for f in snap.files}
    assert days == {f"2024-03-0{d}" for d in (1, 2, 3, 4)}
    # source column survives in the data pages
    got = {(r["doc_id"], r["ts"], r["v"]) for r in snap.scan(spark).collect()}
    assert got == set(rows)

    from kafka_delta_ingest_spark.plans.pruning import prune_files

    eq = prune_files(
        snap.files, [("ts", "=", dt.datetime(2024, 3, 2, 9))],
        snap.schema, spec=snap.partition_cols,
    )
    assert {f.partition_values["ts_day"] for f in eq} == {"2024-03-02"}
    rng = prune_files(
        snap.files, [("ts", ">=", dt.datetime(2024, 3, 3, 0))],
        snap.schema, spec=snap.partition_cols,
    )
    assert {f.partition_values["ts_day"] for f in rng} == {
        "2024-03-03", "2024-03-04"
    }
    # strict > at an hour boundary keeps the straddling day (inclusive)
    rng2 = prune_files(
        snap.files, [("ts", ">", dt.datetime(2024, 3, 4, 23))],
        snap.schema, spec=snap.partition_cols,
    )
    assert {f.partition_values["ts_day"] for f in rng2} == {"2024-03-04"}


def test_spec_parsing_and_py_parity():
    assert transforms.parse("source") == ("identity", "source", None)
    assert transforms.parse("bucket(16,doc_id)") == ("bucket", "doc_id", 16)
    assert transforms.parse("truncate(8, doc_id)") == ("truncate", "doc_id", 8)
    assert transforms.key("bucket(16,doc_id)") == "doc_id_bucket_16"
    assert transforms.key("truncate(4,doc_id)") == "doc_id_trunc_4"
    assert transforms.py_value("truncate(4,doc_id)", "doc-001234") == "doc-"
    assert transforms.py_value("truncate(10,n_tok)", 1234) == 1230
    with pytest.raises(ValueError):
        transforms.parse("bucket(0,doc_id)")
    with pytest.raises(ValueError):
        transforms.validate_spec(["bucket(4,nope)"], TOKENS_SCHEMA)


def test_bucket_hash_matches_spark(spark):
    """The driver-side bucket (zlib.crc32) must equal the JVM-side one
    (F.crc32 over the string cast) for string AND integer sources."""
    df = tokens_df(spark, 50, max_tok=4)
    schema = df.schema
    got = df.select(
        "doc_id", "n_tok",
        transforms.derived_exprs(["bucket(7,doc_id)"], schema)[
            "doc_id_bucket_7"
        ].alias("b_doc"),
        transforms.derived_exprs(["bucket(5,n_tok)"], schema)[
            "n_tok_bucket_5"
        ].alias("b_tok"),
    ).collect()
    for r in got:
        assert r["b_doc"] == transforms.py_value("bucket(7,doc_id)", r["doc_id"])
        assert r["b_tok"] == transforms.py_value("bucket(5,n_tok)", r["n_tok"])


def test_bucket_table_write_scan_prune(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["bucket(4,doc_id)"])
    df = tokens_df(spark, 200, max_tok=8).repartition(4)
    write_dataframe(spark, t, df)
    snap = t.snapshot()

    # derived key in partition_values; one file group per bucket on disk
    assert all(
        set(f.partition_values) == {"doc_id_bucket_4"} for f in snap.files
    )
    buckets = {f.partition_values["doc_id_bucket_4"] for f in snap.files}
    assert buckets <= {"0", "1", "2", "3"} and len(buckets) > 1

    # scan parity: source column intact (it lives in the data pages)
    assert _rows(snap.scan(spark)) == _rows(df)

    # hidden-partition pruning: a doc_id equality predicate skips files of
    # other buckets without the query mentioning the bucket
    target = df.limit(1).collect()[0]["doc_id"]
    b = transforms.py_value("bucket(4,doc_id)", target)
    kept_expected = [
        f for f in snap.files
        if f.partition_values["doc_id_bucket_4"] == str(b)
    ]
    got = snap.scan(
        spark, predicate=F.col("doc_id") == target,
        predicate_stats=[("doc_id", "=", target)],
    )
    assert {r["doc_id"] for r in got.collect()} == {target}
    from kafka_delta_ingest_spark.plans.pruning import prune_files

    pruned = prune_files(
        snap.files, [("doc_id", "=", target)], snap.schema,
        spec=snap.partition_cols,
    )
    assert {f.path for f in pruned} == {f.path for f in kept_expected}
    assert len(pruned) < len(snap.files)


def test_maintenance_preserves_hidden_layout(spark, tmp_path):
    from kafka_delta_ingest_spark.maintenance.compact import compact
    from kafka_delta_ingest_spark.maintenance.merge import merge_into
    from kafka_delta_ingest_spark.maintenance.optimize import optimize

    t = Table.create(
        str(tmp_path / "t"), TOKENS_SCHEMA, ["source", "bucket(4,doc_id)"]
    )
    df = tokens_df(spark, 300, max_tok=8).repartition(6)
    write_dataframe(spark, t, df)
    before = _rows(t.snapshot().scan(spark))

    def check_layout(snap):
        # rewritten files carry BOTH partition keys and correct bucket values
        for f in snap.files:
            assert set(f.partition_values) == {"source", "doc_id_bucket_4"}
            assert "doc_id_bucket_4=" in f.path and "source=" in f.path
            for bound in ("min", "max"):
                assert f.partition_values["doc_id_bucket_4"] == str(
                    transforms.py_value("bucket(4,doc_id)",
                                        f.stats[bound]["doc_id"]))

    assert compact(spark, t, job_id="hidden")["files_written"] > 0
    assert _rows(t.snapshot().scan(spark)) == before  # token-array equality
    check_layout(t.snapshot())
    optimize(spark, t, dims=["n_tok", "doc_id"], curve="zorder",
             target_file_bytes=4 * 1024 * 1024)
    snap = t.snapshot()
    assert _rows(snap.scan(spark)) == before
    check_layout(snap)

    # MERGE: updated docs keep their bucket, a new doc lands in its own
    keys = sorted(before)[:5]
    upd = df.where(F.col("doc_id").isin(keys)).withColumn(
        "tokens", F.transform("tokens", lambda x: x + F.lit(1)))
    new = df.where(F.col("doc_id") == keys[0]).withColumn(
        "doc_id", F.lit("brand-new-doc"))
    merge_into(spark, t, upd.unionByName(new), key="doc_id", job_id="hidden-m")
    snap = t.snapshot()
    got = _rows(snap.scan(spark))
    assert len(got) == len(before) + 1
    assert got[keys[1]] == [x + 1 for x in before[keys[1]]]
    check_layout(snap)


def test_merge_prunes_by_bucket_membership(spark, tmp_path):
    """MERGE touched-file pruning composes the min/max range check with
    partition-value membership through the spec: on a bucket(8,doc_id)
    table, a CDC batch rewrites only files whose RECORDED bucket equals
    the bucket of some batch key — min/max alone can't prune here because
    random doc_ids make every file's range overlap every batch."""
    from kafka_delta_ingest_spark.maintenance.merge import merge_into

    t = Table.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["bucket(8,doc_id)"])
    df = tokens_df(spark, 400, max_tok=8).repartition(4)
    write_dataframe(spark, t, df)
    snap = t.snapshot()
    n_files = len(snap.files)
    assert n_files >= 8

    # batch: 3 existing docs updated + 1 new doc inserted
    keys = sorted(_rows(df))[:3]
    batch = df.where(F.col("doc_id").isin(keys)).withColumn(
        "tokens", F.transform("tokens", lambda x: x + F.lit(1))
    ).unionByName(
        df.where(F.col("doc_id") == keys[0]).withColumn(
            "doc_id", F.lit("brand-new-doc")
        )
    )
    want_buckets = {
        str(transforms.py_value("bucket(8,doc_id)", k))
        for k in keys + ["brand-new-doc"]
    }
    m = merge_into(spark, t, batch, key="doc_id", job_id="m1")
    assert m["touched_files"] < n_files
    touched_ok = {
        f.partition_values["doc_id_bucket_8"]
        for f in snap.files
    } >= want_buckets
    assert touched_ok
    # every touched file's bucket is in the batch's bucket set
    after = t.snapshot()
    removed = {f.path for f in snap.files} - {f.path for f in after.files}
    by_path = {f.path: f for f in snap.files}
    assert removed and all(
        by_path[p].partition_values["doc_id_bucket_8"] in want_buckets
        for p in removed
    )
    # semantics unchanged: updates applied, insert landed, rest untouched
    got = _rows(after.scan(spark))
    exp = _rows(df)
    exp["brand-new-doc"] = list(exp[keys[0]])
    for k in keys:
        exp[k] = [x + 1 for x in exp[k]]
    assert got == exp


def test_update_transform_source_col_rejected(spark, tmp_path):
    from kafka_delta_ingest_spark.maintenance.dml import update_where

    t = Table.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["bucket(4,doc_id)"])
    write_dataframe(spark, t, tokens_df(spark, 50, max_tok=8))
    with pytest.raises(ValueError, match="partition columns"):
        update_where(spark, t, [("n_tok", ">=", 1)], {"doc_id": "'x'"})
    # non-source columns update fine
    m = update_where(
        spark, t, [("n_tok", ">=", 1)],
        {"tokens": "transform(tokens, x -> x + 1)"},
    )
    assert m["rows_after"] == m["rows_before"]


def test_evolve_to_bucket_spec_mixed_scan(spark, tmp_path):
    from kafka_delta_ingest_spark.maintenance.optimize import optimize

    t = Table.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["source"])
    df = tokens_df(spark, 120, max_tok=8)
    write_dataframe(spark, t, df)
    before = _rows(t.snapshot().scan(spark))

    t.evolve_partitioning(["bucket(4,doc_id)"])
    add = tokens_df(spark, 120, max_tok=8).withColumn(
        "doc_id", F.concat(F.lit("x"), "doc_id")
    )
    snap = t.snapshot()
    _, adds = stage_dataframe(spark, t, add, snap.partition_cols, snap.schema)
    assert all(set(fe.partition_values) == {"doc_id_bucket_4"} for fe in adds)
    t.commit(Transaction(operation="append", adds=adds))

    got = _rows(t.snapshot().scan(spark))
    assert got == {**before, **_rows(add)}

    # OPTIMIZE migrates everything to the bucket spec
    optimize(spark, t, dims=["n_tok", "doc_id"], curve="zorder",
             target_file_bytes=4 * 1024 * 1024)
    snap2 = t.snapshot()
    assert {frozenset(f.partition_values) for f in snap2.files} == {
        frozenset({"doc_id_bucket_4"})
    }
    assert _rows(snap2.scan(spark)) == {**before, **_rows(add)}


def test_in_conjunct_maps_through_bucket(spark, tmp_path):
    t = Table.create(str(tmp_path / "t"), TOKENS_SCHEMA, ["bucket(8,doc_id)"])
    df = tokens_df(spark, 200, max_tok=4).repartition(4)
    write_dataframe(spark, t, df)
    snap = t.snapshot()
    ids = sorted(_rows(df))[:3]
    want = {str(transforms.py_value("bucket(8,doc_id)", v)) for v in ids}
    from kafka_delta_ingest_spark.plans.pruning import prune_files

    kept = prune_files(snap.files, [("doc_id", "in", ids)], snap.schema,
                       spec=snap.partition_cols)
    got = {f.partition_values["doc_id_bucket_8"] for f in kept}
    assert got == want and len(kept) < len(snap.files)
    # distributed path agrees file-for-file
    from kafka_delta_ingest_spark.plans.distributed_planning import (
        plan_scan_paths,
    )

    assert set(plan_scan_paths(spark, t, [("doc_id", "in", ids)])) == {
        f.path for f in kept
    }
