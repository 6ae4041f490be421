"""ANALYZE NDV stats (maintenance/analyze.py): artifact correctness vs
exact distinct counts via the proven HLL merge property, incremental
reuse (only unseen files scanned), dropped-file eviction, and estimate
equality with a from-scratch whole-table sketch."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_delta_ingest_spark.maintenance.analyze import (
    analyze,
    ndv_df,
)
from kafka_delta_ingest_spark.maintenance.artifacts import load_index
from kafka_delta_ingest_spark.maintenance.bloom import build_bloom
from kafka_delta_ingest_spark.table.format import Table
from kafka_delta_ingest_spark.table.writer import write_dataframe

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)


# every per-file stats artifact kind, built with test-sized parameters
BUILD = {
    "ndv": lambda spark, t, cols: analyze(spark, t, cols, family="md5"),
    "bloom": lambda spark, t, cols: build_bloom(spark, t, cols, bits_per_key=8),
}


def _rows(spark, start, n):
    return spark.range(start, start + n).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
        (F.col("id") % 37).cast("int").alias("n_tok"),
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias(
            "source"
        ),
    )


def _fresh(spark, root, n=400):
    t = Table.create(root, SCHEMA, partition_cols=["source"])
    write_dataframe(spark, t, _rows(spark, 0, n).repartition(4))
    return t


def test_analyze_ndv_matches_whole_table_sketch(spark, tmp_table_root):
    """MAX-merging per-file sketches == one sketch over the whole table
    (the HLL merge property), so ndv_df must equal hll_distinct run
    directly on the scan — registers, estimate, and checksum."""
    from kafka_delta_ingest_spark.operators.sketches import hll_distinct

    t = _fresh(spark, tmp_table_root)
    m = analyze(spark, t, ["doc_id", "n_tok", "source"], family="md5")
    assert m["files_scanned"] == m["files_total"] > 1

    got = {r["column"]: r for r in ndv_df(spark, t).collect()}
    scan = t.snapshot().scan(spark)
    for col, exact in (("doc_id", 400), ("n_tok", 37), ("source", 3)):
        direct = hll_distinct(scan, [col], family="md5").collect()[0]
        assert got[col]["ndv_estimate"] == direct["hll_estimate"]
        assert got[col]["register_sum"] == direct["register_sum"]
        assert got[col]["register_checksum"] == direct["register_checksum"]
        # accuracy: raw HLL biases high at tiny N (no LinearCounting by
        # design — see sketches.py); apply LC externally from the exact
        # zero_registers count, the documented caller-side correction
        import math

        zeros = got[col]["zero_registers"]
        est = (
            256.0 * math.log(256.0 / zeros)
            if zeros
            else got[col]["ndv_estimate"]
        )
        assert abs(est - exact) <= max(0.15 * exact, 8)


def test_analyze_is_incremental_and_drops_dead_files(spark, tmp_table_root):
    """Re-analyze after an append scans ONLY the new files; after a
    delete-by-rewrite the removed file's rows leave the artifact; the
    final estimate always equals a from-scratch analyze."""
    t = _fresh(spark, tmp_table_root)
    analyze(spark, t, ["doc_id"], family="md5")

    write_dataframe(spark, t, _rows(spark, 400, 100).repartition(2))
    snap = t.snapshot()
    m2 = analyze(spark, t, ["doc_id"], family="md5")
    assert m2["files_total"] == len(snap.files)
    assert 0 < m2["files_scanned"] < m2["files_total"]
    assert m2["files_reused"] == m2["files_total"] - m2["files_scanned"]

    est_incr = ndv_df(spark, t).collect()[0]["ndv_estimate"]

    # from-scratch comparison: nuke the index so nothing is reused
    import os

    os.remove(os.path.join(t.root, "_stats", "ndv", "INDEX.json"))
    m3 = analyze(spark, t, ["doc_id"], family="md5")
    assert m3["files_scanned"] == m3["files_total"]
    assert ndv_df(spark, t).collect()[0]["ndv_estimate"] == est_incr

    # drop rows -> rewrite removes files; artifact must follow the live set
    from kafka_delta_ingest_spark.maintenance.dml import delete_where

    delete_where(spark, t, [("source", "=", "src2")])
    m4 = analyze(spark, t, ["doc_id"], family="md5")
    assert m4["files_dropped"] > 0
    idx = load_index(t, "ndv")
    assert set(idx["file_paths"]) == {f.path for f in t.snapshot().files}

    from kafka_delta_ingest_spark.operators.sketches import hll_distinct

    direct = hll_distinct(
        t.snapshot().scan(spark), ["doc_id"], family="md5"
    ).collect()[0]
    assert (
        ndv_df(spark, t).collect()[0]["ndv_estimate"]
        == direct["hll_estimate"]
    )


def test_analyze_param_change_rebuilds(spark, tmp_table_root):
    """A different p cannot merge with the old artifact: everything is
    rescanned and the index records the new parameters."""
    t = _fresh(spark, tmp_table_root, n=100)
    analyze(spark, t, ["doc_id"], p=8, family="md5")
    m = analyze(spark, t, ["doc_id"], p=10, family="md5")
    assert m["files_scanned"] == m["files_total"]
    assert load_index(t, "ndv")["p"] == 10
    est = {r["column"]: r for r in ndv_df(spark, t).collect()}
    assert est["doc_id"]["zero_registers"] > 0  # p=10 -> 1024 registers


@pytest.mark.parametrize("kind", ["ndv", "bloom"])
def test_analyze_column_union_preserves_paid_for_sketches(
    spark, tmp_table_root, kind
):
    """A subset re-analyze must not destroy other columns' sketches; a
    brand-new column triggers exactly one extra pass over surviving
    files for that column only."""
    build = BUILD[kind]
    t = _fresh(spark, tmp_table_root, n=200)
    m = build(spark, t, ["doc_id", "n_tok"])
    total = m["files_total"]

    # subset: zero scans, both columns survive in artifact + index
    m2 = build(spark, t, ["doc_id"])
    assert m2["files_scanned"] == 0
    assert set(m2["columns"]) == {"doc_id", "n_tok"}
    assert set(load_index(t, kind)["columns"]) == {"doc_id", "n_tok"}
    if kind == "ndv":
        est = {r["column"] for r in ndv_df(spark, t).collect()}
        assert est == {"doc_id", "n_tok"}

    # superset with the preserved column: still zero scans
    m3 = build(spark, t, ["doc_id", "n_tok"])
    assert m3["files_scanned"] == 0

    # genuinely new column: one pass over the surviving files
    m4 = build(spark, t, ["source"])
    assert m4["files_scanned"] == total
    assert set(m4["columns"]) == {"doc_id", "n_tok", "source"}
    assert set(load_index(t, kind)["columns"]) == {"doc_id", "n_tok", "source"}
    if kind == "ndv":
        from kafka_delta_ingest_spark.operators.sketches import hll_distinct

        direct = hll_distinct(
            t.snapshot().scan(spark), ["source"], family="md5"
        ).collect()[0]
        got = {r["column"]: r for r in ndv_df(spark, t).collect()}
        assert got["source"]["register_checksum"] == direct["register_checksum"]


@pytest.mark.parametrize("kind", ["ndv", "bloom"])
def test_analyze_cleanup_is_concurrency_safe(spark, tmp_table_root, kind):
    """Cleanup deletes exactly two classes of dir: the artifact this run
    superseded, and unreferenced dirs past the grace window. A FRESH
    unknown dir — a concurrent analyze that has written its artifact but
    not yet swapped the index — must survive; aged crash leftovers must
    not. The live index always points at an existing directory."""
    import json
    import os

    build = BUILD[kind]
    t = _fresh(spark, tmp_table_root, n=100)
    build(spark, t, ["doc_id"])
    stats_dir = os.path.join(t.root, "_stats", kind)

    def dirs():
        return {
            d
            for d in os.listdir(stats_dir)
            if os.path.isdir(os.path.join(stats_dir, d))
        }

    assert len(dirs()) == 1

    # in-flight racer: fresh unreferenced dir — MUST survive cleanup
    racer = os.path.join(stats_dir, "v0_inflight")
    os.makedirs(racer)
    # crashed leftover: unreferenced AND aged — must be removed
    stale = os.path.join(stats_dir, "v0_crashed0")
    os.makedirs(stale)
    os.utime(stale, (1.0, 1.0))

    build(spark, t, ["doc_id"])
    remaining = dirs()
    assert "v0_inflight" in remaining, "cleanup killed an in-flight racer"
    assert "v0_crashed0" not in remaining, "aged leftover not collected"
    # the superseded artifact went away: live artifact + racer remain
    assert len(remaining) == 2
    live = json.load(open(os.path.join(stats_dir, "INDEX.json")))
    art = os.path.join(stats_dir, live["artifact"])
    assert os.path.isdir(art)
    assert spark.read.parquet(art).select("column").distinct().count() == 1
    if kind == "ndv":
        assert ndv_df(spark, t).count() == 1


@pytest.mark.parametrize("kind", ["ndv", "bloom"])
def test_artifact_refresh_on_empty_and_truncated_table(
    spark, tmp_table_root, kind
):
    """A table with no live files — never written, or truncated — gets a
    valid empty artifact instead of a crash; after a truncate every
    previously covered file counts as dropped."""
    from kafka_delta_ingest_spark.maintenance.doctor import check_table

    build = BUILD[kind]
    t = Table.create(tmp_table_root, SCHEMA, partition_cols=["source"])
    m = build(spark, t, ["doc_id"])
    assert (m["files_total"], m["files_scanned"], m["files_dropped"]) == (0, 0, 0)
    assert load_index(t, kind)["file_paths"] == []
    assert spark.read.parquet(m["artifact_path"]).count() == 0

    write_dataframe(spark, t, _rows(spark, 0, 60).repartition(2))
    n = build(spark, t, ["doc_id"])["files_total"]
    assert n > 0
    t.truncate()
    m = build(spark, t, ["doc_id"])
    assert (m["files_total"], m["files_scanned"], m["files_dropped"]) == (0, 0, n)
    assert spark.read.parquet(m["artifact_path"]).count() == 0
    assert check_table(t)["ok"]
