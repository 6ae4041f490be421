"""Per-file key bloom filters (maintenance/bloom.py) + MERGE integration.

The workload where this layer is decisive: random doc_ids hashed across
non-bucketed files make min/max ranges overlap every batch and give the
partition-membership prune nothing to work with — without blooms a point
MERGE rewrites the whole table."""

import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.datagen import (
    TOKENS_SCHEMA,
    make_small_file_table,
    tokens_df,
)
from kafka_delta_ingest_spark.functions.verify import content_fingerprint
from kafka_delta_ingest_spark.maintenance.artifacts import load_index
from kafka_delta_ingest_spark.maintenance.bloom import (
    bloom_prune,
    build_bloom,
    file_m_bits,
)
from kafka_delta_ingest_spark.maintenance.merge import merge_into
from kafka_delta_ingest_spark.table.format import Transaction
from kafka_delta_ingest_spark.table.scan import read_entries
from kafka_delta_ingest_spark.table.writer import stage_dataframe


def _file_of_keys(spark, t):
    """Ground truth: doc_id -> relative file path, exhaustively."""
    snap = t.snapshot()
    df = read_entries(
        spark, t.root, snap.files, snap.schema, snap.partition_cols,
        file_path_col="_file",
    )
    import os

    prefix = os.path.abspath(t.root) + os.sep
    rows = df.select(
        "doc_id", F.expr(f"substring(_file, {len(prefix) + 1})").alias("path")
    ).collect()
    return {r["doc_id"]: r["path"] for r in rows}


def test_file_m_bits_sizing():
    assert file_m_bits(0, 10, 1 << 23) == 64
    assert file_m_bits(100, 10, 1 << 23) == 1024
    assert file_m_bits(10**9, 10, 1 << 23) == 1 << 23
    for n in (1, 7, 12345, 99999):
        m = file_m_bits(n, 10, 1 << 23)
        assert m & (m - 1) == 0 and m >= 64


def test_bloom_probe_no_false_negatives_and_prunes(spark, tmp_table_root):
    t = make_small_file_table(
        spark, tmp_table_root, n_docs=400, n_files=8,
        partition_by_source=False, max_tok=16,
    )
    r = build_bloom(spark, t, ["doc_id"], bits_per_key=16)
    assert r["files_total"] == 8 and r["files_scanned"] == 8
    owner = _file_of_keys(spark, t)
    all_paths = sorted({f.path for f in t.snapshot().files})

    # one key per file: the owning file is ALWAYS admitted (no false
    # negative — the hard guarantee), and other files prune (everything is
    # deterministic: fixed seed, fixed hashes, so no flake)
    probed_one = set()
    for key, path in owner.items():
        if path in probed_one:
            continue
        probed_one.add(path)
        keys = spark.createDataFrame([(key,)], "doc_id string")
        got = bloom_prune(spark, t, "doc_id", keys, all_paths)
        assert path in got
        assert len(got) < len(all_paths)
        if len(probed_one) == 4:
            break

    # multi-key probe: union of owners is always a subset of the result
    some = list(owner.items())[:25]
    keys = spark.createDataFrame([(k,) for k, _ in some], "doc_id string")
    got = set(bloom_prune(spark, t, "doc_id", keys, all_paths))
    assert {p for _, p in some} <= got

    # NULL keys probe nothing (NULL never equi-matches)
    nkeys = spark.createDataFrame([(None,)], "doc_id string")
    assert bloom_prune(spark, t, "doc_id", nkeys, all_paths) == []


def test_bloom_prune_unusable_artifact_returns_none(spark, tmp_table_root):
    t = make_small_file_table(
        spark, tmp_table_root, n_docs=50, n_files=2,
        partition_by_source=False, max_tok=8,
    )
    keys = spark.createDataFrame([("1",)], "doc_id string")
    paths = [f.path for f in t.snapshot().files]
    assert bloom_prune(spark, t, "doc_id", keys, paths) is None
    build_bloom(spark, t, ["source"], bits_per_key=8)
    # artifact exists but does not cover the probe column
    assert bloom_prune(spark, t, "doc_id", keys, paths) is None


def test_merge_with_bloom_prunes_and_preserves_semantics(spark, tmp_path):
    def _mk(root):
        return make_small_file_table(
            spark, str(root), n_docs=600, n_files=12,
            partition_by_source=False, max_tok=16,
        )

    base = tokens_df(spark, 600, max_tok=16)
    upd_ids = [f"doc-{n:012d}" for n in (17, 203, 410)]
    upd = base.where(F.col("doc_id").isin(upd_ids)).withColumn(
        "tokens", F.transform("tokens", lambda x: x + F.lit(1))
    )
    ins = base.where(F.col("doc_id") == f"doc-{5:012d}").withColumn(
        "doc_id", F.lit("doc-999901")
    )
    cdc = upd.unionByName(ins)

    t_plain = _mk(tmp_path / "plain")
    m_plain = merge_into(spark, t_plain, cdc, key="doc_id",
                         job_id="m-plain", use_bloom=False)

    t_bloom = _mk(tmp_path / "bloom")
    build_bloom(spark, t_bloom, ["doc_id"], bits_per_key=16)
    m_bloom = merge_into(spark, t_bloom, cdc, key="doc_id",
                         job_id="m-bloom", use_bloom=True)

    # identical end state, far fewer files rewritten: random string ids
    # make every file's min/max range overlap, so the plain merge touches
    # all 12 files; blooms cut it to the (<=4) files that hold the keys
    assert content_fingerprint(t_plain.snapshot().scan(spark)) == \
        content_fingerprint(t_bloom.snapshot().scan(spark))
    assert m_plain["touched_files"] == 12
    assert m_bloom["touched_files"] < m_plain["touched_files"]
    assert m_bloom["untouched_files"] > 0


def test_merge_clauses_respect_bloom(spark, tmp_path):
    t = make_small_file_table(
        spark, str(tmp_path / "cl"), n_docs=400, n_files=8,
        partition_by_source=False, max_tok=16,
    )
    build_bloom(spark, t, ["doc_id"], bits_per_key=16)
    fp_before = content_fingerprint(t.snapshot().scan(spark))
    base = tokens_df(spark, 400, max_tok=16)
    cdc = base.where(F.col("doc_id") == f"doc-{42:012d}")
    from kafka_delta_ingest_spark.maintenance.merge import MergeClause

    m = merge_into(
        spark, t, cdc, key="doc_id", job_id="m-cl", use_bloom=True,
        when_matched=[MergeClause("delete")],
        when_not_matched=False,
    )
    assert m["touched_files"] < 8
    assert t.snapshot().scan(spark).where(
        F.col("doc_id") == f"doc-{42:012d}"
    ).count() == 0
    assert t.snapshot().scan(spark).count() == 399
    assert content_fingerprint(t.snapshot().scan(spark)) != fp_before


def test_merge_use_bloom_true_requires_artifact(spark, tmp_table_root):
    t = make_small_file_table(
        spark, tmp_table_root, n_docs=50, n_files=2,
        partition_by_source=False, max_tok=8,
    )
    cdc = tokens_df(spark, 50, max_tok=8).limit(1)
    with pytest.raises(ValueError, match="no bloom artifact"):
        merge_into(spark, t, cdc, key="doc_id", use_bloom=True)


def test_bloom_incremental_refresh_scans_only_churn(spark, tmp_table_root):
    t = make_small_file_table(
        spark, tmp_table_root, n_docs=300, n_files=6,
        partition_by_source=False, max_tok=8,
    )
    r1 = build_bloom(spark, t, ["doc_id"], bits_per_key=8)
    assert (r1["files_scanned"], r1["files_reused"]) == (6, 0)

    # append two more files; until re-build they are uncovered -> kept
    extra = tokens_df(spark, 100, seed=77, max_tok=8).withColumn(
        "doc_id", F.concat(F.lit("x-"), F.col("doc_id"))
    ).repartition(2)
    _, adds = stage_dataframe(
        spark, t, extra, [], TOKENS_SCHEMA,
        properties=t.snapshot().properties,
    )
    t.commit(Transaction(operation="append", adds=adds))
    new_paths = sorted({a.path for a in adds})
    keys = spark.createDataFrame([("nonexistent-key",)], "doc_id string")
    got = bloom_prune(spark, t, "doc_id", keys,
                      [f.path for f in t.snapshot().files])
    assert set(got) == set(new_paths)  # uncovered stay, covered all prune

    r2 = build_bloom(spark, t, ["doc_id"], bits_per_key=8)
    assert (r2["files_scanned"], r2["files_reused"]) == (2, 6)
    got2 = bloom_prune(spark, t, "doc_id", keys,
                       [f.path for f in t.snapshot().files])
    assert got2 == []
    idx = load_index(t, "bloom")
    assert len(idx["file_paths"]) == 8

    # a parameter change rebuilds from scratch
    r3 = build_bloom(spark, t, ["doc_id"], bits_per_key=16)
    assert r3["files_scanned"] == 8 and r3["files_reused"] == 0


def test_delete_where_uses_bloom_for_point_predicates(spark, tmp_path):
    from kafka_delta_ingest_spark.maintenance.dml import delete_where

    def _mk(root):
        return make_small_file_table(
            spark, str(root), n_docs=400, n_files=8,
            partition_by_source=False, max_tok=8,
        )

    victims = [f"doc-{n:012d}" for n in (3, 77)]

    t_plain = _mk(tmp_path / "plain")
    m_plain = delete_where(spark, t_plain, [("doc_id", "in", victims)])

    t_bloom = _mk(tmp_path / "bloom")
    build_bloom(spark, t_bloom, ["doc_id"], bits_per_key=16)
    m_bloom = delete_where(spark, t_bloom, [("doc_id", "in", victims)])

    # identical end state, strictly fewer files rewritten (random string
    # ids make min/max pruning touch all 8 files)
    assert content_fingerprint(t_plain.snapshot().scan(spark)) == \
        content_fingerprint(t_bloom.snapshot().scan(spark))
    assert m_plain["rows_before"] - 2 == m_plain["rows_after"]
    assert m_bloom["rows_after"] == m_plain["rows_after"]
    assert m_plain["files_touched"] == 8
    assert m_bloom["files_touched"] < m_plain["files_touched"]

    # range predicates are untouched by blooms: same result either way
    m_rng = delete_where(spark, t_bloom, [("n_tok", ">=", 7)])
    assert m_rng["rows_after"] == t_bloom.snapshot().scan(spark).count()


def test_mor_delete_uses_bloom(spark, tmp_path):
    from kafka_delta_ingest_spark.maintenance.dml import delete_where

    t = make_small_file_table(
        spark, str(tmp_path / "mor"), n_docs=300, n_files=6,
        partition_by_source=False, max_tok=8,
    )
    build_bloom(spark, t, ["doc_id"], bits_per_key=16)
    m = delete_where(
        spark, t, [("doc_id", "=", f"doc-{11:012d}")], mode="merge_on_read"
    )
    assert m["files_touched"] < 6
    assert m["rows_deleted"] == 1
    assert t.snapshot().scan(spark).where(
        F.col("doc_id") == f"doc-{11:012d}"
    ).count() == 0


def test_bloom_covers_all_null_files(spark, tmp_table_root):
    from pyspark.sql import types as T

    from kafka_delta_ingest_spark.table.format import Table

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
            T.StructField("n_tok", T.IntegerType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    t = Table.create(tmp_table_root, schema, [])
    df = spark.createDataFrame(
        [(None, [1, 2], 2, "s1"), (None, [3], 1, "s1")], schema
    ).coalesce(1)
    _, adds = stage_dataframe(spark, t, df, [], schema)
    t.commit(Transaction(operation="append", adds=adds))
    build_bloom(spark, t, ["doc_id"], bits_per_key=8)
    paths = [f.path for f in t.snapshot().files]
    keys = spark.createDataFrame([("42",)], "doc_id string")
    # all-NULL file is covered by an all-zero filter: prunes for any key
    assert bloom_prune(spark, t, "doc_id", keys, paths) == []
