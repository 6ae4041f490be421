"""Table properties (table/format.py + table/writer.py): versioned
key-value metadata; write.parquet.* properties become parquet writer
options on every data write path (append, compaction, clustering,
MERGE, CoW DML all stage through table/writer.py write_staged)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.datagen import TOKENS_SCHEMA, tokens_df
from kafka_delta_ingest_spark.table.format import Table
from kafka_delta_ingest_spark.table.writer import (
    parquet_write_options,
    write_dataframe,
)


def _codecs(t):
    snap = t.snapshot()
    out = set()
    for f in snap.files:
        md = pq.ParquetFile(os.path.join(t.root, f.path)).metadata
        out.add(md.row_group(0).column(0).compression)
    return out


def test_property_mapping():
    opts = parquet_write_options({
        "write.parquet.compression": "zstd",
        "write.parquet.bloom.filter.columns": "doc_id, source",
        "write.parquet.bloom.filter.expected.ndv": 100000,
        "write.parquet.block.size-bytes": 8388608,
    })
    assert opts["compression"] == "zstd"
    assert opts["parquet.bloom.filter.enabled#doc_id"] == "true"
    assert opts["parquet.bloom.filter.enabled#source"] == "true"
    assert opts["parquet.bloom.filter.expected.ndv#source"] == "100000"
    assert opts["parquet.block.size"] == "8388608"
    assert parquet_write_options({}) == {} and parquet_write_options(None) == {}


def test_properties_versioned_and_merged(spark, tmp_path):
    t = Table.create(
        str(tmp_path / "t"), TOKENS_SCHEMA, [],
        properties={"write.parquet.compression": "zstd", "owner": "a"},
    )
    assert t.snapshot().properties["owner"] == "a"
    v_before = t.latest_version()
    t.set_properties({"owner": None, "comment": "hi"})
    got = t.snapshot().properties
    assert got == {"write.parquet.compression": "zstd", "comment": "hi"}
    # pinned snapshot keeps the properties it was committed with
    assert t.snapshot(v_before).properties["owner"] == "a"


def test_properties_survive_checkpoint(spark, tmp_path):
    t = Table.create(
        str(tmp_path / "t"), TOKENS_SCHEMA, [],
        properties={"comment": "kept"},
    )
    df = tokens_df(spark, 20, max_tok=4)
    for _ in range(10):  # cross the interval-10 checkpoint
        write_dataframe(spark, t, df.limit(5))
    assert t._latest_checkpoint_at_or_before(t.latest_version()) == 10
    assert t.snapshot().properties == {"comment": "kept"}


def test_compression_property_honored_by_all_write_paths(spark, tmp_path):
    from kafka_delta_ingest_spark.maintenance.compact import compact
    from kafka_delta_ingest_spark.maintenance.merge import MergeClause, merge_into
    from kafka_delta_ingest_spark.maintenance.optimize import optimize

    t = Table.create(
        str(tmp_path / "t"), TOKENS_SCHEMA, ["source"],
        properties={"write.parquet.compression": "zstd"},
    )
    write_dataframe(spark, t, tokens_df(spark, 200, max_tok=8).repartition(4))
    assert _codecs(t) == {"ZSTD"}
    assert compact(spark, t, job_id="codec")["files_written"] > 0
    assert _codecs(t) == {"ZSTD"}
    # both MERGE paths: updates of existing docs rewrite the touched files
    src = tokens_df(spark, 20, seed=3, max_tok=8)
    for when_matched in ("update", [MergeClause("update")]):
        m = merge_into(spark, t, src, key="doc_id", when_matched=when_matched)
        assert m["files_written"] > 0
        assert _codecs(t) == {"ZSTD"}
    optimize(spark, t, dims=["n_tok", "doc_id"], curve="zorder",
             target_file_bytes=4 * 1024 * 1024)
    assert _codecs(t) == {"ZSTD"}  # rewrites inherit the codec
    before = {r["doc_id"]: r["tokens"]
              for r in t.snapshot().scan(spark).collect()}
    # switching the property re-encodes on the NEXT rewrite only
    t.set_properties({"write.parquet.compression": "snappy"})
    optimize(spark, t, dims=["n_tok", "doc_id"], curve="zorder",
             target_file_bytes=2 * 1024 * 1024)
    assert _codecs(t) == {"SNAPPY"}
    after = {r["doc_id"]: r["tokens"]
             for r in t.snapshot().scan(spark).collect()}
    assert after == before  # token-array equality across re-encodes


def test_bloom_filter_property_adds_footer_bytes(spark, tmp_path):
    def total_size(root, props):
        t = Table.create(str(root), TOKENS_SCHEMA, [], properties=props)
        write_dataframe(
            spark, t, tokens_df(spark, 2000, max_tok=4).coalesce(1)
        )
        return sum(f.size for f in t.snapshot().files)

    plain = total_size(tmp_path / "plain", {})
    bloomed = total_size(
        tmp_path / "bloom",
        {
            "write.parquet.bloom.filter.columns": "doc_id",
            "write.parquet.bloom.filter.expected.ndv": 2000,
        },
    )
    # the bloom bitset is real bytes in the file (pyarrow doesn't expose
    # the offset, so presence is asserted via the size delta)
    assert bloomed > plain + 512


def test_check_constraints_enforced_on_write(spark, tmp_path):
    from kafka_delta_ingest_spark.maintenance.merge import merge_into

    t = Table.create(
        str(tmp_path / "t"), TOKENS_SCHEMA, [],
        properties={
            "constraint.ntok-positive": "n_tok >= 1",
            "constraint.tokens-present": "tokens IS NOT NULL",
        },
    )
    good = tokens_df(spark, 50, max_tok=8)
    write_dataframe(spark, t, good)  # min n_tok is 1 -> passes
    rows_before = t.snapshot().num_records()

    bad = good.limit(5).withColumn(
        "n_tok", F.when(F.col("doc_id") == good.limit(1).collect()[0]["doc_id"],
                        F.lit(0)).otherwise(F.col("n_tok"))
    )
    with pytest.raises(Exception, match="ntok-positive"):
        write_dataframe(spark, t, bad)
    # failed write committed nothing (staging + atomic log)
    assert t.snapshot().num_records() == rows_before

    # NULL constraint result counts as a violation (Delta semantics)
    nullbad = good.limit(3).withColumn(
        "n_tok", F.lit(None).cast("int")
    )
    with pytest.raises(Exception, match="ntok-positive"):
        write_dataframe(spark, t, nullbad)

    # MERGE inserts are constrained too
    ins = good.limit(2).withColumn(
        "doc_id", F.concat(F.lit("new-"), "doc_id")
    ).withColumn("n_tok", F.lit(-1))
    with pytest.raises(Exception, match="ntok-positive"):
        merge_into(spark, t, ins, key="doc_id")
    assert t.snapshot().num_records() == rows_before


def test_write_sort_order_orders_rows_within_files(spark, tmp_path):
    """write.sort.order: every new-row write path emits files whose rows
    are sorted by the declared order (parquet page-index/row-group
    pruning within files on the sort column), with partition keys
    prefixed so the dynamic-partition writer adds no second sort."""
    from kafka_delta_ingest_spark.table.writer import sort_order

    assert sort_order({"write.sort.order": "n_tok DESC, doc_id"}) == [
        ("n_tok", False), ("doc_id", True),
    ]
    assert sort_order({}) == [] and sort_order(None) == []
    with pytest.raises(ValueError):
        sort_order({"write.sort.order": "n_tok SIDEWAYS"})

    t = Table.create(
        str(tmp_path / "t"), TOKENS_SCHEMA, ["source"],
        properties={"write.sort.order": "n_tok ASC"},
    )
    write_dataframe(spark, t, tokens_df(spark, 400, max_tok=64))
    snap = t.snapshot()
    assert len(snap.files) > 1
    checked = 0
    for f in snap.files:
        vals = [
            r["n_tok"]
            for r in spark.read.parquet(
                os.path.join(t.root, f.path)
            ).select("n_tok").collect()
        ]
        assert vals == sorted(vals), f"file {f.path} not sorted"
        checked += len(vals)
    assert checked == 400

    # scan results are unaffected (order is physical, not logical)
    tp = Table.create(str(tmp_path / "plain"), TOKENS_SCHEMA, ["source"])
    write_dataframe(spark, tp, tokens_df(spark, 400, max_tok=64))

    def rowset(table):
        return {
            (r["doc_id"], r["n_tok"], r["source"], tuple(r["tokens"]))
            for r in table.snapshot().scan(spark).collect()
        }

    assert rowset(t) == rowset(tp)


def test_write_sort_order_applies_to_merge_and_survives_compaction(
    spark, tmp_path
):
    """MERGE's copy-on-write rewrite stages through the same writer, so
    its output files obey the sort order too; compaction on the same
    table succeeds and preserves content (maintenance imposes its own
    clustering, superseding the write order — Iceberg semantics)."""
    from kafka_delta_ingest_spark.maintenance.compact import compact
    from kafka_delta_ingest_spark.maintenance.merge import merge_into

    t = Table.create(
        str(tmp_path / "t"), TOKENS_SCHEMA, [],
        properties={"write.sort.order": "n_tok DESC"},
    )
    write_dataframe(spark, t, tokens_df(spark, 300, max_tok=64))
    src = tokens_df(spark, 40, seed=99, max_tok=64).withColumn(
        "doc_id", F.concat(F.lit("m-"), "doc_id")
    )
    merge_into(spark, t, src, key="doc_id")
    for f in t.snapshot().files:
        vals = [
            r["n_tok"]
            for r in spark.read.parquet(
                os.path.join(t.root, f.path)
            ).select("n_tok").collect()
        ]
        assert vals == sorted(vals, reverse=True), f"{f.path} not DESC-sorted"

    before = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in t.snapshot().scan(spark).collect()
    }
    compact(spark, t, target_file_bytes=64 * 1024 * 1024, job_id="c1")
    after = {
        (r["doc_id"], tuple(r["tokens"]))
        for r in t.snapshot().scan(spark).collect()
    }
    assert before == after
