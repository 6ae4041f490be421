"""Physical-plan lint for the document/embedding queries.

Catalyst silently degrades plans in ways wall-clock tests at toy scale
don't catch: min/max over STRING falls from HashAggregate to
SortAggregate (immutable aggregation buffer — a full sort of every gram
row; measured 51 s vs 6.5 s at sf0.1 before round 2 parsed hex slices to
longs), and a join that loses its equi-condition becomes a cartesian
product. This test asserts the executed-plan string of every
documents/embeddings query stays free of those operators, so the
degradation class can never ship silently again.

Maintenance queries are excluded only because explaining them requires
building a table first; their plans are audited in tools/explain_plans.py.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

# queries over raw parquet tables (no table build needed to plan them)
PLANNED = [
    "exact_dedup_docs",
    "doc_fingerprints",
    "lang_id",
    "token_counts",
    "quality_scores",
    "repetition_scores",
    "stratified_sample",
    "token_histogram",
    "length_percentiles",
    "minhash_near_dups",
    "minhash_near_dups_fast",
    "simhash_near_dups",
    "simhash_near_dups_fast",
    "ngram_jaccard",
    "winnow_fingerprints",
    "ann_topk",
    "ivf_topk",
    "embedding_near_dups",
    "embedding_near_dups_exact",
    "pii_scrub",
    "event_props_rollup",
    "decontam",
    "mix_resample",
    "curation_verdicts",
    "rollup_pricing",
    "asof_join_events",
    "bm25_scores",
    "pivot_event_values",
    # bucket decomposition must keep this a hash equi-join — the whole
    # point is that the naive plan would be BroadcastNestedLoopJoin
    "range_join_value_bands",
    "unigram_freq",
    "bigram_lm",
    "ccnet_buckets",
    "dsir_weights",
    "token_pair_counts",
    # HLL sketch: register build + estimate must stay HashAggregate
    # (bucket/rho are ints, the harmonic sum is a long), and the
    # sketch-to-exact join is an equi-join on the group column
    "hll_distinct",
    "pq_topk",
    "cms_word_counts",
    # KMV/theta + bottom-k sample: two-phase top-k must stay hash
    # aggregated (ObjectHashAggregate for the collect_list shard phase);
    # the estimate joins are equi-joins on the group column
    "kmv_distinct",
    "sampled_quantiles",
    # IVF-PQ: the ONLY join is the broadcast equi-join on the cell id —
    # a lost equi-condition would explode into queries x corpus
    "ivf_pq_topk",
]

# ann/exact pair scoring is an intentional broadcast nested-loop (queries
# or one self-join side broadcast, corpus never shuffles); everything else
# must keep equi-join conditions
NESTED_LOOP_OK = {
    "ann_topk",
    "embedding_near_dups_exact",
    "ann_lsh_selfhit",
    # 1-row corpus-stats broadcast cross join (the two-pass BM25 shape)
    "bm25_scores",
    "unigram_freq",
    "bigram_lm",
    # inherits bigram_lm's 1-row corpus-total broadcast cross join
    "ccnet_buckets",
    # 1-row totals broadcast cross join feeding the bucket log-ratios
    "dsir_weights",
    # PQ ADC scoring broadcasts the (small) query side over the codes
    "pq_topk",
}


@pytest.mark.parametrize("name", PLANNED)
def test_no_degraded_operators(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, f"{name}: SortAggregate in plan"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in NESTED_LOOP_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: non-equi join fell back to nested loop"
        )


def test_decontam_broadcasts_eval_grams(spark):
    """The eval gram set must reach the train-gram join as a broadcast —
    the corpus-side gram rows must never shuffle for the contamination
    check."""
    from kafka_delta_ingest_spark.operators.dedup import decontaminate

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = d.where(F.col("doc_id") % 97 == 0)
    df = decontaminate(d, ev, n=5, materialize=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_span_dedup_plan_stays_hash_aggregated(spark):
    """Winner election (min over the long occurrence code) and the totals
    count must stay HashAggregate; reassembly's collect_list is
    ObjectHashAggregate by design. No cartesian/nested-loop fallback —
    every join is an equi-join on a hash or (doc, pos)."""
    from kafka_delta_ingest_spark.operators.dedup import span_dedup

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = span_dedup(d, k=8, materialize=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ObjectHashAggregate" in plan  # reassembly path


def test_pack_sequences_plan_is_range_partitioned(spark):
    """The prefix sum must ride ONE range exchange (stream order ==
    partition order); the per-partition window must not collapse to a
    single global sort partition."""
    from kafka_delta_ingest_spark.operators.packing import pack_sequences
    from kafka_delta_ingest_spark.operators.text import token_count

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = d.select("doc_id", token_count("text").alias("n_tok"))
    df = pack_sequences(toks, budget=512, materialize=False)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    assert "SortAggregate" not in plan


def test_bloom_build_plan_is_hash_aggregated(spark, tmp_path):
    """The bloom build's two aggregations (bit_or word fold, word-map
    assembly) must stay hash-aggregated with map-side combine; the
    per-file m join must broadcast; no sort aggregation, no cartesian."""
    from kafka_delta_ingest_spark.datagen import make_small_file_table
    from kafka_delta_ingest_spark.maintenance import bloom as bl

    t = make_small_file_table(spark, str(tmp_path / "b"), n_docs=100,
                              n_files=2, max_tok=8,
                              partition_by_source=False)
    snap = t.snapshot()
    # reproduce the build's scan stage without writing the artifact
    import os

    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.table.scan import read_entries

    prefix = os.path.abspath(t.root) + os.sep
    src = read_entries(spark, t.root, snap.files, snap.schema,
                       snap.partition_cols, file_path_col="_file")
    src = src.withColumn("path", F.expr(f"substring(_file, {len(prefix)+1})"))
    mdf = spark.createDataFrame(
        [(f.path, bl.file_m_bits(f.num_records, 10, 1 << 23))
         for f in snap.files],
        "_mpath string, m int",
    )
    src = src.join(F.broadcast(mdf), src["path"] == mdf["_mpath"])
    h1, h2 = bl._hash_pair(F.col("doc_id"), "bloom", "xxhash64")
    pos = F.transform(F.sequence(F.lit(0), F.lit(6)),
                      lambda i: bl._position(h1, h2, i, F.col("m")))
    bits = (
        src.select("path", "m", F.explode(pos).alias("pos"))
        .groupBy("path", "m", (F.col("pos") / 64).cast("int").alias("w"))
        .agg(F.bit_or(bl._bit_mask(F.pmod(F.col("pos"), F.lit(64)))).alias("word"))
    )
    plan = bits._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the per-file m map


def test_bloom_probe_broadcasts_keys(spark, tmp_path):
    """The probe is |candidates| x |batch keys| bit tests: the artifact
    side must stay distributed while the key side broadcasts (a
    BroadcastNestedLoopJoin is the intended shape — the predicate is a
    bit test, not an equi-join)."""
    from pyspark.sql import functions as F

    from kafka_delta_ingest_spark.datagen import make_small_file_table
    from kafka_delta_ingest_spark.maintenance.bloom import build_bloom

    t = make_small_file_table(spark, str(tmp_path / "p"), n_docs=100,
                              n_files=2, max_tok=8,
                              partition_by_source=False)
    build_bloom(spark, t, ["doc_id"], bits_per_key=8)
    # reproduce bloom_prune's joined plan shape
    import os

    from kafka_delta_ingest_spark.maintenance.artifacts import (
        artifact_dir,
        load_index,
    )

    idx = load_index(t, "bloom")
    art = spark.read.parquet(os.path.join(artifact_dir(t, "bloom"), idx["artifact"]))
    keys = spark.createDataFrame([("k1",), ("k2",)], "doc_id string")
    joined = art.crossJoin(F.broadcast(keys.distinct()))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_mix_resample_filter_is_row_local(spark):
    """After the driver-side rate computation, membership is a pure filter:
    no exchange in the surviving plan (scan -> filter -> project only)."""
    df = entrymod.queries()["mix_resample"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
