"""Tri-clause MERGE (ANSI): conditional WHEN MATCHED UPDATE SET / DELETE,
conditioned WHEN NOT MATCHED INSERT, and WHEN NOT MATCHED BY SOURCE with
manifest-scope pruning — the general form of north-rule op B5. Expected
results are derived independently with plain DataFrame ops over the same
inputs, so the single-join-pass plan is checked against naive semantics."""

import pytest
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.datagen import make_small_file_table, tokens_df
from kafka_delta_ingest_spark.maintenance.merge import MergeClause, merge_into


def _rows(df):
    return {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in df.collect()
    }


def _mk(spark, tmp_path, n_docs=400, n_files=6):
    t = make_small_file_table(
        spark, str(tmp_path / "t"), n_docs=n_docs, n_files=n_files, max_tok=16
    )
    return t, t.snapshot().scan(spark)


def test_conditional_update_set_delete_insert(spark, tmp_path):
    t, tgt = _mk(spark, tmp_path)
    before = _rows(tgt)
    did = F.col("doc_id").substr(5, 12).cast("long")

    upd = (
        tokens_df(spark, 400, max_tok=16)
        .where(did % 4 == 0)
        .withColumn("tokens", F.transform("tokens", lambda x: x + F.lit(5)))
    )
    ins = (
        tokens_df(spark, 400, max_tok=16)
        .where(did % 10 == 0)
        .withColumn("doc_id", F.concat(F.lit("new-"), "doc_id"))
    )
    merge_into(
        spark, t, upd.unionByName(ins), key="doc_id",
        when_matched=[
            MergeClause("delete", condition="n_tok <= 4"),
            MergeClause("update", set={"tokens": "src_tokens"}),
        ],
        when_not_matched=MergeClause("insert", condition="src_n_tok > 8"),
    )
    got = _rows(t.snapshot().scan(spark))

    src_upd = {r["doc_id"]: r["tokens"] for r in upd.collect()}
    src_ins = {r["doc_id"]: (r["tokens"], r["n_tok"], r["source"]) for r in ins.collect()}
    exp = {}
    for d, (tok, n, s) in before.items():
        if d in src_upd:
            if n <= 4:
                continue  # matched delete
            exp[d] = (src_upd[d], n, s)  # matched conditional update
        else:
            exp[d] = (tok, n, s)  # no NMBS clauses: kept
    for d, (tok, n, s) in src_ins.items():
        if n > 8:  # insert condition
            exp[d] = (tok, n, s)
    assert got == exp


def test_first_true_clause_wins(spark, tmp_path):
    t, tgt = _mk(spark, tmp_path, n_docs=120, n_files=3)
    before = _rows(tgt)
    src = tokens_df(spark, 120, max_tok=16)  # matches every row

    merge_into(
        spark, t, src, key="doc_id",
        when_matched=[
            MergeClause("update", condition="n_tok > 8",
                        set={"n_tok": "CAST(1000 AS INT)"}),
            MergeClause("update", set={"n_tok": "CAST(2000 AS INT)"}),
        ],
        when_not_matched=False,
    )
    got = _rows(t.snapshot().scan(spark))
    assert set(got) == set(before)
    for d, (tok, n, s) in before.items():
        want = 1000 if n > 8 else 2000
        assert got[d][1] == want, d
        assert got[d][0] == tok  # untouched column preserved


def test_not_matched_by_source_scoped_delete(spark, tmp_path):
    """NMBS delete scoped to one partition: rows of that source with no
    source-side match are deleted; files of other partitions keep BYTE
    identity (never rewritten)."""
    t, tgt = _mk(spark, tmp_path)
    before = _rows(tgt)
    did = F.col("doc_id").substr(5, 12).cast("long")
    src = tokens_df(spark, 400, max_tok=16).where(did % 3 == 0)
    src_keys = {r["doc_id"] for r in src.select("doc_id").collect()}

    pre_files = {
        f.path: f.size for f in t.snapshot().files
        if f.partition_values.get("source") != "src2"
    }
    merge_into(
        spark, t, src, key="doc_id",
        when_matched=[MergeClause("update")],  # unconditional full replace
        when_not_matched=True,
        when_not_matched_by_source=[
            MergeClause("delete", condition="source = 'src2'",
                        scope=[("source", "=", "src2")]),
        ],
    )
    got = _rows(t.snapshot().scan(spark))
    exp = {}
    for d, (tok, n, s) in before.items():
        if d not in src_keys and s == "src2":
            continue  # NMBS delete
        exp[d] = (tok, n, s)  # matched full replace = same content here
    assert got == exp

    # out-of-scope partitions: same physical files still live
    post_files = {
        f.path: f.size for f in t.snapshot().files
        if f.partition_values.get("source") != "src2"
    }
    kept = {p: sz for p, sz in pre_files.items() if p in post_files}
    assert kept == {p: pre_files[p] for p in kept}
    # at least the non-touched NMBS partitions that had no key overlap
    # cannot all have been rewritten
    assert any(p in post_files for p in pre_files) or not pre_files


def test_nmbs_update_set(spark, tmp_path):
    t, tgt = _mk(spark, tmp_path, n_docs=150, n_files=3)
    before = _rows(tgt)
    did = F.col("doc_id").substr(5, 12).cast("long")
    src = tokens_df(spark, 150, max_tok=16).where(did % 2 == 0)
    src_keys = {r["doc_id"] for r in src.select("doc_id").collect()}

    merge_into(
        spark, t, src, key="doc_id",
        when_matched=[],
        when_not_matched=False,
        when_not_matched_by_source=[
            MergeClause("update", set={"tokens": "transform(tokens, x -> x + 9)"}),
        ],
    )
    got = _rows(t.snapshot().scan(spark))
    assert set(got) == set(before)
    for d, (tok, n, s) in before.items():
        if d in src_keys:
            assert got[d][0] == tok, d
        else:
            assert got[d][0] == [x + 9 for x in tok], d


def test_salted_full_outer_equivalence(spark, tmp_path):
    """Forcing hot-key salting on the tri-clause path gives identical
    results to the unsalted plan (the full-outer decomposition is exact)."""
    args = dict(
        key="doc_id",
        when_matched=[
            MergeClause("delete", condition="n_tok <= 3"),
            MergeClause("update", set={"tokens": "src_tokens"}),
        ],
        when_not_matched=True,
        when_not_matched_by_source=[
            MergeClause("delete", condition="source = 'src3'",
                        scope=[("source", "=", "src3")]),
        ],
    )
    did = F.col("doc_id").substr(5, 12).cast("long")
    results = []
    for hot in (None, ["src1", "src2", "src3", "web"]):
        t, _ = _mk(spark, tmp_path / f"h{bool(hot)}", n_docs=300, n_files=4)
        upd = (
            tokens_df(spark, 300, max_tok=16)
            .where(did % 5 == 0)
            .withColumn("tokens", F.transform("tokens", lambda x: x + F.lit(2)))
        )
        ins = (
            tokens_df(spark, 300, max_tok=16)
            .where(did % 7 == 0)
            .withColumn("doc_id", F.concat(F.lit("n-"), "doc_id"))
        )
        # salt by source (low-cardinality hot key scenario): join key is
        # doc_id so salting is exercised via hot doc_ids instead
        hk = (
            [r["doc_id"] for r in upd.select("doc_id").limit(20).collect()]
            if hot
            else None
        )
        merge_into(spark, t, upd.unionByName(ins), hot_keys=hk,
                   salt_factor=4, **args)
        results.append(_rows(t.snapshot().scan(spark)))
    assert results[0] == results[1]


@pytest.mark.parametrize("when_matched", ["update", [MergeClause("update")]],
                         ids=["legacy", "clauses"])
def test_merge_casts_wider_source_types(spark, tmp_path, when_matched):
    """A source whose types are wider than the table's (what
    createDataFrame gives for Python ints) is cast to the table schema on
    write: the committed files keep the table's parquet types, so later
    scans read them."""
    t, _ = _mk(spark, tmp_path, n_docs=40, n_files=2)
    src = spark.createDataFrame(
        [(f"doc-{3:012d}", [7, 8, 9], 3, "web"), ("brand-new", [1], 1, "books")],
        "doc_id string, tokens array<bigint>, n_tok bigint, source string",
    )
    merge_into(spark, t, src, key="doc_id", when_matched=when_matched)
    got = _rows(t.snapshot().scan(spark))
    assert len(got) == 41
    assert got[f"doc-{3:012d}"] == ([7, 8, 9], 3, "web")
    assert got["brand-new"] == ([1], 1, "books")


def test_clause_validation(spark, tmp_path):
    t, _ = _mk(spark, tmp_path, n_docs=30, n_files=2)
    src = tokens_df(spark, 30, max_tok=8)
    with pytest.raises(ValueError, match="update|delete"):
        merge_into(spark, t, src, when_matched=[MergeClause("insert")])
    with pytest.raises(ValueError, match="requires set"):
        merge_into(
            spark, t, src, when_matched=[],
            when_not_matched_by_source=[MergeClause("update")],
        )
    with pytest.raises(ValueError, match="not in schema"):
        merge_into(
            spark, t, src,
            when_matched=[MergeClause("update", set={"nope": "1"})],
        )


def test_legacy_when_matched_typo_is_rejected(spark, tmp_path):
    """A misspelled legacy action must fail like a bad clause action, not
    silently run an upsert."""
    t, _ = _mk(spark, tmp_path, n_docs=30, n_files=2)
    v = t.latest_version()
    with pytest.raises(ValueError, match="update|delete"):
        merge_into(spark, t, tokens_df(spark, 5, max_tok=8), when_matched="upate")
    assert t.latest_version() == v
