"""Write path: stage a DataFrame into the table's data dir and build Add
entries. The analogue of DataWriter::write + write_parquet_files
(/root/reference/src/writer.rs:389-481), with Spark doing the
divide-by-partition-values in the shuffle (src/writer.rs:544-574) and the
commit made visible only by the log entry (no renames)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_delta_ingest_spark.table.format import FileEntry, Table, Transaction
from kafka_delta_ingest_spark.table.stats import compute_add_entries


def parquet_write_options(properties: dict | None) -> dict[str, str]:
    """Map ``write.parquet.*`` table properties to Spark parquet writer
    options — honored by EVERY data write path (ingest append, compaction,
    clustering, MERGE, CoW DML all stage through ``write_staged``):

    - ``write.parquet.compression`` → ``compression`` (zstd/snappy/...);
      at 10^12 tokens the codec choice is a 2-3× disk/network multiplier.
    - ``write.parquet.bloom.filter.columns`` (csv) →
      ``parquet.bloom.filter.enabled#<col>=true`` per column; the parquet
      reader consults footers transparently, making point lookups on
      high-cardinality keys (doc_id) skip row groups that min/max can't.
    - ``write.parquet.bloom.filter.expected.ndv`` →
      ``parquet.bloom.filter.expected.ndv#<col>`` (sizes the bitset).
    - ``write.parquet.block.size-bytes`` → ``parquet.block.size``.
    """
    props = properties or {}
    out: dict[str, str] = {}
    comp = props.get("write.parquet.compression")
    if comp:
        out["compression"] = str(comp)
    cols = [
        c.strip()
        for c in str(props.get("write.parquet.bloom.filter.columns", "")).split(",")
        if c.strip()
    ]
    ndv = props.get("write.parquet.bloom.filter.expected.ndv")
    for c in cols:
        out[f"parquet.bloom.filter.enabled#{c}"] = "true"
        if ndv:
            out[f"parquet.bloom.filter.expected.ndv#{c}"] = str(ndv)
    block = props.get("write.parquet.block.size-bytes")
    if block:
        out["parquet.block.size"] = str(block)
    return out


def apply_write_options(writer, properties: dict | None):
    for k, v in parquet_write_options(properties).items():
        writer = writer.option(k, v)
    return writer


def sort_order(properties: dict | None) -> list[tuple[str, bool]]:
    """Parse the ``write.sort.order`` table property — Iceberg-style
    write-time sort order: ``"col [ASC|DESC], col2 [ASC|DESC], ..."`` →
    ``[(column, ascending)]``. Applies to every new-row write
    (``write_staged`` without ``bin_col``: append, ingest, MERGE, CoW
    DML); pre-binned rewrites (compaction, Z-order / Hilbert OPTIMIZE)
    impose their own clustering order instead, exactly as Iceberg's
    rewrite strategies supersede the write order."""
    raw = str((properties or {}).get("write.sort.order", "") or "")
    out: list[tuple[str, bool]] = []
    for part in raw.split(","):
        p = part.strip()
        if not p:
            continue
        toks = p.split()
        if len(toks) > 2 or (
            len(toks) == 2 and toks[1].upper() not in ("ASC", "DESC")
        ):
            raise ValueError(f"bad write.sort.order term: {p!r}")
        out.append((toks[0], len(toks) == 1 or toks[1].upper() == "ASC"))
    return out


def apply_sort_order(
    df: DataFrame, properties: dict | None, pkeys: list[str]
) -> DataFrame:
    """Sort within write tasks by (partition keys, sort order): file
    contents come out ordered (narrow per-file min/max ⇒ range pruning on
    the sort columns without any maintenance pass), and prefixing the
    partition keys satisfies the dynamic-partition writer's required
    ordering so Spark does NOT insert a second sort on top — one
    within-task sort total, no extra shuffle."""
    order = sort_order(properties)
    if not order:
        return df
    cols = [F.col(k) for k in pkeys] + [
        F.col(c).asc() if asc else F.col(c).desc() for c, asc in order
    ]
    return df.sortWithinPartitions(*cols)


def table_constraints(properties: dict | None) -> dict[str, str]:
    """``constraint.<name>`` table properties -> {name: boolean SQL expr}
    (Delta CHECK-constraint semantics: every written row must satisfy
    every expression)."""
    return {
        k[len("constraint."):]: str(v)
        for k, v in (properties or {}).items()
        if k.startswith("constraint.") and v
    }


def apply_constraints(df: DataFrame, properties: dict | None) -> DataFrame:
    """Enforce CHECK constraints on rows flowing into a write — inline in
    the write pipeline, NOT a separate validation pass: each constraint
    becomes a ``assert_true`` guard inside a filter, evaluated per row as
    the scan→write stream runs (zero extra jobs, zero extra reads; a
    violation fails the WRITE, so nothing is ever committed — staging +
    atomic log commit make the failed write invisible). NULL-handling
    matches Delta: a NULL constraint result counts as a violation
    (use explicit IS NULL disjuncts to permit nulls)."""
    for name, expr in sorted(table_constraints(properties).items()):
        cond = F.coalesce(F.expr(expr), F.lit(False))
        df = df.where(
            F.coalesce(
                F.assert_true(
                    cond, F.lit(f"CHECK constraint {name} violated: {expr}")
                ),
                F.lit(True),
            )
        )
    return df


def _enforce_schema(df: DataFrame, schema, extra: list[str]) -> DataFrame:
    """Schema-on-write enforcement: project + cast to the table schema
    (plus the ``extra`` columns, uncast), failing fast on missing columns
    (ref record_batch_from_json schema mismatch error,
    src/writer.rs:203-208)."""
    cols = []
    have = dict((f.name, f) for f in df.schema.fields)
    for f in schema.fields:
        if f.name not in have:
            raise ValueError(f"missing column for table schema: {f.name}")
        cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    return df.select(*cols, *extra)


def to_physical(df: DataFrame, column_mapping: "dict[str, str] | None") -> DataFrame:
    """Rename logical columns to their immutable PHYSICAL parquet names
    just before a data write (Delta column-mapping semantics; inverse of
    the alias in scan.py read_files). Identity for unrenamed tables."""
    for logical, physical in (column_mapping or {}).items():
        if physical != logical:
            df = df.withColumnRenamed(logical, physical)
    return df


def write_staged(
    table: Table,
    df: DataFrame,
    partition_cols: list[str],
    schema,
    properties: dict | None,
    column_mapping: "dict[str, str] | None",
    layout: str | None = None,
    bin_col: str | None = None,
) -> tuple[str, list[str]]:
    """Write ``df`` to a fresh per-commit data dir; return (dir, the
    partition keys written). The one data-write sequence of the engine:
    schema cast, derived partition columns, CHECK constraints,
    ``write.sort.order``, optional rebalance, physical column names,
    ``write.parquet.*`` options, ``partitionBy``.

    ``partition_cols`` is the partition SPEC: identity column names
    and/or transforms (``bucket(16,doc_id)`` — table/transforms.py).
    Transform values are computed here (pure Catalyst exprs) and become
    path-only columns via partitionBy.

    ``bin_col``: a synthetic bin column the caller has already shuffled
    on (compaction's ``_bin``, clustering's ``_gbin``: one output file
    per bin); it is appended to ``partitionBy`` and the caller pops it
    from the Add entries. Such a pre-binned write is a content-preserving
    rewrite of rows already checked on their way in, so CHECK constraints
    and the write sort order apply only to new-row writes
    (``bin_col=None``).

    ``layout="rebalance"`` inserts an AQE REBALANCE-by-partition-keys
    shuffle before the write (guide §6: coalesce on write): without it a
    partitioned append fans out to tasks × partition-values files — the
    sf0.1 ingest batch (100k rows, 32 tasks, 30 dates) wrote 960 ~3 KB
    files, and every downstream manifest/stats/scan pays O(files).
    Rebalance hash-clusters rows by partition value and lets AQE both
    merge small values into one task and split a hot value by advisory
    size, so it stays skew-safe at scale. Opt-in because the input's own
    task layout is sometimes the point (fragmented-table fixtures), and a
    pre-binned rewrite already shuffled on its bin."""
    from kafka_delta_ingest_spark.table import transforms

    absd, _rel = table.new_data_dir()
    extra = [bin_col] if bin_col else []
    out = _enforce_schema(df, schema, extra)
    if not bin_col:  # new rows only, see above
        out = apply_constraints(out, properties)
    pkeys = transforms.keys(partition_cols)
    for k, expr in transforms.derived_exprs(partition_cols, schema).items():
        out = out.withColumn(k, expr)
    if layout == "rebalance" and pkeys:
        out = out.hint("rebalance", *pkeys)
    if not bin_col:
        out = apply_sort_order(out, properties, pkeys)
    keys = pkeys + extra
    w = apply_write_options(
        to_physical(out, column_mapping).write.mode("overwrite"), properties
    )
    if keys:
        w = w.partitionBy(*keys)
    w.parquet(absd)
    return absd, keys


def stage_dataframe(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    partition_cols: list[str],
    schema,
    properties: dict | None = None,
    column_mapping: "dict[str, str] | None" = None,
    layout: str | None = None,
) -> tuple[str, list[FileEntry]]:
    """Write new rows with ``write_staged`` and build their Add entries
    from the footers; return (dir, adds). ``properties`` /
    ``column_mapping``: pass both from the snapshot the caller holds —
    either one None costs a log replay to load them."""
    if properties is None or column_mapping is None:
        snap = table.snapshot()
        if properties is None:
            properties = snap.properties
        if column_mapping is None:
            column_mapping = snap.column_mapping
    absd, keys = write_staged(table, df, partition_cols, schema, properties,
                              column_mapping, layout=layout)
    adds = compute_add_entries(spark, table.root, absd, schema, keys,
                               column_mapping=column_mapping)
    return absd, adds


def write_dataframe(
    spark: SparkSession,
    table: Table,
    df: DataFrame,
    operation: str = "append",
    removes: list[str] | None = None,
    app_txns: dict[str, int] | None = None,
    data_change: bool = True,
) -> int:
    """Stage + commit in one step (the DataWriter::insert_all analogue,
    src/writer.rs:578-600). Returns the committed version."""
    snap = table.snapshot()
    _, adds = stage_dataframe(
        spark, table, df, snap.partition_cols, snap.schema,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )
    txn = Transaction(
        operation=operation,
        adds=adds,
        removes=removes or [],
        app_txns=app_txns or {},
        data_change=data_change,
    )
    return table.commit(txn, expected_schema=snap.schema)
