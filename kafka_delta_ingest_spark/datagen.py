"""Deterministic synthetic `tokens` table generator (FIXTURES.md §1).

Schema (BASELINE.json input_hint):
  doc_id : string         unique key
  tokens : array<int32>   payload; per-row invariant = token-array equality
  n_tok  : int32          = size(tokens)
  source : string         low-cardinality, skewed (hot keys for salted join)

Generated *distributed* (spark.range → column functions, no driver-side
rows) and fully deterministic from (seed, n_docs): every column is a pure
function of the row id, so two runs — or a run at local[8] and one at
local[32] — produce identical content. Skew: source follows a Zipf-ish
split where `web` holds ~60% of rows (hot partition for B5 skew tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# hot-first source distribution: web ~60%, books ~20%, code ~12%, rest tail
_SOURCES = ["web", "books", "code", "wiki", "forums", "papers"]
_CUM_PCT = [60, 80, 92, 96, 99, 100]

MAX_TOKENS = 2048
VOCAB = 50_000


def tokens_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    min_tok: int = 1,
    max_tok: int = MAX_TOKENS,
    partitions: int | None = None,
) -> DataFrame:
    """Pure-function-of-id generation: xxhash64 drives every column, so the
    same (seed, n_docs) gives byte-identical content at any parallelism."""
    df = spark.range(0, n_docs, numPartitions=partitions)
    h1 = F.xxhash64(F.col("id"), F.lit(seed))
    h2 = F.xxhash64(F.col("id"), F.lit(seed + 1))
    pct = F.pmod(h1, F.lit(100))
    src = F.lit(_SOURCES[0])
    for s, hi in zip(_SOURCES[1:], _CUM_PCT[:-1]):
        src = F.when(pct >= hi, F.lit(s)).otherwise(src)
    n_tok = (F.pmod(h2, F.lit(max_tok - min_tok + 1)) + F.lit(min_tok)).cast("int")
    # tokens[i] = (id*1315423911 + i*2654435761 + seed) mod VOCAB — cheap,
    # deterministic, order-sensitive (catches any reordering inside arrays)
    base = (F.col("id") * F.lit(1315423911) + F.lit(seed)) % F.lit(2**31)
    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda i: F.pmod(base + i.cast("long") * F.lit(2654435761), F.lit(VOCAB)).cast(
            "int"
        ),
    )
    return df.select(
        F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        src.alias("source"),
    )


def make_small_file_table(
    spark: SparkSession,
    root: str,
    n_docs: int = 5_000,
    n_files: int = 40,
    seed: int = 42,
    partition_by_source: bool = True,
    max_tok: int = 256,
    properties: dict | None = None,
):
    """Create a tokens Table seeded with *many small files* — the
    compaction workload (a fragmented ingest, i.e. what the reference's
    latency-based flushes produce when traffic is slow,
    /root/reference/doc/DESIGN.md:58-76)."""
    from kafka_delta_ingest_spark.table.format import Table, Transaction
    from kafka_delta_ingest_spark.table.writer import stage_dataframe

    pcols = ["source"] if partition_by_source else []
    table = Table.create(root, TOKENS_SCHEMA, pcols, properties=properties)
    df = tokens_df(spark, n_docs, seed=seed, max_tok=max_tok).repartition(n_files)
    snap = table.snapshot()
    _, adds = stage_dataframe(
        spark, table, df, pcols, TOKENS_SCHEMA,
        properties=snap.properties, column_mapping=snap.column_mapping,
    )
    table.commit(Transaction(operation="append", adds=adds))
    return table
