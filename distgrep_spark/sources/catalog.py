"""Fixture-table catalog (see TESTDATA.md / FIXTURES.md).

Parquet is self-describing, so no schema inference cost; we still pin the
expected schemas here so tests can assert drift and so readers of this file
see the data model without opening parquet footers.

At 100 TB these tables would be directory-partitioned (e.g. orders by
order-month, events by date/hour); ``load_table`` takes any path Spark can
scan, so the same call works for a single file fixture or a partitioned
lake layout — partition pruning then comes from Catalyst for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Table name -> column names (order as written by the driver generator).
TABLES: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}

# Small dimension tables that should always be broadcast when joined against
# a fact table (region/nation are bounded-cardinality even at 100 TB).
BROADCAST_DIMS = {"region", "nation", "supplier", "part", "customer"}

# Below this size a parquet file is certainly one scan split (default
# maxPartitionBytes is 128 MB); spreading costs one tiny shuffle.
_SINGLE_SPLIT_BYTES = 32 << 20


def _spread_single_split(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Repartition a sub-split-sized table to cores-wide parallelism.

    Parquet cannot split below row-group granularity, so a small file is
    ONE scan task no matter how many cores exist — every CPU-bound stage
    before the first shuffle then serializes on one core (the whole
    sf0.1 fixture set is single-row-group). The size guard makes this a
    strict no-op at scale: a real 100 TB table's files exceed the split
    size, so production plans never pay the extra exchange.

    This is deliberately OPT-IN (``load_table(..., spread=True)``), not
    the default: an A/B over 16 representative queries at sf0.1 measured
    blanket spreading at **37.7 s -> 55.8 s (+48%)** — the extra
    exchange + stage scheduling costs more than one-core compute saves
    for scan-light queries, and only operators with real per-row CPU
    (vector math, sketch hashing) win. Those opt in at the OPERATOR
    level where the cost model is known (e.g. dedup_embedding_cosine's
    probe side, ann_lsh_topk's corpus_partitions)."""
    try:
        if os.path.getsize(path) > _SINGLE_SPLIT_BYTES:
            return df
    except OSError:
        return df
    cores = spark.sparkContext.defaultParallelism
    return df.repartition(cores) if cores > 1 else df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread: bool = False
) -> DataFrame:
    """Load one fixture table from ``sf_dir`` as a DataFrame.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright; we read it as a long
    (``nanosAsLong``) and rebuild a micros timestamp with integer
    arithmetic (``div 1000`` — a double division would lose precision:
    2024 epoch-nanos ≈ 1.7e18 > 2^53). DuckDB truncates nanos→micros the
    same way, so oracle comparisons stay exact.

    ``spread=True`` applies :func:`_spread_single_split` so a
    single-row-group fixture doesn't serialize CPU-bound downstream
    stages on one core (see that docstring for why it's opt-in).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    return _spread_single_split(spark, df, path) if spread else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register fixture tables as temp views so ``spark.sql`` can use them."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
