"""Generic readers: text lines, csv, json.

``read_lines`` is the scale-correct replacement for the reference's
whole-file read (reference client.go:56-60 reads the entire file into one
string; a 100 TB input would be split into ~`maxPartitionBytes` partitions
here instead, with no driver-side materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """One row per line, schema ``value: string``.

    Mirrors the reference's line split (server.go:41-49, bufio.ScanLines:
    strips ``\\n`` / ``\\r\\n``) — Spark's text source has the same
    delimiter semantics, but streams and partitions the input.
    """
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    *,
    sep: str = ",",
) -> DataFrame:
    """CSV with a header row and an explicit schema — inference would
    cost a second scan."""
    return spark.read.csv(path, schema=schema, header=True, sep=sep)


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """JSON-lines with an explicit schema (no inference scan)."""
    return spark.read.json(path, schema=schema)
