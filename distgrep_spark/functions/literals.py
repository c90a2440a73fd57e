"""Driver-computed constants: the one place a Python value becomes plan text.

Codebooks, bucket boundaries and offsets, weight tables and picked rows
are computed on the driver and enter the plan the way the reference's
master sends each worker its pattern and chunk: as ONE JSON string
literal parsed by ``from_json``. Catalyst constant-folds the
deterministic ``from_json(literal)`` into a plain literal (check with
``.explain()``), so at run time it costs what any constant costs. The
other two spellings are driver-expensive:

- element-wise ``F.lit`` of a list is one py4j round-trip per element:
  ~2.4 s of plan build per 4096 floats (measured);
- ``spark.createDataFrame`` of Python rows is a Python-pickled RDD, so
  every evaluation launches a Python worker per task (measured ~0.6 s
  per stage on the Bradley-Terry kernel). ``inline`` over a one-row
  ``range`` is a pure-JVM local relation instead.

A registry lint keeps ``json.dumps``, ``createDataFrame`` and the
one-row ``range`` in this module.
"""

from __future__ import annotations

import json
import re
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructType


# A surrogate code point in a Python string is no character: a JVM
# string would carry it as '?', createDataFrame stores U+FFFD.
_SURROGATE = re.compile("[\ud800-\udfff]")


def _has_str(v: Any) -> bool:
    return isinstance(v, str) or (isinstance(v, (list, tuple)) and any(map(_has_str, v)))


def array_lit(values: list[Any], sql_type: str) -> str:
    """SQL fragment for the constant ``array<sql_type>`` of ``values``
    (``sql_type`` may itself be an array type for nested lists).

    ``None`` elements read back as SQL NULL (prefix-max uses it for "no
    prior bucket"). Elements must be numeric: a string's quote would end
    the SQL string literal, so a ``str`` raises ``ValueError``; ship
    strings with ``col_lit``."""
    if _has_str(values):
        raise ValueError("array_lit takes numbers only; use col_lit for strings")
    return f"from_json('{json.dumps(values)}', 'array<{sql_type}>')"


def col_lit(value: Any, ddl_type: str | DataType) -> Column:
    """``value`` as one constant Column of type ``ddl_type``: nested
    lists for arrays, dicts for maps (string keys) and structs."""
    text = json.dumps(value, ensure_ascii=False)
    return F.from_json(F.lit(_SURROGATE.sub("\ufffd", text)), ddl_type)


def local_table(spark: SparkSession, rows: Sequence[Sequence[Any]], ddl: str) -> DataFrame:
    """One-partition table of ``rows`` (tuples in ``ddl`` field order)
    with schema ``ddl`` (``"name type, ..."``): the rows and schema of
    ``spark.createDataFrame(rows, ddl)``, 0 rows for ``[]``."""
    schema = StructType.fromDDL(ddl)
    data = [dict(zip(schema.names, r)) for r in rows]
    return spark.range(0, 1, 1, 1).select(F.inline(col_lit(data, ArrayType(schema))))
