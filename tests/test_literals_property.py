"""Hypothesis property tests for functions/literals, the one
driver-to-plan literal core: ``local_table`` and the ``col_lit`` Column
form must return the rows and schema ``spark.createDataFrame`` returns
for the same rows, in one partition, including the empty table (schema
kept, 0 rows), NULLs, bigint and double extremes, and strings that JSON
or SQL quoting could break. A surrogate code point, which no JVM string
can hold, comes back as U+FFFD from all three. ``array_lit`` refuses
strings, whose quote would end its SQL literal."""

from __future__ import annotations

import re
import struct

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import ArrayType

from distgrep_spark.functions.literals import array_lit, col_lit, local_table

DDL = "i bigint, d double, s string"
_BIG = 2**63 - 1

_ROWS = st.lists(
    st.tuples(
        st.none() | st.integers(-_BIG, _BIG),
        st.none() | st.floats(allow_nan=False, allow_infinity=False),
        st.none() | st.text(st.sampled_from("'\\\"É\x00\n😀𝄞") | st.characters()),
    ),
    max_size=8,
)

_SETTINGS = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _bits(rows) -> list[tuple]:
    """Rows with each double as its 8 bytes, so -0.0 != 0.0 and the
    last ulp counts."""
    return [(i, None if d is None else struct.pack(">d", d), s) for i, d, s in map(tuple, rows)]


def _stored(rows) -> list[tuple]:
    """What createDataFrame stores for ``rows``: each surrogate code
    point of a string becomes U+FFFD."""
    return [(i, d, s and re.sub("[\ud800-\udfff]", "\ufffd", s)) for i, d, s in rows]


@_SETTINGS
@given(rows=_ROWS)
@example(rows=[])
@example(
    rows=[
        (_BIG, 5e-324, "'"),
        (-_BIG, 1.7976931348623157e308, "\\"),
        (None, None, None),
        (0, -0.0, "it's É 😀 \\' \"x\""),
    ]
)
@example(rows=[(None, None, "\ud800")])
def test_local_table_and_col_lit_match_create_dataframe(spark, rows):
    ref = spark.createDataFrame(rows, DDL)
    want = _bits(ref.collect())
    assert want == _bits(_stored(rows))

    table = local_table(spark, rows, DDL)
    assert table.schema == ref.schema
    assert table.rdd.getNumPartitions() == 1
    assert _bits(table.collect()) == want

    names = ref.schema.names
    col = spark.range(1).select(
        col_lit([dict(zip(names, r)) for r in rows], ArrayType(ref.schema)).alias("t")
    )
    assert col.schema["t"].dataType == ArrayType(ref.schema)
    assert _bits(col.first()["t"]) == want


def test_array_lit_round_trips_numbers(spark):
    got = spark.sql(
        f"SELECT {array_lit([1, None, -_BIG, _BIG], 'bigint')} AS a,"
        f" {array_lit([[5e-324], [], [-0.0, 1.5]], 'array<double>')} AS b"
    ).first()
    assert got["a"] == [1, None, -_BIG, _BIG]
    assert [[struct.pack(">d", x) for x in xs] for xs in got["b"]] == [
        [struct.pack(">d", x) for x in xs] for xs in [[5e-324], [], [-0.0, 1.5]]
    ]


@pytest.mark.parametrize("values", [["a"], [1, "it's"], [[1.0], ["x"]]])
def test_array_lit_refuses_strings(values):
    with pytest.raises(ValueError):
        array_lit(values, "bigint")
