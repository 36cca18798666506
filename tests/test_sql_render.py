"""The SQL rendering helpers hot-path plans are built with: identifiers
are quoted for any column name, string literals carry any text, and a
rendered type parses back to the exact ``DataType`` it came from."""

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from cfe_39_spark.schema import (
    ALLOWED_WIDENINGS,
    EVENT_SCHEMA_V1,
    SEQUENCE_SCHEMA_V1,
    sql_ident,
    sql_str,
    sql_type,
    storage_schema,
)

AWKWARD = T.StructType([
    T.StructField("a b", T.IntegerType()),
    T.StructField("x`y", T.StringType(), False),
    T.StructField("p.q", T.ArrayType(T.MapType(
        T.StringType(), T.StructType([T.StructField("c:d", T.DecimalType(12, 3))])
    ))),
])


def _types():
    schema_types = [
        f.dataType for f in storage_schema(SEQUENCE_SCHEMA_V1).fields + EVENT_SCHEMA_V1.fields
    ]
    widening_targets = [T._parse_datatype_string(to) for _, to in sorted(ALLOWED_WIDENINGS)]
    nested = [
        AWKWARD,
        T.ArrayType(AWKWARD),
        T.MapType(T.StringType(), AWKWARD),
        T.StructType([T.StructField("in`ner", AWKWARD, False)]),
        T.StructType([]),
    ]
    return schema_types + widening_targets + nested


def test_sql_type_parses_back_to_the_same_type(spark):
    dts = _types()
    got = spark.range(1).select(
        *[F.expr(f"CAST(NULL AS {sql_type(dt)})").alias(f"c{i}") for i, dt in enumerate(dts)]
    ).schema
    bad = [
        (sql_type(dt), f.dataType.simpleString())
        for dt, f in zip(dts, got.fields)
        if f.dataType != dt
    ]
    assert not bad, bad


@pytest.mark.parametrize("dt", [
    T.ArrayType(T.IntegerType(), containsNull=False),
    T.MapType(T.StringType(), T.LongType(), valueContainsNull=False),
    T.StructType([T.StructField("a", T.ArrayType(T.IntegerType(), False))]),
])
def test_sql_type_refuses_types_sql_cannot_spell(dt):
    with pytest.raises(ValueError, match="no SQL spelling"):
        sql_type(dt)


def test_sql_ident_quotes_any_name(spark):
    names = ["doc_id", "a b", "x`y", "``", "p.q", "offset", "select"]
    df = spark.range(1).selectExpr(*[f"id AS {sql_ident(n)}" for n in names])
    assert df.columns == names
    assert df.selectExpr(*map(sql_ident, names)).columns == names


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(values=st.lists(
    st.one_of(st.text(max_size=12), st.text(alphabet="'\\\"\n\tu0123x中😀", max_size=8)),
    min_size=1, max_size=20,
))
def test_sql_str_round_trips_any_text(spark, values):
    """Quotes, backslashes (also before ``u``, digits or ``n``, which the
    parser would otherwise read as escapes), newlines and multi-byte text."""
    fixed = ["", "'", "\\", "\\'", "\\u0041", "\\101", "\\n", "a\nb", "中'😀"]
    values = fixed + values
    row = spark.range(1).selectExpr(
        *[f"{sql_str(v)} AS c{i}" for i, v in enumerate(values)]
    ).first()
    assert list(row) == values
