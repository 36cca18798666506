"""Canonical schemas for the CDC engine (SURVEY.md §1.2, FIXTURES.md F1/F2).

The target table holds pre-tokenized training sequences
(BASELINE.json:15 input_hint): ``doc_id:string, tokens:array<int32>,
n_tok:int32, source:string``.  int32 for ``tokens`` is load-bearing — the
per-row invariant versus the reference is bit-for-bit token-array equality,
so nothing in the pipeline may silently widen it (SURVEY.md §7 hard part #4).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- user-facing sequence columns (schema version 1) -----------------------
SEQUENCE_FIELDS_V1 = [
    T.StructField("doc_id", T.StringType(), False),
    # containsNull=True: parquet round-trips always report nullable elements,
    # and Spark 4 refuses containsNull-narrowing casts.  The load-bearing part
    # of the invariant is the int32 *element type*.
    T.StructField("tokens", T.ArrayType(T.IntegerType(), containsNull=True), True),
    T.StructField("n_tok", T.IntegerType(), True),
    T.StructField("source", T.StringType(), True),
]
SEQUENCE_SCHEMA_V1 = T.StructType(SEQUENCE_FIELDS_V1)

# --- CDC envelope columns (FIXTURES.md F2) ----------------------------------
CDC_META_FIELDS = [
    T.StructField("op", T.StringType(), False),  # 'I' | 'U' | 'D'
    T.StructField("offset", T.LongType(), False),  # strictly increasing per src_partition
    T.StructField("src_partition", T.IntegerType(), False),
    T.StructField("epoch", T.LongType(), False),
    T.StructField("schema_version", T.IntegerType(), False),
    T.StructField("event_time", T.TimestampType(), False),
]
CDC_META_COLS = [f.name for f in CDC_META_FIELDS]

EVENT_SCHEMA_V1 = T.StructType(SEQUENCE_FIELDS_V1 + CDC_META_FIELDS)

# --- engine bookkeeping columns stored in the table, hidden from reads ------
BOOKKEEPING_FIELDS = [
    T.StructField("_last_offset", T.LongType(), False),
    T.StructField("_last_event_time", T.TimestampType(), False),
    T.StructField("_last_epoch", T.LongType(), True),
    # Tertiary LWW tiebreak, PERSISTED: offsets are only monotone per
    # source partition, so two different events can tie on (event_time,
    # offset) across partitions.  The write path breaks that tie by
    # src_partition; storing the winner's src_partition lets read-time
    # resolution (lww_resolve) apply the SAME tertiary rule across batch
    # boundaries — without it, the final state would depend on how the
    # event log was sliced into batches.
    T.StructField("_last_src_partition", T.IntegerType(), True),
    T.StructField("_deleted", T.BooleanType(), False),
]
BOOKKEEPING_COLS = [f.name for f in BOOKKEEPING_FIELDS]

# Types the schema-evolution applier (C7) is allowed to widen, expressed as
# (from, to) Spark simpleString pairs.  ``tokens`` is exempt by construction:
# widening never touches it (FIXTURES.md F4).
ALLOWED_WIDENINGS = {
    ("int", "bigint"),
    ("float", "double"),
    ("int", "double"),
    ("date", "timestamp"),
}


def storage_schema(user_schema: T.StructType) -> T.StructType:
    """User schema + bookkeeping columns = what data files actually hold."""
    return T.StructType(list(user_schema.fields) + BOOKKEEPING_FIELDS)


# --- SQL rendering -----------------------------------------------------------
# Hot-path plans are built from SQL expression strings (``selectExpr``,
# ``F.expr``): each PySpark Column call is a py4j round trip or more, and a
# per-column Column plan costs more driver time than the action it feeds.
# Every name and type spliced into such a string goes through the helpers
# below.
def sql_ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: backticks, embedded backticks
    doubled — safe for any column name."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal: single quotes, with ``\\``
    and ``'`` backslash-escaped — safe for any string (the parser's default
    escape processing turns both back into the original characters)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_type(dt: T.DataType) -> str:
    """``dt`` as Spark SQL type text that parses back to the same
    ``DataType`` (``CAST(x AS <text>)``).  Unlike ``simpleString()`` it
    quotes struct field names and keeps NOT NULL fields.  SQL has no
    spelling for arrays of non-null elements or maps of non-null values,
    so those raise instead of silently changing the type."""
    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"{sql_ident(f.name)}: {sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dt.fields
        )
        return f"STRUCT<{fields}>"
    if isinstance(dt, T.ArrayType):
        if not dt.containsNull:
            raise ValueError(f"no SQL spelling for {dt!r} (non-null elements)")
        return f"ARRAY<{sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        if not dt.valueContainsNull:
            raise ValueError(f"no SQL spelling for {dt!r} (non-null values)")
        return f"MAP<{sql_type(dt.keyType)}, {sql_type(dt.valueType)}>"
    return dt.simpleString()


def sql_cast(name: str | None, from_type: T.DataType | None, to_type: T.DataType) -> str:
    """SQL for column ``name`` (of type ``from_type``) read as ``to_type``:
    a bare reference when the types already match, a CAST otherwise, and
    a typed NULL when ``name`` is None (no such column)."""
    if name is None:
        return f"CAST(NULL AS {sql_type(to_type)})"
    if from_type == to_type:
        return sql_ident(name)
    return f"CAST({sql_ident(name)} AS {sql_type(to_type)})"
