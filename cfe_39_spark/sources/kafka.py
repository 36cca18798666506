"""Kafka change-log source adapter (SURVEY.md §0.4: the production swap
for the sandbox's file-source stand-in).

Two pieces, split so the sandbox can test everything except the broker
connection itself:

* :func:`parse_kafka_records` — the payload decoder, a pure DataFrame
  transform from Kafka's wire schema (``key binary, value binary, topic,
  partition, offset, timestamp …``) to the engine's canonical event
  schema.  Fully testable on static DataFrames; this is where every
  production bug would live.
* :func:`kafka_stream` — the readStream builder (``format("kafka")`` +
  options).  Untestable here (no connector jar, no network — documented
  in SURVEY §0.4), but it is ~10 lines of configuration over the tested
  parser, and ``run_stream``'s foreachBatch pipeline downstream of it is
  identical for both sources.

Wire format: the value is a JSON envelope carrying the user columns plus
``op``/``epoch``/``schema_version``/``event_time``; broker metadata
supplies the exactly-once ordering pair — ``partition`` becomes
``src_partition`` and the Kafka per-partition ``offset`` becomes the
engine offset (both monotone per partition by Kafka's contract, which is
exactly the property the C4 idempotency filter needs).  Token arrays ride
as JSON int arrays and are cast to array<int32> — ``from_json`` is a JVM
expression, so decoding stays vectorized, never per-row Python
(BASELINE.json: "no per-row Python").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import SEQUENCE_FIELDS_V1

# JSON envelope: user columns + event metadata the producer stamps.
# event_time travels as epoch micros (integer) — no timezone/format
# ambiguity across producers.
def envelope_schema(user_fields=None) -> T.StructType:
    fields = list(user_fields or SEQUENCE_FIELDS_V1)
    return T.StructType(
        [f for f in fields if f.name != "doc_id"]
        + [
            T.StructField("op", T.StringType(), False),
            T.StructField("epoch", T.LongType(), False),
            T.StructField("schema_version", T.IntegerType(), False),
            T.StructField("event_time_us", T.LongType(), False),
        ]
    )


def parse_kafka_records(records: DataFrame, user_fields=None) -> DataFrame:
    """Kafka wire rows -> canonical change events (EVENT_SCHEMA shape).

    ``records`` must carry the Kafka source columns ``key`` (binary: the
    doc_id, which doubles as the topic partitioning key so one doc's
    events are totally ordered within one partition), ``value`` (binary
    JSON envelope), ``partition`` (int), ``offset`` (long).  Rows whose
    envelope fails to parse are kept with op='X' and surfaced via
    :func:`split_poison` rather than silently dropped — at 10^10 events a
    silent drop is an unfindable correctness hole.
    """
    env = envelope_schema(user_fields)
    parsed = records.select(
        F.col("key").cast("string").alias("doc_id"),
        F.from_json(F.col("value").cast("string"), env).alias("_env"),
        F.col("value").alias("_raw"),
        F.col("partition").cast("int").alias("src_partition"),
        F.col("offset").cast("long").alias("offset"),
    )
    user_cols = [
        F.col(f"_env.{f.name}").alias(f.name)
        for f in (user_fields or SEQUENCE_FIELDS_V1)
        if f.name != "doc_id"
    ]
    return parsed.select(
        "doc_id",
        *user_cols,
        # PERMISSIVE from_json yields an all-null struct (not a null
        # struct) on corrupt payloads — testing _env.isNull() alone lets
        # corrupt rows fall through BOTH filters with op=NULL and vanish.
        # op is mandatory in the envelope, so null op == corrupt: tag 'X'.
        F.when(
            F.col("_env").isNull() | F.col("_env.op").isNull(), F.lit("X")
        )
        .otherwise(F.col("_env.op"))
        .alias("op"),
        "offset",
        "src_partition",
        F.col("_env.epoch").alias("epoch"),
        F.col("_env.schema_version").alias("schema_version"),
        F.timestamp_micros(F.col("_env.event_time_us")).alias("event_time"),
        F.col("_raw").alias("_poison_payload"),
    )


def split_poison(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean events ready for apply_batch, poison rows for a DLQ sink).
    Clean rows drop the raw payload column; poison rows keep it plus the
    (partition, offset) coordinates needed to replay from the broker."""
    clean = events.filter(F.col("op") != "X").drop("_poison_payload")
    poison = events.filter(F.col("op") == "X").select(
        "doc_id", "src_partition", "offset", "_poison_payload"
    )
    return clean, poison


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """readStream builder for the production source (requires the
    spark-sql-kafka connector on the submit classpath; not loadable in the
    sandbox).  Downstream: ``parse_kafka_records`` -> ``split_poison`` ->
    the same foreachBatch ``apply_batch`` sink ``run_stream`` uses, with
    ``known_partitions=range(topic partition count)``, which spares each
    trigger the jobs that list its source partitions."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        # the engine tolerates redelivery (C4 monotonicity filter), so a
        # data-loss-triggering reset should fail loudly, not skip ahead
        .option("failOnDataLoss", "true")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()
