"""Kafka source/sink wiring (S1-S4) — batch and streaming.

Maps the reference's reader/writer adapters onto Spark's Kafka connector:
- S1/S2 extract: the Kafka source already exposes the exact RawEvent
  envelope (key/value/headers/topic/partition/offset/timestamp) —
  internal/adapter/kafka/reader.go:78-92 is a no-op here.
- S3 load: df.write.format("kafka") with acks=all.
- S4 serialize: key = event id bytes, value = StormEvent JSON, headers
  event_type + processed_at RFC3339 (internal/adapter/kafka/writer.go:55-68).

The container has no Kafka broker or spark-sql-kafka jar, so everything
network-facing is import-time-safe and only touches the classpath when
actually invoked; `serialize_events` (pure DataFrame transform) is fully
testable offline and is the part with semantics worth testing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from storm_data_etl_spark.session import per_context

DEFAULT_BATCH_SIZE = 50  # reference BATCH_SIZE default (config.go:43-54)
DEFAULT_FLUSH_INTERVAL = "500 milliseconds"  # BATCH_FLUSH_INTERVAL default


def kafka_batch_source_options(brokers: str, topic: str) -> dict[str, str]:
    """The exact option dict read_kafka_batch passes to the connector —
    exposed separately so the wiring is unit-testable without a broker."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "includeHeaders": "true",
    }


def kafka_stream_source_options(
    brokers: str, topic: str, max_offsets_per_trigger: int | None = None
) -> dict[str, str]:
    """Streaming-source option dict; maxOffsetsPerTrigger is the Spark
    analog of the reference's BATCH_SIZE (reader.go:37-72)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "includeHeaders": "true",
        # resume from the checkpoint when present; first run reads the
        # full topic like the reference's earliest-offset consumer group
        "startingOffsets": "earliest",
        # fail-fast parity with the reference's fatal consumer errors
        "failOnDataLoss": "true",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_sink_options(brokers: str, topic: str) -> dict[str, str]:
    """Producer option dict: acks=all durability (writer.go:35-48) and
    header propagation."""
    return {
        "kafka.bootstrap.servers": brokers,
        "kafka.acks": "all",
        "topic": topic,
        "includeHeaders": "true",
    }


def read_kafka_batch(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """S1 batch mode: full-topic read. includeHeaders exposes the reference's
    header map (as array<struct<key,value>>)."""
    return (
        spark.read.format("kafka")
        .options(**kafka_batch_source_options(brokers, topic))
        .load()
    )


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1 streaming mode: micro-batches bounded by maxOffsetsPerTrigger —
    the Spark analog of BATCH_SIZE; the trigger interval (set on the writer)
    is the analog of BATCH_FLUSH_INTERVAL (reader.go:37-72)."""
    return (
        spark.readStream.format("kafka")
        .options(
            **kafka_stream_source_options(brokers, topic, max_offsets_per_trigger)
        )
        .load()
    )


@per_context
def _serialized_columns() -> list[Column]:
    value = F.to_json(
        F.struct(
            "id",
            "event_type",
            "geo",
            "measurement",
            "event_time",
            "location",
            "comments",
            "source_office",
            "time_bucket",
            "processed_at",
        )
    )
    headers = F.array(
        F.struct(
            F.lit("event_type").alias("key"),
            F.col("event_type").cast("binary").alias("value"),
        ),
        F.struct(
            F.lit("processed_at").alias("key"),
            F.date_format("processed_at", "yyyy-MM-dd'T'HH:mm:ss'Z'")
            .cast("binary")
            .alias("value"),
        ),
    )
    return [
        F.col("id").cast("binary").alias("key"),
        value.cast("binary").alias("value"),
        headers.alias("headers"),
    ]


def serialize_events(enriched: DataFrame) -> DataFrame:
    """S4: enriched events → Kafka message columns.

    key = id bytes; value = StormEvent JSON (RawPayload excluded — it never
    enters the enriched schema, matching its `json:"-"` tag); headers =
    [event_type, processed_at RFC3339] (writer.go:55-68).

    to_json drops NULL fields, matching Go omitempty for severity/distance/
    direction and NULL time_bucket. (Divergence note: Go also omits
    *zero-valued* omitempty fields — e.g. lat/lon 0.0 and '' strings stay
    present here — and serializes zero time_bucket as 0001-01-01; both are
    wire-format cosmetics with no query-surface impact.)
    """
    return enriched.select(*_serialized_columns())


def write_kafka_batch(df: DataFrame, brokers: str, topic: str) -> None:
    """S3: single batched produce, acks=all (writer.go:35-48)."""
    df.write.format("kafka").options(**kafka_sink_options(brokers, topic)).save()
