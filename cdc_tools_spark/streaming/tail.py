"""Structured Streaming tail: continuous binlog → lake merge.

The Spark-native form of the reference's consumer/writer thread pair
(KeyedJsonConsumer.cs:88-144 + RedshiftWriter.cs:28-63): ``readStream`` over
the append-only binlog directory (the sandbox stand-in for the Kafka source
S9 — swap for ``format("kafka")`` + ``from_json``/``from_avro`` on a real
bus), then ``foreachBatch``: compact → newer-wins MERGE → commit marker →
MOR governor, the one apply step every ingest driver shares
(``pipeline._apply_epoch``).

The hand-rolled windowing (WindowMs OR WindowItems, RedshiftWriter.cs:52-61)
becomes the trigger + ``maxFilesPerTrigger``; the bounded-buffer backpressure
becomes the trigger's batch sizing; per-key apply order is guaranteed not by
partition ordering but by the **ordered merge** (the lake table stores
``(lsn, seqval)`` per row and keeps the newer tuple), so late or reordered
micro-batches converge to the same final state as an in-order replay.

Exactly-once: Spark's streaming checkpoint gives each source file to exactly
one micro-batch; our merge is idempotent per batch and the commit log keyed
by ``batch_id`` records metrics — a replayed ``foreachBatch`` (after driver
crash) re-merges harmlessly, same argument as the batch pipeline.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cdc_tools_spark.lake.parquet_merge import META_COLS
from cdc_tools_spark.pipeline import _MICRO_BATCH, TableLayout, _apply_epoch, _open_table
from cdc_tools_spark.sources.binlog import BINLOG_SCHEMA
from cdc_tools_spark.state.commit_log import CommitLog

_PAYLOAD = T.StructType([f for f in BINLOG_SCHEMA.fields if f.name not in META_COLS])


@dataclass
class StreamConfig(TableLayout):
    """Layout fields (see :class:`TableLayout`) plus the source and trigger.
    ``merge_mode="mor"`` appends O(batch) deltas per micro-batch
    (high-frequency tails); the ``mor_max_deltas`` governor keeps read
    amplification bounded on long streams."""

    max_files_per_trigger: int = 8
    processing_time: str = "0 seconds"  # as-fast-as-possible micro-batches
    # S9 source selection for stream_tail_topic: "file" tails a FileTopic
    # directory (the in-sandbox bus); "kafka" builds the real
    # readStream.format("kafka") reader (needs the spark-sql-kafka package
    # on the cluster) — decode and merge plans are identical either way.
    source: str = "file"
    bootstrap_servers: str | None = None
    topic: str | None = None
    starting_offsets: str = "earliest"
    max_offsets_per_trigger: int | None = None  # Kafka's backpressure knob


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Options for ``spark.readStream.format("kafka")`` matching the
    reference consumer's subscribe/poll configuration
    (KeyedJsonConsumer.cs:88-144: subscribe by topic, resume from committed
    or earliest). ``maxOffsetsPerTrigger`` is the micro-batch sizing /
    backpressure bound (the file path's ``maxFilesPerTrigger`` twin)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        # exactly-once lives in the idempotent merge + commit log, not in
        # Kafka's (at-least-once) delivery — never fail the query on GC'd
        # source offsets
        "failOnDataLoss": "false",
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def decode_kafka_batch(batch: DataFrame, payload_schema) -> DataFrame:
    """Kafka wire records → changelog rows: cast the binary key/value to
    string (keyed-JSON codec) and ``from_json``-decode the envelope — the
    exact decode plan the FileTopic path runs, applied to Kafka's
    ``(key binary, value binary, topic, partition, offset, ...)`` shape."""
    from cdc_tools_spark.bus.json_codec import deserialize_changelog

    msgs = batch.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )
    return deserialize_changelog(msgs, payload_schema)


def _start(
    spark: SparkSession,
    stream: DataFrame,
    decode: Callable[[DataFrame], DataFrame],
    table_root: str,
    state_root: str,
    checkpoint_dir: str,
    execution_id: str,
    config: StreamConfig,
) -> StreamingQuery:
    """The one ``writeStream`` start path: each micro-batch is decoded,
    then applied by the shared epoch-apply step (merge → commit marker keyed
    by ``batch_id`` → MOR governor). The table is ordered even in COW mode,
    so late or reordered micro-batches converge."""
    table = _open_table(spark, table_root, _PAYLOAD, config, ordered=True)
    commit_log = CommitLog(state_root, execution_id)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        _apply_epoch(table, commit_log, config, _MICRO_BATCH, batch_id, decode(batch))

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=config.processing_time)
        .start()
    )


def stream_tail(
    spark: SparkSession,
    log_dir: str,
    table_root: str,
    state_root: str,
    checkpoint_dir: str,
    execution_id: str = "stream-0",
    config: StreamConfig | None = None,
) -> StreamingQuery:
    """Start the continuous tail; returns the StreamingQuery handle."""
    config = config or StreamConfig()
    stream = (
        spark.readStream.schema(BINLOG_SCHEMA)
        .option("maxFilesPerTrigger", config.max_files_per_trigger)
        .parquet(log_dir)
    )
    return _start(
        spark, stream, lambda batch: batch, table_root, state_root,
        checkpoint_dir, execution_id, config,
    )


def stream_tail_topic(
    spark: SparkSession,
    topic_root: str,
    table_root: str,
    state_root: str,
    checkpoint_dir: str,
    execution_id: str = "stream-topic-0",
    config: StreamConfig | None = None,
) -> StreamingQuery:
    """The S9 Kafka-shape source: tail a keyed-JSON message topic and
    ``from_json``-decode each micro-batch back into changelog rows before
    the ordered merge — the KeyedJsonConsumer.cs:88-152
    consume→deserialize→buffer path.

    ``config.source`` picks the bus: ``"file"`` tails a
    :class:`cdc_tools_spark.bus.FileTopic` directory (the in-sandbox bus,
    ``topic_root``); ``"kafka"`` builds the real
    ``readStream.format("kafka")`` reader from
    ``config.bootstrap_servers``/``config.topic`` (requires the
    spark-sql-kafka package on the cluster). Decode and merge plans are
    identical — only the source node differs."""
    from cdc_tools_spark.bus.file_topic import TOPIC_SCHEMA
    from cdc_tools_spark.bus.json_codec import deserialize_changelog

    config = config or StreamConfig()
    if config.source == "kafka":
        if not (config.bootstrap_servers and config.topic):
            raise ValueError(
                "source='kafka' requires StreamConfig.bootstrap_servers and .topic"
            )
        stream = (
            spark.readStream.format("kafka")
            .options(
                **kafka_source_options(
                    config.bootstrap_servers,
                    config.topic,
                    config.starting_offsets,
                    config.max_offsets_per_trigger,
                )
            )
            .load()
        )
        decode = decode_kafka_batch
    elif config.source == "file":
        stream = (
            spark.readStream.schema(TOPIC_SCHEMA)
            .option("maxFilesPerTrigger", config.max_files_per_trigger)
            .parquet(topic_root)
        )
        decode = deserialize_changelog
    else:
        raise ValueError(f"unknown stream source: {config.source!r}")
    return _start(
        spark, stream, lambda batch: decode(batch, _PAYLOAD), table_root,
        state_root, checkpoint_dir, execution_id, config,
    )
