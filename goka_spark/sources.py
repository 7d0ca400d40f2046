"""Topic sources/sinks — datasets standing in for Kafka topics.

goka's only transport is Kafka (topic_manager.go, producer.go,
broker.go).  A Spark engine reads topics from whatever the lake
speaks; each reader returns the standard topic shape (payload columns
+ optional key/ts) ready for ``Processor.run``:

- parquet / json / csv batch datasets,
- streaming file sources (``streaming.runtime.stream_from_dir``),
- a real Kafka source/sink config builder (usable on clusters with
  the kafka connector on the classpath; not exercisable in this
  container, so it only *builds* the reader).

TopicManager parity: ``topic_exists`` / ``ensure_topic`` manage the
dataset location the way goka's TopicManager manages topics.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_topic(spark: SparkSession, path: str, fmt: str = "parquet",
               schema: Optional[str] = None, **options) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", schema is None)
    return reader.format(fmt).options(**options).load(path)


def write_topic_partitioned(df: DataFrame, path: str, by: list[str],
                            fmt: str = "parquet", mode: str = "append") -> None:
    """Hive-partitioned topic layout (``path/col=val/...``) — the lake
    layout that turns a time/type filter into PARTITION PRUNING: the
    scan lists only matching directories, so a day's query over a
    100 TB topic reads a day, not the topic.  Plan-shape-tested."""
    df.write.partitionBy(*by).mode(mode).format(fmt).save(path)


def kafka_source(spark: SparkSession, brokers: list[str], topic: str,
                 starting_offsets: str = "earliest"):
    """Streaming Kafka reader (goka's consumer — requires the
    spark-sql-kafka connector at runtime; config-only here).

    Key/value arrive as binary — decode with a goka_spark Codec's
    ``decode_col`` (goka: Codec.Decode at consume time)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", ",".join(brokers))
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )


def kafka_sink(df: DataFrame, brokers: list[str], topic: str,
               checkpoint: str):
    """Streaming Kafka writer (goka's producer — config-only here)."""
    out = df.select(
        F.col("key").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*[c for c in df.columns if c != "key"]))
         .cast("binary").alias("value"),
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", ",".join(brokers))
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


# Exact column layout Spark's kafka connector produces with
# includeHeaders=true — the wire contract both directions target.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, "
    "headers array<struct<key:string,value:binary>>, "
    "topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def to_kafka_records(df: DataFrame, topic: str, num_partitions: int = 32,
                     key_col: str = "key", ts_col: str = "ts",
                     codec=None, value_col: Optional[str] = None,
                     headers_col: Optional[str] = None) -> DataFrame:
    """Encode a topic DataFrame into the Kafka wire shape
    (KAFKA_WIRE_SCHEMA) — what goka's producer puts on the wire
    (producer.go Emit; message key/value/headers).

    value: ``codec.encode_col(value_col)`` when a Codec is given
    (goka's per-topic codec), else JSON of all payload columns
    (the JsonCodec default).  headers: a ``map<string,binary>``
    column becomes the connector's array-of-struct layout.
    partition: ``pmod(hash(key), n)`` — consistent with every other
    key partitioning in this engine (Spark murmur3; byte-identical
    murmur2 parity with a real Kafka cluster is NOT promised, only
    self-consistency).  offset: per-partition rank by ``ts_col``.
    """
    from pyspark.sql.window import Window

    payload = [c for c in df.columns
               if c not in (key_col, headers_col)]
    if codec is not None:
        if value_col is None or [value_col] != payload:
            payload_cols = [c for c in payload if c != ts_col] \
                if value_col is None else [value_col]
            if len(payload_cols) != 1:
                raise ValueError(
                    f"codec encoding needs exactly one value column, "
                    f"got {payload_cols}; pass value_col")
            value_col = payload_cols[0]
        value = codec.encode_col(F.col(value_col))
    else:
        # ts rides as the kafka record timestamp, not in the payload
        value = F.encode(
            F.to_json(F.struct(*[F.col(c) for c in payload
                                 if c != ts_col])), "UTF-8")
    headers = (
        F.transform(
            F.map_entries(F.col(headers_col)),
            lambda e: F.struct(e["key"].alias("key"),
                               e["value"].alias("value")))
        if headers_col else
        F.lit(None).cast("array<struct<key:string,value:binary>>")
    )
    part = F.pmod(F.hash(F.col(key_col).cast("string")),
                  F.lit(num_partitions))
    rec = df.select(
        F.encode(F.col(key_col).cast("string"), "UTF-8").alias("key"),
        value.alias("value"),
        headers.alias("headers"),
        F.lit(topic).alias("topic"),
        part.cast("int").alias("partition"),
        F.col(ts_col).alias("_ts"),
    )
    win = Window.partitionBy("partition").orderBy("_ts")
    return rec.select(
        "key", "value", "headers", "topic", "partition",
        (F.row_number().over(win) - 1).cast("long").alias("offset"),
        F.col("_ts").cast("timestamp").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


def poll_group_records(spark, member, consumer):
    """One micro-batch of the goka processor transport loop
    (processor.go Run: claim partitions → consume → process →
    commit): fetch every partition the group ASSIGNED this member
    from its committed offset, lift the records into the connector
    wire frame (KAFKA_WIRE_SCHEMA), and return
    ``(frame, next_offsets)``.  After the batch is durably processed,
    pass ``next_offsets`` to ``member.commit_offsets()`` — the
    commit-AFTER-process order that makes the loop at-least-once,
    exactly like goka's offset handling.

    ``member`` is a ``kafka_wire.WireGroupMember`` whose ``join()``
    already ran; ``consumer`` a ``kafka_wire.WireConsumer`` on the
    same cluster.  Control plane only — on a real cluster the bulk
    plane is Spark's Kafka connector (``kafka_source``); this path
    exists for goka-parity processors driven by the wire protocol."""
    import datetime as _dt

    from goka_spark.kafka_wire import OFFSET_NOT_STORED, find_offset_to_load

    rows, next_off = [], {}
    for topic, parts in sorted(member.assignment.items()):
        committed = member.fetch_offsets(topic, sorted(parts))
        for pid in sorted(parts):
            # Kafka committed offsets are next-to-consume (-1 = none);
            # goka's findOffsetToLoad takes the last PROCESSED offset
            # and clamps the resume point into [oldest, hwm] so a
            # committed offset below the retained log start (retention
            # / compaction ran) resumes at oldest instead of dying on
            # OFFSET_OUT_OF_RANGE (partition_table.go:243).
            stored = committed[pid] - 1 if committed[pid] >= 0 \
                else OFFSET_NOT_STORED
            start, hwm = find_offset_to_load(consumer, topic, pid, stored)
            if start >= hwm:
                continue                     # caught up — nothing new
            for r in consumer.fetch(topic, pid, start):
                rows.append((
                    r.key, r.value,
                    [(hk, hv) for hk, hv in r.headers] or None,
                    topic, pid, r.offset,
                    _dt.datetime.fromtimestamp(r.timestamp / 1000,
                                               _dt.timezone.utc),
                    1))
                next_off[(topic, pid)] = r.offset + 1
    return spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA), next_off


def from_kafka_records(df: DataFrame, codec=None,
                       value_schema: Optional[str] = None,
                       value_col: str = "value",
                       ts_col: str = "ts",
                       keep_meta: bool = False) -> DataFrame:
    """Decode Kafka wire records (a real connector read or
    ``to_kafka_records`` output) back into the standard topic shape:
    ``key`` string, payload columns, ``ts``, ``headers``
    map<string,binary>.  The inverse of goka's consumer decode path
    (Codec.Decode at consume time).  ``keep_meta`` retains the
    ``topic``/``partition``/``offset`` columns — goka's
    ``ctx.Topic()/Partition()/Offset()`` accessors (context.go:282,
    286, 294) — for folds that need record provenance."""
    key = F.decode(F.col("key"), "UTF-8").alias("key")
    hdrs = F.when(
        F.col("headers").isNotNull(),
        F.map_from_entries(F.col("headers"))).alias("headers")
    ts = F.col("timestamp").alias(ts_col)
    meta = ["topic", "partition", "offset"] if keep_meta else []
    if codec is not None:
        return df.select(
            key, codec.decode_col(F.col("value")).alias(value_col),
            ts, hdrs, *meta)
    if value_schema is None:
        raise ValueError("pass codec or value_schema")
    payload = F.from_json(F.decode(F.col("value"), "UTF-8"), value_schema)
    out = df.select(key, payload.alias("_p"), ts, hdrs, *meta)
    inner = [f"_p.{f}" for f in out.select("_p.*").columns]
    return out.select("key", *inner, ts_col, "headers", *meta)


def topic_exists(path: str) -> bool:
    """TopicManager.EnsureStreamExists analog for dataset topics."""
    return os.path.exists(path)


def ensure_topic(spark: SparkSession, path: str, schema: str) -> None:
    """Create an empty dataset topic with the given schema if absent."""
    if not topic_exists(path):
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(path)
