"""Emitter — append key/value records to a stream dataset.

goka's Emitter (emitter.go:28-124) is a producer client: ``Emit``
buffers a message, ``Finish`` waits for in-flight sends, and no cluster
job runs per produce.  Spark-first there are two modes:

- ``emit_dataframe(df)`` — the scale path: a distributed Spark write
  appending a whole DataFrame to the topic dataset.
- ``emit(key, value)`` / ``emit_sync`` — goka-API parity for driver
  code: buffered locally, flushed on ``flush()`` / ``finish()``
  (mirrors Emitter.Finish waiting for in-flight promises).  A flush
  runs no Spark job: the driver builds ONE parquet file from the buffer
  with Arrow and publishes it by rename (``hadoop_fs.publish_bytes``),
  so a file-source stream over the topic sees a flush whole or not at
  all — one flush, one micro-batch.
"""

from __future__ import annotations

import uuid
from typing import Any, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.conversion import LocalDataToArrowConversion

from goka_spark import hadoop_fs
from goka_spark.codecs import Codec


class EmitterAlreadyClosedError(RuntimeError):
    """errors.go:11 ErrEmitterAlreadyClosed: Emit after Finish."""


class Emitter:
    def __init__(self, spark: SparkSession, topic_path: str,
                 codec: Optional[Codec] = None, value_col: str = "value",
                 default_headers: Optional[dict[str, bytes]] = None):
        self.spark = spark
        self.topic_path = topic_path
        self.codec = codec
        self.value_col = value_col
        # goka WithEmitterDefaultHeaders (options.go:625): merged under
        # per-emit headers (per-emit keys win, headers.go Merged)
        self.default_headers = default_headers
        self._buffer: list[tuple[str, Any, Optional[dict[str, bytes]]]] = []
        self._closed = False

    def emit(self, key: Any, value: Any,
             headers: Optional[dict[str, bytes]] = None) -> None:
        """Buffered single-record emit (Emitter.Emit, emitter.go:93;
        EmitWithHeaders, emitter.go:60 — headers are raw bytes).
        Raises EmitterAlreadyClosedError after ``finish()``
        (emitter.go:79 rejects new emits once finished)."""
        if self._closed:
            raise EmitterAlreadyClosedError("emitter already closed")
        if self.codec is not None:
            # parity with goka: value must round-trip through the codec
            value = self.codec.decode(self.codec.encode(value))
        if self.default_headers:
            headers = {**self.default_headers, **(headers or {})}
        self._buffer.append((str(key), value, headers))

    def emit_sync(self, key: Any, value: Any,
                  headers: Optional[dict[str, bytes]] = None) -> None:
        """Emitter.EmitSync (emitter.go:119): emit + flush
        immediately.  Like the Go EmitSync, does NOT close — only
        ``finish()`` does."""
        self.emit(key, value, headers)
        self.flush()

    def emit_dataframe(self, df: DataFrame, key: Optional[str] = None,
                       mode: str = "append") -> None:
        """Bulk append — the distributed path."""
        if key is not None:
            df = df.withColumn("key", F.col(key).cast("string"))
        df.write.mode(mode).parquet(self.topic_path)

    def finish(self) -> None:
        """Emitter.Finish (emitter.go:124): flush all pending records
        and CLOSE — subsequent emits raise EmitterAlreadyClosedError
        (emitter.go:79)."""
        self.flush()
        self._closed = True

    def flush(self) -> None:
        """Flush buffered records without closing, as ONE new parquet
        file ``part-<uuid4>.parquet`` in the topic directory.  No Spark
        job runs: Spark's own local-data conversion (the one Spark
        Connect's ``createDataFrame`` uses) turns the buffer into an
        Arrow table of the topic schema ``key string, <value_col>
        <codec type>`` — plus ``headers map<string,binary>``
        (headers.go:8) when any record carries headers — with
        microsecond timestamps; the driver serialises it and publishes
        it by rename, so stream readers see the whole flush or none of
        it.  If the buffer does not convert (a value outside its codec
        type) or the write fails, this raises and leaves both the
        buffer and the topic unchanged."""
        if not self._buffer:
            return
        fields = [T.StructField("key", T.StringType()),
                  T.StructField(self.value_col,
                                self.codec.spark_type if self.codec else T.StringType())]
        if any(h is not None for _, _, h in self._buffer):
            fields.append(T.StructField(
                "headers", T.MapType(T.StringType(), T.BinaryType())))
            rows = self._buffer
        else:
            rows = [(k, v) for k, v, _ in self._buffer]
        table = LocalDataToArrowConversion.convert(
            rows, T.StructType(fields), use_large_var_types=False)
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink)
        hadoop_fs.publish_bytes(
            self.spark, hadoop_fs.uri_join(self.topic_path, f"part-{uuid.uuid4()}.parquet"),
            sink.getvalue().to_pybytes())
        self._buffer = []

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.topic_path)

    def exists(self) -> bool:
        return hadoop_fs.exists(self.spark, self.topic_path)
