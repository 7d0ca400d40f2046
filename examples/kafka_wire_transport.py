"""Socket-level Kafka transport demo (r9): the goka emit→consume→
process loop with the TRANSPORT half real — TopicManager creates the
topic over the wire protocol, the producer emits keyed records with
headers (RecordBatch v2 + CRC32C, sarama FNV-1a partitioning), the
consumer fetches them back, and the records run through a Spark
processor via the connector wire frame.  Against a real broker the
client classes work unchanged for this API subset.

Run: python examples/kafka_wire_transport.py
"""

import datetime as dt
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from goka_spark import AggFold, define_group, get_session, input_stream, persist
from goka_spark.kafka_wire import (
    FakeBroker,
    WireConsumer,
    WireProducer,
    WireTopicManager,
)
from goka_spark.operators.processor import Processor
from goka_spark.sources import KAFKA_WIRE_SCHEMA, from_kafka_records

broker = FakeBroker().start()
print(f"fake broker on {broker.address}")

tm = WireTopicManager([broker.address])
tm.ensure_stream_exists("clicks", npar=4)
print("topic 'clicks' partitions:", tm.partitions("clicks"))

prod = WireProducer([broker.address])
base_ms = int(dt.datetime(2024, 1, 1,
                          tzinfo=dt.timezone.utc).timestamp() * 1000)
for i in range(12):
    part, off = prod.emit("clicks", f"user-{i % 3}",
                          ('{"value": %d.0}' % i).encode(),
                          headers={"trace": f"t-{i}".encode()},
                          timestamp_ms=base_ms + i * 1000)
    print(f"  emit user-{i % 3} -> partition {part} offset {off}")

cons = WireConsumer([broker.address])
rows = []
for part in range(4):
    for r in cons.fetch("clicks", part, 0):
        rows.append((r.key, r.value, None, "clicks", part, r.offset,
                     dt.datetime.fromtimestamp(r.timestamp / 1000,
                                               dt.timezone.utc), 1))
print(f"fetched {len(rows)} records")

spark = get_session("example-kafka-wire")
wire = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
topic = from_kafka_records(wire, value_schema="value double")
g = define_group("clicks-fold", input_stream("clicks"),
                 persist(AggFold({"cnt": F.count("*"),
                                  "sum_value": F.sum("value")})))
Processor(g).run({"clicks": topic}).table.orderBy("key").show()

# -- retention recovery + compression (r10 additions) -----------------
# A zstd-compressing producer (sarama config.Producer.Compression)
# interoperates over the same socket...
from goka_spark.kafka_wire import (OFFSET_NEWEST, OFFSET_OLDEST,
                                   WireProducer as _WP,
                                   find_offset_to_load)

zs = _WP([broker.address], compression="zstd")
zs.emit("clicks", "user-0", b'{"value": 99.0}', partition=0)
print("zstd emit ok; hwm now",
      tm.get_offset("clicks", 0, OFFSET_NEWEST))

# ...and when retention outruns a stored offset, the reference's
# findOffsetToLoad clamp (partition_table.go:243) resumes at the
# broker's oldest retained offset instead of OFFSET_OUT_OF_RANGE:
broker.truncate_before("clicks", 0, 3)
start, hwm = find_offset_to_load(tm, "clicks", 0, stored_offset=0)
print(f"stored=0 but oldest={tm.get_offset('clicks', 0, OFFSET_OLDEST)}"
      f" -> resume at {start} (hwm {hwm})")
assert start == 3
zs.close()

for c in (cons, prod, tm):
    c.close()
broker.stop()
