"""Embedding ingestion loop — the vector-side twin of
examples/incremental_ingest.py: build the ANN index once over a seed
corpus, then stream embedding batches in; each micro-batch is
semantically deduplicated against the index (cell-scoped exact
cosine, no batch x corpus pairing), a gate rejects degenerate vectors
before they probe, and novel vectors are appended under the FROZEN
quantizers so the NEXT batch dedups against them.

Run: python examples/embedding_ingest.py [sf_dir]
"""

import os
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from goka_spark import get_session
from goka_spark.artifacts import dataset_fingerprint
from goka_spark.functions import ann_index as A
from goka_spark.queries.base import load
from goka_spark.streaming.runtime import stream_from_dir

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
spark = get_session("example-embedding-ingest")
spark.sparkContext.setLogLevel("ERROR")

emb = load(spark, sf, "embeddings")["embeddings"]

# ---- index the seed corpus (caller-owned dir => appendable) ----
cache = tempfile.mkdtemp()
fp = dataset_fingerprint(os.path.join(sf, "embeddings.parquet"))
idx = A.build_or_load(spark, emb, "vec_id", "embedding",
                      fingerprint=fp, cache_dir=cache)
n0 = idx.codes().count()
print(f"index: {n0} vectors, {idx.centroids.shape[0]} cells")

tmp = tempfile.mkdtemp()
topic = f"{tmp}/vec-batches"
SCHEMA = "vec_id long, embedding array<float>"


def emit(df):
    df.coalesce(1).write.mode("append").parquet(topic)


def variant(new_id, src_id, scale):
    """scale=+1 copies an indexed vector (duplicate); -1 flips it
    (novel direction, same norm)."""
    return (emb.filter(F.col("vec_id") == src_id)
            .select(F.lit(new_id).alias("vec_id"),
                    F.transform("embedding", lambda x: x * F.lit(scale))
                    .cast("array<float>").alias("embedding")))


# batch 1: one duplicate of an indexed vector, one novel vector,
# one degenerate zero vector (the gate's job)
emit(variant(9001, 5, 1.0)
     .unionByName(variant(9002, 7, -1.0))
     .unionByName(spark.createDataFrame([(9003, [0.0] * 64)], SCHEMA)))

norm2 = F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
sink = A.AnnIngestSink(idx, f"{tmp}/verdicts", "vec_id", "embedding",
                       threshold=0.99, gate=norm2 > 1e-12)
q = (stream_from_dir(spark, topic, SCHEMA).writeStream
     .foreachBatch(sink)
     .option("checkpointLocation", f"{tmp}/ckpt")
     .start())
q.processAllAvailable()

# batch 2: a duplicate of the vector ADMITTED in batch 1 — the loop
# catches it with zero index rebuild
emit(variant(9100, 7, -1.0))
q.processAllAvailable()
q.stop()

for r in sink.read(spark).orderBy("vec_id").collect():
    print(f"vec {r['vec_id']:>5}  {r['verdict']:>9}  "
          f"best_cos={r['best_cos']}")
print(f"index now: {idx.codes().count()} vectors "
      f"(+{idx.codes().count() - n0} admitted)")
spark.stop()
