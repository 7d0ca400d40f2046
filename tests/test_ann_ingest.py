"""Embedding ingestion loop (ann_index.dedup_batch_vectors /
ingest_vectors / AnnIngestSink): batch-vs-index semantic dedup with
admit-novel state growth — the embedding twin of the SignatureStore
ingest loop, same goka processor contract (fold input into persisted
state that the next batch observes)."""

import os

import pytest

from pyspark.sql import functions as F

from goka_spark.artifacts import dataset_fingerprint
from goka_spark.functions import ann_index as A
from goka_spark.queries.base import load

THRESH = 0.99


@pytest.fixture()
def idx(spark, sf_dir, tmp_path):
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    fp = dataset_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    idx = A.build_or_load(spark, emb, "vec_id", "embedding",
                          fingerprint=fp, cache_dir=str(tmp_path))
    return idx, emb


def _batch(spark, emb, rows):
    """rows: list of (new_id, source_id, scale) — scale -1 flips the
    vector (novel direction), +1 copies it (exact duplicate)."""
    parts = []
    for new_id, src, scale in rows:
        parts.append(
            emb.filter(F.col("vec_id") == src)
            .select(F.lit(new_id).alias("vec_id"),
                    F.transform("embedding",
                                lambda x: x * F.lit(float(scale)))
                    .cast("array<float>").alias("embedding")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def test_dedup_batch_vectors_verdicts(spark, idx):
    index, emb = idx
    batch = _batch(spark, emb, [(9001, 5, 1.0), (9002, 7, -1.0)])
    got = {r["vec_id"]: (r["verdict"], r["best_cos"])
           for r in A.dedup_batch_vectors(index, batch, "vec_id",
                                          "embedding",
                                          threshold=THRESH).collect()}
    assert got[9001][0] == "near_dup" and got[9001][1] == pytest.approx(1.0)
    assert got[9002][0] == "new" and got[9002][1] < THRESH


def test_ingest_loop_admits_then_blocks(spark, idx):
    """A novel vector admitted in batch N is a duplicate for batch
    N+1 — and duplicates never grow the index."""
    index, emb = idx
    n0 = index.codes().count()
    v1 = {r["vec_id"]: r["verdict"]
          for r in A.ingest_vectors(index,
                                    _batch(spark, emb, [(9001, 5, 1.0),
                                                        (9002, 7, -1.0)]),
                                    "vec_id", "embedding",
                                    threshold=THRESH).collect()}
    assert v1 == {9001: "near_dup", 9002: "new"}
    assert index.codes().count() == n0 + 1  # only the novel one admitted
    v2 = {r["vec_id"]: r["verdict"]
          for r in A.ingest_vectors(index,
                                    _batch(spark, emb, [(9003, 7, -1.0)]),
                                    "vec_id", "embedding",
                                    threshold=THRESH).collect()}
    assert v2 == {9003: "near_dup"}  # dup of 9002, admitted previous batch
    assert index.codes().count() == n0 + 1


def test_streaming_ann_ingest_sink(spark, idx, tmp_path):
    """Live loop via foreachBatch: micro-batch 2's duplicate of a
    micro-batch 1 vector is flagged; a gate-failing row (zero vector)
    is rejected BEFORE probing and never enters the index."""
    from goka_spark.streaming.runtime import stream_from_dir

    index, emb = idx
    n0 = index.codes().count()
    src = str(tmp_path / "vec_topic")
    schema = "vec_id long, embedding array<float>"

    wave1 = _batch(spark, emb, [(9100, 11, -1.0)]).unionByName(
        spark.createDataFrame([(9101, [0.0] * 64)], schema))
    wave1.coalesce(1).write.mode("append").parquet(src)

    # gate: finite positive norm (rejects the zero vector before it
    # can poison normalization or the index)
    norm = F.aggregate("embedding", F.lit(0.0),
                       lambda acc, x: acc + x * x)
    sink = A.AnnIngestSink(index, str(tmp_path / "verdicts"),
                           "vec_id", "embedding", threshold=THRESH,
                           gate=norm > 1e-12)
    q = (stream_from_dir(spark, src, schema).writeStream
         .foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
        _batch(spark, emb, [(9200, 11, -1.0)]) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["vec_id"]: r["verdict"] for r in sink.read(spark).collect()}
    assert got[9100] == "new"
    assert got[9101] == "rejected"
    assert got[9200] == "near_dup"  # dup of batch-1's admitted vector
    assert index.codes().count() == n0 + 1
