"""ANN index deletion lifecycle (ann_index.delete_vectors): tombstones
anti-joined out of every read, physically removed — and the tombstone
table cleared — at the next compaction.  FAISS remove_ids / LSM-delete
parity: deletes are metadata until maintenance.
"""

import os

import pytest

from pyspark.sql import functions as F

from goka_spark.artifacts import dataset_fingerprint
from goka_spark.functions import ann_index as A
from goka_spark.queries.base import load

DROP = [3, 7, 11, 42]


@pytest.fixture(scope="module")
def deleted(spark, sf_dir, tmp_path_factory):
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    cache = str(tmp_path_factory.mktemp("ann_del"))
    fp = dataset_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    idx = A.build_or_load(spark, emb, "vec_id", "embedding",
                          fingerprint=fp, cache_dir=cache)
    ids = spark.createDataFrame([(i,) for i in DROP], "vec_id long")
    n = A.delete_vectors(idx, ids, "vec_id")
    return idx, emb, n


def test_delete_hides_rows_from_reads(deleted):
    idx, emb, n = deleted
    assert n == len(DROP)
    got = {r.id for r in idx.codes().select("id").collect()}
    assert got == {r.vec_id for r in emb.select("vec_id").collect()} \
        - set(DROP)


def test_delete_hides_rows_from_probed_queries(spark, deleted):
    """A deleted vector must not come back as its own nearest
    neighbor: the tombstone filter applies inside the probed read."""
    idx, emb, _ = deleted
    q = emb.filter(F.col("vec_id") == DROP[0])
    hits = A.ivf_topk(idx, emb, q, "vec_id", "embedding",
                      k=3, n_probe=4)
    assert all(r.neighbor_id != DROP[0] for r in hits.collect())


def test_compact_applies_and_clears_tombstones(spark, deleted):
    idx, emb, _ = deleted
    from goka_spark.hadoop_fs import exists
    tomb_dir = idx.path.rstrip("/") + "/tombstones"
    assert exists(spark, tomb_dir)
    stats = A.compact_index(idx)
    assert stats["rows"] == emb.count() - len(DROP)
    # tombstones are physically applied and the table cleared
    assert not exists(spark, tomb_dir)
    raw = spark.read.parquet(idx.path.rstrip("/") + "/codes")
    assert raw.filter(F.col("id").isin(DROP)).count() == 0
    # logical view unchanged after compaction
    assert idx.codes().count() == emb.count() - len(DROP)


def test_delete_refuses_shared_cache(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    fp = dataset_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    idx = A.build_or_load(spark, emb, "vec_id", "embedding",
                          fingerprint=fp)
    ids = spark.createDataFrame([(1,)], "vec_id long")
    with pytest.raises(ValueError, match="shared cache"):
        A.delete_vectors(idx, ids, "vec_id")
