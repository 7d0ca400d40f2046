"""Incremental ANN ingestion (ann_index.append_vectors): encode a new
batch under the FROZEN quantizers and append into the cell-partitioned
codes table — the embedding-side analog of SignatureStore ingest.

Reference parity: goka processors keep admitting new keys into the
group table without rebuilding it (partition_table.go recovery keeps
appending to the changelog); FAISS Index.add() is the ANN-world twin.
"""

import os

import pytest

from pyspark.sql import functions as F

from goka_spark.artifacts import dataset_fingerprint
from goka_spark.functions import ann_index as A
from goka_spark.queries.base import load

SPLIT = 300  # vec_id < SPLIT = base corpus, rest = appended batch


@pytest.fixture(scope="module")
def appended(spark, sf_dir, tmp_path_factory):
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") < SPLIT)
    batch = emb.filter(F.col("vec_id") >= SPLIT)
    cache = str(tmp_path_factory.mktemp("ann_inc"))
    fp = dataset_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    idx = A.build_or_load(spark, base, "vec_id", "embedding",
                          fingerprint=fp, cache_dir=cache)
    n = A.append_vectors(idx, batch, "vec_id", "embedding")
    return idx, emb, base, batch, n


def test_append_row_count(appended):
    idx, emb, base, batch, n = appended
    assert n == batch.count()
    assert idx.codes().count() == emb.count()


def test_append_encoding_bit_identical(spark, appended):
    """Appended rows carry exactly the codes the base build would have
    produced for them: one _encode_codes pass under the index's frozen
    quantizers is the single source of truth for both paths."""
    idx, emb, base, batch, n = appended
    expect = {
        r["id"]: (r["cell"], tuple(r["codes"]))
        for r in A._encode_codes(spark, batch, "vec_id", "embedding",
                                 idx.centroids, idx.books).collect()
    }
    got = {
        r["id"]: (r["cell"], tuple(r["codes"]))
        for r in idx.codes().filter(F.col("id") >= SPLIT).collect()
    }
    assert got == expect


def test_appended_rows_visible_to_probed_queries(appended):
    """A query probing the appended vector's own cell finds it — new
    files landed inside the existing cell= partition dirs, so the
    pruned read path serves them with no index rebuild."""
    idx, emb, base, batch, n = appended
    q = batch.limit(3)
    res = A.ivf_topk(idx, emb, q, "vec_id", "embedding", k=5, n_probe=4)
    rows = res.collect()
    assert len(rows) == 15
    # neighbors can come from BOTH the base corpus and the batch
    neigh = {r.neighbor_id for r in rows}
    assert any(i < SPLIT for i in neigh)


def test_append_preserves_partition_pruning(appended):
    idx, _, _, _, _ = appended
    plan = idx.codes([0, 1])._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan


def test_append_refuses_shared_cache(spark, sf_dir, appended):
    """Fingerprint-keyed indexes under the shared cache root are
    content-addressed; mutating one would desync other readers."""
    idx, emb, base, batch, n = appended
    shared = A.ANNIndex(spark,
                        A._join(A.default_cache_dir(), "abc123_c16"),
                        idx.centroids, idx.books)
    with pytest.raises(ValueError, match="fingerprint-keyed"):
        A.append_vectors(shared, batch, "vec_id", "embedding")


def test_compact_preserves_rows_and_pruning(spark, sf_dir, tmp_path_factory):
    """After several appends fragment the cell dirs, compaction must
    leave row CONTENT identical, cut the file count to one per cell,
    and keep probed partition pruning working."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") < 200)
    cache = str(tmp_path_factory.mktemp("ann_compact"))
    fp = dataset_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    idx = A.build_or_load(spark, base, "vec_id", "embedding",
                          fingerprint=fp, cache_dir=cache)
    for lo in (200, 300, 400):
        A.append_vectors(
            idx, emb.filter((F.col("vec_id") >= lo)
                            & (F.col("vec_id") < lo + 100)),
            "vec_id", "embedding")
    want = sorted((r["id"], r["cell"], tuple(r["codes"]))
                  for r in idx.codes().collect())
    stats = A.compact_index(idx)
    got = sorted((r["id"], r["cell"], tuple(r["codes"]))
                 for r in idx.codes().collect())
    assert got == want
    assert stats["rows"] == len(want)
    n_cells = idx.codes().select("cell").distinct().count()
    assert stats["files_after"] == n_cells
    assert stats["files_after"] < stats["files_before"]
    # probed read on the compacted table still prunes and still answers
    cell0 = idx.codes().select("cell").first()["cell"]
    pruned = idx.codes([int(cell0)])
    assert pruned.count() > 0
    assert pruned.filter(F.col("cell") != cell0).count() == 0


def test_compact_refuses_shared_cache(spark, sf_dir):
    from goka_spark.queries.llmdata import _ann_index
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    idx = _ann_index(spark, sf_dir, emb)
    with pytest.raises(ValueError):
        A.compact_index(idx)
    with pytest.raises(ValueError):
        A.compact_index(idx, files_per_cell=0)
