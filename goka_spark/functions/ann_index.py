"""Persisted ANN index — cached quantizers + cell-partitioned codes.

Two scale fixes over calling the ``similarity`` functions ad hoc:

1. **Quantizer artifacts are trained once and persisted** (a ``.npz``
   of k-means centroids and PQ codebooks, a few KiB regardless of
   corpus size).  Retraining Lloyd's per query invocation was ~half
   the measured ANN query time and pure waste — the quantizer is an
   index-build artifact, exactly like a FAISS index file.
2. **IVF cell pruning is physical, not logical.**  The encoded corpus
   (id, codes, unit vector) is persisted as a parquet table
   ``partitionBy("cell")``; a probed-cell query reads with
   ``cell IN (...)`` so Spark partition pruning skips non-probed
   cells at the FILE level — they are never read, matching the
   on-disk IVF inverted-list layout (Jégou et al. 2011; FAISS
   IVFPQ).  Previously the scan read every code row and masked with
   ``np.isin`` — correct compute pruning, no IO pruning.

The index is keyed by (``artifacts.dataset_fingerprint``, quantizer
params): a testdata regeneration or a param change invalidates the
cache automatically.  Builds go to a temp dir then atomically rename
into place (single-writer per machine; concurrent losers adopt the
winner's index).

Reference parity: goka persists processor state as a recoverable
table per partition (partition_table.go:1) — here the "state" is the
ANN index and recovery is a cache hit.
"""

from __future__ import annotations

import io
import os
from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goka_spark.functions import similarity as S


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))


def default_cache_dir() -> str:
    """Index artifact root.  Override with GOKA_SPARK_ANN_CACHE — any
    Hadoop-FS URI works (``file:/...``, ``hdfs://...``, ``s3a://...``):
    every artifact read/write below goes through the Hadoop FileSystem
    API, so the index lives wherever the data lives."""
    return os.environ.get(
        "GOKA_SPARK_ANN_CACHE",
        os.path.join(_repo_root(), "spark-warehouse", "ann_cache"))


# ---------------------------------------------------------------- FS
# All artifact IO routes through the JVM Hadoop FileSystem (shared
# helpers in goka_spark/hadoop_fs.py): os.walk/os.rename/np.load work
# only on a POSIX local disk, but the 100 TB deployment keeps its
# testdata AND its index on HDFS/S3.  ``Path.getFileSystem`` resolves
# the scheme per path, so plain local paths keep working unchanged.

from goka_spark.hadoop_fs import (  # noqa: E402
    exists as _exists,
    hfs as _hfs,
    read_bytes as _read_bytes,
    uri_join as _join,
    write_bytes as _write_bytes,
)


def adaptive_n_cells(n_rows: int, lo: int = 16, hi: int = 65536) -> int:
    """FAISS-practice cell count: ``n_cells ≈ √n`` rounded UP to a
    power of two.  Keeps per-cell list size ≈ √n, so a probed query
    reads ~``n_probe·√n`` vectors however large the corpus — and the
    probed-cell UNION of a query batch stays well under all cells
    (n_cells=16 at sf0.1 made any 20-query union cover every cell, so
    batched reads got no IO pruning; 64 cells restores it)."""
    import math
    if n_rows <= 1:
        return lo
    return max(lo, min(hi, 2 ** math.ceil(math.log2(math.sqrt(n_rows)))))


@dataclass
class ANNIndex:
    """Handle to a persisted index: tiny quantizer arrays in memory,
    codes table on disk (read lazily, partition-pruned per query)."""
    spark: SparkSession
    path: str                 # dir holding quantizers.npz + codes/
    centroids: np.ndarray     # (n_cells, d), unit-normalized corpus space
    books: np.ndarray         # (m, ksub, d/m) PQ codebooks

    def codes(self, probe_cells: "list[int] | None" = None) -> DataFrame:
        """The encoded corpus.  With ``probe_cells``, partition
        pruning makes non-probed cells physically unread (the scan's
        PartitionFilters, not a post-read mask).  Tombstoned ids
        (delete_vectors) are anti-joined out — the filter only enters
        the plan when a tombstone table exists, so an index that never
        deleted keeps its exact pre-delete plan."""
        df = self.spark.read.parquet(_join(self.path, "codes"))
        if probe_cells is not None:
            df = df.filter(F.col("cell").isin([int(c) for c in probe_cells]))
        tomb_dir = _join(self.path, "tombstones")
        if _exists(self.spark, tomb_dir):
            tomb = self.spark.read.parquet(tomb_dir).select("id").distinct()
            df = df.join(F.broadcast(tomb), "id", "left_anti")
        return df


def _encode_codes(spark: SparkSession, corpus: DataFrame, id_col: str,
                  vec_col: str, cents: np.ndarray,
                  books: np.ndarray) -> DataFrame:
    """Encode a corpus under FIXED quantizers: unit-normalize, assign
    the nearest IVF cell, PQ-encode per subspace — one Arrow pass.
    Shared by the initial build and by ``append_vectors`` so appended
    batches are encoded bit-identically to the base corpus."""
    mm, _, dsub = books.shape
    v = S._normalized(
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col)),
        "id", F.col(vec_col))
    assigned = S._assign_cells_arrow(v, "_v", cents, 1)
    bbooks = spark.sparkContext.broadcast(books)

    def enc(it):
        import pandas as pd
        B = bbooks.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["_v"].to_numpy())
            cd = np.empty((len(V), mm), dtype=np.int32)
            for j in range(mm):
                Sj = V[:, j * dsub:(j + 1) * dsub]
                cd[:, j] = ((Sj[:, None, :] - B[j][None, :, :]) ** 2) \
                    .sum(-1).argmin(1)
            yield pd.DataFrame({
                "id": pdf["id"], "cell": [c[0] for c in pdf["cells"]],
                "codes": [r.tolist() for r in cd],
                "vec": [r.tolist() for r in V]})

    return assigned.mapInPandas(
        enc, "id long, cell int, codes array<int>, vec array<double>")


def build_or_load(spark: SparkSession, corpus: DataFrame, id_col: str,
                  vec_col: str, *, fingerprint: str, n_cells: int = 16,
                  m: int = 8, ksub: int = 16, seed: int = 42,
                  cache_dir: "str | None" = None) -> ANNIndex:
    """Load the persisted index for (fingerprint, params), training and
    encoding the corpus once if absent.

    Build cost is one corpus pass (assign cell + PQ-encode per Arrow
    batch) plus driver-side Lloyd's on a bounded sample — amortized
    over every subsequent query, the same contract as building any
    secondary index."""
    cache_dir = cache_dir or default_cache_dir()
    # "o2" = id-ordered training sample + matmul-form Lloyd's
    # (quantizers are a pure function of the dataset —
    # oracle-recomputable); versioned into the key so artifacts from
    # older training arithmetic self-invalidate
    key = f"{fingerprint}_c{n_cells}_m{m}_k{ksub}_s{seed}_o2"
    path = _join(cache_dir, key)
    npz = _join(path, "quantizers.npz")
    success = _join(path, "codes", "_SUCCESS")

    def _load() -> ANNIndex:
        z = np.load(io.BytesIO(_read_bytes(spark, npz)))
        return ANNIndex(spark, path, z["centroids"], z["books"])

    if _exists(spark, npz) and _exists(spark, success):
        return _load()

    cents = S.ivf_centroids(corpus, vec_col, n_cells, seed=seed,
                            order_col=id_col)
    books = S.pq_codebooks(corpus, vec_col, m=m, ksub=ksub, seed=seed,
                           order_col=id_col)
    codes = _encode_codes(spark, corpus, id_col, vec_col, cents, books)

    tmp = path + f".tmp{os.getpid()}"
    codes.write.mode("overwrite").partitionBy("cell") \
        .parquet(_join(tmp, "codes"))
    buf = io.BytesIO()
    np.savez(buf, centroids=cents, books=books)
    _write_bytes(spark, _join(tmp, "quantizers.npz"), buf.getvalue())
    # Atomic publish: Hadoop rename refuses to clobber an existing
    # destination dir, so a concurrent loser's rename returns False —
    # drop the orphan tmp and adopt the winner's artifacts.  (On S3A
    # rename is copy+delete, not atomic; the _SUCCESS+npz existence
    # gate above still makes a half-published index unreadable, it
    # just loses the single-winner guarantee — same caveat as every
    # rename-based committer on S3.)
    fs, jvm, _ = _hfs(spark, path)
    renamed = False
    try:
        renamed = bool(fs.rename(jvm.org.apache.hadoop.fs.Path(tmp),
                                 jvm.org.apache.hadoop.fs.Path(path)))
    except Exception:
        pass
    if not renamed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    return _load()


def append_vectors(index: ANNIndex, batch: DataFrame, id_col: str,
                   vec_col: str) -> int:
    """FAISS ``Index.add()`` analog — the embedding-side incremental
    ingestion shape (pairs with ``plans.sig_store.SignatureStore``
    for text): encode a NEW batch under the index's FROZEN quantizers
    and append its codes to the cell-partitioned codes table.

    One Arrow pass over the batch; appended files land inside the
    existing ``cell=`` partition dirs, so file-level probe pruning
    keeps working unchanged and batch N+1's queries see batch N
    without any corpus re-scan or re-clustering.  Per IVF semantics
    the quantizer does NOT retrain on append: cell boundaries and
    codebooks stay fixed (existing codes remain valid); rebuild the
    index when corpus drift degrades recall — the same rebuild policy
    as any FAISS IVF deployment.

    Refuses to mutate a fingerprint-keyed index under the SHARED
    cache root: those are content-addressed by the base dataset, and
    appending would desynchronize every other reader that resolves
    the same fingerprint.  Build with an explicit ``cache_dir`` you
    own to use append.

    Returns the number of vectors appended.
    """
    cache_root = default_cache_dir().rstrip("/")
    if index.path.rstrip("/").startswith(cache_root + "/"):
        raise ValueError(
            "append_vectors would mutate a fingerprint-keyed index in "
            f"the shared cache ({index.path}); fingerprints address the "
            "BASE dataset's content, so other readers resolving the same "
            "fingerprint would silently see the appended rows.  Build "
            "the index with an explicit cache_dir you own (e.g. next to "
            "the ingest ledger) to use incremental append.")
    codes = _encode_codes(index.spark, batch, id_col, vec_col,
                          index.centroids, index.books)
    codes.write.mode("append").partitionBy("cell") \
        .parquet(_join(index.path, "codes"))
    # counting the raw batch (parquet metadata) avoids re-running the
    # Arrow encode pass just for the return value
    return int(batch.count())


def delete_vectors(index: ANNIndex, ids: DataFrame, id_col: str) -> int:
    """FAISS ``remove_ids`` analog, tombstone-based: deleted ids are
    appended to a small ``tombstones/`` table next to the codes and
    anti-joined out of every read (``ANNIndex.codes``) — an O(deleted)
    broadcast filter, NEVER a rewrite of the cell-partitioned codes on
    the delete path.  Physical removal happens at the next
    :func:`compact_index` (the standard tombstone→compaction
    lifecycle: LSM deletes, Delta/Iceberg delete files, FAISS
    IDSelector all make the same trade — deletes are metadata until
    maintenance).

    Same single-writer guard as append_vectors: refuses
    fingerprint-keyed indexes under the shared cache root.  Returns
    the number of tombstones written."""
    cache_root = default_cache_dir().rstrip("/")
    if index.path.rstrip("/").startswith(cache_root + "/"):
        raise ValueError(
            "delete_vectors would mutate a fingerprint-keyed index in "
            f"the shared cache ({index.path}); build with an explicit "
            "cache_dir you own to use deletion.")
    out = ids.select(F.col(id_col).cast("long").alias("id")).distinct()
    out.write.mode("append").parquet(_join(index.path, "tombstones"))
    return int(out.count())


def compact_index(index: ANNIndex, files_per_cell: int = 1) -> dict:
    """Codes-table compaction — the small-files maintenance op the
    append-based ingestion loop needs at scale: every
    :func:`append_vectors` micro-batch adds one parquet file per
    touched ``cell=`` dir, and after thousands of batches a probed
    read opens thousands of tiny files (the classic object-store
    small-files tax — per-file open/seek dominates and scan
    throughput collapses; the same reason streaming tables run
    OPTIMIZE/compaction jobs).  Rewrites the codes table to
    ``files_per_cell`` file(s) per cell partition: row content
    bit-identical, partition layout — and therefore probe pruning —
    unchanged.

    One shuffle hash-partitioned on (cell, id-slot): each cell lands
    wholly in one task (files_per_cell=1) or in ``files_per_cell``
    deterministic slices, so output file count is bounded by design,
    never by input file count.  Publish is swap-by-rename on the
    Hadoop FS (old dir renamed aside, compacted dir renamed in, old
    deleted) — the build's publish discipline; readers that already
    listed the old files keep reading them through the swap.  Refuses
    shared-cache fingerprint-keyed indexes for the same single-writer
    reason as append_vectors.

    Returns ``{"files_before", "files_after", "rows"}``."""
    if files_per_cell <= 0:
        raise ValueError("files_per_cell must be positive")
    cache_root = default_cache_dir().rstrip("/")
    if index.path.rstrip("/").startswith(cache_root + "/"):
        raise ValueError(
            "compact_index would rewrite a fingerprint-keyed index in "
            f"the shared cache ({index.path}); own the index dir "
            "(explicit cache_dir) to run maintenance on it.")
    spark = index.spark
    codes_dir = _join(index.path, "codes")
    fs, jvm, _ = _hfs(spark, codes_dir)
    P = jvm.org.apache.hadoop.fs.Path

    def n_files(d: str) -> int:
        it = fs.listFiles(P(d), True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    before = n_files(codes_dir)
    df = spark.read.parquet(codes_dir)
    # apply pending tombstones during the rewrite (delete_vectors):
    # compaction is where logical deletes become physical, after which
    # the tombstone table is cleared
    tomb_dir = _join(index.path, "tombstones")
    had_tombstones = _exists(spark, tomb_dir)
    if had_tombstones:
        tomb = spark.read.parquet(tomb_dir).select("id").distinct() \
            .localCheckpoint()
        df = df.join(F.broadcast(tomb), "id", "left_anti")
    rows = int(df.count())
    tmp = codes_dir + f".compact{os.getpid()}"
    (df.repartition(F.col("cell"),
                    F.pmod(F.xxhash64("id"), F.lit(files_per_cell)))
       .write.mode("overwrite").partitionBy("cell").parquet(tmp))
    old = codes_dir + f".old{os.getpid()}"
    if not fs.rename(P(codes_dir), P(old)):
        fs.delete(P(tmp), True)
        raise RuntimeError(f"compact_index: could not move {codes_dir} "
                           "aside (concurrent maintenance?)")
    if not fs.rename(P(tmp), P(codes_dir)):
        # restore the original table before giving up
        fs.rename(P(old), P(codes_dir))
        fs.delete(P(tmp), True)
        raise RuntimeError(f"compact_index: could not publish {tmp}")
    fs.delete(P(old), True)
    if had_tombstones:
        # the rewrite materialized the deletes; stale tombstones would
        # otherwise re-filter (harmlessly but forever) on every read
        fs.delete(P(tomb_dir), True)
    return {"files_before": before, "files_after": n_files(codes_dir),
            "rows": rows}


def dedup_batch_vectors(index: ANNIndex, batch: DataFrame, id_col: str,
                        vec_col: str, threshold: float = 0.9,
                        n_probe: int = 1) -> DataFrame:
    """Batch-vs-index semantic dedup — the embedding twin of
    ``SignatureStore.dedup_batch``: verdict ``near_dup`` iff a batch
    vector's exact cosine against ANY indexed vector in its
    ``n_probe`` nearest cells clears ``threshold``, else ``new``.

    Fully distributed — no driver-side query broadcast: batch vectors
    are cell-assigned in one Arrow pass, the candidate join is a cell
    equi-join against the codes table (read partition-pruned to the
    batch's probed-cell union — a ≤ n_cells-int driver list, never
    vector data), and the verdict is one max-cosine aggregate.  Work
    is ~|batch| · n_probe · √n candidate rows, the SemDeDup shape;
    never batch × corpus.
    """
    v = S._normalized(
        batch.select(F.col(id_col).alias("_bid"), F.col(vec_col)),
        "_bid", F.col(vec_col))
    assigned = S._assign_cells_arrow(v, "_v", index.centroids, n_probe) \
        .select("_bid", "_v", F.explode("cells").alias("cell"))
    probed = sorted({int(r.cell) for r in
                     assigned.select("cell").distinct().collect()})
    cand = index.codes(probed).select("cell", F.col("vec").alias("_cv"))
    hits = (assigned.join(cand, "cell")
            .withColumn("_cos", S.dot(F.col("_v"), F.col("_cv")))
            .groupBy("_bid").agg(F.max("_cos").alias("_best")))
    return (batch.select(F.col(id_col))
            .join(hits.select(F.col("_bid").alias(id_col), "_best"),
                  id_col, "left")
            .select(F.col(id_col),
                    F.when(F.col("_best") >= threshold, "near_dup")
                     .otherwise("new").alias("verdict"),
                    F.round(F.coalesce("_best", F.lit(-1.0)), 4)
                     .alias("best_cos")))


def ingest_vectors(index: ANNIndex, batch: DataFrame, id_col: str,
                   vec_col: str, threshold: float = 0.9,
                   n_probe: int = 1) -> DataFrame:
    """dedup_batch_vectors + admit the novel vectors (append their
    codes under the frozen quantizers) — the full embedding ingestion
    loop: batch N+1's probes AND queries see batch N.  Returns the
    verdicts (materialized: the append must observe pre-append state,
    and both consumers read the same verdict set)."""
    verdicts = dedup_batch_vectors(index, batch, id_col, vec_col,
                                   threshold, n_probe) \
        .localCheckpoint(eager=True)
    fresh = batch.join(
        verdicts.filter(F.col("verdict") == "new").select(id_col),
        id_col, "left_semi")
    append_vectors(index, fresh, id_col, vec_col)
    return verdicts


class AnnIngestSink:
    """Streaming face of the embedding ingestion loop: a
    ``foreachBatch`` sink running ``ingest_vectors`` per micro-batch,
    verdicts written to ``out_path/epoch_id=N`` (overwrite-idempotent,
    the ExactlyOnceBatchSink layout) — the embedding twin of
    ``sig_store.DedupIngestSink``, same pipeline order: an optional
    Boolean ``gate`` Column (e.g. an embedding-norm sanity check)
    rejects rows BEFORE they probe or enter the index."""

    def __init__(self, index: ANNIndex, out_path: str, id_col: str,
                 vec_col: str, threshold: float = 0.9,
                 n_probe: int = 1, gate=None):
        self.index, self.out_path = index, out_path
        self.id_col, self.vec_col = id_col, vec_col
        self.threshold, self.n_probe, self.gate = threshold, n_probe, gate

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self.gate is not None:
            ok = F.coalesce(self.gate, F.lit(False))
            passed = batch_df.filter(ok)
            rejected = (batch_df.filter(~ok)
                        .select(F.col(self.id_col),
                                F.lit("rejected").alias("verdict"),
                                F.lit(-1.0).alias("best_cos")))
            verdicts = ingest_vectors(
                self.index, passed, self.id_col, self.vec_col,
                self.threshold, self.n_probe).unionByName(rejected)
        else:
            verdicts = ingest_vectors(
                self.index, batch_df, self.id_col, self.vec_col,
                self.threshold, self.n_probe)
        (verdicts.write.mode("overwrite")
         .parquet(f"{self.out_path.rstrip('/')}/epoch_id={int(epoch_id)}"))

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.out_path).drop("epoch_id")


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str,
                     max_queries: int, q_rows=None):
    """``q_rows``: a pre-collected row list for the query set (the
    r15 session memo — every benched ANN key collects the identical
    parameter-bounded query frame, so callers may collect once per
    session and pass the rows through; the conversion below is
    unchanged either way)."""
    if q_rows is None:
        q_rows = queries.select(id_col, vec_col) \
            .limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"indexed ANN broadcasts the query set via the driver; got "
            f">{max_queries} query rows — partition the query set or "
            f"raise max_queries explicitly")
    q_ids = np.array([r[id_col] for r in q_rows])
    raw = [[float(x) for x in r[vec_col]] for r in q_rows]
    qm = np.array(raw, dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    return q_ids, qm, raw


def _probe(index: ANNIndex, qm: np.ndarray, n_probe: int) -> np.ndarray:
    """Each query's n_probe nearest cells (same argsort as
    ``_assign_cells_arrow`` so indexed/unindexed paths agree)."""
    nc = index.centroids / np.linalg.norm(index.centroids, axis=1,
                                          keepdims=True)
    return np.argsort(-(qm @ nc.T), axis=1)[:, :n_probe]


def _rerank_exact(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                  id_col: str, vec_col: str, k: int) -> DataFrame:
    """Exact-cosine re-rank of a small candidate set via id equi-join
    (identical to the ad-hoc paths in similarity.py).

    r14: the corpus side joins RAW vectors first and normalizes only
    the ~refine·k·|q| candidate rows that survive the join — the old
    order ran the interpreted norm+transform folds over the whole
    corpus before the join discarded all but the candidates.  Per-row
    arithmetic (and therefore every cosine) is unchanged."""
    cv_raw = corpus.select(F.col(id_col).alias("neighbor_id"),
                           S._as_double(F.col(vec_col)).alias("_craw"))
    qv = S._normalized(queries.select(F.col(id_col).alias("query_id"),
                                      F.col(vec_col)),
                       "query_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_qv")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id"))
    return (
        cand.join(cv_raw, "neighbor_id").join(F.broadcast(qv), "query_id")
        .withColumn("_n", S.norm(F.col("_craw")))
        .withColumn("_cv", F.transform("_craw",
                                       lambda x: x / F.col("_n")))
        .withColumn("cos", S.dot(F.col("_qv"), F.col("_cv")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"),
                F.col("rk").cast("long").alias("rk"))
    )


def ivf_topk(index: ANNIndex, corpus: DataFrame, queries: DataFrame,
             id_col: str, vec_col: str, k: int = 5, n_probe: int = 4,
             max_queries: int = S.MAX_BROADCAST_QUERIES,
             q_rows=None) -> DataFrame:
    """IVF top-k over the persisted index: read ONLY the union of the
    queries' probed cells (file-level pruning), exact cosine inside
    probed cells via the stored unit vectors, per-query top-k.

    The scoring-side query vector is normalized by the same JVM
    Column fold as the stored corpus vectors (numpy probes cells; it
    does NOT produce the scored values), so cosines are bit-identical
    to the ad-hoc path AND to a SQL twin replicating the
    left-associative folds — what makes this query hash-verifiable."""
    q_ids, qm, raw = _collect_queries(queries, id_col, vec_col,
                                      max_queries, q_rows)
    qcells = _probe(index, qm, n_probe)
    probed = sorted({int(c) for r in qcells for c in r})
    spark = index.spark
    q = spark.createDataFrame(
        [(int(qid), raw[i], [int(c) for c in qcells[i]])
         for i, qid in enumerate(q_ids)],
        "query_id long, _qraw array<double>, cells array<int>")
    q = (q.withColumn("_n", S.norm(F.col("_qraw")))
         .withColumn("_qv", F.transform("_qraw", lambda x: x / F.col("_n")))
         .drop("_qraw", "_n")
         .withColumn("cell", F.explode("cells")).drop("cells"))
    c = index.codes(probed).select(
        F.col("id").alias("neighbor_id"), "cell",
        F.col("vec").alias("_cv"))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", S.dot(F.col("_cv"), F.col("_qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"),
                F.col("rk").cast("long").alias("rk"))
    )


def _adc_scan(index: ANNIndex, codes: DataFrame, q_ids: np.ndarray,
              luts: np.ndarray, qcells: "np.ndarray | None",
              n_cand: int) -> DataFrame:
    """ADC scan over (possibly cell-pruned) codes: per-batch LUT
    gather, per-(partition, query) top-``n_cand`` candidates."""
    m = luts.shape[1]
    bq = index.spark.sparkContext.broadcast((q_ids, luts, qcells))

    def scan(it):
        import pandas as pd
        ids, L, QC = bq.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf["codes"].to_numpy())
            nid = pdf["id"].to_numpy()
            cell = pdf["cell"].to_numpy() if QC is not None else None
            out = []
            for qi, qid in enumerate(ids):
                mask = nid != qid
                if QC is not None:
                    # per-query mask WITHIN the already-pruned union
                    # of probed cells (IO pruning happened at read)
                    mask &= np.isin(cell, QC[qi])
                if not mask.any():
                    continue
                approx = L[qi][np.arange(m)[None, :], C[mask]].sum(1)
                cand = np.lexsort((nid[mask], -approx))[:n_cand]
                out.append(pd.DataFrame({
                    "query_id": qid, "neighbor_id": nid[mask][cand],
                    "approx": approx[cand]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    local = codes.mapInPandas(
        scan, "query_id long, neighbor_id long, approx double")
    wa = Window.partitionBy("query_id").orderBy(F.col("approx").desc(),
                                                F.col("neighbor_id"))
    return (local.withColumn("_rka", F.row_number().over(wa))
            .filter(F.col("_rka") <= n_cand)
            .select("query_id", "neighbor_id"))


def pq_topk(index: ANNIndex, corpus: DataFrame, queries: DataFrame,
            id_col: str, vec_col: str, k: int = 5, refine: int = 4,
            max_queries: int = S.MAX_BROADCAST_QUERIES,
            q_rows=None) -> DataFrame:
    """PQ/ADC top-k over the persisted codes (full scan — compression,
    not pruning, is PQ's contribution) + exact re-rank."""
    q_ids, qm, _ = _collect_queries(queries, id_col, vec_col,
                                    max_queries, q_rows)
    m, _, dsub = index.books.shape
    luts = np.einsum("qjd,jcd->qjc", qm.reshape(len(qm), m, dsub),
                     index.books)
    cand = _adc_scan(index, index.codes().select("id", "cell", "codes"),
                     q_ids, luts, None, refine * k)
    return _rerank_exact(cand, corpus, queries, id_col, vec_col, k)


def ivf_pq_topk(index: ANNIndex, corpus: DataFrame, queries: DataFrame,
                id_col: str, vec_col: str, k: int = 5, n_probe: int = 4,
                refine: int = 4,
                max_queries: int = S.MAX_BROADCAST_QUERIES,
                q_rows=None) -> DataFrame:
    """IVF-PQ top-k over the persisted index: cells prune WHICH files
    are read (partition pruning on the probed union), PQ codes shrink
    WHAT is read per vector, exact re-rank restores true cosines."""
    q_ids, qm, _ = _collect_queries(queries, id_col, vec_col,
                                    max_queries, q_rows)
    m, _, dsub = index.books.shape
    luts = np.einsum("qjd,jcd->qjc", qm.reshape(len(qm), m, dsub),
                     index.books)
    qcells = _probe(index, qm, n_probe)
    probed = sorted({int(c) for r in qcells for c in r})
    cand = _adc_scan(index,
                     index.codes(probed).select("id", "cell", "codes"),
                     q_ids, luts, qcells, refine * k)
    return _rerank_exact(cand, corpus, queries, id_col, vec_col, k)


def semantic_near_pairs(index: ANNIndex, threshold: float,
                        bands: int = 8, bits: int = 8) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.
    2023: k-means cluster the embeddings, compare only WITHIN a
    cluster): candidates must share the IVF cell AND an LSH band
    bucket, exact cosine verifies inside buckets.

    The cell key scopes comparisons to semantically-coherent regions
    (SemDeDup's insight — cross-cluster pairs are never duplicates
    worth pruning) and multiplies the LSH bucketing, so candidate
    volume per band drops from ~n²/2^bits to ~Σ_c n_c²/2^bits.  Both
    keys come FROM THE PERSISTED INDEX — one scan of the codes table,
    no re-clustering, no re-hashing of the corpus.

    Same join discipline as ``similarity.cosine_near_pairs_lsh``
    (band equi-join, vectors fetched by id after pair-dedup), with
    ``cell`` prepended to the join key.
    """
    from goka_spark.functions.similarity import coord_sign_bands, dot

    v = index.codes().select(
        F.col("id").alias("_id"), "cell", F.col("vec").alias("_v"))
    v = v.repartition("_id")
    banded = v.select(
        "_id", "cell",
        F.explode(coord_sign_bands(F.col("_v"), bands, bits)).alias("bb"),
    ).select("_id", "cell", "bb.band", "bb.bucket")
    a = banded.select(F.col("_id").alias("id_a"), "cell", "band", "bucket")
    b = banded.select(F.col("_id").alias("id_b"), "cell", "band", "bucket")
    cand = (a.join(b, on=["cell", "band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", F.round(dot(F.col("_va"), F.col("_vb")), 4))
        .filter(F.col("cos") > threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup(index: ANNIndex, threshold: float,
                   bands: int = 8, bits: int = 8) -> DataFrame:
    """SemDeDup keep/prune verdicts: connected components over the
    cell-scoped near-pair graph; the smallest id in each component is
    the kept representative.  Returns every doc in some duplicate
    group as ``(vec_id, keep_id, is_kept)`` — docs with no semantic
    duplicate are absent (trivially kept)."""
    from goka_spark.functions.dedup import connected_components

    pairs = semantic_near_pairs(index, threshold, bands, bits)
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("vec_id"),
        F.col("cluster_id").alias("keep_id"),
        (F.col("node") == F.col("cluster_id")).alias("is_kept"))


def centroid_outliers(index: ANNIndex, frac_denom: int = 20) -> DataFrame:
    """Per-cluster OUTLIER flagging over the indexed corpus — the
    prototype-distance pruning signal of D4-style embedding curation
    (SemDeDup removes a cluster's redundant CORE; this surfaces the
    other tail: the ceil(n_c / ``frac_denom``) LEAST-central vectors
    of each IVF cell — mislabeled, noisy, or off-distribution docs
    that sit far from every prototype).

    Exactness discipline: the score is the left-associative unit-dot
    to the vector's own cell centroid, ranked on its ROUND(·,4) form
    (ties → vec_id) so the rank is engine-deterministic, and the
    outlier cutoff is pure integer arithmetic ((n + d-1) div d — no
    double 0.05·n boundary).  One broadcast join against the
    n_cells-row centroid table + windows bounded by the √n cell size;
    codes come partition-pruned from the persisted table with zero
    recompute."""
    if frac_denom <= 0:
        raise ValueError("frac_denom must be positive")
    from goka_spark.functions.similarity import dot

    spark = index.spark
    # persisted centroids are raw Lloyd means — unit-normalize like
    # every similarity consumer (cosine needs the unit prototype)
    nc = index.centroids / np.linalg.norm(index.centroids, axis=1,
                                          keepdims=True)
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(nc)],
        "cell int, _c array<double>")
    v = index.codes().select(F.col("id").alias("vec_id"), "cell",
                             F.col("vec").alias("_v"))
    scored = (v.join(F.broadcast(cdf), "cell")
              .withColumn("sim_c",
                          F.round(dot(F.col("_v"), F.col("_c")), 4)))
    w = Window.partitionBy("cell").orderBy("sim_c", "vec_id")
    wc = Window.partitionBy("cell")
    return (scored
            .withColumn("_rn", F.row_number().over(w).cast("long"))
            .withColumn("_n", F.count("*").over(wc))
            .select(F.col("vec_id"),
                    F.col("cell").cast("long").alias("cluster"),
                    F.col("sim_c"),
                    (F.col("_rn") <= F.expr(
                        f"(_n + {frac_denom - 1}L) div {frac_denom}L"))
                    .alias("is_outlier")))


def knn_graph(index: ANNIndex, k: int = 5) -> DataFrame:
    """Cluster-local k-NN graph over the indexed corpus — each
    vector's top-``k`` nearest neighbors BY EXACT COSINE among the
    vectors sharing its IVF cell, read straight from the persisted
    codes table.  This is the neighborhood graph that SemDeDup /
    D4-style curation and graph-based diversity sampling consume
    (Abbas et al. 2023 compute neighbors within a k-means cluster for
    exactly this reason: cross-cluster pairs are never near enough to
    matter, and the restriction turns an O(n²) pairing into
    Σ_c n_c² ≈ n·√n with √n-sized cells).

    One self-equi-join of the codes table on ``cell`` (partition-
    local after the cell repartition — never a cross join), exact
    cosine as the left-associative unit-vector dot (the oracle
    replays it bit-identically), and a per-vector top-k window whose
    partitions are bounded by the cell size.  Returns
    ``(vec_id, neighbor_id, cos, rank)``; vectors alone in their cell
    have no rows (no neighbors at this scope — the documented
    contract, matching SemDeDup's cluster-local view)."""
    from goka_spark.functions.similarity import dot

    v = index.codes().select(
        F.col("id").alias("_id"), "cell", F.col("vec").alias("_v"))
    a = v.select(F.col("_id").alias("vec_id"), "cell",
                 F.col("_v").alias("_va"))
    b = v.select(F.col("_id").alias("neighbor_id"), "cell",
                 F.col("_v").alias("_vb"))
    scored = (a.join(b, "cell")
              .filter(F.col("vec_id") != F.col("neighbor_id"))
              .withColumn("_raw", dot(F.col("_va"), F.col("_vb"))))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_raw").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "neighbor_id",
                    F.round("_raw", 4).alias("cos"),
                    F.col("rank").cast("long").alias("rank")))


def ivf_nprobe_sweep(index: ANNIndex, corpus: DataFrame,
                     queries: DataFrame, id_col: str, vec_col: str,
                     k: int = 5, probes: "tuple[int, ...]" = (1, 2, 4, 8),
                     max_queries: int = S.MAX_BROADCAST_QUERIES,
                     q_rows=None) -> DataFrame:
    """The n_probe TUNING CURVE: recall@k of the IVF index against
    exact brute-force top-k at every probe depth in ``probes``, from
    ONE candidate scan — the measurement that turns "n_probe=4" from
    folklore into a corpus-specific accuracy/IO trade you can defend.

    Plan: probe once at max(probes) keeping each cell's PROBE RANK,
    score the probed-cell candidates once (file-pruned read, exact
    cosines), then each smaller depth is a rank filter + per-query
    window over the already-scored frame — never a re-scan, never a
    re-probe.  Both sides exclude self; recall in exact integer
    micro-units (hits · 1e6 DIV k).  One row per (query, n_probe)."""
    from pyspark.sql.window import Window

    max_p = max(probes)
    q_ids, qm, raw = _collect_queries(queries, id_col, vec_col,
                                      max_queries, q_rows)
    qcells = _probe(index, qm, max_p)
    probed = sorted({int(c) for r in qcells for c in r})
    spark = index.spark
    q = spark.createDataFrame(
        [(int(qid), raw[i], [int(c) for c in qcells[i]])
         for i, qid in enumerate(q_ids)],
        "query_id long, _qraw array<double>, cells array<int>")
    q = (q.withColumn("_n", S.norm(F.col("_qraw")))
         .withColumn("_qv", F.transform("_qraw",
                                        lambda x: x / F.col("_n")))
         .drop("_qraw", "_n")
         .select("query_id", "_qv",
                 F.posexplode("cells").alias("_cr", "cell")))
    c = index.codes(probed).select(
        F.col("id").alias("neighbor_id"), "cell",
        F.col("vec").alias("_cv"))
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      (F.col("_cr") + 1).alias("cell_rk"),
                      S.dot(F.col("_cv"), F.col("_qv")).alias("cos"))
              .localCheckpoint())  # scored once, consumed len(probes)×
    exact = (S.cosine_topk_arrow(corpus, queries, id_col, vec_col, k=k,
                                 q_rows=q_rows)
             .select("query_id", "neighbor_id").localCheckpoint())
    qf = spark.createDataFrame([(int(i),) for i in q_ids],
                               "query_id long")
    step = 1000000 // k
    outs = []
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id"))
    for p in probes:
        top = (scored.filter(F.col("cell_rk") <= p)
               .withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") <= k)
               .select("query_id", "neighbor_id"))
        hits = (top.join(exact, ["query_id", "neighbor_id"])
                .groupBy("query_id").agg(F.count("*").alias("n_hits")))
        outs.append(
            qf.join(hits, "query_id", "left")
            .select("query_id",
                    F.lit(p).cast("long").alias("n_probe"),
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)) * step)
                    .cast("long").alias("recall_e6")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def ivf_balance_report(index: ANNIndex) -> DataFrame:
    """Index-health report for the persisted IVF index — the
    OPERATIONAL diagnostic behind every probe-cost claim: per cell,
    its population, its fill fraction, and the spread of
    cosine-to-own-centroid (quantization quality).  A cell at 20×
    the mean fill is a hot partition that degrades probed reads
    toward scans (and flags quantizer staleness after heavy
    append_vectors churn → time to retrain/re-bucket); a low mean
    centroid cosine means the frozen quantizer no longer fits the
    data distribution.

    Exactness discipline: per-vector similarity integerized FIRST
    (ROUND(dot·10⁴) — one engine-identical rounding), so every cell
    aggregate is EXACT integer arithmetic with no order-dependent
    float accumulation; fill is integer micro-units; the mean is one
    FLOOR of an exact-ratio double.  Scale shape: one broadcast join
    against the n_cells-row centroid table + one hash-agg over the
    codes table (map-side combine) — no windows, no shuffle beyond
    the √n-row cell rollup."""
    from goka_spark.functions.similarity import dot

    spark = index.spark
    nc = index.centroids / np.linalg.norm(index.centroids, axis=1,
                                          keepdims=True)
    cdf = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(nc)],
        "cell int, _c array<double>")
    v = index.codes().select("cell", F.col("vec").alias("_v"))
    sim_e4 = F.round(dot(F.col("_v"), F.col("_c")) * 10000, 0) \
        .cast("long")
    per_cell = (v.join(F.broadcast(cdf), "cell")
                .select("cell", sim_e4.alias("_s"))
                .groupBy(F.col("cell").cast("long").alias("cluster"))
                .agg(F.count("*").alias("n_vectors"),
                     F.sum("_s").alias("_ss"),
                     F.min("_s").alias("min_sim_e4"),
                     F.max("_s").alias("max_sim_e4")))
    total = per_cell.agg(F.sum("n_vectors").alias("_tot"))
    return (per_cell.crossJoin(F.broadcast(total))
            .select("cluster", "n_vectors",
                    F.expr("n_vectors * CAST(1000000 AS BIGINT) div _tot")
                     .alias("fill_e6"),
                    F.floor(F.col("_ss").cast("double")
                            / F.col("n_vectors").cast("double"))
                     .cast("long").alias("mean_sim_e4"),
                    "min_sim_e4", "max_sim_e4"))


def cell_margin_report(index: ANNIndex,
                       ambiguous_e4: int = 500) -> DataFrame:
    """Assignment-CONFIDENCE report — the simplified-silhouette twin
    of :func:`ivf_balance_report`: per vector, the margin between its
    own-centroid cosine and its best OTHER-centroid cosine (both
    integerized at ROUND(·10⁴) first, so the margin and every cell
    aggregate are exact integers); per cell, the population, the
    floored mean margin, the minimum margin, and how many vectors sit
    within ``ambiguous_e4`` of another prototype.  A cell whose mean
    margin collapses toward 0 is not a real cluster (re-train or
    merge); ambiguous vectors are the ones SemDeDup/D4-style pruning
    decisions should not trust.

    Exactness discipline: the sims list is one left-associative
    unit-dot per centroid (the same fold every similarity consumer
    uses), own cell is the first-max argmax (numpy-argsort
    tie-break), and rounding is monotone so margin ≥ 0 by
    construction.  Scale shape: n_cells dots per vector in one scan
    stage against broadcast centroid LITERALS (n·√n flops — the
    standard IVF law), then one cells-sized hash-agg with map-side
    combine; no windows, no joins, no driver vector collect."""
    spark = index.spark
    nc = index.centroids / np.linalg.norm(index.centroids, axis=1,
                                          keepdims=True)
    n_cells = nc.shape[0]
    # ONE parsed expression for the whole n_cells-wide sims array —
    # same fold per element as S.dot(F.col("_v"), <centroid literal>)
    # (bit-equal results); the per-element/per-lambda py4j form made
    # DRIVER plan construction the dominant cost of this query
    sims = F.expr("array(" + ",".join(
        S.dot_lit_sql("_v", row) for row in nc) + ")")
    v = index.codes().select(F.col("vec").alias("_v")) \
        .withColumn("_s", sims)
    per_vec = v.selectExpr(
        "cast(array_position(_s, array_max(_s)) as int) as _pos",
        "transform(_s, x -> cast(round(x * 10000, 0) as bigint)) as _se4",
    ).selectExpr(
        "cast(_pos - 1 as bigint) as cluster",
        "element_at(_se4, _pos) - array_max("
        "  filter(_se4, (x, i) -> i != _pos - 1)) as _margin",
    )
    return (per_vec.groupBy("cluster")
            .agg(F.count("*").cast("long").alias("n_vectors"),
                 F.sum("_margin").alias("_sm"),
                 F.min("_margin").cast("long").alias("min_margin_e4"),
                 F.sum((F.col("_margin") < ambiguous_e4).cast("long"))
                 .cast("long").alias("n_ambiguous"))
            .select("cluster", "n_vectors",
                    F.floor(F.col("_sm").cast("double")
                            / F.col("n_vectors").cast("double"))
                    .cast("long").alias("mean_margin_e4"),
                    "min_margin_e4", "n_ambiguous"))


def probe_max_cos(index: ANNIndex, queries: DataFrame, id_col: str,
                  vec_col: str, n_probe: int = 4,
                  neighbor_where: "Column | None" = None,
                  max_queries: int = S.MAX_BROADCAST_QUERIES) -> DataFrame:
    """Per-query MAX exact cosine over the probed cells of the
    persisted index, with an optional predicate on ``neighbor_id``
    (the building block for split-leakage audits: restrict
    neighbors to the train slice).  Same file-pruned probed read,
    bit-identical unit-fold cosines, and self-exclusion as
    :func:`ivf_topk`; queries with no qualifying neighbor in their
    probed cells come back with a NULL cosine (LEFT join from the
    query frame — the audit must list every audited vector)."""
    q_ids, qm, raw = _collect_queries(queries, id_col, vec_col,
                                      max_queries)
    qcells = _probe(index, qm, n_probe)
    probed = sorted({int(c) for r in qcells for c in r})
    spark = index.spark
    q = spark.createDataFrame(
        [(int(qid), raw[i], [int(c) for c in qcells[i]])
         for i, qid in enumerate(q_ids)],
        "query_id long, _qraw array<double>, cells array<int>")
    q = (q.withColumn("_n", S.norm(F.col("_qraw")))
         .withColumn("_qv", F.transform("_qraw",
                                        lambda x: x / F.col("_n")))
         .drop("_qraw", "_n")
         .withColumn("cell", F.explode("cells")).drop("cells"))
    c = index.codes(probed).select(
        F.col("id").alias("neighbor_id"), "cell",
        F.col("vec").alias("_cv"))
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col("query_id") != F.col("neighbor_id")))
    if neighbor_where is not None:
        scored = scored.filter(neighbor_where)
    agg = (scored
           .withColumn("_cos", S.dot(F.col("_cv"), F.col("_qv")))
           .groupBy("query_id")
           .agg(F.max("_cos").alias("_mx")))
    qf = spark.createDataFrame([(int(i),) for i in q_ids],
                               "query_id long")
    return (qf.join(agg, "query_id", "left")
            .select("query_id", F.round("_mx", 4).alias("max_cos")))


def pq_distortion_d9(emb: DataFrame, vec_col: str,
                     books: list) -> DataFrame:
    """Per-(vector, subspace) PQ reconstruction distortion, already
    integerized to e9 — the scan-stage half of pq_distortion_report.

    ONE Arrow-batched map over the embedding column replaces an
    m·ksub·dsub-term literal expression tree (1 024 squared-diff terms
    at the 8×16×8 default) that overflowed janino's 64 KB method limit
    — the generated projection failed to compile and the whole scan
    ran interpreted (ERROR CodeGenerator in the logs).  Bit-exactness
    with that expression (and the DuckDB oracle, which replays the
    same arithmetic):

    - float→double cast is exact widening (np.float64(np.float32)),
    - the 64-term norm sum and each dsub-term distance sum are
      left-associative ``a + b`` chains → ``np.cumsum`` read at the
      last index (cumsum is sequential by definition),
    - each product/difference/division is one IEEE double op on both
      sides, ``array_min`` over ksub doubles ≡ ``np.min`` (no NaN in
      a normalized corpus, no NULLs by construction),
    - ``CAST(FLOOR(1e9 * md + 0.5) AS BIGINT)`` ≡
      ``np.floor(1e9 * md + 0.5).astype(np.int64)``.

    Emits (subspace, d9); the caller keeps the subspace-keyed exact
    integer aggregate in Spark SQL, so at 100 TB the shape is one
    scan + one bounded hash-agg, codegen everywhere it matters.
    """
    import pandas as pd

    B = [np.asarray(b, dtype=np.float64) for b in books]
    m = len(B)
    dsub = B[0].shape[1]

    def report(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            E = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            n = np.sqrt(np.cumsum(E * E, axis=1)[:, -1])
            V = E / n[:, None]
            subs, d9s = [], []
            for j in range(m):
                Vj = V[:, j * dsub:(j + 1) * dsub]
                # (rows, ksub, dsub) diffs; left-assoc distance sum
                # per centroid = cumsum over the dsub axis, last col
                diff = Vj[:, None, :] - B[j][None, :, :]
                dist = np.cumsum(diff * diff, axis=2)[:, :, -1]
                md = dist.min(axis=1)
                subs.append(np.full(len(md), j, dtype=np.int64))
                d9s.append(np.floor(1e9 * md + 0.5).astype(np.int64))
            yield pd.DataFrame({
                "subspace": np.concatenate(subs),
                "d9": np.concatenate(d9s)})

    return emb.select(vec_col).mapInPandas(
        report, "subspace long, d9 long")
