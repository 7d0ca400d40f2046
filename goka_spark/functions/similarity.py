"""Embedding similarity search — brute-force cosine top-k + LSH ANN.

- ``cosine_topk``: broadcast the (small) query set against the corpus;
  per-partition scoring stays JVM-side (zip_with/aggregate), global
  top-k via a window over each query (no global sort of the corpus).
- ``lsh_ann``: random-hyperplane LSH — sign-bit bucket per vector,
  candidates = bucket co-residents (multi-probe by dropping one bit),
  exact cosine only within buckets.  The 100 TB path: buckets shrink
  the candidate set by ~2^bits.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dlit(x) -> str:
    """SQL double-literal text for one value.  ``repr`` emits the
    shortest string that round-trips to the same IEEE double, and the
    SQL parser's Double.parseDouble is correctly rounded, so the plan
    Literal is bit-identical to ``F.lit(float(x))``."""
    v = float(x)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite double literal: {v!r}")
    return repr(v) + "D"


def lit_double_array(xs) -> Column:
    """``array<double>`` literal in ONE py4j/parser round-trip.

    Plan-identical to ``F.array(*[F.lit(float(x)) for x in xs])`` —
    the same CreateArray of double Literals — but built as a single
    SQL string.  The per-element form costs one py4j round-trip per
    element; at centroid/codebook scale (n_cells × dim ≈ thousands of
    literals) that made DRIVER-side plan construction the dominant
    cost of whole queries (embedding_cell_margins spent 3.8 s of its
    4.9 s total building expressions; execution was 0.5 s)."""
    return F.expr("array(" + ",".join(_dlit(x) for x in xs) + ")")


def dot_lit_sql(vec_sql: str, xs) -> str:
    """SQL text of ``dot(F.col(vec_sql), lit_double_array(xs))`` —
    the identical left-associative fold (zip_with product, 0.0 seed,
    (acc, x) -> acc + x), so results are bit-equal; building many
    dots as ONE parsed expression avoids the per-lambda py4j cost
    that dominated n_cells-wide similarity arrays."""
    return ("aggregate(zip_with(" + vec_sql + ", array("
            + ",".join(_dlit(x) for x in xs)
            + "), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)")


def dot(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    """Vector dot product (lambda fold by default)."""
    if dim is not None:
        # unrolled scalar products: measured SLOWER than the lambda
        # fold below at bench scale (codegen compile cost of a 64-term
        # tree outweighs interpreted-eval savings); kept for narrow
        # vectors (dim <= 16) where the tree stays small.
        terms = [F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: Optional[int] = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def _normalized(df: DataFrame, id_alias: str, vec: Column) -> DataFrame:
    """Project (id, unit-vector): the norm is computed ONCE per row in
    its own column (embedding norm(c) inside a transform lambda would
    re-evaluate the full norm per element), then divided out.  Pair
    scoring downstream needs only the dot product."""
    return (
        df.select(F.col(id_alias), _as_double(vec).alias("_v"))
        .withColumn("_n", norm(F.col("_v")))
        .select(id_alias,
                F.transform("_v", lambda x: x / F.col("_n")).alias("_v"))
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, k: int = 5, dim: Optional[int] = None) -> DataFrame:
    """For each query vector, the top-k nearest corpus vectors by
    cosine (excluding self)."""
    q = _normalized(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col)), "query_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_qv")
    c = _normalized(corpus.select(F.col(id_col).alias("neighbor_id"),
                                  F.col(vec_col)), "neighbor_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_cv")
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot(F.col("_qv"), F.col("_cv"), dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"),
                F.col("rk").cast("long").alias("rk"))
    )


MAX_BROADCAST_QUERIES = 10_000


def cosine_topk_arrow(corpus: DataFrame, queries: DataFrame, id_col: str,
                      vec_col: str, k: int = 5,
                      max_queries: int = MAX_BROADCAST_QUERIES,
                      q_rows=None) -> DataFrame:
    """Brute-force top-k, Arrow path: the query matrix is broadcast to
    every partition; each Arrow batch scores against it with ONE numpy
    matmul and keeps its local top-k; a final per-query window merges
    partition-local candidates.  At 100 TB this is the winning
    brute-force layout — per-row work is a BLAS row, and the shuffle
    carries ≤ k rows per (partition, query)."""
    import pandas as pd

    # The query side is broadcast via the driver: fail loudly on a
    # query set too large to collect instead of OOMing the driver.
    # (limit(n+1) bounds the collect itself — never materializes more.)
    # ``q_rows``: optional pre-collected row list (the r15 ANN
    # session memo) — identical rows either way.
    if q_rows is None:
        q_rows = queries.select(id_col, vec_col) \
            .limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"cosine_topk_arrow broadcasts the query set via the driver; "
            f"got >{max_queries} query rows — partition the query set or "
            f"raise max_queries explicitly")
    q_ids = np.array([r[id_col] for r in q_rows])
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((q_ids, qm))

    def score(batches):
        ids, qmat = bq.value
        for pdf in batches:
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qmat.T  # (batch, nq)
            nid = pdf[id_col].to_numpy()
            out = []
            for j, qid in enumerate(ids):
                col = sims[:, j]
                mask = nid != qid
                # lexsort: deterministic (cos desc, id asc) even on ties
                cand = np.lexsort((nid[mask], -col[mask]))[:k]
                sel_ids = nid[mask][cand]
                sel_cos = col[mask][cand]
                out.append(pd.DataFrame({
                    "query_id": qid, "neighbor_id": sel_ids, "cos": sel_cos}))
            yield pd.concat(out, ignore_index=True)

    local = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cos double")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"),
                F.col("rk").cast("long").alias("rk"))
    )


def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of the vector against each hyperplane."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = lit_double_array(p)
        bucket = bucket + F.when(dot(vec, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_ann(corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str,
            k: int = 5, bits: int = 8, dim: int = 64) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket
    (multi-probe: exact bucket + one-bit-flipped neighbors)."""
    planes = hyperplanes(dim, bits)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("_cv"),
    ).withColumn("bucket", lsh_bucket(F.col("_cv"), planes))
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(bits)]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("_qv"),
    ).withColumn("bucket", lsh_bucket(F.col("_qv"), planes)) \
     .withColumn("probe", F.explode(probes)).drop("bucket")
    scored = (
        c.join(F.broadcast(q), (F.col("probe") == F.col("bucket"))
               & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn("cos", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"),
                F.col("rk").cast("long").alias("rk"))
    )


def coord_sign_bands(vec: Column, bands: int = 8, bits: int = 8) -> Column:
    """LSH band signatures from coordinate signs.

    Random-hyperplane LSH where the hyperplanes are the coordinate
    axes: bit *i* of band *b* is ``sign(vec[b*bits + i])``.  For
    angular similarity this is exactly sign-random-projection LSH with
    ``e_i`` planes — valid whenever the embedding coordinates are not
    axis-degenerate (random projections/learned embeddings qualify).
    The payoff over sampled gaussian planes: the bucket is a pure JVM
    codegen expression (no per-row dot products, no Python, no plane
    constants to ship), and any SQL engine reproduces it bit-exactly.

    Requires ``dim >= bands * bits``.  Returns
    ``array<struct<band:int, bucket:bigint>>``.
    """
    structs = []
    for b in range(bands):
        bucket: Column = F.lit(0).cast("long")
        for i in range(bits):
            bucket = bucket + F.when(
                F.element_at(vec, b * bits + i + 1) > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        structs.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return F.array(*structs)


def cosine_near_pairs_lsh(df: DataFrame, id_col: str, vec_col: str,
                          threshold: float, bands: int = 8,
                          bits: int = 8) -> DataFrame:
    """Near-pairs by cosine via LSH banding — the 100 TB shape.

    Candidates = pairs sharing any (band, bucket); exact cosine is
    verified *inside buckets only*.  The plan is an equi-join on the
    band key — never a cross join — so cost scales with bucket
    occupancy (~n²/2^bits per band), tuned by ``bits``; recall for a
    pair at angle θ is ``1-(1-p^bits)^bands`` with ``p = 1-θ/π``
    (e.g. cosine 0.9 → 93% at 8×8; raise ``bands`` for more).
    Scaling discipline: grow ``bits`` ~log2(n) to hold bucket
    occupancy — and per-item cost — constant (+2 bits per 4× corpus).

    The in-bucket verify stays a JVM lambda fold on purpose: an
    Arrow/numpy per-pair variant was measured 3.5× SLOWER at 16×
    probe scale (shipping two 64-dim vectors per candidate through
    Arrow costs more than the interpreted fold saves — unlike the
    top-k matmul in ``cosine_topk_arrow``, where one broadcast query
    matrix amortizes the transfer), and the sequential fold is
    bit-reproducible against a sequential-sum oracle.

    Mirrors the reference's changelog-bucketed join discipline
    (goka partition_table.go keeps co-partitioned state local); here
    the "partition" is the LSH bucket.
    """
    v = _normalized(df.select(F.col(id_col).alias("_id"), F.col(vec_col)),
                    "_id", F.col(vec_col))
    # One explicit exchange by id, REUSED by all three consumers below
    # (banding branch, id_a fetch, id_b fetch): without it each
    # consumer re-scans the source and re-normalizes (4 scans
    # measured); with it the scan+normalize runs once and everyone
    # reads the shuffle output (ReuseExchange, same trick as the
    # ngram postings join).
    v = v.repartition("_id")
    # band join on (id, band, bucket) ONLY — shipping the 64-double
    # vector through the 8×-exploded band shuffle costs 8× the vector
    # payload per side; fetching vectors back by id after the pair
    # dedup moves each vector once (measured ~25% faster at sf0.1,
    # and the gap widens with dim × bands at scale)
    banded = v.select(
        "_id",
        F.explode(coord_sign_bands(F.col("_v"), bands, bits)).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    a = banded.select(F.col("_id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("_id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", F.round(dot(F.col("_va"), F.col("_vb")), 4))
        .filter(F.col("cos") > threshold)
        .select("id_a", "id_b", "cos")
    )


def cosine_near_pairs(df: DataFrame, id_col: str, vec_col: str,
                      threshold: float, probe_limit: int | None = None,
                      dim: Optional[int] = None) -> DataFrame:
    """All pairs (i<j) with cosine above threshold — EXACT small-n
    fallback (bounded nested loop).  For full-corpus near-dup mining
    use :func:`cosine_near_pairs_lsh`; this cross join is O(n·m) and
    only acceptable when one side is bounded (``probe_limit``)."""
    a = _normalized(df.select(F.col(id_col).alias("id_a"), F.col(vec_col)),
                    "id_a", F.col(vec_col)).withColumnRenamed("_v", "_va")
    if probe_limit is not None:
        a = a.filter(F.col("id_a") < probe_limit)
    b = _normalized(df.select(F.col(id_col).alias("id_b"), F.col(vec_col)),
                    "id_b", F.col(vec_col)).withColumnRenamed("_v", "_vb")
    return (
        F.broadcast(a).crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(dot(F.col("_va"), F.col("_vb"), dim), 4))
        .filter(F.col("cos") > threshold)
        .select("id_a", "id_b", "cos")
    )


def lloyd_kmeans(X: "np.ndarray", k: int, seed: int = 42,
                 max_iter: int = 10) -> "np.ndarray":
    """Seeded Lloyd's iterations — a PURE function of (X, k, seed):
    given the same sample matrix in the same row order, any caller
    (the Spark trainer below, or a numpy/DuckDB oracle twin reading
    the parquet directly) reproduces the centroids bit-for-bit.  That
    purity is what lets the driver's oracle verify IVF queries: the
    quantizer is recomputable, not an opaque engine artifact.

    Assignment uses the ‖x‖²−2x·c+‖c‖² expansion (one n×k matmul,
    memory O(n·k)) — the naive (X−C)² broadcast materializes an
    n×k×d intermediate, which at n=100k, k=512, d=64 is ~26 GB per
    iteration and took the 64× scale probe's index build to 18
    minutes.  The oracle twin runs THIS function, so the float
    details of the distance form are shared, not contractual."""
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    k_eff = len(C)
    for _ in range(max_iter):
        d2 = ((X * X).sum(1)[:, None] - 2.0 * (X @ C.T)
              + (C * C).sum(1)[None, :])
        assign = d2.argmin(1)
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=k_eff)
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    return C


def ivf_centroids(corpus: DataFrame, vec_col: str, n_cells: int = 16,
                  seed: int = 42, max_iter: int = 10,
                  train_cap: int = 100_000,
                  order_col: "str | None" = None,
                  distributed: bool = False) -> "np.ndarray":
    """IVF coarse quantizer: k-means centroids for the cell index.

    Default path: sample ≤ ``train_cap`` vectors to the driver and run
    seeded Lloyd's in numpy — the quantizer only needs the density
    shape, a bounded sample captures it, and local iterations are
    ~free (each MLlib iteration is a full Spark job; measured
    dominant in the query runtime).  ``distributed=True`` switches to
    MLlib KMeans for corpora where even the sample must stay on the
    cluster.

    ``order_col``: sample the first ``train_cap`` rows BY ID instead
    of by partition-scan order.  This makes the training input — and
    therefore the centroids (``lloyd_kmeans`` is pure) — a
    deterministic function of the dataset alone, independent of file
    split or parallelism, so an out-of-engine twin can recompute the
    identical quantizer.  The indexed paths use it always."""
    if distributed:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = (corpus.select(_as_double(F.col(vec_col)).alias("_v"))
                 .select(array_to_vector("_v").alias("features")).cache())
        try:
            model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
            return np.array([np.asarray(c) for c in model.clusterCenters()])
        finally:
            feats.unpersist()

    X = _train_sample(corpus, vec_col, train_cap, order_col)
    return lloyd_kmeans(X, n_cells, seed=seed, max_iter=max_iter)


def _train_sample(corpus: DataFrame, vec_col: str, train_cap: int,
                  order_col: "str | None") -> "np.ndarray":
    sel = corpus.select(_as_double(F.col(vec_col)).alias("_v"))
    if order_col is not None:
        sel = (corpus.orderBy(F.col(order_col))
               .select(_as_double(F.col(vec_col)).alias("_v")))
    rows = sel.limit(train_cap).collect()
    return np.array([r._v for r in rows])


def pca_fit(X: "np.ndarray", k: int = 8) -> "tuple[np.ndarray, np.ndarray]":
    """Pure deterministic PCA fit (the quantizer-recomputability
    contract of ``lloyd_kmeans``): mean + top-``k`` covariance
    eigenvectors, eigenvalue-descending, each sign-normalized so its
    largest-|entry| coordinate is positive (eigensolvers are only
    sign-determined; the convention makes the fit reproducible from
    the data alone).  Returns (mean (d,), components (k, d))."""
    X = np.asarray(X, dtype=np.float64)
    mean = X.mean(axis=0)
    Xc = X - mean
    cov = (Xc.T @ Xc) / len(Xc)
    w, V = np.linalg.eigh(cov)
    idx = np.argsort(w)[::-1][:k]
    comps = V[:, idx].T.copy()
    for j in range(len(comps)):
        i = int(np.argmax(np.abs(comps[j])))
        if comps[j, i] < 0:
            comps[j] = -comps[j]
    return mean, comps


def pca_components(corpus: DataFrame, vec_col: str, k: int = 8,
                   train_cap: int = 100_000,
                   order_col: "str | None" = None):
    """PCA on the id-ordered bounded sample — same deterministic
    training contract as ``ivf_centroids`` (an oracle re-reading the
    same rows re-derives bit-identical components)."""
    return pca_fit(_train_sample(corpus, vec_col, train_cap, order_col), k)


def pca_project(df: DataFrame, id_col: str, vec_col: str,
                mean: "np.ndarray", comps: "np.ndarray",
                round_to: int = 4) -> DataFrame:
    """Project every vector onto the fitted components — the
    dimensionality-reduction step ahead of clustering/visualization
    (D4-style whitening).  One scan, pure JVM Column folds: the
    centered vector is computed once per row, each projection is the
    left-associative dot fold a SQL twin replicates term for term.
    Output is exploded ``(id, comp, value)`` scalars."""
    m_lit = lit_double_array(mean)
    centered = F.zip_with(_as_double(F.col(vec_col)), m_lit,
                          lambda x, m: x - m)
    projs = F.array(*[
        F.struct(F.lit(j).cast("int").alias("comp"),
                 F.round(dot(F.col("_c"), lit_double_array(comps[j])),
                         round_to).alias("value"))
        for j in range(len(comps))])
    return (df.select(F.col(id_col), centered.alias("_c"))
            .select(id_col, F.explode(projs).alias("pv"))
            .select(id_col, "pv.comp", "pv.value"))


def _assign_cells_arrow(df: DataFrame, vec_col: str,
                        centroids: "np.ndarray", n_probe: int,
                        out: str = "cells") -> DataFrame:
    """Nearest-``n_probe`` cells per vector: ONE numpy matmul against
    the broadcast (normalized) centroid matrix per Arrow batch — the
    same amortized-transfer pattern as ``cosine_topk_arrow``.  (A
    pure-expression variant was measured pathological: 16 cells × 64
    literals built a huge interpreted tree.)"""
    norm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out} array<int>"

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            sims = V @ norm.T
            top = np.argsort(-sims, axis=1)[:, :n_probe]
            pdf[out] = [r.tolist() for r in top.astype("int32")]
            yield pdf

    return df.mapInPandas(fn, schema)


def pq_codebooks(corpus: DataFrame, vec_col: str, m: int = 8,
                 ksub: int = 16, train_cap: int = 100_000,
                 seed: int = 42, max_iter: int = 10,
                 order_col: "str | None" = None) -> "np.ndarray":
    """Product-quantization codebooks (Jégou et al. 2011): split the
    (unit-normalized) vector into ``m`` subvectors and run seeded
    Lloyd's k-means per subspace on a bounded driver sample — same
    sampling rationale as ``ivf_centroids``: the codebook only needs
    the density shape, and the artifact is tiny (m × ksub × d/m
    floats) regardless of corpus size.  ``order_col`` makes the
    sample (hence the books) dataset-deterministic, like
    ``ivf_centroids``.  Returns (m, ksub, d/m)."""
    X = _train_sample(corpus, vec_col, train_cap, order_col)
    return subspace_kmeans(X, m, ksub, seed=seed, max_iter=max_iter)


def subspace_kmeans(X: "np.ndarray", m: int, ksub: int, seed: int = 42,
                    max_iter: int = 10) -> "np.ndarray":
    """Per-subspace seeded Lloyd's on unit-normalized rows — pure
    function of (X, m, ksub, seed), recomputable out-of-engine (same
    contract as ``lloyd_kmeans``)."""
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)].copy()
        for _ in range(max_iter):
            dist = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = dist.argmin(1)
            for c in range(len(C)):
                pts = S[assign == c]
                if len(pts):
                    C[c] = pts.mean(0)
        books.append(C)
    return np.stack(books)


def pq_encode(corpus: DataFrame, id_col: str, vec_col: str,
              books: "np.ndarray") -> DataFrame:
    """Encode each vector as ``m`` sub-centroid codes — the compressed
    corpus representation.  At m=8, ksub=16 a 64-dim float vector
    (256 B) becomes 8 codes (8 B, 4 b effective): a ~32× memory cut,
    which is what makes scanning 100 TB of embeddings tractable.  One
    numpy distance per subspace per Arrow batch; codebooks ride a
    broadcast."""
    import pandas as pd

    m, _, dsub = books.shape
    bb = corpus.sparkSession.sparkContext.broadcast(books)

    def enc(it):
        B = bb.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * dsub:(j + 1) * dsub]
                dist = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(-1)
                codes[:, j] = dist.argmin(1)
            yield pd.DataFrame({"_id": pdf[id_col],
                                "codes": [r.tolist() for r in codes]})

    return (corpus.select(id_col, vec_col)
            .mapInPandas(enc, "_id long, codes array<int>")
            .withColumnRenamed("_id", id_col))


def pq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
            vec_col: str, k: int = 5, m: int = 8, ksub: int = 16,
            refine: int = 4, books: "np.ndarray | None" = None,
            max_queries: int = MAX_BROADCAST_QUERIES) -> DataFrame:
    """PQ/ADC approximate top-k — the third ANN scale path beside LSH
    buckets and IVF cells, for when even the raw vectors are too big
    to scan: score against the COMPRESSED codes via asymmetric
    distance (one ksub×m lookup table per query, approx inner product
    = Σ_j lut[j][code_j]), keep ``refine·k`` candidates per
    (partition, query), then re-rank only those few candidates with
    exact cosine on the full vectors.

    Per-batch work is a numpy LUT gather over byte codes — no d-dim
    arithmetic in the scan at all; the shuffle carries ≤ refine·k rows
    per (partition, query); the exact re-rank touches refine·k full
    vectors per query via an id equi-join.  Composable with IVF
    (classic IVF-PQ) by routing the scan through cell buckets."""
    import pandas as pd

    if books is None:
        books = pq_codebooks(corpus, vec_col, m=m, ksub=ksub,
                             order_col=id_col)
    m, _, dsub = books.shape
    codes = pq_encode(corpus, id_col, vec_col, books)

    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk broadcasts the query set via the driver; got "
            f">{max_queries} query rows — partition the query set or "
            f"raise max_queries explicitly")
    q_ids = np.array([r[id_col] for r in q_rows])
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    # luts[q][j][c] = <q_sub_j, centroid_c>  → (nq, m, ksub)
    luts = np.einsum("qjd,jcd->qjc",
                     qm.reshape(len(qm), m, dsub), books)
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((q_ids, luts))
    n_cand = refine * k

    def scan(it):
        ids, L = bq.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf["codes"].to_numpy())  # (batch, m)
            nid = pdf[id_col].to_numpy()
            out = []
            for qi, qid in enumerate(ids):
                # ADC: gather per-subspace LUT entries and sum
                approx = L[qi][np.arange(m)[None, :], C].sum(1)
                mask = nid != qid
                cand = np.lexsort((nid[mask], -approx[mask]))[:n_cand]
                out.append(pd.DataFrame({
                    "query_id": qid, "neighbor_id": nid[mask][cand],
                    "approx": approx[mask][cand]}))
            yield pd.concat(out, ignore_index=True)

    local = codes.mapInPandas(
        scan, "query_id long, neighbor_id long, approx double")
    wa = Window.partitionBy("query_id").orderBy(F.col("approx").desc(),
                                                F.col("neighbor_id"))
    cand = (local.withColumn("_rka", F.row_number().over(wa))
            .filter(F.col("_rka") <= n_cand)
            .select("query_id", "neighbor_id"))
    # exact re-rank: fetch full vectors for the (tiny) candidate set
    cv = _normalized(corpus.select(F.col(id_col).alias("neighbor_id"),
                                   F.col(vec_col)),
                     "neighbor_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_cv")
    qv = _normalized(queries.select(F.col(id_col).alias("query_id"),
                                    F.col(vec_col)),
                     "query_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_qv")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id"))
    return (
        cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")
        .withColumn("cos", dot(F.col("_qv"), F.col("_cv")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"),
                F.col("rk").cast("long").alias("rk"))
    )


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
                vec_col: str, k: int = 5, n_cells: int = 16,
                n_probe: int = 4, m: int = 8, ksub: int = 16,
                refine: int = 4, seed: int = 42,
                max_queries: int = MAX_BROADCAST_QUERIES) -> DataFrame:
    """IVF-PQ — the classic billion-scale ANN composition (Jégou et
    al.; FAISS's IVFPQ): IVF cells prune WHICH vectors to look at
    (~n_probe/n_cells of the corpus), PQ codes shrink WHAT is read per
    vector (m bytes, not d floats), and an exact re-rank on the few
    surviving candidates restores true cosines.  Combined cost per
    query ≈ n · (n_probe/n_cells) LUT-gathers over byte codes +
    refine·k full-vector reads — against 100 TB of raw embeddings the
    scan touches ~TBs of codes in only the probed cells.

    Plan: corpus → (cell, codes) once [two mapInPandas over the same
    scan]; query → n_probe cells; candidates = cell equi-join scored
    by ADC; per-query top refine·k; exact cosine re-rank by id join.

    This ad-hoc path trains quantizers per call and reads every code
    row (cell pruning is compute-side).  For repeated queries use
    ``ann_index.build_or_load`` + ``ann_index.ivf_pq_topk``: cached
    quantizer artifacts and a cell-partitioned codes table make the
    probed-cell read file-level pruned."""
    import pandas as pd

    cents = ivf_centroids(corpus, vec_col, n_cells, seed=seed,
                          order_col=id_col)
    books = pq_codebooks(corpus, vec_col, m=m, ksub=ksub, seed=seed,
                         order_col=id_col)
    m, _, dsub = books.shape

    c = _assign_cells_arrow(
        _normalized(corpus.select(F.col(id_col).alias("neighbor_id"),
                                  F.col(vec_col)),
                    "neighbor_id", F.col(vec_col)),
        "_v", cents, 1)
    c = c.withColumn("cell", F.col("cells")[0]).drop("cells")
    # encode in-line so the cell id rides along — ONE pass over the
    # corpus produces (id, cell, codes); no join back by id
    bbooks = corpus.sparkSession.sparkContext.broadcast(books)

    def enc(it):
        B = bbooks.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["_v"].to_numpy())
            cd = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * dsub:(j + 1) * dsub]
                cd[:, j] = ((S[:, None, :] - B[j][None, :, :]) ** 2) \
                    .sum(-1).argmin(1)
            yield pd.DataFrame({"neighbor_id": pdf["neighbor_id"],
                                "cell": pdf["cell"],
                                "codes": [r.tolist() for r in cd]})

    codes = c.mapInPandas(enc, "neighbor_id long, cell int, codes array<int>")

    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivf_pq_topk broadcasts the query set via the driver; got "
            f">{max_queries} query rows")
    q_ids = np.array([r[id_col] for r in q_rows])
    qm = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    luts = np.einsum("qjd,jcd->qjc", qm.reshape(len(qm), m, dsub), books)
    ncents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    qcells = np.argsort(-(qm @ ncents.T), axis=1)[:, :n_probe]
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((q_ids, luts, qcells))
    n_cand = refine * k

    def scan(it):
        ids, L, QC, = bq.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf["codes"].to_numpy())
            nid = pdf["neighbor_id"].to_numpy()
            cell = pdf["cell"].to_numpy()
            out = []
            for qi, qid in enumerate(ids):
                # IVF pruning: only rows in this query's probed cells
                mask = np.isin(cell, QC[qi]) & (nid != qid)
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
    cand = (local.withColumn("_rka", F.row_number().over(wa))
            .filter(F.col("_rka") <= n_cand)
            .select("query_id", "neighbor_id"))
    cv = _normalized(corpus.select(F.col(id_col).alias("neighbor_id"),
                                   F.col(vec_col)),
                     "neighbor_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_cv")
    qv = _normalized(queries.select(F.col(id_col).alias("query_id"),
                                    F.col(vec_col)),
                     "query_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_qv")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id"))
    return (
        cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")
        .withColumn("cos", dot(F.col("_qv"), F.col("_cv")))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"),
                F.col("rk").cast("long").alias("rk"))
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, id_col: str,
             vec_col: str, k: int = 5, n_cells: int = 16,
             n_probe: int = 4, centroids: "np.ndarray | None" = None,
             seed: int = 42) -> DataFrame:
    """IVF approximate top-k — the second scale path beside LSH
    buckets (lsh_ann): partition the corpus into k-means cells, probe
    only the ``n_probe`` cells nearest each query, exact cosine inside
    probed cells, per-query top-k.

    The plan is an equi-join on cell id: corpus side computes ONE cell
    per vector (a 16-way codegen argmax, no shuffle beyond the join);
    the query side explodes to n_probe cells.  Cost ≈ n·(n_probe/
    n_cells) exact cosines instead of n·m — tune n_cells ≈ sqrt(n) at
    scale, n_probe for the recall target.

    This ad-hoc path scans the whole corpus to assign cells per call.
    For repeated queries use ``ann_index.build_or_load`` +
    ``ann_index.ivf_topk``: the persisted cell-partitioned index makes
    the probed read physically pruned (non-probed cells unread)."""
    cents = centroids if centroids is not None \
        else ivf_centroids(corpus, vec_col, n_cells, seed=seed,
                           order_col=id_col)
    c = _assign_cells_arrow(
        _normalized(corpus.select(F.col(id_col).alias("neighbor_id"),
                                  F.col(vec_col)),
                    "neighbor_id", F.col(vec_col)),
        "_v", cents, 1)
    c = c.withColumn("cell", F.col("cells")[0]).drop("cells")
    q = _assign_cells_arrow(
        _normalized(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col)),
                    "query_id", F.col(vec_col)),
        "_v", cents, n_probe)
    q = (q.withColumn("cell", F.explode("cells")).drop("cells")
         .withColumnRenamed("_v", "_qv"))
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", dot(F.col("_v"), F.col("_qv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"),
                F.col("rk").cast("long").alias("rk"))
    )


def coord_sign_cluster(vec: Column, bits: int = 6) -> Column:
    """Single coord-sign LSH cluster id in [0, 2^bits): bit *i* is
    ``sign(vec[i])`` — one band of :func:`coord_sign_bands`, pure
    codegen, reproducible bit-exactly by any SQL engine."""
    bucket: Column = F.lit(0).cast("long")
    for i in range(bits):
        bucket = bucket + F.when(
            F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def cluster_balanced_sample(df: DataFrame, id_col: str, vec_col: str,
                            per_cluster: int, bits: int = 6,
                            salt: str = "cbs-v1") -> DataFrame:
    """Cluster-balanced sampling over an embedding column — the
    diversity-preserving selection step of SemDeDup/D4-style curation
    (Abbas et al. 2023, Tirumala et al. 2023): cap every semantic
    cluster at ``per_cluster`` documents so over-represented modes
    (crawl boilerplate clusters) are down-sampled while the long tail
    survives whole.

    Clusters are coord-sign LSH cells (:func:`coord_sign_cluster`) —
    deterministic, engine-portable, no trained centroids — and
    membership inside an over-full cluster is the md5-slot policy
    (functions/corpus.hash_slot): rate_e6 = per_cluster·1e6 // n_c,
    keep iff slot(id‖salt) < rate_e6.  The whole decision is a pure
    function of (vector signs, id), so the oracle replicates it
    bit-exactly and re-runs never move a kept document (same
    stability contract as corpus_split).  The realized per-cluster
    count is Binomial around the cap; the POLICY is exact.

    Plan: one scan computing the codegen cluster id, one tiny
    per-cluster count agg (≤ 2^bits rows), broadcast back, scan-stage
    filter — no corpus-sized shuffle at any scale.  Scale ``bits``
    ~log2(n/target_cluster_size), like every LSH knob here."""
    from goka_spark.functions.corpus import RATE_MOD, hash_slot

    clustered = df.select(
        F.col(id_col),
        coord_sign_cluster(_as_double(F.col(vec_col)), bits).alias("cluster"))
    sizes = clustered.groupBy("cluster").agg(
        F.count("*").alias("n_cluster"))
    rates = sizes.withColumn(
        "rate_e6",
        F.when(F.col("n_cluster") <= int(per_cluster), F.lit(RATE_MOD))
         .otherwise(F.expr(f"({int(per_cluster)}L * {RATE_MOD}L)"
                           " div n_cluster")))
    slot = hash_slot(F.col(id_col), RATE_MOD, salt)
    return (clustered.join(F.broadcast(rates), "cluster")
            .select(F.col(id_col),
                    F.col("cluster").cast("long").alias("cluster"),
                    F.col("n_cluster").cast("long").alias("n_cluster"),
                    (slot < F.col("rate_e6")).alias("keep")))


def hard_negative_topk(corpus: DataFrame, queries: DataFrame,
                       id_col: str, vec_col: str, label_col: str,
                       k: int = 5,
                       dim: Optional[int] = None) -> DataFrame:
    """Contrastive hard-negative mining — the training-data op behind
    embedding-model fine-tuning (in-batch negatives are easy; the
    gradient signal lives in the most-similar DIFFERENT-class items):
    for each query (anchor), the top-k corpus vectors by cosine whose
    ``label_col`` differs from the anchor's.

    Same scale shape as :func:`cosine_topk` (broadcast anchor set,
    one corpus scan, per-query window merge keeping ≤k per
    partition); the label inequality rides the join condition so
    same-class rows never reach the scorer.  For anchor sets beyond
    the broadcast bound, run per label-pair through the IVF index
    (``ann_index``) — candidates from probed cells, filtered by
    label, re-ranked exactly."""
    q = _normalized(queries.select(F.col(id_col).alias("query_id"),
                                   F.col(vec_col)),
                    "query_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_qv") \
        .join(queries.select(F.col(id_col).alias("query_id"),
                             F.col(label_col).alias("_ql")), "query_id")
    c = _normalized(corpus.select(F.col(id_col).alias("neighbor_id"),
                                  F.col(vec_col)),
                    "neighbor_id", F.col(vec_col)) \
        .withColumnRenamed("_v", "_cv") \
        .join(corpus.select(F.col(id_col).alias("neighbor_id"),
                            F.col(label_col).alias("_cl")), "neighbor_id")
    scored = (c.join(F.broadcast(q), F.col("_ql") != F.col("_cl"))
              .withColumn("cos", dot(F.col("_qv"), F.col("_cv"), dim)))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id",
                    F.col("_ql").alias("query_label"),
                    "neighbor_id",
                    F.col("_cl").alias("neighbor_label"),
                    F.round("cos", 4).alias("cos"),
                    F.col("rk").cast("long").alias("rk")))


def _int8_ranges(df: DataFrame, vec_col: str) -> DataFrame:
    """One-row frame of per-dimension (min, range) arrays — the
    global SQ8 quantizer state quantize_int8 and quantized_recall
    share.  One posexplode + dims-sized hash-agg."""
    mm = (df.select(F.posexplode(_as_double(F.col(vec_col)))
                    .alias("_d", "_x"))
          .groupBy("_d")
          .agg(F.min("_x").alias("_mn"), F.max("_x").alias("_mx")))
    return (mm.groupBy()
            .agg(F.sort_array(F.collect_list(
                F.struct("_d", "_mn", "_mx"))).alias("_s"))
            .select(F.transform("_s", lambda s: s["_mn"]).alias("_mns"),
                    F.transform("_s", lambda s: s["_mx"] - s["_mn"])
                    .alias("_rgs")))


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Scalar int8 quantization of an embedding column — the 4×
    memory/IO reduction every vector store applies before ANN serving
    (FAISS ``ScalarQuantizer QT_8bit``): per-DIMENSION global
    [min, max] ranges, each coordinate encoded to
    ``q = clamp(floor((x - mn) * 255 / (mx - mn)), 0, 255)``.
    Against PQ (``pq_encode``) this is the transparent low-loss tier:
    no codebook training, decode is two flops, recall loss near zero.

    Returns one row per vector: ``(id, codes_md5, recon_mse)`` —
    the md5 of the '|'-joined code bytes (the auditable content
    digest of the quantized artifact; any engine re-derives it) and
    the round-trip reconstruction error under the midpoint decode
    ``x̂ = mn + (q + 0.5)·(mx − mn)/255`` (ROUND(·, 6)).

    Scale shape: one posexplode + per-dimension min/max hash-agg
    (map-side combined — shuffle is dim × partitions rows, nothing
    like the corpus), ranges rejoined as a broadcast dim-row array,
    then a single scan encodes; no collect of vector data."""
    rng = _int8_ranges(df, vec_col)
    enc = (df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
           .join(F.broadcast(rng))
           .withColumn("_q", F.zip_with(
               F.zip_with("_v", "_mns", lambda x, m: x - m), "_rgs",
               lambda d, r: F.when(r > 0, F.least(
                   F.lit(255), F.greatest(F.lit(0),
                                          F.floor(d * 255.0 / r))))
                             .otherwise(0).cast("long"))))
    err = F.zip_with(
        F.zip_with("_v", "_mns", lambda x, m: x - m),
        F.zip_with("_q", "_rgs",
                   lambda q, r: (q + 0.5) * r / 255.0),
        lambda d, xh: (d - xh) * (d - xh))
    return enc.select(
        F.col(id_col),
        F.md5(F.array_join(F.col("_q").cast("array<string>"), "|"))
         .alias("codes_md5"),
        F.round(F.aggregate(err, F.lit(0.0), lambda a, x: a + x)
                / F.size("_v"), 6).alias("recon_mse"))


def matryoshka_recall(emb: DataFrame, id_col: str, vec_col: str,
                      dims: tuple = (8, 16, 32), k: int = 5,
                      n_queries: int = 20) -> DataFrame:
    """Truncated-dimension retrieval calibration (Kusupati et al.
    2022, Matryoshka representation learning): for each prefix
    dimensionality ``d``, brute-force cosine top-k using only the
    first ``d`` coordinates, compared against the full-dimension
    top-k — recall@k per dim tells you how short a prefix the
    serving index can store before retrieval quality collapses
    (an IVF/PQ memory-budget decision, measured on YOUR vectors).

    Exactness: cosines are left-associative double folds on both
    engines (the _lsh_ann_oracle idiom — sum/(sqrt(ssq_a)·sqrt(ssq_b))
    term for term), ranking breaks ties by neighbor id, and the
    output is pure integer arithmetic: recall_e6 =
    overlap·1e6 DIV (k·n_queries).

    Scale shape: ONE corpus scan scores every (query, dim) pair —
    the query side is a broadcast ≤ n_queries rows, per-row work is
    |dims|+1 bounded folds; per-dim top-k is a (dim, query)-keyed
    window over k·n_queries·partitions candidates.  The corpus is
    never self-joined; at 100 TB this is the cosine_topk plan with a
    |dims|-way explode on the broadcast side of the score."""
    dims = sorted(set(int(d) for d in dims))
    full_dim = None  # marker: full vector

    # r14 (guide §4.1/§4.2): the scoring pass — every (query, dim)
    # cosine over the whole corpus — runs as ONE Arrow-batched map
    # instead of a BroadcastNestedLoopJoin + |dims|+1 interpreted
    # zip_with/aggregate folds per pair.  Bit-compatibility with the
    # old fold (and the oracle's explicit term sum): a left fold with
    # 0.0 seed is exactly np.cumsum read at the prefix index — cumsum
    # is sequential by definition — and the denominator keeps the
    # sqrt(q)·sqrt(c) operand order.  The query side (≤ n_queries
    # rows, parameter-bounded) rides the task closure.
    import pandas as pd

    q_rows = (emb.filter(F.col(id_col) < n_queries)
              .select(F.col(id_col).alias("_qid"),
                      _as_double(F.col(vec_col)).alias("_qv"))
              .collect())
    queries = [(r["_qid"], np.asarray(r["_qv"], dtype=np.float64))
               for r in q_rows]
    id_type = dict(emb.dtypes)[id_col]
    schema = (f"query_id {id_type}, neighbor_id {id_type}, "
              "_d int, _cos double")
    dim_list = dims + [full_dim]

    def _score(batches):
        with np.errstate(divide="ignore", invalid="ignore"):
            for pdf in batches:
                nids = pdf[id_col].to_numpy()
                vecs = [np.asarray(v, dtype=np.float64)
                        for v in pdf[vec_col]]
                lens = np.array([len(v) for v in vecs], dtype=np.int64)
                B = len(vecs)
                L = max(int(lens.max()) if B else 0, 1)
                cm = np.zeros((B, L), dtype=np.float64)
                for i, v in enumerate(vecs):
                    cm[i, :len(v)] = v
                csq = np.cumsum(cm * cm, axis=1)
                rows_q, rows_n, rows_d, rows_c = [], [], [], []
                for qid, qv in queries:
                    qL = len(qv)
                    qv_pad = np.zeros(L, dtype=np.float64)
                    qv_pad[:min(qL, L)] = qv[:L]
                    pc = np.cumsum(cm * qv_pad[None, :], axis=1)
                    sq_q = np.cumsum(qv * qv) if qL else np.zeros(0)
                    for d in dim_list:
                        la = qL if d is None else min(d, qL)
                        lb = lens if d is None else np.minimum(d, lens)
                        # zip_with pads length-mismatched slices with
                        # NULL -> fold yields NULL: emit only equal-
                        # length, non-self pairs (NULL rows sort after
                        # every candidate and can never enter top-k
                        # ahead of one... they are simply absent, as
                        # NULL cos rows order last under DESC anyway)
                        ok = (lb == la) & (nids != qid)
                        if not ok.any():
                            continue
                        qn = np.sqrt(sq_q[la - 1]) if la > 0 else 0.0
                        dotv = np.where(
                            lb > 0,
                            pc[np.arange(B), np.maximum(lb, 1) - 1],
                            0.0)
                        cn = np.where(
                            lb > 0,
                            np.sqrt(csq[np.arange(B),
                                        np.maximum(lb, 1) - 1]),
                            0.0)
                        cos = dotv / (qn * cn)
                        sel = np.flatnonzero(ok)
                        rows_q.append(np.full(len(sel), qid))
                        rows_n.append(nids[sel])
                        rows_d.append(np.full(
                            len(sel), 0 if d is None else d,
                            dtype=np.int32))
                        rows_c.append(cos[sel])
                if rows_q:
                    yield pd.DataFrame({
                        "query_id": np.concatenate(rows_q),
                        "neighbor_id": np.concatenate(rows_n),
                        "_d": np.concatenate(rows_d),
                        "_cos": np.concatenate(rows_c)})

    scored = (emb.select(F.col(id_col), _as_double(F.col(vec_col))
                         .alias(vec_col))
              .mapInPandas(_score, schema))
    w = Window.partitionBy("_d", "query_id") \
        .orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    # materialize the tiny top-k frame ((|dims|+1)·n_queries·k rows):
    # three consumers read it (full set, trunc set, counts) and
    # without the barrier each would re-run the corpus-scoring scan
    # (the plan showed 3 BroadcastNestedLoopJoins over the corpus)
    top = (scored.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= k)
           .select("_d", "query_id", "neighbor_id")
           .localCheckpoint(eager=True))
    full_top = top.filter(F.col("_d") == 0) \
        .select("query_id", "neighbor_id")
    trunc = top.filter(F.col("_d") != 0)
    hits = (trunc.join(full_top, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("_d").agg(F.count("*").alias("_hit")))
    base = trunc.groupBy("_d").agg(F.count("*").alias("_n"))
    return (base.join(hits, "_d", "left")
            .select(F.col("_d").cast("long").alias("dim"),
                    F.col("_n").cast("long").alias("n_top"),
                    F.coalesce("_hit", F.lit(0)).cast("long")
                    .alias("n_overlap"),
                    F.expr("(coalesce(_hit, 0) * 1000000L) DIV _n")
                    .alias("recall_e6")))


def embedding_dim_stats(emb: DataFrame, id_col: str,
                        vec_col: str) -> DataFrame:
    """Per-dimension moment report — the embedding-QA pass you run
    BEFORE building an index: dead dimensions (zero variance),
    mean-shifted dims (un-centered encoder output), clipped ranges.
    One posexplode + one dims-sized hash-agg; every statistic is an
    exact integer (each element quantized ONCE to e6 fixed point;
    sums are exact longs — order-proof across engines, unlike a
    double SUM).  ssq_e12 stays inside int64 up to ~1e5 vectors ×
    unit-scale values; beyond that aggregate the same quantized
    column as DECIMAL(38,0) — the report is dims-sized either way.

    Output: (dim 1-based, n, mean_e6, min_e6, max_e6, ssq_e12)."""
    v_e6 = F.floor(F.col("_v") * 1e6 + F.lit(0.5)).cast("long")
    return (emb.select(F.posexplode(_as_double(F.col(vec_col)))
                       .alias("_d", "_v"))
            .select((F.col("_d") + 1).alias("_dim"), v_e6.alias("_e"))
            .groupBy("_dim")
            .agg(F.count("*").alias("n"),
                 F.sum("_e").alias("_s"),
                 F.min("_e").alias("min_e6"),
                 F.max("_e").alias("max_e6"),
                 F.sum(F.col("_e") * F.col("_e")).alias("ssq_e12"))
            .select(F.col("_dim").cast("long").alias("dim"),
                    F.col("n").cast("long"),
                    F.expr("_s DIV n").alias("mean_e6"),
                    F.col("min_e6").cast("long"),
                    F.col("max_e6").cast("long"),
                    F.col("ssq_e12").cast("long")))


def cosine_threshold_sweep(df: DataFrame, id_col: str, vec_col: str,
                           thresholds=(0.3, 0.5, 0.7, 0.8, 0.9, 0.95),
                           bands: int = 8, bits: int = 8,
                           base: "DataFrame | None" = None,
                           base_threshold: "float | None" = None) -> DataFrame:
    """Cosine threshold-sensitivity curve — the embedding twin of
    ``jaccard_threshold_sweep`` (and of ``minhash_band_sweep``'s
    banding curve): pair volume and touched-vector count per
    candidate dedup threshold, all from ONE LSH-banded scored pass
    (``cosine_near_pairs_lsh`` at the LOWEST threshold; higher
    thresholds are pure filters over the same scored frame, never
    re-banded re-scans).  The report you read before committing a
    corpus-wide semantic-dedup threshold: where the pair count
    cliffs, near-dup structure ends and topical similarity begins.

    Determinism: pair cosines are the bit-reproducible sequential
    fold both engines already hash-agree on (C12); thresholds ride
    as exact e4 integers and are compared via ``cos >
    threshold_e4 / 10000.0`` — IEEE division is correctly rounded,
    so both engines compare against the identical double.  Zero-pair
    thresholds still report (0, 0) rows.

    Scale shape: the candidate pass is the banded equi-join (~n²/2^bits
    per band, ``bits`` grows with log₂ n); the sweep adds one
    6-row broadcast join + two hash-aggs over the pairs frame.
    """
    # ``base``: the session-shared scored near-pairs frame (the
    # _cos_pairs_lsh memo contract — the same frame
    # dedup_embedding_cosine returns), mined at ``base_threshold``;
    # a mine above the lowest sweep threshold would under-report the
    # lower buckets, so it is refused.  Built fresh when absent so the
    # function stays standalone.
    if (base is None) != (base_threshold is None):
        raise ValueError("pass base and base_threshold together")
    if base is None:
        base = cosine_near_pairs_lsh(df, id_col, vec_col,
                                     threshold=min(thresholds),
                                     bands=bands, bits=bits)
    elif base_threshold > min(thresholds):
        raise ValueError(
            f"base was mined at cos > {base_threshold}, above the lowest "
            f"sweep threshold {min(thresholds)}")
    spark = df.sparkSession
    th = spark.createDataFrame(
        [(int(round(t * 10000)),) for t in sorted(thresholds)],
        "threshold_e4 long")
    hits = (base.crossJoin(F.broadcast(th))
            .filter(F.col("cos") > F.col("threshold_e4") / 10000.0))
    np_ = hits.groupBy("threshold_e4").agg(
        F.count("*").alias("_np"))
    nd = (hits.select("threshold_e4",
                      F.explode(F.array("id_a", "id_b")).alias("_d"))
          .groupBy("threshold_e4")
          .agg(F.countDistinct("_d").alias("_nd")))
    return (th.join(np_, "threshold_e4", "left")
            .join(nd, "threshold_e4", "left")
            .select("threshold_e4",
                    F.coalesce("_np", F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.coalesce("_nd", F.lit(0)).cast("long")
                    .alias("n_docs")))


def quantized_recall(emb: DataFrame, id_col: str, vec_col: str,
                     k: int = 5, n_queries: int = 20) -> DataFrame:
    """Int8 SERVING-TIER retrieval calibration — the deploy decision
    quantize_int8's MSE cannot answer: after SQ8 midpoint decode
    (x̂ = mn + (q + 0.5)·rg/255, the exact artifact a serving index
    stores), does brute cosine top-k still return the full-precision
    top-k?  recall@k over the standard ≤ n_queries query set — the
    matryoshka_recall harness with the quantized vector as the
    variant instead of a prefix slice.

    Exactness: the decode chain is the same left-to-right double
    arithmetic in both engines ((x−mn)·255/rg → floor → clamp →
    +0.5 → ·rg → /255 → +mn, each element independently), cosines
    are left-associative folds vs explicit term sums, ranking ties
    by neighbor id.  Scale shape: one ranges agg (dims-sized) +
    ONE corpus scan scoring both variants against the broadcast
    query set — the corpus is never self-joined."""
    import pandas as pd

    # r14 (guide §4.1/§4.2): the scoring pass — the SQ8 decode chain
    # plus four interpreted zip_with/aggregate folds per
    # (query, corpus) pair behind a non-equi BroadcastNestedLoopJoin
    # — runs as ONE Arrow-batched map (the matryoshka_recall
    # discipline).  Bit-compatibility with the old formulation:
    # float→double is exact widening; every decode step is the same
    # elementwise IEEE double op in the same operand order
    # ((x−m)·255.0/r → floor → max(0,·) → min(255,·) →
    # (q+0.5)·r/255.0 → m+·, with the r>0 arm per element; d ∈ [0, r]
    # because mns/rgs are the GLOBAL per-dim min/range, so the long
    # floor can never overflow and the clamp is exact in both); the
    # dot/norm left folds with 0.0 seed ARE np.cumsum read at the
    # last index (cumsum is sequential by definition); cos keeps the
    # dot/(norm_q·norm_c) operand order.  The ≤ n_queries query rows
    # and the one-row quantizer state ride the task closure; the
    # top-k window, eager checkpoint barrier and recall arithmetic
    # below are untouched.
    rng_row = _int8_ranges(emb, vec_col).collect()[0]
    mns = np.asarray(rng_row["_mns"], dtype=np.float64)
    rgs = np.asarray(rng_row["_rgs"], dtype=np.float64)

    def _decode(M: np.ndarray) -> np.ndarray:
        d = M - mns[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            fl = np.floor(d * 255.0 / rgs[None, :])
        q = np.where(rgs[None, :] > 0,
                     np.minimum(255.0, np.maximum(0.0, fl)), 0.0)
        return mns[None, :] + (q + 0.5) * rgs[None, :] / 255.0

    def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
        # left-assoc fold with 0.0 seed == cumsum at the last index
        return np.cumsum(A * B, axis=-1)[..., -1]

    q_rows = (emb.filter(F.col(id_col) < n_queries)
              .select(F.col(id_col).alias("_qid"),
                      _as_double(F.col(vec_col)).alias("_qv"))
              .collect())
    q_ids = np.array([r["_qid"] for r in q_rows], dtype=np.int64)
    QV = (np.stack([np.asarray(r["_qv"], dtype=np.float64)
                    for r in q_rows])
          if q_rows else np.zeros((0, len(mns))))
    QX = _decode(QV) if len(QV) else QV
    qn_v = np.sqrt(_fold_dot(QV, QV)) if len(QV) else QV
    qn_x = np.sqrt(_fold_dot(QX, QX)) if len(QX) else QX
    id_type = dict(emb.dtypes)[id_col]
    schema = (f"query_id {id_type}, neighbor_id {id_type}, "
              "_var int, _cos double")

    def _score(batches):
        with np.errstate(divide="ignore", invalid="ignore"):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                nids = pdf["_id"].to_numpy()
                CV = np.stack([np.asarray(v, dtype=np.float64)
                               for v in pdf["_v"]])
                CX = _decode(CV)
                cn_v = np.sqrt(_fold_dot(CV, CV))
                cn_x = np.sqrt(_fold_dot(CX, CX))
                out = []
                for qi, qid in enumerate(q_ids):
                    mask = nids != qid
                    if not mask.any():
                        continue
                    cos_v = (_fold_dot(CV[mask], QV[qi][None, :])
                             / (qn_v[qi] * cn_v[mask]))
                    cos_x = (_fold_dot(CX[mask], QX[qi][None, :])
                             / (qn_x[qi] * cn_x[mask]))
                    nm = nids[mask]
                    out.append(pd.DataFrame({
                        "query_id": qid, "neighbor_id": nm,
                        "_var": 0, "_cos": cos_v}))
                    out.append(pd.DataFrame({
                        "query_id": qid, "neighbor_id": nm,
                        "_var": 1, "_cos": cos_x}))
                if out:
                    yield pd.concat(out, ignore_index=True)

    scored = (emb.select(F.col(id_col).alias("_id"),
                         _as_double(F.col(vec_col)).alias("_v"))
              .mapInPandas(_score, schema))
    w = Window.partitionBy("_var", "query_id") \
        .orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    top = (scored.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= k)
           .select("_var", "query_id", "neighbor_id")
           .localCheckpoint(eager=True))
    full_top = top.filter(F.col("_var") == 0) \
        .select("query_id", "neighbor_id")
    qt = top.filter(F.col("_var") == 1)
    hits = (qt.join(full_top, ["query_id", "neighbor_id"],
                    "left_semi")
            .agg(F.count("*").alias("_hit")))
    base = qt.agg(F.count("*").alias("_n"))
    return (base.crossJoin(F.broadcast(hits))
            .select(F.col("_n").cast("long").alias("n_top"),
                    F.col("_hit").cast("long").alias("n_overlap"),
                    F.expr("_hit * 1000000L DIV greatest(_n, 1L)")
                    .cast("long").alias("recall_e6")))
