"""The round-4 training-data surfaces in one walkthrough: build the
persisted ANN index once, query it three ways (IVF / PQ / IVF-PQ),
run SemDeDup semantic dedup off the same index, then the text-side
operators — budget-tuned ngram near-dup pairs, duplicated-substring
spans, and DSIR importance weights.

No goka example covers these (they are the beyond-reference LLM-data
block); the shape to notice is the INDEX discipline: quantizers and
the cell-partitioned codes table are built once and every consumer —
top-k search, dedup — reads the artifact, like any secondary index.

Run: python examples/ann_pipeline.py [sf_dir]
"""

import os
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from goka_spark import get_session
from goka_spark.artifacts import dataset_fingerprint
from goka_spark.functions import ann_index as A
from goka_spark.functions import dedup as D
from goka_spark.functions import text as T
from goka_spark.queries.base import load

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
spark = get_session("example-ann-pipeline")
spark.sparkContext.setLogLevel("ERROR")

emb = load(spark, sf, "embeddings")["embeddings"]
docs = load(spark, sf, "documents")["documents"]

# ---- build-or-load the index (keyed by data fingerprint) ----
cache = tempfile.mkdtemp()
fp = dataset_fingerprint(os.path.join(sf, "embeddings.parquet"))
idx = A.build_or_load(spark, emb, "vec_id", "embedding",
                      fingerprint=fp, cache_dir=cache)
print("index at", idx.path)

# ---- three ANN query paths over the same artifact ----
q = emb.filter(F.col("vec_id") < 5)
for name, df in [
    ("ivf", A.ivf_topk(idx, emb, q, "vec_id", "embedding", k=3)),
    ("pq", A.pq_topk(idx, emb, q, "vec_id", "embedding", k=3)),
    ("ivf-pq", A.ivf_pq_topk(idx, emb, q, "vec_id", "embedding", k=3)),
]:
    print(name, "top-3 for query 0:",
          [(r.neighbor_id, r.cos) for r in
           df.filter(F.col("query_id") == 0).collect()])

# ---- SemDeDup off the same index (cells = semantic clusters) ----
sem = A.semantic_dedup(idx, threshold=0.3)
print("semantic dedup: docs in duplicate groups =", sem.count(),
      "| kept =", sem.filter("is_kept").count())

# ---- text side: self-tuned near-dup pairs, spans, DSIR weights ----
pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                              threshold=0.05, max_df="auto")
print("auto-tuned near-dup pairs:", pairs.count())

spans = D.dup_span_extract(docs, "doc_id", "text", n=5, min_df=2)
print("duplicated-substring spans:", spans.count())

target = docs.filter(F.col("doc_id") % 7 == 0)
w = T.dsir_importance(docs, target, "doc_id", "text", n_buckets=1024)
print("DSIR weights (top 3):",
      [(r.doc_id, r.weight) for r in
       w.orderBy(F.desc("weight")).limit(3).collect()])

spark.stop()
