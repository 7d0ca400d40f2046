"""The round-7 dataset-RELEASE surfaces in one walkthrough — the last
mile between a filtered corpus and a training run:

  1. fuzzy dedup with a keep policy: MinHash LSH band graph →
     connected components → keep the LONGEST copy per cluster
     (dedup_minhash_keep — the big-corpus canonicalization step),
  2. leakage-safe train/validation/test split: membership hashed on
     the near-dup CLUSTER representative, so a paraphrase of a test
     document can never sit in train,
  3. α=1/2 temperature-smoothed domain mixture (exact-integer isqrt
     weights — no libm pow, bit-reproducible anywhere),
  4. length-bucketed loader batches (power-of-two length classes,
     shard-local fixed batches — padding-efficient by construction),
  5. store maintenance: compact the append-fragmented ANN codes
     table (the OPTIMIZE job every incremental ingestion needs),
  6. token-budget plan: allocate a 2x-tokens training budget across
     sources under the temperature policy and flag any source the
     allocation would repeat past 4 epochs (data-constrained scaling),
  7. corpus-health gates: Zipf slope (flat head = duplication damage)
     and Heaps beta (near-0 = vocabulary saturated by duplication),
  8. training-objective plan: T5 span-corruption masks derived as a
     pure hash policy (non-overlapping by construction), plus the
     contrastive (anchor, positive) pairs the dedup run yields free.

Every verdict is a pure function of (ids, content, salt): any engine
re-derives the same release from the same corpus — the property the
registry's DuckDB oracles verify bit-for-bit.

Run: python examples/dataset_release.py [sf_dir]
"""

import os
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from goka_spark import get_session
from goka_spark.artifacts import dataset_fingerprint
from goka_spark.functions import ann_index as A
from goka_spark.functions import corpus as C
from goka_spark.functions import dedup as D
from goka_spark.queries.base import load

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
spark = get_session("example-dataset-release")
spark.sparkContext.setLogLevel("ERROR")

docs = load(spark, sf, "documents")["documents"]
emb = load(spark, sf, "embeddings")["embeddings"]

# 1. fuzzy dedup + canonicalization -----------------------------------
pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", num_perm=32, bands=8)
cc = D.connected_components(pairs)
keep = D.cluster_keep(docs, "doc_id", "n_chars", cc)
kept = keep.filter(F.col("doc_id") == F.col("keep_id"))
print(f"dedup: {docs.count()} docs -> {kept.count()} canonical "
      f"({keep.count() - kept.count()} dropped as near-dups)")

# 2. leakage-safe split ------------------------------------------------
split = C.leakage_safe_split(docs, "doc_id", cc)
per = {r["split"]: r["n"] for r in
       split.groupBy("split").agg(F.count("*").alias("n")).collect()}
print(f"split: {per} (cluster members always share a split)")

# 3. temperature mixture ----------------------------------------------
rates = C.temperature_rates(docs, "source").orderBy("source")
mixed = C.temperature_mix(docs, "doc_id", "source")
print(f"temperature mix (alpha=1/2): kept {mixed.count()} of "
      f"{docs.count()} docs across {rates.count()} sources")

# 4. length-bucketed batches ------------------------------------------
with_len = docs.select(
    "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"))
batches = C.length_bucket_batches(with_len, "doc_id", "n_tok",
                                  batch_size=16, n_shards=4)
n_batches = batches.select("bucket", "shard", "batch").distinct().count()
print(f"loader layout: {n_batches} batches over "
      f"{batches.select('bucket').distinct().count()} length buckets")

# 6. token budget plan -------------------------------------------------
plan = C.token_budget_plan(docs, "doc_id", "text", "source")
hot = plan.filter("capped").count()
print(f"budget plan: {plan.count()} sources, {hot} would exceed "
      f"4 epochs under a 2x-token budget (capped)")

# 7. corpus health: Zipf + Heaps --------------------------------------
from goka_spark.functions import text as T
z = T.zipf_fit(docs, "doc_id", "text").first()
h = T.heaps_fit(docs, "doc_id", "text").first()
print(f"health: zipf slope {z['slope_e6'] / 1e6:+.3f} "
      f"(r2 {z['r2_e6'] / 1e6:.3f}), heaps beta "
      f"{h['slope_e6'] / 1e6:.3f}")

# 8. objective plan: span masks + contrastive positives ---------------
masks = C.span_corruption_masks(docs, "doc_id", "text")
mstats = masks.agg(F.sum("n_spans").alias("s"),
                   F.sum("n_tokens").alias("t")).first()
print(f"span corruption: {mstats['s']} spans over {mstats['t']} "
      f"tokens (~{3 * mstats['s'] * 100 // max(mstats['t'], 1)}% masked)")
pos = (keep.filter(F.col("doc_id") != F.col("keep_id"))
       .select(F.col("doc_id").alias("anchor"),
               F.col("keep_id").alias("positive")))
print(f"contrastive positives from dedup byproduct: {pos.count()} pairs")

# 5. maintenance: compact an append-fragmented index ------------------
with tempfile.TemporaryDirectory() as tmp:
    base = emb.filter(F.col("vec_id") < 300)
    fp = dataset_fingerprint(os.path.join(sf, "embeddings.parquet"))
    idx = A.build_or_load(spark, base, "vec_id", "embedding",
                          fingerprint=fp, cache_dir=tmp)
    A.append_vectors(idx, emb.filter(F.col("vec_id") >= 300),
                     "vec_id", "embedding")
    stats = A.compact_index(idx)
    print(f"compaction: {stats['files_before']} files -> "
          f"{stats['files_after']} ({stats['rows']} rows unchanged)")

spark.stop()
