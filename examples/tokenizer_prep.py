"""Tokenizer-prep pipeline: the steps between a cleaned corpus and a
training run, composed from round-6 operators —

  1. quality gates: Gopher repetition rules + C4 line rules
  2. CCNet perplexity terciles (train on `head`, as CCNet does)
  3. BPE vocabulary trained ON the surviving corpus (one word-dict
     collect, merges trained on the driver)
  4. vocabulary coverage check (OOV rate per doc)
  5. deterministic shuffle + token-budget shard packing

Run: python examples/tokenizer_prep.py
"""

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from goka_spark import get_session
from goka_spark.functions import bpe as B
from goka_spark.functions import corpus as C
from goka_spark.functions import text as T
from goka_spark.queries.base import load

SF = "/root/testdata/sf0.001"

spark = get_session("example-tokenizer-prep")
spark.sparkContext.setLogLevel("ERROR")

docs = load(spark, SF, "documents")["documents"]

# 1. quality gates — every verdict a column, auditable per doc
rep = T.gopher_repetition(docs, "doc_id", "text")
kept = docs.join(rep.filter(F.col("keep") == 1).select("doc_id"), "doc_id")
print(f"gopher repetition gate: {docs.count()} -> {kept.count()} docs")

# 2. perplexity terciles (CCNet): train the tokenizer on `head`
buckets = T.perplexity_buckets(kept, "doc_id", "text")
head = kept.join(buckets.filter(F.col("bucket") == "head")
                 .select("doc_id"), "doc_id")
print("perplexity buckets:",
      {r["bucket"]: r["n"] for r in
       buckets.groupBy("bucket").agg(F.count("*").alias("n")).collect()})

# 3. BPE vocabulary on the head slice
merges = B.bpe_train(head, "doc_id", "text", n_merges=16)
print(f"BPE: trained {len(merges)} merges; first 5: {merges[:5]}")
counts = B.bpe_token_count(kept, "doc_id", "text", merges)
stats = counts.agg(F.sum("bpe_tokens").alias("tok"),
                   F.sum("n_words").alias("w")).first()
print(f"corpus: {stats['w']} words -> {stats['tok']} BPE tokens "
      f"({stats['tok'] / max(stats['w'], 1):.2f} tokens/word)")

# 4. OOV audit vs the top-200 word vocab
cov = T.vocab_coverage(kept, "doc_id", "text", vocab_size=200)
print("mean OOV rate (e6):",
      cov.agg(F.avg("oov_frac_e6").cast("long")).first()[0])

# 5. deterministic shuffle then token-budget shards
order = C.shuffle_order(kept, "doc_id", n_shards=4)
packed = T.shard_pack(
    counts.select("doc_id", F.col("bpe_tokens").alias("tokens")),
    "doc_id", "tokens", budget=2000)
print("shards:", sorted((r["shard_id"], r["n"]) for r in
                        packed.groupBy("shard_id")
                        .agg(F.count("*").alias("n")).collect())[:8])
print("shuffle shards:", sorted((r["shard"], r["n"]) for r in
                                order.groupBy("shard")
                                .agg(F.count("*").alias("n")).collect()))
spark.stop()
print("OK")
