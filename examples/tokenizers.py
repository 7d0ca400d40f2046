"""Both tokenizer families end to end — train, encode, compare:

  1. BPE (functions/bpe.py): merges trained on the driver over the
     collected word dict; batched mode accepts up to m
     symbol-disjoint merges per round for vocab-scale training.
  2. Unigram LM (functions/unigram.py): SentencePiece-family hard-EM
     with exact integer micro-nat Viterbi costs.
  3. Fertility report: tokens-per-word per source under both models —
     the cross-domain efficiency comparison that drives the choice.

Both trainers only ever touch the vocabulary-sized word dict; the
corpus pass is one broadcast word→tokens join — the 100 TB shape.
Every artifact is a pure function of the word-frequency table, so the
registry's DuckDB oracles re-train and verify them bit-for-bit.

Run: python examples/tokenizers.py [sf_dir]
"""

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from goka_spark import get_session
from goka_spark.functions import bpe as B
from goka_spark.functions import unigram as U
from goka_spark.queries.base import load

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
spark = get_session("example-tokenizers")
spark.sparkContext.setLogLevel("ERROR")

docs = load(spark, sf, "documents")["documents"]

# 1. BPE --------------------------------------------------------------
merges = B.bpe_train(docs, "doc_id", "text", n_merges=16)
print(f"BPE: {len(merges)} merges, first 5: {merges[:5]}")
bpe_counts = B.bpe_token_count(docs, "doc_id", "text", merges)
print("BPE corpus tokens:",
      bpe_counts.agg(F.sum("bpe_tokens")).first()[0])

# 2. Unigram LM -------------------------------------------------------
pieces = U.unigram_train(docs, "doc_id", "text")
multi = sorted((p for p in pieces if len(p) > 1),
               key=lambda p: -pieces[p])[:5]
print(f"unigram: {len(pieces)} pieces, top multi-char: {multi}")
enc = U.unigram_encode(docs, "doc_id", "text", pieces)
sample = enc.filter(F.col("doc_id") == 0).first()
print(f"doc 0 -> {sample['n_tokens']} tokens: "
      f"{' '.join(sample['token_str'].split()[:12])} ...")

# 3. Fertility head-to-head ------------------------------------------
bw = (B.bpe_word_tokens(docs, "doc_id", "text", merges)
      .select("word", F.col("n_tokens").alias("bt")))
uw = (U.unigram_word_tokens(docs, "doc_id", "text", pieces)
      .select("word", F.col("n_tokens").alias("ut")))
tok = (docs.select("source", F.explode(F.split("text", r"\s+"))
               .alias("word"))
       .filter(F.col("word") != ""))
fert = (tok.join(F.broadcast(bw), "word").join(F.broadcast(uw), "word")
        .groupBy("source")
        .agg(F.count("*").alias("words"),
             F.round(F.sum("bt") / F.count("*"), 3).alias("bpe_fert"),
             F.round(F.sum("ut") / F.count("*"), 3).alias("uni_fert"))
        .orderBy("source"))
print("fertility (tokens/word) per source:")
for r in fert.limit(8).collect():
    print(f"  {r['source']}: bpe={r['bpe_fert']}  uni={r['uni_fert']}"
          f"  ({r['words']} words)")

spark.stop()
