"""Parallel-scaling probe for round 15 (VERDICT r14 ask #4): the v2
hot set + the kernelized n-gram/MinHash family, timed as the REAL
registry functions against replicated SF directories at 1x/4x/16x —
run the script TWICE, under SPARK_GRAFT_CPUS=8 and =32, to get the
core-scaling signal sf0.1 alone cannot show (at 17 MB of input every
query is stage-overhead-bound and 8 cores beat 32).

Discipline matches bench.py: per factor the session artifacts
(tokenizer vocabs, graph memos, ANN index) are warmed UNCOUNTED
before any timed row, so rows measure query cost, not whichever key
touched a shared memo first.

Replication caveats (the SCALE.md r9/r12/r13 accounting):
- replication repeats the same TEXT, so distinct-unit sides
  (shingle vocabulary, band buckets, template hashes) are constant
  while instance counts grow — measured growth is the scan/agg/
  kernel cost, the real 100 TB cost;
- pair-mining keys (ngram_jaccard_*, weighted_jaccard_pairs,
  containment) see their per-shingle document frequency multiplied
  by the factor, so the max_df cutoff prunes MORE of the replicated
  vocabulary at higher factors — pair counts are not comparable
  across factors, wall-clock per instance still is.

Usage:
  SPARK_GRAFT_CPUS=32 python tools/scale_probe_r15.py [factors...]
  SPARK_GRAFT_CPUS=8  python tools/scale_probe_r15.py [factors...]
Results merge into tools/scale_results_r15.json keyed by cpu count.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

from scale_probe import timed  # noqa: E402
from scale_probe_r13 import build_sfdir  # noqa: E402

from goka_spark.session import get_session  # noqa: E402

#: the bench v2 hot set + the r14-kernelized n-gram/MinHash family
KEYS = [
    # v2 (bench.py HEADLINE_V2)
    "simhash_hamming_histogram",
    "minhash_band_sweep",
    "corpus_filter_pipeline",
    "minhash_est_error",
    "source_overlap_matrix",
    "bpe_token_count_batched",
    "winnow_fingerprints",
    "ngram_jaccard_prefix",
    "embedding_cell_margins",
    "weighted_jaccard_pairs",
    # kernelized n-gram / MinHash / feature family
    "gopher_repetition",
    "ngram_jaccard_pairs",
    "ngram_jaccard_auto",
    "ngram_containment_pairs",
    "ngram_novelty",
    "ngram_cms_estimate",
    "dedup_minhash_lsh",
    "dedup_minhash_keep",
    "nb_quality_classify",
]


def main():
    factors = [int(x) for x in sys.argv[1:]] or [1, 4, 16]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session("scale_probe_r15")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    from goka_spark.artifacts import warm
    from goka_spark.queries import all_queries, llmdata
    qs = all_queries()

    results = {}
    for f in factors:
        d = build_sfdir(spark, f)
        t0 = time.time()
        warm(spark, d, llmdata.WARM)
        warm_s = round(time.time() - t0, 2)
        print(f"x{f} warm (uncounted): {warm_s}s", flush=True)
        r = {"_warm_uncounted": warm_s}
        for key in KEYS:
            r[key] = timed(key, qs[key](spark, d))
            print(f"  x{f} {key}: {r[key]}s", flush=True)
        results[f"x{f}"] = r
        print(f"x{f}: {json.dumps(r)}", flush=True)

    out = "tools/scale_results_r15.json"
    merged = {}
    if os.path.exists(out):
        merged = json.load(open(out))
    for k, v in results.items():
        merged.setdefault(f"cpus{cpus}", {}).setdefault(k, {}).update(v)
    json.dump(merged, open(out, "w"), indent=1, sort_keys=True)
    print("merged into", out)


if __name__ == "__main__":
    main()
