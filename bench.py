"""Benchmark headline queries; prints ONE JSON line for the driver.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS  (default 32).
Each query is forced end-to-end with a noop sink (full computation,
no driver collect cost).

Output: stdout carries EXACTLY ONE compact JSON line (headline value +
per-headline-query seconds) so a tail capture can never truncate it
mid-line (BENCH_r04 lost its headline that way).  The full report —
including ``queries_all``, per-query times for EVERY registry query —
goes to ``bench_report.json`` (override: SPARK_GRAFT_BENCH_REPORT) and
is echoed to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # goka-core processor pipeline
    "proc_agg_state",
    "stream_lookup_join",
    "loopback_rekey",
    # windowed / analytical
    "tumbling_window_agg",
    "session_window_agg",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "as_of_join",
    # LLM-data
    "dedup_exact",
    "dedup_minhash_lsh",
    "ngram_jaccard_pairs",
    "embedding_cosine_topk",
    "token_count",
    # round 2 additions
    "q13_order_count_distribution",
    "q9_profit_by_nation_year",
    "dedup_embedding_cosine",
    "embedding_ivf_ann",
    "embedding_pq_ann",
    "dup_ngram_coverage",
    # round 4 additions
    "ngram_jaccard_auto",
    "embedding_ivf_pq_ann",
    "embedding_lsh_ann",
    # round 5 additions
    "dedup_incremental",
    "bloom_decontaminate",
    "ngram_containment_pairs",
    "embedding_cluster_assign",
    # round 6 additions
    "gopher_repetition",
    "nb_quality_classify",
    "embedding_knn_graph",
    "image_dhash_dedup",
    "ngram_cms_estimate",
    # round 7 additions
    "corpus_pack_sequences",
    "ngram_novelty",
    "dedup_minhash_keep",
    "embedding_outliers",
    "split_contamination_audit",
    "unigram_token_count",
    "embedding_quantize_int8",
    # round 8 additions
    "doc_chunk",
    "chunk_pack_pipeline",
    "source_divergence_matrix",
    "embedding_matryoshka_eval",
    # round 9 additions (compare per-query: set grew 43 -> 47)
    "time_weighted_avg",
    "url_normalize",
    "dedup_url_keep",
    "user_path_topk",
    # round 9 session-3 representatives (set grew 47 -> 49)
    "growth_accounting",
    "source_health_report",
]

# Headline v2 (r10 verdict ask #6): the TRUE hot set — the 10 slowest
# full-sweep rows from BENCH_r10 that v1 did not cover (the v1 set
# predates them, so round-over-round regressions on the most
# expensive plans were only visible in the sweep tail).  v1 is kept
# unchanged for round-over-round continuity; v2 starts its own
# comparable series at r11.  Membership is frozen to the r10 ranking
# on purpose — a set that re-derives itself each round would never be
# comparable across rounds.
HEADLINE_V2 = [
    "simhash_hamming_histogram",   # 5.55 s in r10's sweep
    "minhash_band_sweep",          # 5.28 s
    "corpus_filter_pipeline",      # 4.84 s
    "minhash_est_error",           # 4.68 s
    "source_overlap_matrix",       # 4.60 s
    "bpe_token_count_batched",     # 4.50 s
    "winnow_fingerprints",         # 4.19 s
    "ngram_jaccard_prefix",        # 4.18 s
    "embedding_cell_margins",      # 4.18 s
    "weighted_jaccard_pairs",      # 4.16 s
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from goka_spark.artifacts import warm
    from goka_spark.queries import all_queries, llmdata
    from goka_spark.queries.base import load
    from goka_spark.session import get_session

    spark = get_session("goka_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # ---- warmup, NOT counted (VERDICT r3 item 8: proc_agg_state was
    # eating ~2 s of first-query session warmup) ----
    # r15 (verdict ask #3): the wall-clock of the whole warmup block —
    # JVM warm + every artifact in llmdata.WARM (ANN index, tokenizer
    # training, graph artifacts) — is REPORTED as
    # ``artifact_build_sec`` in both JSON outputs, and each artifact's
    # build as ``artifact_breakdown`` in the report file, so the
    # uncounted warm list can never silently grow.  The timed
    # methodology for every query series is unchanged (additions-only
    # contract).
    t_build0 = time.time()
    # JVM + codegen + shuffle machinery
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # parquet reader + scan→shuffle→agg pipeline over the real tables
    qs["proc_count_per_key"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()
    # Arrow / pandas-UDF worker pool
    load(spark, sf_dir, "embeddings")["embeddings"].limit(64) \
        .mapInPandas(lambda it: it, "vec_id long, embedding array<float>") \
        .write.format("noop").mode("overwrite").save()
    # build artifacts (ANN index build-or-cache-hit, tokenizer
    # training, graph artifacts): amortized over queries (FAISS
    # discipline), so every timed row measures apply cost only
    artifact_breakdown = {k: round(s, 3) for k, s in
                          warm(spark, sf_dir, llmdata.WARM).items()}
    # one probed query against the index: the first probed read pays
    # ~4.5 s of scoring-stage/Arrow init that the index build alone
    # does not warm (r8 verdict ask #2 — embedding_ivf_ann read
    # 7.07 s cold vs 2.47 s warm; plan unchanged)
    qs["embedding_ivf_ann"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()
    artifact_build_sec = round(time.time() - t_build0, 3)

    def run(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    # Headline queries whose cold/warm spread has exceeded 2× under
    # machine load (q9 read 0.89→2.31 s r6→r7 on one cold sample;
    # judge warm re-measure said 1.4–1.6 s): take a second, warm run
    # and record it, so single-sample scheduler noise stops reading
    # as a plan regression (r7 verdict ask #8).
    WARM_TWICE = {"q9_profit_by_nation_year"}

    def run_headline(name: str) -> float:
        t = run(name)
        return min(t, run(name)) if name in WARM_TWICE else t

    times = {name: run_headline(name) for name in HEADLINE}
    # headline v2: the 10 slowest r10 sweep rows, timed with the same
    # discipline (after the same uncounted warmup) right after v1 so
    # their numbers are sweep-order independent
    times_v2 = {name: run(name) for name in HEADLINE_V2}
    # value_min (r12 verdict ask #1): a de-noised best-of-2 series.
    # r12's driver run read 1.33× of r11 purely from a loaded box
    # (median inflation uniform across unrelated queries); a second,
    # warm pass per v1 query and the per-query min gives the series
    # that machine noise cannot inflate.  v1 keeps its single-run
    # methodology untouched for round-over-round continuity —
    # value_min is reported ALONGSIDE, never instead.
    times_min = {name: min(times[name], run(name)) for name in HEADLINE}
    # full-registry sweep: every remaining query, timed once each, so
    # per-round diffs catch regressions outside the headline set.
    # Bounded by a wall-clock budget so the bench can never blow a
    # driver timeout; anything skipped is REPORTED, never silent.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "480"))
    t_start = time.time()
    rest: dict[str, float] = {}
    skipped: list[str] = []
    for name in qs:
        if name in times or name in times_v2:
            continue
        if time.time() - t_start > budget:
            skipped.append(name)
            continue
        rest[name] = run(name)

    sf = sf_dir.rstrip("/").split("sf")[-1]
    # The driver tail-captures stdout and can truncate a long line
    # mid-JSON (BENCH_r04 lost its headline that way).  Write the full
    # report to a side file and print the big sweep FIRST, so the ONE
    # compact headline line is LAST and survives any tail truncation.
    full = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        # v2 series starts at r11 (the 10 slowest r10 sweep rows);
        # compare v2 values only to r11+ rounds — earlier rounds timed
        # these queries in the sweep tail, where sweep order could
        # bill shared-artifact builds to whichever row ran first.
        "value_v2": round(sum(times_v2.values()), 3),
        "queries_v2": times_v2,
        "value_min": round(sum(times_min.values()), 3),
        "queries_min": times_min,
        "queries_all": {**times, **times_v2, **rest},
        "skipped_over_budget": skipped,
        "artifact_build_sec": artifact_build_sec,
        "artifact_breakdown": artifact_breakdown,
        "sf": float(sf),
    }
    report_path = os.environ.get("SPARK_GRAFT_BENCH_REPORT",
                                 "bench_report.json")
    try:
        with open(report_path, "w") as f:
            json.dump(full, f, indent=1)
    except OSError:
        pass
    print(json.dumps({"queries_all": full["queries_all"],
                      "skipped_over_budget": skipped}), file=sys.stderr)
    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": full["value"],
        "unit": "sec",
        "queries": times,
        "value_v2": full["value_v2"],
        "queries_v2": times_v2,
        "value_min": full["value_min"],
        # per-query best-of-2 (r13 verdict ask #2): with only the
        # compact line surviving the driver's tail capture, the
        # de-noised per-query series must ride along or a loaded-box
        # run cannot be adjudicated from BENCH_rN.json alone (r12 and
        # r13 both needed a manual re-run to prove noise).  ~49 keys,
        # bounded size — still one line.
        "queries_min": times_min,
        # r15 verdict ask #3: the warm list's wall-clock, exposed so
        # uncounted artifact builds are visible round-over-round
        "artifact_build_sec": artifact_build_sec,
        "sf": float(sf),
    }))


if __name__ == "__main__":
    main()
