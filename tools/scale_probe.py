"""Scale-linearity probe: replicate the sf0.1 tables N× in /tmp and
measure core operators at each scale.  Writes tools/scale_results.json
and prints a table.  Evidence for SCALE.md: runtimes should grow
~linearly with input size while plans stay shape-identical.

Usage: python tools/scale_probe.py [factors...]  (default: 1 4 16)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from goka_spark.queries.base import load
from goka_spark.session import get_session

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/goka_spark_scale"


def replicate(spark, table: str, factor: int, id_cols: list[str]) -> str:
    """Union `factor` shifted copies so keys stay distinct per copy."""
    out = f"{WORK}/{table}_x{factor}"
    if os.path.exists(out):
        return out
    df = load(spark, BASE, table)[table]
    shift = 10_000_000
    parts = []
    for i in range(factor):
        p = df
        for c in id_cols:
            p = p.withColumn(c, F.col(c) + i * shift)
        parts.append(p)
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    allp.repartition(max(factor, 8)).write.mode("overwrite").parquet(out)
    return out


def timed(label, df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 2)


def r8_family(r, sdocs, emb_f, kp_cc):
    """The round-8 operator family, callable from the full sweep or
    from the focused runner (scale_probe_r8.py) so late additions get
    their 1x-64x rows without re-timing the whole board."""
    from goka_spark.functions import corpus as CORP
    from goka_spark.functions import dedup as D
    from goka_spark.functions import multimodal as MM
    from goka_spark.functions import similarity as SIM
    from goka_spark.functions import text as TXT

    # doc_chunk: pure scan stage (split + sequence of starts +
    # posexplode), zero shuffle — expect strictly linear
    r["doc_chunk"] = timed("chunk", CORP.doc_chunk(
        sdocs, "doc_id", "text", chunk=16, stride=12))

    # chunk→pack composition: the chunk scan feeding the two-pass
    # distributed prefix sum (partition-sums frame is
    # partitions-sized) — expect ~linear
    ck = CORP.doc_chunk(sdocs, "doc_id", "text", chunk=16, stride=12)
    r["chunk_pack"] = timed("cpk", TXT.pack_sequences(
        ck.select((F.col("doc_id") * 1_000_000 + F.col("chunk_idx"))
                  .alias("cid"), F.col("n_tokens").alias("tok")),
        "cid", "tok", seq_len=128))

    # chunk-granular dup report: chunk scan reduced to 32 B md5s
    # before the count hash-agg + equi-join — expect ~linear in
    # chunks (the shuffled bytes are hashes, never chunk text)
    r["chunk_dup"] = timed("cdup", CORP.chunk_dup_report(
        sdocs, "doc_id", "text", chunk=12))

    # release diff: each side reduces to (id, md5) in its scan
    # stage before the full-outer join — expect ~linear
    new_rel = sdocs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text")).unionByName(
        sdocs.filter(F.col("doc_id") % 19 == 0).select(
            (F.col("doc_id") + 100_000_000).alias("doc_id"), "text"))
    r["release_diff"] = timed("rdiff", CORP.release_diff(
        sdocs, new_rel, "doc_id", "text"))

    # pairwise source JSD: one postings hash-agg + a<b word
    # equi-join + pairs-sized agg — sources are config-sized,
    # expect ~linear in tokens.  (release_token_drift is this same
    # kernel with releases as the source axis — not probed twice.)
    r["source_divergence"] = timed("jsd", TXT.source_divergence_matrix(
        sdocs, "doc_id", "text", "source"))

    # cluster-size histogram over the CC labels (graph reused from
    # the keep probe) — rollup is clusters-sized, expect ~linear
    lab = (sdocs.select("doc_id")
           .join(kp_cc.withColumnRenamed("node", "doc_id"),
                 "doc_id", "left")
           .select(F.coalesce("cluster_id", "doc_id").alias("cid")))
    r["cluster_size_hist"] = timed(
        "csh",
        lab.groupBy("cid").agg(F.count("*").alias("sz"))
        .groupBy("sz").agg(F.count("*").alias("n")))

    # matryoshka recall: ONE corpus scan scores every (query, dim)
    # pair against the broadcast 20-query set — expect ~linear
    r["matryoshka"] = timed("mat", SIM.matryoshka_recall(
        emb_f, "vec_id", "embedding", dims=(8, 16, 32), k=5,
        n_queries=20))

    # bigram conditional entropy: scan-stage bigram arrays + two
    # hash-aggs — expect ~linear in tokens
    r["bigram_cond_entropy"] = timed("bce", TXT.bigram_cond_entropy(
        sdocs, "doc_id", "text", "source"))

    # per-dimension embedding moments: posexplode + dims-sized
    # hash-agg — expect ~linear
    r["embedding_dim_stats"] = timed("dstat", SIM.embedding_dim_stats(
        emb_f, "vec_id", "embedding"))

    # exact-Jaccard threshold sweep: ONE df-pruned postings join
    # feeds every threshold — expect ~ngram_jaccard
    r["threshold_sweep"] = timed("tsw", D.jaccard_threshold_sweep(
        sdocs, "doc_id", "text"))

    # cosine threshold sweep: one LSH-banded scored pass at the
    # lowest threshold; higher thresholds are filters over the same
    # frame — expect ~cosine_lsh_pairs
    r["cos_threshold_sweep"] = timed("ctsw", SIM.cosine_threshold_sweep(
        emb_f, "vec_id", "embedding"))

    # windowed silence over synthesized-then-decoded PCM16:
    # Arrow-batched mapInPandas, per-clip work bounded —
    # expect ~linear in clips.  (quality_gate_ablation is not
    # probed separately: its plan is C72's already-probed kernels
    # — gopher_repetition, doc_entropy, bloom probe, md5 dedup —
    # plus a 6-way struct explode and a 6-row agg.  lang_id_eval and
    # quality_calibration are one scan + a languages-/10-row hash-agg
    # over already-probed scoring columns.)
    sil_spec = sdocs.select(
        "doc_id",
        (F.lit(100) + F.col("doc_id") % 50).cast("int").alias("n"),
        F.col("doc_id").alias("seed"))
    r["wav_silence"] = timed("sil", MM.wav_silence_report(
        MM.encode_wav(sil_spec, "doc_id", "n", "seed", rate=8000)))

    # frame-level dHash dedup over concatenated P6 streams: decode +
    # per-frame hash in one Arrow pass, then a doc hash-agg —
    # expect ~linear in frames
    fspec = sdocs.select(
        "doc_id", (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("nf"))
    fblobs = MM.encode_ppm_stream_quad(fspec, "doc_id", "nf",
                                       width=9, height=8, seed_mod=3)
    r["frame_dedup"] = timed(
        "fdd",
        MM.frame_dhash(fblobs).groupBy("doc_id")
        .agg(F.count("*").alias("n_frames"),
             F.countDistinct("dhash").alias("n_distinct")))


def main():
    factors = [int(x) for x in sys.argv[1:]] or [1, 4, 16]
    spark = get_session("scale_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    results = {}
    for f in factors:
        ev_path = replicate(spark, "events", f, ["event_id", "user_id"])
        doc_path = replicate(spark, "documents", f, ["doc_id"])
        # replicate() wrote through load(), so ts is already TIMESTAMP
        ev = spark.read.parquet(ev_path)
        docs = spark.read.parquet(doc_path)
        rows = ev.count()

        from goka_spark import AggFold, Processor, PyFold, define_group, input_stream, persist
        from goka_spark.functions import dedup as D
        from goka_spark.operators import windows as W
        from goka_spark.operators.joins import as_of_join

        r = {"events_rows": rows, "docs_rows": docs.count()}

        g = define_group("c", input_stream("t", key="user_id"),
                         persist(AggFold({
                             "cnt": F.count("*"),
                             "sum_v": F.sum("value"),
                             "last": F.max_by("event_type", F.col("ts"))})))
        r["agg_state"] = timed("agg", Processor(g).run({"t": ev}).table)

        r["tumbling"] = timed("tw", W.tumbling(
            ev, "ts", "1 hour", ["event_type"], {"cnt": F.count("*")}))

        purchases = ev.filter(F.col("event_type") == "purchase")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("cid"))
        r["as_of_join"] = timed("asof", as_of_join(
            purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
            value_cols=["cid"], tiebreak="cid"))

        # bucketized point-in-interval join: expect ~linear (equi-join
        # on (key, bucket); interval explode adds ≤ span/bucket rows)
        from goka_spark.operators.joins import interval_bucket_join
        ivals = purchases.select(
            "user_id", F.col("event_id").alias("pid"),
            (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("s"),
            F.col("ts").alias("e"))
        pts = clicks.select("user_id", F.col("cid"),
                            F.col("ts").alias("pts"))
        r["interval_join"] = timed("ij", interval_bucket_join(
            pts, ivals, on="user_id", point_ts="pts",
            start_ts="s", end_ts="e", bucket="30 minutes"))

        r["minhash_sigs"] = timed("mh", D.minhash_signatures(
            docs, "doc_id", "text", num_perm=32))

        # Similarity self-joins need SALTED copies: identical replicas
        # are true duplicates of each other, so any correct algorithm
        # must OUTPUT O(f²) pairs — that measures the answer size, not
        # the plan.  Salting (word suffix / coordinate rotation) keeps
        # within-copy structure and decorrelates copies, so output and
        # runtime should both grow ~linearly.
        #
        # MATERIALIZED to parquet (r7): feeding operators the lazy
        # f-branch union-of-transforms was the r6 probe's 16x→64x
        # "superlinear bend" — an operator referencing the corpus
        # k times (incremental_dedup: corpus twice, batch thrice)
        # re-evaluated the f-branch salting transform per reference,
        # and at 64 branches the union also falls out of whole-stage
        # codegen, multiplying the per-row constant.  A real pipeline's
        # corpus is a TABLE, not a transform plan; measured with
        # parquet input the three flagged ops scale ~linearly
        # (dedup_incremental 5.2→15.7 s, sig_store_adhoc 4.2→15.6 s
        # at 16x→64x — see SCALE.md).
        base_docs = load(spark, BASE, "documents")["documents"]
        sd_path = f"{WORK}/sdocs_x{f}"
        if not os.path.exists(sd_path):
            doc_parts = []
            for i in range(f):
                doc_parts.append(
                    base_docs
                    .withColumn("doc_id", F.col("doc_id") + i * 10_000_000)
                    .withColumn("text", F.array_join(
                        F.transform(F.split("text", " "),
                                    lambda w: F.concat(w, F.lit(f"_{i}"))),
                        " ")))
            sd = doc_parts[0]
            for p in doc_parts[1:]:
                sd = sd.unionByName(p)
            sd.repartition(max(f, 8)).write.mode("overwrite") \
                .parquet(sd_path)
        sdocs = spark.read.parquet(sd_path)
        r["ngram_jaccard"] = timed("ngram", D.ngram_jaccard_pairs(
            sdocs, "doc_id", "text", n=3, threshold=0.05, max_df="auto"))

        # linear-scan repetition signal: no self-join, expect ~linear
        r["dup_ngram_cov"] = timed("dupcov", D.dup_ngram_coverage(
            sdocs, "doc_id", "text", n=5))

        # word-entropy quality signal: explode + two hash-aggs, no
        # joins on text — expect ~linear in corpus tokens
        from goka_spark.functions import text as TXT
        r["doc_entropy"] = timed("entropy", TXT.word_entropy(
            sdocs, "doc_id", "text"))

        # heavy-hitter n-grams: postings + hash-agg +
        # TakeOrderedAndProject (partial top-k per partition, k-row
        # merge) — expect ~linear, never a global gram sort
        r["common_ngrams"] = timed("hh", D.common_ngrams(
            sdocs, "doc_id", "text", n=3, k=20))

        # incremental batch-vs-corpus dedup: signatures linear in
        # total postings, probes are equi-joins — expect ~linear
        inc_batch = sdocs.filter(F.col("doc_id") % 10 == 0)
        inc_corpus = sdocs.filter(F.col("doc_id") % 10 != 0)
        r["dedup_incremental"] = timed("inc", D.incremental_dedup(
            inc_batch, inc_corpus, "doc_id", "text"))

        # persisted signature store: build once per scale (linear,
        # timed apart), then probe a FIXED-size batch — probe reads
        # precomputed signatures only (no corpus text re-scan), so
        # probe << ad-hoc and grows only with the signature scan
        from goka_spark.functions.sig_store import SignatureStore
        store = SignatureStore(spark, f"scaleprobe_sig_x{f}")
        t0 = time.time()
        store.build(inc_corpus, "doc_id", "text")
        r["sig_store_build"] = round(time.time() - t0, 2)
        fixed_batch = sdocs.filter(F.col("doc_id") < 500)
        r["sig_store_probe"] = timed("probe", store.dedup_batch(
            fixed_batch, "doc_id", "text"))
        r["sig_store_adhoc"] = timed("adhoc", D.incremental_dedup(
            fixed_batch, inc_corpus, "doc_id", "text"))
        store.drop()

        # Bloom decontamination: benchmark FIXED (the realistic shape
        # — eval suites don't grow with the corpus), corpus grows; the
        # bitset build is constant, the probe linear in corpus postings
        bl_bench = base_docs.filter(F.col("doc_id") % 97 == 0)
        bl_corpus = sdocs.filter(F.col("doc_id") % 97 != 0)
        r["bloom_decontaminate"] = timed("bloom", D.bloom_decontaminate(
            bl_corpus, bl_bench, "doc_id", "text", n=3))

        from goka_spark.functions import similarity as SIM
        emb = load(spark, BASE, "embeddings")["embeddings"]
        dim = 64
        # materialized like sdocs (r7): the lazy f-branch rotation was
        # re-scanned by every k-means iteration of the quantizer train
        # (ann_index_build 0.4 s→166 s at 16x→64x in the r6 probe)
        emb_path = f"{WORK}/emb_x{f}"
        if not os.path.exists(emb_path):
            emb_parts = []
            for i in range(f):
                # rotation is orthogonal: within-copy cosines
                # unchanged, cross-copy pairs decorrelated
                emb_parts.append(
                    emb.withColumn("vec_id", F.col("vec_id") + i * 10_000_000)
                    .withColumn("embedding", F.transform(
                        F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda j: F.element_at(
                            F.col("embedding"), ((j + F.lit(i)) % dim) + 1))))
            ef = emb_parts[0]
            for p in emb_parts[1:]:
                ef = ef.unionByName(p)
            ef.repartition(max(f, 8)).write.mode("overwrite") \
                .parquet(emb_path)
        emb_f = spark.read.parquet(emb_path)
        # LSH scaling law: candidate pairs per band ≈ n²/2^bits, so
        # bits must grow with log2(n) to hold bucket occupancy (and
        # therefore per-item cost) constant — +2 bits per 4× corpus.
        # dim=64 caps bands*bits, so bands shrinks as bits grow
        # (recall traded per the banding formula; multi-probe or a
        # second hash family recovers it on a real deployment).
        import math
        bits = 8 + 2 * int(math.log(max(f, 1), 4))
        bands = min(8, dim // bits)
        r["cosine_lsh_pairs"] = timed("lsh_pairs", SIM.cosine_near_pairs_lsh(
            emb_f, "vec_id", "embedding", threshold=0.3,
            bands=bands, bits=bits))
        r["lsh_bands_bits"] = [bands, bits]

        # PQ/ADC: codebook train is O(sample), encode+scan linear in
        # corpus, re-rank bounded by refine*k per query — expect ~linear
        pq_queries = emb_f.filter(F.col("vec_id") < 20)
        r["pq_topk"] = timed("pq", SIM.pq_topk(
            emb_f, pq_queries, "vec_id", "embedding", k=5, m=8))

        # Persisted ANN index: build once per scale (timed apart), then
        # the indexed IVF-PQ query — expect query time ~flat-to-linear
        # (scan ∝ probed cells only) and the input-row ratio to track
        # n_probe/n_cells regardless of corpus size (physical pruning).
        from goka_spark.functions import ann_index as ANN
        t0 = time.time()
        n_cells = ANN.adaptive_n_cells(emb_f.count())
        idx = ANN.build_or_load(
            spark, emb_f, "vec_id", "embedding",
            fingerprint=f"scaleprobe_x{f}_{os.path.getmtime(BASE + '/embeddings.parquet'):.0f}",
            n_cells=n_cells,
            cache_dir=WORK + "/ann_cache")
        r["ann_index_build"] = round(time.time() - t0, 2)
        r["ann_n_cells"] = n_cells
        r["ann_ivfpq_indexed"] = timed("ann_idx", ANN.ivf_pq_topk(
            idx, emb_f, pq_queries, "vec_id", "embedding",
            k=5, n_probe=4))
        qcells = ANN._probe(
            idx, ANN._collect_queries(pq_queries, "vec_id", "embedding",
                                      10_000)[1], 4)
        total = idx.codes().count()
        # per-query IO fraction (the physical-pruning claim: one query
        # reads ~n_probe/n_cells of the codes); with n_cells ≈ √n the
        # 20-query batch's probed-cell UNION must also stay under all
        # cells — batched reads keep real IO pruning, asserted below
        # (at the old fixed n_cells=16 the union saturated to 1.0).
        r["ann_rows_frac_q0"] = round(
            idx.codes([int(c) for c in qcells[0]]).count()
            / max(total, 1), 3)
        union = sorted({int(c) for row in qcells for c in row})
        r["ann_rows_frac_union20"] = round(
            idx.codes(union).count() / max(total, 1), 3)
        assert r["ann_rows_frac_union20"] < 1.0, (
            f"20-query probed-cell union covers ALL codes at x{f} "
            f"(n_cells={n_cells}) — batched ANN reads lost IO pruning")

        # Gopher repetition (r6): scan-stage grams + doc-keyed aggs,
        # no text self-join — expect ~linear in corpus tokens
        r["gopher_repetition"] = timed("gopher", TXT.gopher_repetition(
            sdocs, "doc_id", "text"))

        # NB classifier (r6): one postings pass + two hash-aggs +
        # broadcast coefficient table — expect ~linear
        r["nb_classify"] = timed("nb", TXT.nb_classify(
            sdocs, "doc_id", "text",
            label=F.length("text") >= 300,
            train_pred=F.col("doc") % 3 == 0))

        # BPE: training runs on the collected word DICT
        # (vocabulary-sized — the salting grows it ×f here, real
        # corpora grow it ~log), so train time tracks the dict; the
        # corpus-side count is one broadcast join — expect ~linear
        from goka_spark.functions import bpe as BPE
        t0 = time.time()
        merges = BPE.bpe_train(sdocs, "doc_id", "text", n_merges=8)
        r["bpe_train"] = round(time.time() - t0, 2)
        r["bpe_count"] = timed("bpec", BPE.bpe_token_count(
            sdocs, "doc_id", "text", merges))

        # cluster-local kNN graph (r6): Σ_c n_c² pairs; with
        # n_cells ≈ √n that is n·√n — expect ~n^1.5, never n²
        r["knn_graph"] = timed("knn", ANN.knn_graph(idx, k=5))

        # fuzzy-dedup keep pipeline (r7): sigs + band equi-join + CC
        # over the collision graph + one arg-max join per cluster —
        # pairs are within-copy only under salting, CC rounds bounded
        # by cluster diameter — expect ~linear
        kp_pairs = D.minhash_lsh_pairs(sdocs, "doc_id", "text",
                                       num_perm=32, bands=8)
        kp_cc = D.connected_components(kp_pairs)
        r["minhash_keep"] = timed("keep", D.cluster_keep(
            sdocs, "doc_id", "n_chars", kp_cc))

        # temperature mix / length-bucket batches (r7): pure scans +
        # domain-sized aggregates / (bucket, shard)-bounded windows —
        # expect ~linear
        from goka_spark.functions import corpus as CORP
        r["temperature_mix"] = timed("tmix", CORP.temperature_mix(
            sdocs, "doc_id", "source"))
        wl = sdocs.select("doc_id", F.length("text").alias("n_tok"))
        r["length_batches"] = timed("lb", CORP.length_bucket_batches(
            wl, "doc_id", "n_tok", batch_size=16, n_shards=8))

        # centroid outliers (r7): zero-recompute indexed read +
        # broadcast centroid join + √n-cell windows — expect ~linear
        r["centroid_outliers"] = timed("outl", ANN.centroid_outliers(idx))

        # Count-Min sketch (r6): one (row, bucket) hash-agg, state
        # depth×width regardless of rows — expect ~linear build
        sk_postings = D.shingle_postings(sdocs, "doc_id", "text", 3)
        r["cms_sketch"] = timed("cms", D.cms_sketch(sk_postings, "sh"))

        # histogram-sketch quantiles (r6): one scan + bounded per-key
        # cumulative windows — expect ~linear
        from goka_spark.operators import windows as WIN
        r["hist_quantiles"] = timed("hq", WIN.histogram_quantiles(
            ev, "value", ["event_type"], 0.0, 512.0, 256))

        # span corruption masks (r7): pure scan-stage Columns, zero
        # shuffle — expect strictly linear
        r["span_corruption"] = timed("span", CORP.span_corruption_masks(
            sdocs, "doc_id", "text"))

        # zipf fit (r7): one postings hash-agg + TakeOrdered(100) +
        # a 100-row regression — expect ~linear in tokens
        r["zipf_fit"] = timed("zipf", TXT.zipf_fit(
            sdocs, "doc_id", "text"))

        # token budget plan (r7): one token hash-agg then a
        # sources-sized frame — expect ~linear
        r["token_budget_plan"] = timed("tbp", CORP.token_budget_plan(
            sdocs, "doc_id", "text", "source"))

        # LSH band sweep (r7): one signature pass + 4 band self-joins
        # + the df-pruned exact-truth join (the ngram_jaccard core) —
        # expect ~ngram_jaccard plus a signatures-sized constant;
        # under salting the candidate joins stay within-copy
        r["band_sweep"] = timed("bsw", D.minhash_band_sweep(
            sdocs, "doc_id", "text", num_perm=32))

        # heaps fit (r7): n_points log-spaced prefix-vocab aggs over
        # the postings frame — expect ~linear × n_points
        r["heaps_fit"] = timed("heaps", TXT.heaps_fit(
            sdocs, "doc_id", "text"))

        # winnowing (r7): fingerprint selection is a scan-stage
        # window min per position (linear in tokens); the overlap
        # pair join is an equi-join on selected fingerprints only
        # (~2/(w+1) of grams survive) — expect ~linear under salting
        r["winnow_fingerprints"] = timed("wfp", D.winnow_fingerprints(
            sdocs, "doc_id", "text"))
        r["winnow_pairs"] = timed("wpr", D.winnow_overlap_pairs(
            sdocs, "doc_id", "text"))

        # unigram-LM tokenizer (r7): hard-EM rounds run on the word
        # DICT (vocabulary-sized, like BPE train); the corpus count
        # is one broadcast word→tokens join — train tracks dict
        # growth (×f under salting; ~log on real corpora), apply
        # ~linear
        from goka_spark.functions import unigram as UNI
        t0 = time.time()
        pieces = UNI.unigram_train(sdocs, "doc_id", "text")
        r["unigram_train"] = round(time.time() - t0, 2)
        r["unigram_count"] = timed("ucnt", UNI.unigram_token_count(
            sdocs, "doc_id", "text", pieces))

        # ---- r8 family (shared with scale_probe_r8.py) ----
        r8_family(r, sdocs, emb_f, kp_cc)

        # PyFold last: its Python workers pressure memory for later jobs
        gpy = define_group("p", input_stream("t", key="user_id"),
                           persist(PyFold(
                               func=lambda s, row: (s or 0.0) * 0.9 + row["value"],
                               init=0.0, state_schema="ewma double",
                               order_extra=["event_id"])))
        r["pyfold"] = timed("pyfold", Processor(gpy).run({"t": ev}).table)

        results[f] = r
        print(f, json.dumps(r))
        # session hygiene between factors: drop cached blocks and nudge
        # the JVM so checkpoint blocks from this factor release before
        # the next one's (bigger) plans analyze — without this the x4
        # stage OOM'd an 8g driver on accumulated x1 state
        spark.catalog.clearCache()
        import gc
        gc.collect()
        spark._jvm.System.gc()

    out_path = "/root/repo/tools/scale_results.json"
    if os.path.exists(out_path):
        with open(out_path) as fh:
            prev = json.load(fh)
        # deep-merge per factor so a focused run (scale_probe_r8.py)
        # adds rows without clobbering the factor's existing board
        for k, v in results.items():
            prev.setdefault(str(k), {}).update(v)
        results = prev
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1)


if __name__ == "__main__":
    main()
