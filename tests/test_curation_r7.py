"""Round-7 curation operators: cluster-representative dedup,
leakage-safe splits, temperature mixing, length-bucketed batching.

Oracle hash-equivalence runs in tools/verify_local.py / the driver;
these tests pin the SEMANTICS on planted inputs the synthetic corpus
can't exercise (real near-dup clusters, tie-breaks, exact isqrt
boundaries, batch-shape invariants).
"""

import math

import pytest
from pyspark.sql import functions as F

from goka_spark.functions import corpus as C
from goka_spark.functions import dedup as D
from goka_spark.queries.base import load


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents")["documents"]


# ------------------------------------------------- cluster_keep

def test_cluster_keep_picks_heaviest_ties_min_id(spark):
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 7)], "doc_id long, n_chars long")
    cc = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node long, cluster_id long")
    out = {r["doc_id"]: (r["cluster_id"], r["keep_id"])
           for r in D.cluster_keep(docs, "doc_id", "n_chars", cc).collect()}
    # weight 9 tie between 2 and 3 -> min id 2 wins; 4 is a singleton
    assert out == {1: (1, 2), 2: (1, 2), 3: (1, 2), 4: (4, 4)}


def test_dedup_minhash_keep_planted_near_dups(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    rows = [
        (1, base + " tail one extra words here", None),
        (2, base, None),                       # near-dup of 1, shorter
        (3, " ".join(f"other{i}" for i in range(40)), None),
    ]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t, _ in rows],
        "doc_id long, text string, n_chars long")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", num_perm=32,
                                bands=8)
    cc = D.connected_components(pairs)
    out = {r["doc_id"]: r["keep_id"]
           for r in D.cluster_keep(docs, "doc_id", "n_chars", cc).collect()}
    assert out[1] == 1 and out[2] == 1        # longer copy kept
    assert out[3] == 3                         # distinct doc untouched


# ------------------------------------------- leakage-safe split

def test_leakage_safe_split_keeps_cluster_together(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long")
    # plant clusters {0..9} and {100, 101}
    cc = spark.createDataFrame(
        [(i, 0) for i in range(10)] + [(100, 100), (101, 100)],
        "node long, cluster_id long")
    out = C.leakage_safe_split(docs, "doc_id", cc)
    per_cluster = (out.groupBy("cluster_id")
                   .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r["k"] == 1 for r in per_cluster)
    assert out.count() == 200
    assert out.select("doc_id").distinct().count() == 200


def test_leakage_safe_split_singletons_match_hash_split(spark, docs):
    empty_cc = spark.createDataFrame([], "node long, cluster_id long")
    a = C.leakage_safe_split(docs, "doc_id", empty_cc)
    b = C.hash_split(docs, "doc_id")
    moved = (a.alias("a").join(b.alias("b"), "doc_id")
             .filter(F.col("a.split") != F.col("b.split")).count())
    assert moved == 0


# ------------------------------------------- temperature mixing

def test_isqrt_exact_at_boundaries(spark):
    vals = []
    for k in (1, 7, 1000, 31623, 3037000498):  # last: isqrt(2^63-1) region
        for x in (k * k - 1, k * k, k * k + 1):
            if 0 < x < 2 ** 63:
                vals.append(x)
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    out = df.select("x", C._isqrt(F.col("x")).alias("s")).collect()
    for r in out:
        assert r["s"] == math.isqrt(r["x"]), r["x"]


def test_temperature_rates_exact_policy(spark):
    rows = ([("a", i) for i in range(100)]
            + [("b", i) for i in range(400)]
            + [("c", i) for i in range(2500)])
    df = spark.createDataFrame(rows, "source string, doc_id long")
    rates = {r["source"]: (r["n_docs"], r["target"], r["rate_e6"])
             for r in C.temperature_rates(df, "source").collect()}
    # w = isqrt(n*1e6): a 10000, b 20000, c 50000; limiting = a
    # targets: a 100, b 100*20000//10000=200, c 100*50000//10000=500
    assert rates["a"] == (100, 100, 1_000_000)
    assert rates["b"] == (400, 200, 500_000)
    assert rates["c"] == (2500, 500, 200_000)


def test_temperature_rates_match_pure_python(docs):
    got = {r["source"]: (r["target"], r["rate_e6"])
           for r in C.temperature_rates(docs, "source").collect()}
    counts = {r["source"]: r["n"]
              for r in docs.groupBy("source").agg(
                  F.count("*").alias("n")).collect()}
    w = {s: math.isqrt(n * 1_000_000) for s, n in counts.items()}
    n_l, w_l = min(
        ((counts[s], w[s]) for s in counts),
        key=lambda t: ((t[0] * 1_000_000) // t[1],))
    for s, n in counts.items():
        t = n_l * w[s] // w_l
        assert got[s] == (t, t * 1_000_000 // n), s


def test_temperature_flattens_toward_tail(spark):
    """α=1/2 keeps MORE of the tail relative to the head than the
    proportional mix: rate ratio tail/head must exceed the inverse
    size ratio's square root, not its full value."""
    rows = ([("head", i) for i in range(10000)]
            + [("tail", i) for i in range(100)])
    df = spark.createDataFrame(rows, "source string, doc_id long")
    r = {x["source"]: x["rate_e6"]
         for x in C.temperature_rates(df, "source").collect()}
    assert r["tail"] == 1_000_000          # limiting domain kept whole
    # head keeps ~sqrt(100/10000)=10% under alpha=1/2 (vs 1% proportional)
    assert 90_000 <= r["head"] <= 110_000


# -------------------------------------------- length bucketing

def test_length_bucket_boundaries(spark):
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate([1, 2, 3, 4, 7, 8, 4095, 4096, 99999])],
        "doc_id long, n_tok long")
    out = {r["doc_id"]: r["bucket"]
           for r in C.length_bucket_batches(
               df, "doc_id", "n_tok", batch_size=4, n_shards=1).collect()}
    assert [out[i] for i in range(9)] == [0, 1, 1, 2, 2, 3, 11, 12, 12]


def test_length_bucket_batches_shape(docs):
    with_len = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"))
    out = C.length_bucket_batches(with_len, "doc_id", "n_tok",
                                  batch_size=16, n_shards=4)
    assert out.count() == docs.count()
    sizes = out.groupBy("bucket", "shard", "batch").count()
    assert sizes.filter(F.col("count") > 16).count() == 0
    # all but the last batch of each (bucket, shard) run are full
    short = sizes.filter(F.col("count") < 16)
    last = (sizes.groupBy("bucket", "shard")
            .agg(F.max("batch").alias("batch")))
    not_last = short.join(last, ["bucket", "shard", "batch"], "left_anti")
    assert not_last.count() == 0


def test_length_bucket_batches_deterministic(docs):
    with_len = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"))
    a = C.length_bucket_batches(with_len, "doc_id", "n_tok", 16, 4).collect()
    b = C.length_bucket_batches(with_len, "doc_id", "n_tok", 16, 4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_length_bucket_batches_validates_args(docs):
    with pytest.raises(ValueError):
        C.length_bucket_batches(docs, "doc_id", "n_chars", 0, 4)


# -------------------------------------------- release manifest

def test_release_manifest_detects_tampering(spark):
    docs = spark.createDataFrame(
        [(i, f"some document text number {i} with words") for i in range(80)],
        "doc_id long, text string")
    base = {(r["split"], r["shard"]): r["digest"]
            for r in C.release_manifest(docs, "doc_id", "text").collect()}
    mutated = docs.withColumn(
        "text", F.when(F.col("doc_id") == 7, F.lit("tampered"))
                 .otherwise(F.col("text")))
    after = {(r["split"], r["shard"]): r["digest"]
             for r in C.release_manifest(mutated, "doc_id", "text").collect()}
    assert set(base) == set(after)
    diffs = {k for k in base if base[k] != after[k]}
    assert len(diffs) == 1          # only doc 7's (split, shard) digest moves


def test_release_manifest_partitioning_invariant(spark, docs):
    a = sorted(map(tuple,
                   C.release_manifest(docs, "doc_id", "text").collect()))
    b = sorted(map(tuple,
                   C.release_manifest(docs.repartition(13), "doc_id",
                                      "text").collect()))
    assert a == b
    assert sum(r[2] for r in a) == docs.count()   # n_docs covers corpus


# ---------------------------------- split contamination audit

def test_split_contamination_planted_overlap(spark):
    # craft ids so split assignment is known, then plant overlap
    from goka_spark.functions.corpus import hash_slot
    ids = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    slots = {r["doc_id"]: r["s"] for r in ids.select(
        "doc_id", hash_slot(F.col("doc_id"), 1000, "split-v1")
        .alias("s")).collect()}
    train_id = next(i for i, s in slots.items() if s < 980)
    eval_ids = [i for i, s in slots.items() if s >= 980][:2]
    shared = "alpha beta gamma delta epsilon"          # 3 shingles
    rows = [(train_id, shared)]
    rows.append((eval_ids[0], shared))                 # fully leaked
    rows.append((eval_ids[1], "zeta eta theta iota kappa"))  # clean
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in C.split_contamination_audit(
        docs, "doc_id", "text").collect()}
    assert set(out) == set(eval_ids)                   # eval rows only
    leaked, clean = out[eval_ids[0]], out[eval_ids[1]]
    assert leaked["hits"] == leaked["n_sh"] == 3
    assert leaked["contamination_e6"] == 1_000_000
    assert clean["hits"] == 0 and clean["contamination_e6"] == 0


def test_split_contamination_empty_eval_doc(spark):
    from goka_spark.functions.corpus import hash_slot
    ids = spark.range(0, 4000).select(F.col("id").alias("doc_id"))
    slots = {r["doc_id"]: r["s"] for r in ids.select(
        "doc_id", hash_slot(F.col("doc_id"), 1000, "split-v1")
        .alias("s")).collect()}
    ev = next(i for i, s in slots.items() if s >= 980)
    tr = next(i for i, s in slots.items() if s < 980)
    docs = spark.createDataFrame(
        [(tr, "some words here"), (ev, "")], "doc_id long, text string")
    out = C.split_contamination_audit(docs, "doc_id", "text").collect()
    assert len(out) == 1 and out[0]["doc_id"] == ev
    assert out[0]["n_sh"] == 0 and out[0]["contamination_e6"] == 0


# ------------------------------------------------- vocab growth

def test_vocab_growth_curve_monotone_and_exact(spark):
    from goka_spark.functions.text import vocab_growth
    rows = [(i, " ".join(f"w{j}" for j in range(i + 1))) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(map(tuple, vocab_growth(docs, "doc_id", "text").collect()))
    assert [r[0] for r in out] == [1, 3, 5, 7, 9, 11, 13, 15, 17, 19]
    # doc i introduces exactly word w{i}: vocab == n_docs at each point
    for c, n_docs, cum_tok, vocab in out:
        assert n_docs == c + 1
        assert vocab == c + 1                      # w0..wc seen so far
        assert cum_tok == (c + 1) * (c + 2) // 2   # doc i has i+1 tokens
    with pytest.raises(ValueError):
        vocab_growth(docs, "doc_id", "text", n_points=0)


# --------------------------------------------- int8 quantization

def test_quantize_int8_codes_and_error(spark):
    from goka_spark.functions import similarity as S
    rows = [(1, [0.0, 10.0]), (2, [5.0, 20.0]), (3, [10.0, 30.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in
           S.quantize_int8(emb, "vec_id", "embedding").collect()}
    import hashlib
    # dim0 range [0,10]: codes 0,127,255; dim1 range [10,30]: 0,127,255
    def h(codes):
        return hashlib.md5("|".join(map(str, codes)).encode()).hexdigest()
    assert out[1]["codes_md5"] == h([0, 0])
    assert out[2]["codes_md5"] == h([127, 127])
    assert out[3]["codes_md5"] == h([255, 255])
    # max reconstruction offset is half a step -> mse bounded by step^2
    for r in out.values():
        assert 0 <= r["recon_mse"] <= (20 / 255.0) ** 2


def test_quantize_int8_constant_dim_is_zero_code(spark):
    from goka_spark.functions import similarity as S
    emb = spark.createDataFrame(
        [(1, [3.0, 1.0]), (2, [3.0, 2.0])],
        "vec_id long, embedding array<float>")
    import hashlib
    out = {r["vec_id"]: r["codes_md5"] for r in
           S.quantize_int8(emb, "vec_id", "embedding").collect()}
    assert out[1] == hashlib.md5(b"0|0").hexdigest()   # flat dim -> 0
    assert out[2] == hashlib.md5(b"0|255").hexdigest()


# --------------------------------------------- minhash calibration

def test_minhash_est_error_planted_extremes(spark):
    same = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, same), (2, same), (3, other)], "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r for r in
           D.minhash_est_error(docs, "doc_id", "text").collect()}
    dup, dis = out[(1, 2)], out[(2, 3)]
    assert dup["est_e6"] == dup["exact_e6"] == 1_000_000
    assert dup["abs_err_e6"] == 0
    assert dis["exact_e6"] == 0          # disjoint shingle sets
    assert dis["abs_err_e6"] == dis["est_e6"]


# ---------------------------------------------------- bigram PMI

def test_bigram_pmi_planted_collocation(spark):
    from goka_spark.functions.text import bigram_pmi_topk
    # words that ONLY ever occur inside one pair (quick-fox, lazy-dog
    # etc.) are perfect collocations — PMI must rank all of them above
    # every pair sharing the promiscuous "the"/"new"/"york" tokens
    rows = [(i, "the quick fox saw new york and the lazy dog in new york")
            for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = bigram_pmi_topk(docs, "doc_id", "text", min_count=5, k=8) \
        .collect()
    vals = [r["pmi_e6"] for r in out]
    assert vals == sorted(vals, reverse=True)
    top4 = {(r["w1"], r["w2"]) for r in out[:4]}
    assert top4 == {("quick", "fox"), ("fox", "saw"),
                    ("lazy", "dog"), ("dog", "in")}
    ny = next(r for r in out if (r["w1"], r["w2"]) == ("new", "york"))
    assert ny["cnt_ab"] == 20
    assert ny["pmi_e6"] < out[0]["pmi_e6"]   # frequent -> lower PMI


# ----------------------------------------- span corruption masks

def _starts(row):
    return ([int(x) for x in row["mask_starts"].split("|")]
            if row["mask_starts"] else [])


def test_span_corruption_counts_and_bounds(spark):
    # n=100 -> masked = round(15.0) = 15, n_spans = (30+3)//6 = 5,
    # block = 20: exactly one span per 20-token block, each start in
    # [b*20+1, b*20+18] so every span sits inside its own block
    docs = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(100)))],
        "doc_id long, text string")
    r = C.span_corruption_masks(docs, "doc_id", "text").collect()[0]
    assert (r["n_tokens"], r["n_spans"]) == (100, 5)
    st = _starts(r)
    assert len(st) == 5
    for b, s in enumerate(st):
        assert b * 20 + 1 <= s <= b * 20 + 18
    # non-overlapping by construction, all spans inside the doc
    for a, b2 in zip(st, st[1:]):
        assert a + 3 <= b2
    assert st[-1] + 2 <= 100
    assert r["masked_e6"] == 5 * 3 * 1_000_000 // 100  # exactly 15%


def test_span_corruption_round_half_up_and_tiny_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"),                       # n=3: masked=0 -> no spans
         (2, " ".join(["t"] * 10)),          # n=10: masked=2, spans=1
         (3, "")],                           # empty doc
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           C.span_corruption_masks(docs, "doc_id", "text").collect()}
    assert out[1]["n_spans"] == 0 and out[1]["mask_starts"] == ""
    assert out[1]["masked_e6"] == 0
    assert out[2]["n_spans"] == 1
    s = _starts(out[2])[0]
    assert 1 <= s <= 8 and s + 2 <= 10
    assert out[3]["n_tokens"] == 0 and out[3]["n_spans"] == 0


def test_span_corruption_deterministic_and_salted(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"x{j}" for j in range(40))) for i in range(20)],
        "doc_id long, text string")
    a = {r["doc_id"]: r["mask_starts"] for r in
         C.span_corruption_masks(docs, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["mask_starts"] for r in
         C.span_corruption_masks(docs, "doc_id", "text").collect()}
    assert a == b                      # pure function of (id, salt)
    c = {r["doc_id"]: r["mask_starts"] for r in
         C.span_corruption_masks(docs, "doc_id", "text",
                                 salt="other").collect()}
    assert any(a[k] != c[k] for k in a)   # salt moves the offsets


# ----------------------------------------- contrastive pairs

def test_contrastive_pairs_planted_cluster(spark):
    # 1 and 2 are identical (one cluster; rep = longer-or-min-id),
    # 3 is a singleton -> exactly one (anchor, positive) pair
    same = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, same, 30), (2, same, 30),
         (3, " ".join(f"z{i}" for i in range(30)), 30)],
        "doc_id long, text string, n_chars long")
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text",
                                num_perm=32, bands=8)
    cc = D.connected_components(pairs)
    keep = D.cluster_keep(docs, "doc_id", "n_chars", cc)
    out = (keep.filter(F.col("doc_id") != F.col("keep_id"))
           .select("doc_id", "keep_id").collect())
    assert [(r["doc_id"], r["keep_id"]) for r in out] == [(2, 1)]


# ----------------------------------------- minhash band sweep

def test_band_sweep_planted_extremes(spark):
    # docs 1/2 identical (J=1: every banding catches them, so recall
    # = 1e6 at all four configs); 3/4 disjoint from everything (never
    # candidates, never truth)
    same = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, same), (2, same),
         (3, " ".join(f"y{i}" for i in range(30))),
         (4, " ".join(f"z{i}" for i in range(30)))],
        "doc_id long, text string")
    out = {r["bands"]: r for r in
           D.minhash_band_sweep(docs, "doc_id", "text",
                                num_perm=32).collect()}
    assert set(out) == {2, 4, 8, 16}
    for b, r in out.items():
        assert r["rows_per_band"] == 32 // b
        assert r["n_true_total"] == 1          # only the (1,2) pair
        assert r["n_true_pairs"] == 1          # J=1 always collides
        assert r["recall_e6"] == 1_000_000
        assert r["n_candidates"] >= 1
        assert 0 <= r["precision_e6"] <= 1_000_000


def test_band_sweep_rejects_bad_banding(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        D.minhash_band_sweep(docs, "doc_id", "text", num_perm=32,
                             band_list=(3,)).collect()


# ---------------------------------------------------- zipf fit

def test_zipf_fit_exact_power_law(spark):
    # plant counts c(r) = 2^(10-r) for ranks 1..8 on ln-spaced...
    # simpler: c(r) = K / r exactly at ranks 1,2,4,8 -> slope == -1.
    # Build a corpus where word w_r appears 840/r times (840 =
    # lcm-friendly): ln c = ln 840 - ln r, a PERFECT -1 line at
    # every rank, so slope_e6 ~= -1e6 and r2_e6 ~= 1e6.
    from goka_spark.functions.text import zipf_fit
    rows = []
    did = 0
    for r in range(1, 9):
        for _ in range(840 // r):
            rows.append((did, f"w{r:02d}"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = zipf_fit(docs, "doc_id", "text", k=8).collect()[0]
    assert out["n_points"] == 8
    assert abs(out["slope_e6"] + 1_000_000) < 200      # micro-nat rounding
    assert out["r2_e6"] >= 999_999
    # intercept ~= ln(840) in micro-nats
    import math
    assert abs(out["intercept_e6"] - round(math.log(840) * 1e6)) < 300


def test_zipf_fit_flat_head_is_zero_slope(spark):
    from goka_spark.functions.text import zipf_fit
    # every word equally frequent -> slope 0, r2 degenerate -> 0
    rows = [(i, f"w{i % 5}") for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = zipf_fit(docs, "doc_id", "text", k=5).collect()[0]
    assert out["slope_e6"] == 0
    assert out["r2_e6"] == 0           # deny == 0 guard


# ------------------------------------------------ key skew report

def test_key_skew_report_planted_hot_key(spark, monkeypatch, tmp_path):
    from goka_spark.queries.analytics import key_skew_report
    import goka_spark.queries.base as B
    # 1 hot user with 80 events, 20 cold users with 1 each:
    # share = 80%, mean load = 100/21, hot multiple ~ 16.8x
    rows = [(i, 1, "click", float(i), None) for i in range(80)] + \
           [(80 + u, 100 + u, "view", 1.0, None) for u in range(20)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "value double, ts timestamp")
    src = str(tmp_path / "events.parquet")
    ev.write.parquet(src)
    orig = B.load
    monkeypatch.setattr(B, "load", lambda s, sf, *t: {
        "events": s.read.parquet(src)})
    import goka_spark.queries.analytics as QA
    monkeypatch.setattr(QA, "load", B.load)
    out = key_skew_report(spark, "ignored").collect()
    assert out[0]["rank"] == 1 and out[0]["user_id"] == 1
    assert out[0]["cnt"] == 80
    assert out[0]["share_e6"] == 80 * 1_000_000 // 100
    assert out[0]["x_mean_e6"] == int(80 * 21 / 100 * 1_000_000)
    assert len(out) == 20                      # top-20 cap hit: 21 keys
    assert [r["rank"] for r in out] == list(range(1, 21))


# ---------------------------------------------------- heaps fit

def test_heaps_fit_pure_power_law(spark):
    # vocab(N) = N (every token a new word): slope beta == 1 exactly
    from goka_spark.functions.text import heaps_fit
    rows = [(i, " ".join(f"u{i}_{j}" for j in range(10)))
            for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = heaps_fit(docs, "doc_id", "text").collect()[0]
    assert out["n_points"] == 10
    assert abs(out["slope_e6"] - 1_000_000) < 5
    assert out["r2_e6"] >= 999_999


def test_heaps_fit_saturated_vocab_near_zero_slope(spark):
    # fixed 5-word vocabulary: vocab flat after the first checkpoint
    from goka_spark.functions.text import heaps_fit
    rows = [(i, "a b c d e") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = heaps_fit(docs, "doc_id", "text").collect()[0]
    assert out["slope_e6"] == 0        # ln(vocab) constant -> slope 0


# ---------------------------------------------- token budget plan

def test_token_budget_plan_two_source_algebra(spark):
    # source A: 100 docs x 16 tokens = 1600; source B: 1 doc x 16.
    # weights = isqrt(n_tok * 1e6): A = 40000*1000? isqrt(1.6e9) etc.
    # Verify exact recomputation in python, plus the 4-epoch verdict:
    # B's temperature share over-allocates a tiny source -> capped.
    import math
    from goka_spark.functions.corpus import token_budget_plan
    txt = " ".join(["t"] * 16)
    rows = [(i, txt, "A") for i in range(100)] + [(1000, txt, "B")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in token_budget_plan(
        docs, "doc_id", "text", "source").collect()}
    na, nb = 1600, 16
    wa, wb = math.isqrt(na * 10**6), math.isqrt(nb * 10**6)
    tot, sw = na + nb, wa + wb
    budget = math.floor(float(tot) * 2000000.0 / 1000000.0)
    for src, n, w in (("A", na, wa), ("B", nb, wb)):
        r = out[src]
        assert r["n_tokens"] == n
        assert r["share_e6"] == w * 10**6 // sw
        alloc = math.floor(float(budget) * float(w) / float(sw))
        assert r["alloc_tokens"] == alloc
        assert r["epochs_e6"] == math.floor(
            float(alloc) / float(n) * 1000000)
        assert r["capped_alloc_tokens"] == min(alloc, n * 4)
    # the tiny source gets ~9% of a 2x budget -> ~18 epochs: capped
    assert out["B"]["capped"] and not out["A"]["capped"]
    assert out["B"]["capped_alloc_tokens"] == nb * 4


# ---------------------------------------------------- dataset card

def test_dataset_card_planted_facts(spark):
    from goka_spark.functions.corpus import dataset_card
    # 4 docs: 2 exact dups, langs en/en/de/en -> dup rate 25%,
    # top lang en at 75%
    rows = [(1, "a b c", "en"), (2, "a b c", "en"),
            (3, "x y", "de"), (4, "p q r s", "en")]
    docs = spark.createDataFrame(rows,
                                 "doc_id long, text string, lang string")
    r = dataset_card(docs, "doc_id", "text").collect()[0]
    assert r["n_docs"] == 4 and r["n_tokens"] == 3 + 3 + 2 + 4
    assert r["vocab_size"] == 9          # a b c x y p q r s
    assert r["dup_rate_e6"] == 1 * 1_000_000 // 4
    assert r["top_lang"] == "en"
    assert r["top_lang_share_e6"] == 750_000
    assert isinstance(r["zipf_slope_e6"], int)
    assert isinstance(r["heaps_beta_e6"], int)


# ------------------------------------- simhash hamming histogram

def test_simhash_histogram_planted_extremes(spark):
    # identical docs -> a hamming=0 candidate pair; the histogram's
    # left tail is complete by pigeonhole so it MUST appear
    same = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, same), (2, same),
         (3, " ".join(f"z{i}" for i in range(30)))],
        "doc_id long, text string")
    out = {r["hamming"]: r["n_pairs"] for r in
           D.simhash_hamming_histogram(docs, "doc_id", "text")
           .collect()}
    assert out.get(0, 0) >= 1              # the planted dup pair
    assert all(0 <= h <= 60 for h in out)  # 60-bit md5 variant bound
    # pairs counted once across bands (identical docs share ALL 8)
    assert out[0] == 1


# --------------------------------------------- winnowing (MOSS)

def test_winnow_guarantee_shared_run_shares_a_fingerprint(spark):
    # Schleimer et al. guarantee: any shared run of >= w+k-1 = 6
    # words yields at least one identical selected (pos-independent)
    # gram hash.  Docs share a 10-word run embedded at different
    # offsets; their fingerprint HASH sets must intersect.
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, "x1 x2 x3 " + shared + " y1 y2"),
         (2, "z1 " + shared + " q1 q2 q3 q4")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.winnow_fingerprints(docs, "doc_id", "text").collect()}

    def hashes(r):
        return {p.split(":")[1] for p in r["fingerprints"].split("|")}

    assert hashes(out[1]) & hashes(out[2])
    # density: ~2/(w+1) of grams selected, never more than n_windows
    for r in out.values():
        assert 1 <= r["n_fingerprints"] <= r["n_grams"]


def test_winnow_rightmost_min_and_short_docs(spark):
    import hashlib
    docs = spark.createDataFrame(
        [(1, "a b c"),            # 1 gram -> 1 window -> 1 fingerprint
         (2, "a b"),              # short doc: collapsed single gram
         (3, "")],                # empty: the '' gram convention
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.winnow_fingerprints(docs, "doc_id", "text").collect()}
    h = int(hashlib.md5(b"a b c").hexdigest()[:8], 16)
    assert out[1]["fingerprints"] == f"1:{h}"
    assert out[1]["n_grams"] == 1 and out[1]["n_fingerprints"] == 1
    h2 = int(hashlib.md5(b"a b").hexdigest()[:8], 16)
    assert out[2]["fingerprints"] == f"1:{h2}"
    h3 = int(hashlib.md5(b"").hexdigest()[:8], 16)
    assert out[3]["fingerprints"] == f"1:{h3}"


def test_winnow_rightmost_tie_break(spark):
    # duplicate the same 3-gram so equal hashes occur inside one
    # window: the RIGHTMOST minimal position must be selected
    docs = spark.createDataFrame(
        [(1, "m m m m m m")],     # all grams identical -> all h equal
        "doc_id long, text string")
    r = D.winnow_fingerprints(docs, "doc_id", "text").collect()[0]
    # L=4 grams, windows [1..4]: each window's rightmost min = its
    # last position -> selected positions {4} for the single full
    # window at i=0 plus... n_win = 1: positions: i=0 window covers
    # 1..4, rightmost min = 4
    assert r["n_grams"] == 4
    assert r["fingerprints"].split("|")[0].startswith("4:")
    assert r["n_fingerprints"] == 1


# ----------------------------------------- event volume anomalies

def test_event_volume_anomalies_planted_spike(spark, monkeypatch,
                                              tmp_path):
    import datetime as dt
    import goka_spark.queries.base as B
    import goka_spark.queries.analytics as QA
    from goka_spark.queries.analytics import event_volume_anomalies
    # 23 quiet hours of 10 events + one 500-event hour: only that
    # hour may flag; exact integer z-test verified in python
    rows, eid = [], 0
    for h in range(24):
        n = 500 if h == 12 else 10
        for i in range(n):
            rows.append((eid, 1, "click", 1.0,
                         dt.datetime(2024, 1, 1, h, 0, i % 60)))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "value double, ts timestamp")
    src = str(tmp_path / "ev.parquet")
    ev.write.parquet(src)
    monkeypatch.setattr(B, "load", lambda s, sf, *t: {
        "events": s.read.parquet(src)})
    monkeypatch.setattr(QA, "load", B.load)
    out = {r["hour_us"]: r for r in
           event_volume_anomalies(spark, "x").collect()}
    assert len(out) == 24
    spikes = [r for r in out.values() if r["is_spike"]]
    assert len(spikes) == 1 and spikes[0]["cnt"] == 500
    # python replay of the exact inequality
    cs = [500 if h == 12 else 10 for h in range(24)]
    n, s, s2 = 24, sum(cs), sum(c * c for c in cs)
    d = 500 * n - s
    assert d > 0 and d * d * n > 9 * (n * s2 - s * s)
    d10 = 10 * n - s
    assert not (d10 > 0)
    assert all(r["mean_e2"] == s * 100 // n for r in out.values())


def test_keep_memo_keyed_by_application_id(spark, sf_dir):
    """Session-lifetime memo discipline (ADVICE r7): the keep frame is
    a localCheckpoint()ed frame that dies with its SparkContext, so
    the artifact store checks the applicationId — an entry built under
    a previous (stopped) session's appId must not be returned after a
    restart.  Simulated restart: plant the entry under a foreign appId
    and assert _keep_frame computes a fresh frame and replaces the
    entry with it (one entry per artifact and sf)."""
    from goka_spark import artifacts
    from goka_spark.queries import llmdata as L

    key = ("_keep_frame", sf_dir, ())
    fp = (artifacts.dataset_fingerprint(f"{sf_dir}/documents.parquet"),)
    sentinel = object()
    artifacts._STORE[key] = ("app-from-a-dead-context", fp, sentinel)
    got = L._keep_frame(spark, sf_dir)
    assert got is not sentinel
    app, kept_fp, value = artifacts._STORE[key]
    assert (app, kept_fp) == (spark.sparkContext.applicationId, fp)
    assert value is got
    assert [k for k in artifacts._STORE if k[:2] == key[:2]] == [key]
    assert got.count() > 0              # live, actionable frame
