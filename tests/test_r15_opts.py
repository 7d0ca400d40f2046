"""Focused pins for the r15 optimizations (operator-internal changes).

Each test rebuilds the PRE-r15 pipeline shape inline and asserts the
optimized path returns identical values — the same discipline as
tests/test_r14_kernels.py.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from goka_spark.functions import dedup as D
from goka_spark.functions import text as T
from goka_spark.queries import llmdata
from goka_spark.queries.base import load


def test_char_ngram_lang_id_matches_window_pipeline(spark, sf_dir):
    """The collected-profile + struct-min argmax (r15) returns exactly
    the rows of the old double-window pipeline — including the
    votes-desc-then-plang-asc tie order and the 'unknown' rows."""
    docs = load(spark, sf_dir, "documents")["documents"]
    tri = T.char_trigrams(docs, "doc_id", "text", "lang")
    prof = (tri.groupBy("lang", "g").agg(F.sum("_n").alias("c"))
            .withColumn("rn", F.row_number().over(
                Window.partitionBy("lang")
                .orderBy(F.col("c").desc(), F.col("g"))))
            .filter(F.col("rn") <= 20)
            .select(F.col("lang").alias("plang"), "g"))
    votes = (tri.select("doc_id", "g").join(F.broadcast(prof), "g")
             .groupBy("doc_id", "plang")
             .agg(F.count("*").alias("votes")))
    wd = Window.partitionBy("doc_id").orderBy(F.col("votes").desc(),
                                              F.col("plang"))
    best = (votes.withColumn("rn", F.row_number().over(wd))
            .filter(F.col("rn") == 1)
            .select("doc_id", "plang", "votes"))
    old = (docs.select("doc_id", "lang")
           .join(best, "doc_id", "left")
           .select("doc_id",
                   F.coalesce(F.col("plang"), F.lit("unknown"))
                   .alias("pred_lang"),
                   F.coalesce(F.col("votes"), F.lit(0)).cast("long")
                   .alias("votes"),
                   (F.coalesce(F.col("plang"), F.lit("unknown"))
                    == F.col("lang")).alias("correct")))
    new = llmdata.char_ngram_lang_id(spark, sf_dir)
    o = sorted(map(tuple, old.collect()))
    n = sorted(map(tuple, new.collect()))
    assert o == n
    # and the optimized (returned) plan carries no window operator
    from goka_spark.plans import explain as X
    assert "Window" not in X.simple(new)


def test_remove_spans_scan_stage_total_edge_cases(spark):
    """removed_words after the r15 scan-stage total: all-covered,
    untouched, empty-text and NULL-text docs all keep the old
    semantics (total = number of non-empty whitespace tokens)."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "x  y"), (3, ""), (4, None),
         (5, "p q r s")],
        "doc_id long, text string")
    spans = spark.createDataFrame(
        [(1, 1, 3), (5, 2, 3)],
        "doc_id long, span_start long, span_end long")
    out = {r["doc_id"]: (r["clean_text"], r["removed_words"])
           for r in D.remove_spans(docs, spans, "doc_id", "text").collect()}
    assert out[1] == ("", 3)         # fully covered
    assert out[2] == ("x y", 0)      # untouched (whitespace normalized)
    assert out[3] == ("", 0)         # no words at all
    assert out[4] == ("", 0)         # NULL text
    assert out[5] == ("p s", 2)      # middle span cut


def test_dup_span_extract_memo_frames_equal_fresh(spark, sf_dir):
    """The session-memoized positioned postings + df aggregate feed
    dup_span_extract without changing a single row."""
    docs = load(spark, sf_dir, "documents")["documents"]
    fresh = D.dup_span_extract(docs, "doc_id", "text", n=5, min_df=2)
    memo = D.dup_span_extract(
        docs, "doc_id", "text", n=5, min_df=2,
        pos_sh=llmdata._pos_postings(spark, docs, sf_dir),
        dfc=llmdata._pos_dfc(spark, docs, sf_dir))
    assert sorted(map(tuple, fresh.collect())) == \
        sorted(map(tuple, memo.collect()))


def test_ann_query_rows_memo_matches_direct_collect(spark, sf_dir):
    """The session query-set memo returns exactly the rows every ANN
    key collected for itself before r15."""
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    direct = (emb.filter(F.col("vec_id") < 20)
              .select("vec_id", "embedding").collect())
    memo = llmdata._ann_query_rows(spark, sf_dir, emb)
    ds = sorted((r["vec_id"], tuple(r["embedding"])) for r in direct)
    ms = sorted((r["vec_id"], tuple(r["embedding"])) for r in memo)
    assert ds == ms


def test_skipgram_single_agg_equals_per_kind_aggs(spark):
    """The unified (kind, key) aggregation (r15) partitions exactly
    into the old per-kind aggregations on a crafted corpus with
    pair/unigram key collisions ('a b' appears as a unigram token
    too, via a no-break space? — keys never collide across kinds
    because kind is part of the group key; pin the top-k output
    against a brute-force python PMI)."""
    import math
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b c d a"), (3, "a a a b")],
        "doc_id long, text string")
    out = {(r["w1"], r["w2"]): (r["cnt_ab"], r["pmi_e6"])
           for r in T.skipgram_pmi_topk(docs, "doc_id", "text",
                                        window=2, min_count=2,
                                        k=50).collect()}
    # brute force
    pairs, uni = {}, {}
    for txt in ["a b a b c", "b c d a", "a a a b"]:
        ws = txt.split()
        for o in (1, 2):
            for i in range(len(ws) - o):
                a, b = sorted((ws[i], ws[i + o]))
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
    t = sum(pairs.values())
    n = sum(uni.values())
    want = {}
    for (a, b), c in pairs.items():
        if c >= 2:
            x = (c * n * n) / (t * uni[a] * uni[b])
            want[(a, b)] = (c, math.floor(math.log(x) * 1e6 + 0.5))
    assert out == want


def test_cosine_sweep_rides_pairs_memo(spark, sf_dir):
    """r15: cosine_threshold_sweep's base mine is the session memo
    dedup_embedding_cosine returns (same threshold=0.3, bands=8,
    bits=8 call) — the memo-fed sweep must agree row-for-row with the
    standalone function, and the memo frame itself with a fresh
    mine."""
    from goka_spark.functions import similarity as S
    emb = load(spark, sf_dir, "embeddings")["embeddings"]
    fresh_pairs = S.cosine_near_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.3, bands=8, bits=8)
    memo_pairs = llmdata._cos_pairs_lsh(spark, sf_dir)
    assert sorted(map(tuple, fresh_pairs.collect())) == \
        sorted(map(tuple, memo_pairs.collect()))

    standalone = S.cosine_threshold_sweep(emb, "vec_id", "embedding")
    via_memo = S.cosine_threshold_sweep(emb, "vec_id", "embedding",
                                        base=memo_pairs, base_threshold=0.3)
    assert sorted(map(tuple, standalone.collect())) == \
        sorted(map(tuple, via_memo.collect()))


def test_cosine_sweep_rejects_base_mined_too_high(spark):
    """A base mined above the lowest sweep threshold would under-report
    the lower buckets; base and its threshold come together.  Both
    are refused before any plan is built."""
    from goka_spark.functions import similarity as S
    emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    base = spark.createDataFrame([], "id_a long, id_b long, cos double")
    with pytest.raises(ValueError, match="above the lowest"):
        S.cosine_threshold_sweep(emb, "vec_id", "embedding", base=base,
                                 base_threshold=0.5)
    with pytest.raises(ValueError, match="together"):
        S.cosine_threshold_sweep(emb, "vec_id", "embedding", base=base)
    with pytest.raises(ValueError, match="together"):
        S.cosine_threshold_sweep(emb, "vec_id", "embedding", base_threshold=0.3)
    S.cosine_threshold_sweep(emb, "vec_id", "embedding", thresholds=(0.5, 0.9),
                             base=base, base_threshold=0.5)


def test_half_merges_match_train_py_on_duckdb_halves(spark, sf_dir):
    """The C175 half-corpus merge tables equal train_py on each half's
    word dict, computed by DuckDB under the same md5 slot split."""
    import duckdb

    from goka_spark.functions import bpe as B
    docs = load(spark, sf_dir, "documents")["documents"]
    want = []
    for cond in ("< 50", ">= 50"):
        wf = dict(duckdb.sql(
            f"SELECT w, COUNT(*) FROM (SELECT UNNEST({llmdata._WORDS}) AS w "
            f"FROM '{sf_dir}/documents.parquet' WHERE "
            f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
            f" AS BIGINT) % 100 {cond}) GROUP BY w").fetchall())
        want.append(B.train_py(wf, 16))
    assert all(want)
    assert llmdata._half_merges(docs, sf_dir) == tuple(want)
