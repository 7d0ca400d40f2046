"""C-block queries — LLM-training-data pipeline operators over the
``documents`` and ``embeddings`` tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goka_spark.artifacts import artifact, dataset_fingerprint
from goka_spark.functions import ann_index as A
from goka_spark.functions import corpus as C
from goka_spark.functions import dedup as D
from goka_spark.functions import multimodal as M
from goka_spark.functions import similarity as S
from goka_spark.functions import text as T
from goka_spark.queries.base import load


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")["documents"]
    return D.exact_dedup(docs, "doc_id", "text")


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures per doc — the PRODUCTION xxhash64 path,
    HASH-VERIFIED since late r5: the oracle implements XXH64 itself
    in DuckDB SQL (queries/xxh_sql.py) and replays Spark's array-fold
    signature hash with a recursive CTE (banding + pair-join
    exercised in tests with planted near-dups; random test corpus has
    none).  Output is the signature table the LSH join consumes."""
    docs = load(spark, sf, "documents")["documents"]
    sigs = _minhash_sigs(spark, docs, sf)
    return sigs.select(
        "doc_id",
        F.xxhash64(F.col("minhash").cast("array<string>")).alias("sig_hash"),
        F.element_at("minhash", 1).alias("minhash_0"),
    )


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """63-bit SimHash per document — the PRODUCTION xxhash64 path,
    HASH-VERIFIED since late r5 via the XXH64-in-SQL oracle
    (queries/xxh_sql.py): per-word hashes, bit votes, and the
    fingerprint all replayed bit-identically in DuckDB."""
    docs = load(spark, sf, "documents")["documents"]
    return D.simhash(docs, "doc_id", "text")


def ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Full corpus (no id cap): stop-shingle pruning (max_df) keeps the
    inverted-index self-join linear in shingle count."""
    docs = load(spark, sf, "documents")["documents"]
    return _jaccard_pairs(spark, docs, sf)


def ngram_jaccard_auto(spark: SparkSession, sf: str) -> DataFrame:
    """Stop-shingle cutoff derived from the corpus's own df histogram
    under a work budget linear in postings (auto_max_df) — the scale
    policy replacing a hand-tuned max_df constant.  The oracle
    replicates the integer cutoff rule bit-exactly (cumulative
    df²·n(df) vs budget·P), so the driver verifies the POLICY, not
    just the pairs.

    The cutoff itself comes from the same auto_max_df rule over the
    session (sh, _df) frame; the pairs are the unified session mine
    (_pair_counts_full, mined at max(50, cutoff)) filtered to
    ``_min_df <= cutoff`` — exactly the cutoff-c pair set, see
    _pair_counts_full's containment argument — instead of a second
    full inverted-index mine per run."""
    docs = load(spark, sf, "documents")["documents"]
    cut = _auto_cut(spark, docs, sf)
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.05,
        pair_counts=_pair_counts_full(spark, docs, sf)
        .filter(F.col("_min_df") <= cut).drop("_min_df"))


def ngram_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric doc-inside-doc detection: shingle-set containment in
    both directions (Broder 1997), surviving when either clears the
    threshold.  Same df-pruned candidate join as the Jaccard twin —
    containment >= Jaccard, so its recall bound carries over."""
    docs = load(spark, sf, "documents")["documents"]
    return D.ngram_containment_pairs(docs, "doc_id", "text", n=3,
                                     threshold=0.2, max_df=50,
                                     pair_counts=_pair_counts(spark, docs,
                                                              sf))


def minhash_containment_est(spark: SparkSession, sf: str) -> DataFrame:
    """Containment at signature scale: LSH band candidates (slice-
    equality keys), MinHash Ĵ converted via J/(1+J)·(|A|+|B|) to an
    |A∩B| estimate, divided by the exact per-doc set sizes — no
    postings pair join anywhere.  Hash-verified end to end on the
    XXH64-in-SQL base hash."""
    docs = load(spark, sf, "documents")["documents"]
    # r15: rides the session 32-perm xxhash64 signature memo and the
    # per-doc shingle-set-size memo — this key was rebuilding both
    # (a full signature kernel pass + a postings agg) per run.
    return D.minhash_containment_est(docs, "doc_id", "text",
                                     num_perm=32, shingle=3, bands=8,
                                     threshold=0.2,
                                     sigs=_minhash_sigs(spark, docs, sf),
                                     sizes=_sh_sizes(spark, docs, sf))


#: positioned 5-gram postings (doc, pos, sh), hash-partitioned by
#: shingle, plus their per-shingle distinct-doc df aggregate — the
#: _sh_postings treatment (r15 verdict ask #8) for the span family:
#: dup_span_extract and dup_span_remove each re-ran the positional
#: shingle kernel + exchange (twice per plan — the dfc arm and the
#: join arm); one checkpointed build per session serves both keys.
#: Pure per-doc kernel + pure aggregate, so every consumer's values
#: are unchanged by construction.
@artifact("documents")
def _pos_postings(spark: SparkSession, docs: DataFrame, sf: str,
                  n: int = 5) -> DataFrame:
    return (D.shingle_postings(docs, "doc_id", "text", n, positions=True)
            .repartition("sh").localCheckpoint(eager=False))


@artifact("documents")
def _pos_dfc(spark: SparkSession, docs: DataFrame, sf: str,
             n: int = 5) -> DataFrame:
    return (_pos_postings(spark, docs, sf, n)
            .dropDuplicates(["doc", "sh"])
            .groupBy("sh").agg(F.count("*").alias("_df"))
            .localCheckpoint(eager=False))


def dup_span_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal duplicated-substring spans (the 'which words to cut'
    substring-dedup operator): positions covered by an n-gram with
    df >= 2, merged gaps-and-islands into spans.  Integer-exact, so
    the oracle hash-matches with no float hazard."""
    docs = load(spark, sf, "documents")["documents"]
    return D.dup_span_extract(docs, "doc_id", "text", n=5, min_df=2,
                              pos_sh=_pos_postings(spark, docs, sf),
                              dfc=_pos_dfc(spark, docs, sf))


def dup_span_remove(spark: SparkSession, sf: str) -> DataFrame:
    """Surgical substring dedup — the consumer of dup_span_extract's
    report: cut the duplicated spans out of each document and keep
    the rest (vs dropping whole docs).  Every doc comes back with its
    cleaned text and the removed-word count; integer-exact, so the
    oracle (which embeds the span-extract oracle as a CTE) hash-
    matches the rebuilt strings."""
    docs = load(spark, sf, "documents")["documents"]
    spans = D.dup_span_extract(docs, "doc_id", "text", n=5, min_df=2,
                               pos_sh=_pos_postings(spark, docs, sf),
                               dfc=_pos_dfc(spark, docs, sf))
    return D.remove_spans(docs, spans, "doc_id", "text")


def corpus_importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): log-likelihood
    ratio of Laplace-smoothed hashed-ngram models, target vs raw.
    The stand-in target here is the deterministic doc_id % 7 == 0
    slice (production: a curated quality corpus); md5 buckets and
    micro-nat integerized log ratios make the oracle exact up to
    ln() ulps.  Because the target is a corpus slice, the predicate
    form computes BOTH models' bucket counts in one conditional
    aggregation — no second featurization pass (results identical,
    same oracle)."""
    docs = load(spark, sf, "documents")["documents"]
    return T.dsir_importance(docs, None, "doc_id", "text",
                             n_buckets=1024,
                             target_pred=F.col("doc") % 7 == 0)


def line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style duplicate-line removal.  The synthetic docs carry no
    newlines, so the query first reshapes each document into
    deterministic 10-word lines (the oracle reshapes identically) —
    exact-dup documents and aligned duplicated prefixes then lose
    their repeated lines corpus-wide."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.greatest(F.ceil(F.size(words) / 10.0).cast("int"), F.lit(1))
    reshaped = docs.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_lines - 1),
                        lambda i: F.array_join(
                            F.slice(words, i * 10 + 1, 10), " ")),
            "\n").alias("text"))
    return T.line_dedup_filter(reshaped, "doc_id", "text", min_df=2)


def vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc OOV rate vs the corpus top-500 word vocabulary
    (T.vocab_coverage): exact deterministic vocab (count DESC, word
    ASC — TakeOrderedAndProject, never a global sort), broadcast
    membership join, exact 1e6-scaled integer rates."""
    docs = load(spark, sf, "documents")["documents"]
    return T.vocab_coverage(docs, "doc_id", "text", vocab_size=500)


def nb_quality_classify(spark: SparkSession, sf: str) -> DataFrame:
    """fastText-shaped Naive-Bayes quality classifier (the CCNet /
    FineWeb-Edu "train a cheap linear model, score everything" data-
    filtering step): hashed-ngram NB trained on the deterministic
    doc_id % 3 == 0 slice with the n_chars >= 300 seed label
    (production: human/LLM labels), then every doc scored by the
    broadcast coefficient table.  Micro-nat integerization makes the
    oracle hash-exact."""
    docs = load(spark, sf, "documents")["documents"]
    return T.nb_classify(docs, "doc_id", "text",
                         label=F.col("n_chars") >= 300,
                         train_pred=F.col("doc") % 3 == 0)


#: full frames of the two gate inputs that are ALSO standalone
#: registry queries with the identical call (C65 perplexity_buckets,
#: C21 benchmark_decontaminate) — one build serves the standalone key
#: and the _gate_signals projection.
@artifact("documents")
def _ppl_full(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")["documents"]
    return T.perplexity_buckets(
        docs, "doc_id", "text").localCheckpoint(eager=False)


@artifact("documents")
def _dec_full(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corp = docs.filter(F.col("doc_id") % 97 != 0)
    return D.decontaminate(corp, bench, "doc_id", "text",
                           n=3).localCheckpoint(eager=False)


#: per-doc GATE SIGNAL frame shared by corpus_quality_pipeline (C72)
#: and quality_gate_ablation (C124): the six-gate computation runs
#: once per session instead of once per consuming query (the
#: ablation's full recomputation was 12.3 s of the r10 sweep).  Every
#: signal is a deterministic function of the corpus (md5 hashes,
#: integer bigram LM), so sharing the materialized frame cannot change
#: either consumer's values.
@artifact("documents")
def _gate_signals(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, _rep_keep, _ent, _blk_keep, _ppl, _hits, _keep_id):
    C72's six gate signals, each doc-keyed and left-joined onto the
    full corpus.  ``_hits`` (decontamination) is computed corp-vs-
    benchmark exactly as before; benchmark docs carry NULL there and
    never reach that branch in any consumer."""
    docs = load(spark, sf, "documents")["documents"]
    rep = T.gopher_repetition(docs, "doc_id", "text") \
        .select("doc_id", F.col("keep").alias("_rep_keep"))
    ent = T.word_entropy(docs, "doc_id", "text") \
        .select("doc_id", F.col("entropy").alias("_ent"))
    blk = T.blocklist_hits(docs, "doc_id", "text", BLOCK_TERMS,
                           max_ratio_e6=120_000) \
        .select("doc_id", F.col("keep").alias("_blk_keep"))
    ppl = _ppl_full(spark, sf) \
        .select("doc_id", F.col("bucket").alias("_ppl"))
    dec = _dec_full(spark, sf) \
        .select("doc_id", F.col("n_hits").alias("_hits"))
    keep_ids = (docs.groupBy(F.md5("text").alias("_h"))
                .agg(F.min("doc_id").alias("_keep_id")))
    dup = (docs.select("doc_id", F.md5("text").alias("_h"))
           .join(keep_ids, "_h")
           .select("doc_id", "_keep_id"))
    out = (docs.select("doc_id")
           .join(rep, "doc_id", "left")
           .join(ent, "doc_id", "left")
           .join(blk, "doc_id", "left")
           .join(ppl, "doc_id", "left")
           .join(dec, "doc_id", "left")
           .join(dup, "doc_id", "left"))
    return out.localCheckpoint(eager=False)


def corpus_quality_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The round-6 flagship composition — a modern pretraining
    quality pipeline with one auditable FIRST-FAILING-GATE verdict
    per document, every stage individually hash-verified elsewhere
    and the composition hash-verified here:

      benchmark    doc is in the eval slice (doc_id % 97 == 0) —
                   excluded from training, used as the decontamination
                   reference
      repetition   Gopher repetition rules (top/dup n-gram char
                   fractions — raw text has no newlines, so the line
                   rules pass trivially and the gram rules decide)
      entropy      degenerate-text floor: word entropy < 1.0 nat
      blocklist    >5% blocklisted tokens (integer cross-product test)
      perplexity   CCNet tail tercile under the corpus bigram LM
      contaminated shares a 3-gram with any benchmark doc
      exact_dup    not the min-id keeper of its md5 text group
      kept         survived everything

    Scale shape: the gates are two postings passes (grams, LM) +
    scan-stage columns + one broadcast benchmark semi-join + one md5
    hash-agg; every join is keyed by doc.  The per-doc signal frame
    is SESSION-MEMOIZED (_gate_signals) and shared with C124's
    ablation report — the blocklist ratio note: 12% because the
    synthetic vocab is only 31 words, so the three blocked terms run
    ~10% dense; 5% (the standalone blocklist_filter default) would
    drown every other gate in this corpus."""
    out = _gate_signals(spark, sf)
    return out.select(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 0, "benchmark")
        .when(F.coalesce("_rep_keep", F.lit(0)) == 0, "repetition")
        .when(F.col("_ent").isNull() | (F.col("_ent") < 1.0), "entropy")
        .when(~F.coalesce("_blk_keep", F.lit(True)), "blocklist")
        .when(F.col("_ppl") == "tail", "perplexity")
        .when(F.coalesce("_hits", F.lit(0)) > 0, "contaminated")
        .when(F.col("_keep_id") != F.col("doc_id"), "exact_dup")
        .otherwise("kept").alias("verdict"))


def lang_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card language audit: declared ``lang`` column vs the
    lang_id prediction, confusion counts per (source, lang,
    pred_lang) — the released-corpus sanity table for "does the
    metadata match the content".  One scan (the predictor is pure
    Column exprs) + one map-side-combined hash-agg."""
    docs = load(spark, sf, "documents")["documents"]
    return (docs.select("source", "lang",
                        T.lang_id(F.col("text")).alias("pred_lang"))
            .groupBy("source", "lang", "pred_lang")
            .agg(F.count("*").alias("n"))
            .withColumn("mismatch", F.col("lang") != F.col("pred_lang")))


def dedup_exact_prioritized(spark: SparkSession, sf: str) -> DataFrame:
    """Source-priority exact dedup (D.exact_dedup_prioritized): keep
    the most-trusted source's copy of each duplicated text (src5 >
    src1 > everything else, ties by source/id) — the multi-source
    corpus-merge policy."""
    docs = load(spark, sf, "documents")["documents"]
    return D.exact_dedup_prioritized(docs, "doc_id", "text", "source",
                                     priority=("src5", "src1"))


def bpe_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc token counts under a corpus-trained BPE vocabulary
    (functions/bpe.py): training is one word-dict collect plus 16
    merges on the driver, the dict is encoded by one Arrow-batched
    map, and the corpus pass is one broadcast word→n_tokens join.
    Fully hash-verified although BPE is an iterative algorithm:
    merges are a pure function of (word dict, tie order), so the
    oracle re-trains them in pure Python and verifies counts via a
    literal vocabulary table — the recomputable-quantizer idiom
    extended to subword training."""
    from goka_spark.functions import bpe as B

    docs = load(spark, sf, "documents")["documents"]
    return B.bpe_token_count(docs, "doc_id", "text",
                             _bpe_merges(docs, sf))


#: merges are a pure function of (corpus word dict, n_merges), so the
#: count, encode and fertility queries train once per session
@artifact("documents")
def _bpe_merges(docs: DataFrame, sf: str, n_merges: int = 16) -> list:
    from goka_spark.functions import bpe as B

    return B.bpe_train(docs, "doc_id", "text", n_merges=n_merges)


@artifact("documents")
def _bpe_batched(docs: DataFrame, sf: str, n_merges: int = 48,
                 batch: int = 8) -> list:
    from goka_spark.functions import bpe as B

    return B.bpe_train_batched(docs, "doc_id", "text", n_merges=n_merges,
                               batch=batch)


#: unigram pieces are a pure function of (corpus word dict, hparams)
#: — the count and encode queries train once
@artifact("documents")
def _uni_pieces(docs: DataFrame, sf: str) -> dict:
    from goka_spark.functions import unigram as U

    return U.unigram_train(docs, "doc_id", "text")


def _half_slot() -> F.Column:
    """The md5 resampling slot C175 splits the corpus on."""
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
        16, 10).cast("long") % 100


@artifact("documents")
def _half_merges(docs: DataFrame, sf: str, n_merges: int = 16) -> tuple:
    """The two half-corpus BPE merge tables C175 compares (training is
    a one-time build artifact, the _bpe_merges contract)."""
    from goka_spark.functions import bpe as B

    slot = _half_slot()
    return (B.bpe_train(docs.filter(slot < 50), "doc_id", "text",
                        n_merges=n_merges),
            B.bpe_train(docs.filter(slot >= 50), "doc_id", "text",
                        n_merges=n_merges))


#: the artifacts ``artifacts.warm`` builds before bench.py and the
#: tools time any query, so each timed row measures apply cost and no
#: row pays a build because of sweep order (r7/r9 verdicts; r9:
#: cluster_size_histogram read 10.7 s cold vs 0.38 s warm).  bench.py
#: reports the total as artifact_build_sec and each build in
#: artifact_breakdown, so an addition here is never silent.
#: _cos_pairs_lsh and _adj_exact stay out: their first consumer pays
#: the build (the r14 verdict ask-3 billing contract).
WARM = (
    "_ann_index",
    "_bpe_merges", "_half_merges", "_bpe_batched", "_uni_pieces",
    "_jaccard_cc", "_keep_frame", "_gate_signals", "_simhash_md5",
    "_minhash_sigs", ("_minhash_sigs", {"num_perm": 16, "base_hash": "md5"}),
    "_paragraph_sigs", "_para_keep_frame",
    "_winnow_kf", "_edit_pairs", "_source_grams",
    "_pos_postings", "_pos_dfc",
)


def unigram_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc token counts under a corpus-trained unigram-LM
    vocabulary (functions/unigram.py — the SentencePiece-family twin
    of BPE, hard-EM with integer micro-nat Viterbi costs): training
    is one word-dict collect, then the substring seed and 3 EM rounds
    on the driver; the corpus pass is one broadcast word→n_tokens
    join.  Fully hash-verified: pieces are a pure function of (word
    dict, hparams), so the oracle re-trains them in pure Python and
    verifies counts via a literal vocabulary table."""
    from goka_spark.functions import unigram as U

    docs = load(spark, sf, "documents")["documents"]
    return U.unigram_token_count(docs, "doc_id", "text",
                                 _uni_pieces(docs, sf))


def unigram_encode_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Full per-doc subword sequences under the trained unigram
    vocabulary — string-exact against the pure-Python re-training
    (the bpe_encode_docs contract for the second codec family)."""
    from goka_spark.functions import unigram as U

    docs = load(spark, sf, "documents")["documents"]
    return U.unigram_encode(docs, "doc_id", "text",
                            _uni_pieces(docs, sf))


def bpe_token_count_batched(spark: SparkSession, sf: str) -> DataFrame:
    """The r7 vocab-scale trainer, driver-verified end to end: 48
    merges trained with bpe_train_batched (up to 8 symbol-disjoint
    pairs per pair-count round, on the driver over the collected
    word dict), counts via the same broadcast word→n_tokens corpus
    pass.  The oracle re-trains the SAME batched algorithm
    (train_batched_py) from DuckDB's word dict — the
    recomputable-merges idiom covering the scale mode, not just the
    classic trainer."""
    from goka_spark.functions import bpe as B

    docs = load(spark, sf, "documents")["documents"]
    return B.bpe_token_count(docs, "doc_id", "text", _bpe_batched(docs, sf))


def bpe_encode_docs(spark: SparkSession, sf: str) -> DataFrame:
    """The tokenizer's actual output (B.bpe_encode): every document's
    full subword sequence under the corpus-trained merges — the frame
    a training loader consumes.  Same recomputable-merges oracle as
    bpe_token_count, extended to the literal word→subwords table and
    an ordered per-doc rebuild; string-exact hash match."""
    from goka_spark.functions import bpe as B

    docs = load(spark, sf, "documents")["documents"]
    return B.bpe_encode(docs, "doc_id", "text", _bpe_merges(docs, sf))


def line_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style line-rule cleaning (T.line_quality_filter): the
    reshaped 10-word-line corpus loses its short tail lines
    (min_words=6); the survivors rebuild in order.  The punctuation
    and blocklist rules are unit-tested (test_line_quality_rules) —
    the synthetic corpus has no punctuation to exercise them here.
    Composes with line_dedup (same output contract); string-exact
    oracle."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.greatest(F.ceil(F.size(words) / 10.0).cast("int"), F.lit(1))
    reshaped = docs.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_lines - 1),
                        lambda i: F.array_join(
                            F.slice(words, i * 10 + 1, 10), " ")),
            "\n").alias("text"))
    return T.line_quality_filter(reshaped, "doc_id", "text", min_words=6)


def perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles
    (T.perplexity_buckets): exact interpolated tercile boundaries
    over the corpus-LM mean log-prob, broadcast onto a scan-stage
    bucket assignment; short docs 'unscored'."""
    return _ppl_full(spark, sf)


def gopher_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher repetition-rule family (Rae et al. 2021 §A1.1): top
    n-gram char fraction (n=2,3,4), duplicated-n-gram char coverage
    (n=5,10 — positional union, never double-counted), duplicate-line
    fractions, and the conjunctive keep verdict vs the paper's
    thresholds.  The synthetic docs carry no newlines, so the query
    reshapes each doc into deterministic 10-word lines first (the
    line_dedup idiom; \\s+ tokenization makes the gram stats
    reshape-invariant).  Exact 1e6-scaled integers end to end."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.greatest(F.ceil(F.size(words) / 10.0).cast("int"), F.lit(1))
    reshaped = docs.select(
        "doc_id",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_lines - 1),
                        lambda i: F.array_join(
                            F.slice(words, i * 10 + 1, 10), " ")),
            "\n").alias("text"))
    return T.gopher_repetition(reshaped, "doc_id", "text")


def doc_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style perplexity filtering signal: mean log-prob of each
    doc under a corpus-trained Laplace bigram LM (Wenzek et al. 2020
    use an external KenLM; the corpus self-model is the same filter
    shape).  Micro-nat integerization makes the oracle exact up to
    ln() ulps — see text.lm_logprob."""
    docs = load(spark, sf, "documents")["documents"]
    return T.lm_logprob(docs, "doc_id", "text")


def ngram_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """Lossless PPJoin-style prefix-filtered similarity join at a high
    threshold: candidates come only from each document's RAREST
    shingles, so no max_df recall trade and no hot-shingle blow-up.
    The oracle is the plain all-pairs Jaccard — prefix filtering is
    provably complete for J >= t, so the driver verifies recall."""
    docs = load(spark, sf, "documents")["documents"]
    return D.ngram_jaccard_prefix(docs, "doc_id", "text", n=3,
                                  threshold=0.6,
                                  postings=_sh_postings(spark, docs, sf),
                                  dfc=_sh_dfc(spark, docs, sf))


def embedding_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow/BLAS path (one numpy matmul per batch, partition-local
    top-k); S.cosine_topk is the pure-SQL-expression equivalent —
    tests assert they agree."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return S.cosine_topk_arrow(emb, queries, "vec_id", "embedding", k=5,
                               q_rows=_ann_query_rows(spark, sf, emb))


def embedding_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive hard-negative mining (S.hard_negative_topk): per
    anchor, the top-5 most-similar vectors with a DIFFERENT label —
    broadcast anchors, one corpus scan, per-anchor window; the label
    inequality rides the join so same-class rows never score."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    anchors = emb.filter(F.col("vec_id") < 20)
    return S.hard_negative_topk(emb, anchors, "vec_id", "embedding",
                                "label", k=5)


def embedding_lsh_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH ANN.  Hash-verified: the seeded planes
    are constants, so the oracle (_lsh_ann_oracle) embeds them as
    literals and replicates buckets, probes, and cosines bit-exactly
    — the driver checks the full approximate result, not just rows."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return S.lsh_ann(emb, queries, "vec_id", "embedding", k=5, bits=8)


#: the ANNIndex HANDLE (r15 verdict ask #9) is quantizer arrays + a
#: path; resolving it costs a corpus count job and an npz read, once
#: per session instead of once per ANN key.
@artifact("embeddings")
def _ann_index(spark: SparkSession, sf: str, emb: DataFrame) -> "A.ANNIndex":
    """One persisted index serves all three ANN registry queries:
    quantizers cached on disk (trained once per dataset), codes table
    partitioned by cell (probed reads are file-level pruned).
    ``n_cells ≈ √n`` (FAISS practice) keeps per-cell lists ≈ √n AND
    keeps a query batch's probed-cell union strictly under all cells,
    so batched reads still prune IO (16 fixed cells saturated any
    20-query union at sf0.1)."""
    fp = dataset_fingerprint(f"{sf}/embeddings.parquet", spark)
    return A.build_or_load(
        spark, emb, "vec_id", "embedding", fingerprint=fp,
        n_cells=A.adaptive_n_cells(emb.count()), m=8, ksub=16)


#: the collected ANN QUERY SET — every benched ANN key collects the
#: identical parameter-bounded frame (vec_id < 20, ≤ 20 rows); one
#: collect per session serves all of them, and each consumer's
#: row→matrix conversion is unchanged.
@artifact("embeddings")
def _ann_query_rows(spark: SparkSession, sf: str, emb: DataFrame):
    return (emb.filter(F.col("vec_id") < 20)
            .select("vec_id", "embedding")
            .limit(S.MAX_BROADCAST_QUERIES + 1).collect())


def embedding_ivf_ann(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate neighbors — HASH-VERIFIED since r5: quantizer
    training is an id-ordered sample + pure seeded Lloyd's, so the
    oracle (_ivf_ann_oracle) re-trains bit-identical centroids in
    numpy and embeds them as SQL literals; scored cosines use the
    same left-associative folds on both sides.  The second ANN scale
    path beside LSH buckets — probe 4 of √n cells per query, reading
    ONLY probed-cell files from the persisted index (S.ivf_topk is
    the ad-hoc unindexed equivalent; tests assert they agree)."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return A.ivf_topk(_ann_index(spark, sf, emb), emb, queries,
                      "vec_id", "embedding", k=5, n_probe=4,
                      q_rows=_ann_query_rows(spark, sf, emb))


def ann_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """ANN quality gate: recall@5 of the persisted IVF index
    (n_probe=4) against the exact brute-force top-5, per query —
    the evaluation every approximate index needs BEFORE serving
    replaces exact search at scale.  Self-matches are excluded on
    both sides (IVF fetches k=6 and re-ranks after dropping self).
    Fully hash-verified: both the approximate AND the exact side are
    engine-recomputable (centroid-literal IVF oracle + brute-force
    SQL), so the driver checks the recall numbers themselves."""
    from pyspark.sql.window import Window

    emb = load(spark, sf, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    idx = _ann_index(spark, sf, emb)
    a6 = (A.ivf_topk(idx, emb, queries, "vec_id", "embedding",
                     k=6, n_probe=4,
                     q_rows=_ann_query_rows(spark, sf, emb))
          .filter(F.col("neighbor_id") != F.col("query_id")))
    w = Window.partitionBy("query_id").orderBy("rk")
    approx = (a6.withColumn("_r2", F.row_number().over(w))
              .filter(F.col("_r2") <= 5)
              .select("query_id", "neighbor_id"))
    exact = (S.cosine_topk_arrow(emb, queries, "vec_id", "embedding",
                                 k=5,
                                 q_rows=_ann_query_rows(spark, sf, emb))
             .select("query_id", "neighbor_id"))
    hits = (approx.join(exact, ["query_id", "neighbor_id"])
            .groupBy("query_id").agg(F.count("*").alias("n_hits")))
    return (queries.select(F.col("vec_id").alias("query_id"))
            .join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"),
                    (F.coalesce("n_hits", F.lit(0)) * 200000)
                    .cast("long").alias("recall_e6")))


def ann_nprobe_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """n_probe tuning curve (A.ivf_nprobe_sweep): recall@5 at probe
    depths 1/2/4/8 from ONE probed-candidate scan with cell ranks —
    the corpus-specific accuracy/IO trade behind the n_probe=4
    default.  Hash-verified: the oracle replays the probe ranking
    from the recomputed centroid literals and the exact side from
    brute-force SQL."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return A.ivf_nprobe_sweep(_ann_index(spark, sf, emb), emb,
                              queries, "vec_id", "embedding",
                              k=5, probes=(1, 2, 4, 8),
                              q_rows=_ann_query_rows(spark, sf, emb))


def tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-SOURCE tokenizer fertility (tokens per word) under BOTH
    trained subword models — the cross-domain efficiency report that
    drives tokenizer choice (a domain with fertility ≫ corpus mean
    is paying more compute per word).  Reuses the session-memoized
    BPE merges and unigram pieces (each trains once per sf); the
    corpus pass is one postings scan + two broadcast word→n_tokens
    joins + a per-source hash-agg.  Fertility in exact integer
    micro-units (tokens·1e6 DIV words)."""
    from goka_spark.functions import bpe as B
    from goka_spark.functions import unigram as U

    docs = load(spark, sf, "documents")["documents"]
    bw = (B.bpe_word_tokens(docs, "doc_id", "text",
                            _bpe_merges(docs, sf))
          .select("word", F.col("n_tokens").alias("_bt")))
    uw = (U.unigram_word_tokens(docs, "doc_id", "text",
                                _uni_pieces(docs, sf))
          .select("word", F.col("n_tokens").alias("_ut")))
    tok = (docs.select("source",
                       F.explode(F.split(F.col("text"), r"\s+"))
                       .alias("word"))
           .filter(F.col("word") != ""))
    return (tok.join(F.broadcast(bw), "word")
            .join(F.broadcast(uw), "word")
            .groupBy("source")
            .agg(F.count("*").alias("n_words"),
                 F.sum("_bt").alias("bpe_tokens"),
                 F.sum("_ut").alias("uni_tokens"))
            .select("source", F.col("n_words").cast("long"),
                    F.col("bpe_tokens").cast("long"),
                    F.col("uni_tokens").cast("long"),
                    F.expr("bpe_tokens * 1000000L DIV n_words")
                    .cast("long").alias("bpe_fertility_e6"),
                    F.expr("uni_tokens * 1000000L DIV n_words")
                    .cast("long").alias("uni_fertility_e6")))


#: the LSH-banded cosine near-pairs frame at the corpus-standard
#: (threshold=0.3, bands=8, bits=8) — dedup_embedding_cosine RETURNS
#: it and cosine_threshold_sweep's whole curve is filters over it
#: (its lowest threshold is the same 0.3), so the banded mine + exact
#: verify runs once per session instead of once per consumer.  NOT in
#: WARM: the first timed consumer pays the build (the r14 verdict
#: ask-3 billing contract).
_COS_PAIRS_THRESHOLD = 0.3


@artifact("embeddings")
def _cos_pairs_lsh(spark: SparkSession, sf: str) -> DataFrame:
    emb = load(spark, sf, "embeddings")["embeddings"]
    return S.cosine_near_pairs_lsh(
        emb, "vec_id", "embedding", threshold=_COS_PAIRS_THRESHOLD,
        bands=8, bits=8).localCheckpoint(eager=False)


def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Full-corpus near-pair mining, LSH-banded (no cross join): the
    oracle replicates the coordinate-sign banding bit-exactly, so the
    driver verifies candidates AND cosines."""
    return _cos_pairs_lsh(spark, sf)


def dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup semantic dedup (Abbas et al. 2023) over the persisted
    index — near-pairs must share the IVF cell AND an LSH band bucket.
    HASH-VERIFIED since r5 (_semantic_oracle): the oracle recomputes
    the centroids as SQL literals, replays the coordinate-sign banding
    and exact cosines, and runs connected components as a recursive
    CTE.  Keeps the smallest id per connected duplicate group."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    return A.semantic_dedup(_ann_index(spark, sf, emb), threshold=0.3)


def embedding_cluster_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus clustering as a first-class OUTPUT (the D4/SemDeDup
    pre-step every embedding-curation pipeline materializes): each
    vector's k-means cluster plus the cluster population, read
    straight from the persisted index's cell-partitioned codes table
    — zero recompute, one count-window over √n-sized cells.
    Hash-verified via the recomputable-quantizer idiom (the oracle
    re-trains bit-identical centroids and assigns cells in SQL)."""
    from pyspark.sql import Window

    emb = load(spark, sf, "embeddings")["embeddings"]
    idx = _ann_index(spark, sf, emb)
    c = idx.codes().select(F.col("id").alias("vec_id"),
                           F.col("cell").cast("long").alias("cluster"))
    w = Window.partitionBy("cluster")
    return c.withColumn("cluster_size", F.count("*").over(w))


def ivf_balance_report(spark: SparkSession, sf: str) -> DataFrame:
    """IVF index-health report (A.ivf_balance_report): per-cell
    population, fill micro-fraction, and the min/mean/max of
    cosine-to-own-centroid — the skew + quantizer-staleness
    diagnostic read from the persisted index with zero recompute.
    Per-vector sims integerized before aggregation (no float
    accumulation), so the report hash-verifies via the
    recomputable-quantizer oracle."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    return A.ivf_balance_report(_ann_index(spark, sf, emb))


def embedding_cell_margins(spark: SparkSession, sf: str) -> DataFrame:
    """Assignment-confidence / simplified-silhouette report over the
    persisted IVF index (A.cell_margin_report): per cell, population,
    floored mean own-vs-best-other centroid-cosine margin, minimum
    margin, and the count of ambiguous vectors (margin < 0.05) —
    the cluster-separation diagnostic read before trusting
    SemDeDup/D4-style per-cluster pruning.  Margins are integerized
    at ROUND(·10^4) per vector before any aggregation, so the whole
    report is exact-integer and hash-verifies via the
    recomputable-quantizer oracle."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    return A.cell_margin_report(_ann_index(spark, sf, emb))


def embedding_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-local k-NN graph (the SemDeDup/D4 neighborhood
    structure): each vector's top-5 exact-cosine neighbors among the
    vectors sharing its IVF cell, one cell-scoped self-equi-join of
    the persisted codes table — Σ_c n_c² ≈ n·√n candidate pairs with
    √n-sized cells, never n².  Hash-verified via the recomputable-
    quantizer oracle (centroid literals → SQL cell assignment → the
    same join + left-associative pair dots + top-k window)."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    idx = _ann_index(spark, sf, emb)
    return A.knn_graph(idx, k=5)


def embedding_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster outlier flags (A.centroid_outliers): the 5%
    least-central vectors of each IVF cell by cosine-to-centroid —
    the D4-style noise/off-distribution pruning signal, read from
    the persisted index with zero recompute.  Rank on ROUND(·,4),
    integer ceil cutoff — engine-deterministic end to end;
    hash-verified via the recomputable-quantizer oracle."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    idx = _ann_index(spark, sf, emb)
    return A.centroid_outliers(idx)


def embedding_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """PCA dimensionality reduction over the embedding corpus (the
    D4-style whitening pre-step): top-8 components fit on the
    id-ordered bounded sample (deterministic — the recomputable-
    quantizer contract), projections as JVM Column folds.  The oracle
    re-fits bit-identical components in numpy (same pca_fit, same
    sample order) and replays the left-associative dots in SQL."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    mean, comps = S.pca_components(emb, "embedding", k=8,
                                   order_col="vec_id")
    return S.pca_project(emb, "vec_id", "embedding", mean, comps)


def lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")["documents"]
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("pred_lang"))


def doc_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")["documents"]
    return docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


def token_count(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")["documents"]
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        T.re_token_count(F.col("text")).cast("long").alias("re_tokens"),
    )


def doc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repetition score (1 - distinct/total 3-grams):
    boilerplate/looped text scores high — a standard pre-training
    quality filter signal.  Computed from the codegen shingle
    postings (count + countDistinct per doc) — measured ~35% faster
    than the interpreted array-lambda path (T.repetition_ratio, kept
    for per-row Column use); results are identical, docs with no
    postings (empty text) score 0."""
    docs = load(spark, sf, "documents")["documents"]
    sh = D.shingle_postings(docs, "doc_id", "text", 3,
                            distinct=False)
    agg = (sh.groupBy("doc").agg(F.count("*").alias("_t"),
                                 F.countDistinct("sh").alias("_d"))
           .withColumnRenamed("doc", "doc_id"))
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(
                        F.round(1.0 - F.col("_d").cast("double")
                                / F.col("_t"), 4),
                        F.lit(0.0)).alias("rep_ratio")))


#: the distinct (doc, 3-gram) postings frame, hash-partitioned by
#: shingle — the artifact ONE LEVEL DOWN from _pair_counts_full: the
#: pair-counts miner, the auto-cutoff miner (ngram_jaccard_auto) and
#: the prefix-filter join (ngram_jaccard_prefix) all start from this
#: exact frame; each previously re-ran the shingle kernel + exchange
#: per query.  The kernel is a pure per-doc function and every
#: consumer aggregates, so sharing it cannot change their values.
@artifact("documents")
def _sh_postings(spark: SparkSession, docs: DataFrame, sf: str,
                 n: int = 3) -> DataFrame:
    return (D.shingle_postings(docs, "doc_id", "text", n)
            .repartition("sh").localCheckpoint(eager=False))


#: per-shingle document-frequency frame (sh, _df) over _sh_postings —
#: the aggregate FOUR consumers re-ran per query: the max_df=50
#: cold/hot split (_pair_counts), the auto-cutoff histogram + total
#: (ngram_jaccard_auto's auto_max_df AND its own mine's split), the
#: prefix-filter global rarity ranking (ngram_jaccard_prefix) and
#: the heavy-hitter top-k (common_ngrams / ngram_cms_estimate /
#: cms_width_sweep).  A pure hash-agg of the checkpointed postings,
#: so every consumer's values are unchanged by construction.
@artifact("documents")
def _sh_dfc(spark: SparkSession, docs: DataFrame, sf: str,
            n: int = 3) -> DataFrame:
    return (_sh_postings(spark, docs, sf, n)
            .groupBy("sh").agg(F.count("*").alias("_df"))
            .localCheckpoint(eager=False))


#: per-doc shingle-set-size frame (doc, _sz) over _sh_postings — the
#: other aggregate both candidate mines (max_df=50 + auto cutoff)
#: re-ran; same determinism argument.
@artifact("documents")
def _sh_sizes(spark: SparkSession, docs: DataFrame, sf: str,
              n: int = 3) -> DataFrame:
    return (_sh_postings(spark, docs, sf, n)
            .groupBy("doc").agg(F.count("*").alias("_sz"))
            .localCheckpoint(eager=False))


#: the session's auto_max_df cutoff (ngram_jaccard_auto's policy
#: integer) — a pure driver-side function of the (sh, _df) frame,
#: computed once instead of inside every auto-mode mine.
@artifact("documents")
def _auto_cut(spark: SparkSession, docs: DataFrame, sf: str) -> int:
    return D.auto_max_df(_sh_postings(spark, docs, sf), budget=32,
                         dfc=_sh_dfc(spark, docs, sf))


#: the corpus-standard candidate-pair frame SEVEN consumers read (the
#: ngram_jaccard_pairs query, the threshold sweep, the CC graph build,
#: chain_merge_audit's edge recount, filter_verdicts' fallback, and —
#: r14 — the containment and weighted-Jaccard projections); each
#: applies its own cheap arithmetic projection, so the values are
#: unchanged by construction.
@artifact("documents")
def _pair_counts_full(spark: SparkSession, docs: DataFrame,
                      sf: str) -> DataFrame:
    """ONE candidate mine for the whole n-gram pair family — both the
    corpus-standard max_df=50 cutoff AND ngram_jaccard_auto's derived
    cutoff read it.  Mined at C = max(50, auto cutoff) with per-pair
    ``_min_df`` tracking; each consumer recovers its EXACT cutoff-c
    pair set via ``filter(_min_df <= c)`` (cutoff-monotone containment:
    a pair survives cutoff c iff it shares a df<=c shingle, which is
    cold at any C >= c), and the values (_shared/_sz_*) are cutoff-
    independent by the hot-correction identity.  Replaces the second
    full inverted-index mine the auto query ran per bench pass; at
    corpus scale the mine is the n-gram family's dominant stage, so
    running it once is the guide §2.4 "remove the shuffle outright"
    lever.  Losslessness is pinned by tests/test_pair_counts_unified.py
    and both consumers' unchanged oracles."""
    cut = max(50, _auto_cut(spark, docs, sf))
    return D._ngram_pair_counts(
        docs, "doc_id", "text", 3, cut, 32,
        postings=_sh_postings(spark, docs, sf),
        dfc=_sh_dfc(spark, docs, sf),
        sizes=_sh_sizes(spark, docs, sf),
        track_min_df=True).localCheckpoint(eager=False)


def _pair_counts(spark: SparkSession, docs: DataFrame,
                 sf: str) -> DataFrame:
    """The max_df=50 pair-counts frame every established consumer
    expects — now a filter+project of the unified mine (identical
    rows and schema to the old direct max_df=50 mine)."""
    return (_pair_counts_full(spark, docs, sf)
            .filter(F.col("_min_df") <= 50).drop("_min_df"))


def _jaccard_pairs(spark: SparkSession, docs: DataFrame,
                   sf: str) -> DataFrame:
    """The (id_a, id_b, jaccard) pairs at the corpus-standard 0.05
    threshold — a cheap projection over the stored pair counts."""
    return D.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.05, max_df=50,
        pair_counts=_pair_counts(spark, docs, sf))


#: CC labels over the Jaccard pair graph: dedup_clusters and
#: split_leakage_safe consume the SAME graph, and the CC loop's
#: localCheckpoints keep the frame valid for the session, so the
#: pair mining + iterative CC runs once, not once per consuming query.
@artifact("documents")
def _jaccard_cc(spark: SparkSession, docs: DataFrame, sf: str) -> DataFrame:
    return D.connected_components(_jaccard_pairs(spark, docs, sf))


#: the md5-based 60-bit SimHash signature frame — the bit-vote
#: aggregate (60 conditional sums over every exploded word) is the
#: expensive half of both dedup_simhash_verified (returns it) and
#: simhash_hamming_histogram (bands it); one build per session.
@artifact("documents")
def _simhash_md5(spark: SparkSession, docs: DataFrame,
                 sf: str) -> DataFrame:
    return D.simhash(docs, "doc_id", "text",
                     base_hash="md5").localCheckpoint(eager=False)


#: MinHash signature frames are pure functions of the corpus and a
#: (num_perm, base_hash) config; each is the expensive half (one
#: shingle explode + one num_perm-way min hash-agg) of several
#: registry queries, so build each config once per session.  The
#: 32-perm xxhash64 frame is the PRODUCTION frame (dedup_minhash_lsh
#: returns its hash, _keep_frame's LSH pairs band it,
#: minhash_band_sweep re-bands it); the 16-perm md5 frame is the
#: engine-portable calibration twin (dedup_minhash_verified,
#: minhash_est_error, lsh_vs_edit_eval).
@artifact("documents")
def _minhash_sigs(spark: SparkSession, docs: DataFrame, sf: str,
                  num_perm: int = 32,
                  base_hash: str = "xxhash64") -> DataFrame:
    return D.minhash_signatures(
        docs, "doc_id", "text", num_perm=num_perm,
        base_hash=base_hash).localCheckpoint(eager=False)


#: the winnow-candidate edit-distance verdict frame (C158's output)
#: at the corpus-standard (k=3, w=4, min_shared=2, max_dist=512):
#: three consumers run it identically — the edit_distance_pairs
#: query itself, lsh_vs_edit_eval's label side, and
#: text_vs_embedding_consistency's pair frame.  The winnowing
#: candidate mining + per-pair Levenshtein is the expensive half of
#: all three.
@artifact("documents")
def _edit_pairs(spark: SparkSession, docs: DataFrame,
                sf: str) -> DataFrame:
    return D.edit_distance_pairs(
        docs, "doc_id", "text",
        keys=_winnow_kf(spark, docs, sf)).localCheckpoint(eager=False)


#: the (k=3, w=4) winnowing keys frame — the per-doc O(len·w) md5
#: selection pass is the whole cost of winnow_fingerprints and the
#: candidate-mining half of winnow_overlap_pairs / the edit verify /
#: winnow_param_sweep's (3,4) cell.  Pure scan-stage algebra, so the
#: stored frame is value-identical by construction.
@artifact("documents")
def _winnow_kf(spark: SparkSession, docs: DataFrame,
               sf: str) -> DataFrame:
    return D._winnow_keys(D._fan_out(docs), "doc_id", "text", 3, 4
                          ).localCheckpoint(eager=False)


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over
    the ngram-Jaccard pair graph, min doc_id as the cluster
    representative — the step that turns pair mining into a keep/drop
    decision per document."""
    docs = load(spark, sf, "documents")["documents"]
    cc = _jaccard_cc(spark, docs, sf)
    return cc.select(F.col("node").alias("doc_id"), F.col("cluster_id"))


def dedup_minhash_keep(spark: SparkSession, sf: str) -> DataFrame:
    """The COMPLETE production fuzzy-dedup pipeline in one verdict
    frame — MinHash signatures (xxhash64, the production path) → LSH
    band candidates → connected components → keep-the-longest-copy
    canonicalization (D.cluster_keep: arg-max n_chars, ties → min
    doc_id; singletons keep themselves).  This is the end-to-end
    shape of the big public corpus dedups (near-dup cluster then one
    representative), distinct from dedup_clusters (jaccard-verified
    pair graph, label only): here the GRAPH is the raw band-collision
    graph and the output is the per-doc keep/drop decision.
    Hash-verified via the XXH64-in-SQL signature oracle + recursive
    CC + the same arg-max policy."""
    return _keep_frame(spark, sf)


#: the keep pipeline (sigs → bands → CC → arg-max) is a pure function
#: of the corpus, so dedup_minhash_keep and contrastive_pairs run it
#: once per session.
@artifact("documents")
def _keep_frame(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")["documents"]
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text",
                                num_perm=32, bands=8,
                                sigs=_minhash_sigs(spark, docs, sf))
    cc = D.connected_components(pairs)
    return D.cluster_keep(docs, "doc_id", "n_chars", cc).localCheckpoint()


def contrastive_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval-training positives mined from the dedup byproduct:
    every non-canonical near-dup pairs with its cluster's kept
    representative — (anchor, positive) pairs for contrastive
    fine-tuning, free with the dedup run (the negatives half is
    C81's embedding_hard_negatives).  Reuses the session keep frame;
    the filter is a pure Column predicate."""
    k = _keep_frame(spark, sf)
    return (k.filter(F.col("doc_id") != F.col("keep_id"))
            .select(F.col("doc_id").alias("anchor_id"),
                    F.col("keep_id").alias("positive_id"),
                    F.col("cluster_id")))


def dedup_minhash_verified(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures with the md5-derived base hash — the SAME
    signature pipeline as dedup_minhash_lsh (one explode + one
    hash-aggregate of scalar min expressions) but with a base hash
    both engines implement bit-identically, so the full signature
    matrix is hash-verified against DuckDB (xxhash64 stays the
    production default; this proves the permutation/min algebra).
    Exploded to (doc_id, perm, sig) scalars for the driver compare."""
    docs = load(spark, sf, "documents")["documents"]
    sigs = _minhash_sigs(spark, docs, sf, num_perm=16, base_hash="md5")
    return sigs.select(
        "doc_id", F.posexplode("minhash").alias("perm", "sig"))


#: the adjacent-pair exact Jaccard frame (doc_a, doc_b, _i, _u) — the
#: num_perm-INDEPENDENT half of the MinHash calibration family; C95
#: and all three minhash_perm_sweep arms read one checkpointed copy
#: instead of re-running the shingle-set kernel + set join per arm
#: (guide §2.4).  NOT in WARM: its first consumer pays the build.
@artifact("documents")
def _adj_exact(spark: SparkSession, docs: DataFrame,
               sf: str) -> DataFrame:
    return D.adjacent_exact_jaccard(
        docs, "doc_id", "text").localCheckpoint(eager=False)


def minhash_est_error(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash calibration (D.minhash_est_error): estimated vs exact
    Jaccard and their absolute error over the deterministic (id,
    id+1) pairing — the measured-on-YOUR-corpus answer to "is
    num_perm=16 enough before trusting LSH verdicts".  Signature
    algebra and shingle sets both engine-recomputable (md5 base
    hash), so the error numbers themselves are hash-verified."""
    docs = load(spark, sf, "documents")["documents"]
    return D.minhash_est_error(
        docs, "doc_id", "text", num_perm=16,
        sigs=_minhash_sigs(spark, docs, sf, num_perm=16, base_hash="md5"),
        exact=_adj_exact(spark, docs, sf))


def zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law regression (T.zipf_fit): ln(freq) vs ln(rank) over
    the top-100 words — slope near −1e6 micro-nats is healthy text;
    a flat head flags template/duplication damage.  Per-point lns of
    exact integers, exact-integer regression sums, per-factor double
    casts for the final ratios (the bigram-PMI discipline), so the
    slope itself hash-verifies."""
    docs = load(spark, sf, "documents")["documents"]
    return T.zipf_fit(docs, "doc_id", "text")


def source_quality_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source × per-gate pass rates (C.quality_gate_counts keyed
    by source) — the batch, HASH-VERIFIED twin of the
    QualityGateSink kernel and the table that tells you WHICH feed
    is rotting when the sink's live rates drift: repetition /
    entropy / blocklist pass counts and integer micro-unit rates per
    source.  Composes three individually-verified per-doc oracles."""
    docs = load(spark, sf, "documents")["documents"]
    m = C.quality_gate_counts(docs, "doc_id", "text",
                              tuple(BLOCK_TERMS),
                              group_cols=("source",))
    return m.select("source", "gate", "n_pass", "n_docs",
                    F.expr("n_pass * 1000000L DIV n_docs")
                    .alias("pass_e6"))


def doc_length_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-length p50/p90 via the mergeable histogram
    sketch (W.histogram_quantiles over ws_token_count, 128 bins on
    [0, 256)) — the data-driven input to loader batch sizing and the
    length_bucket boundaries; same integer inverted-CDF discipline
    as value_histogram_quantiles, sketched per shard and merged."""
    from goka_spark.functions.text import ws_token_count
    from goka_spark.operators import windows as W

    docs = load(spark, sf, "documents")["documents"]
    d = docs.select("source",
                    ws_token_count(F.col("text")).cast("double")
                    .alias("_n"))
    return W.histogram_quantiles(d, "_n", ["source"],
                                 lo=0.0, hi=256.0, n_bins=128)


def winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS winnowing fingerprints (D.winnow_fingerprints, Schleimer
    et al. 2003): rightmost-min-per-window selected k-gram hashes —
    any ≥ w+k−1-word overlap between docs shares a fingerprint, at
    ~2/(w+1) storage.  Pure scan-stage array algebra (md5 base, the
    positional argmin derived by reverse-position — no fold), so the
    full fingerprint string hash-verifies."""
    docs = load(spark, sf, "documents")["documents"]
    return D.winnow_fingerprints(docs, "doc_id", "text",
                                 keys=_winnow_kf(spark, docs, sf))


def winnow_overlap_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS overlap detection (D.winnow_overlap_pairs): doc pairs
    sharing ≥ 2 winnowing fingerprint hashes — long shared runs are
    never missed (the selection guarantee), on a ~2/(w+1)-sized
    posting list; inverted-index equi-join, never all-pairs."""
    docs = load(spark, sf, "documents")["documents"]
    return D.winnow_overlap_pairs(docs, "doc_id", "text",
                                  keys=_winnow_kf(spark, docs, sf))


def lsh_vs_edit_eval(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-vs-EDIT calibration (C164) — C95 scores MinHash against
    exact Jaccard; this scores the full BANDED LSH verdict against
    the character-level edit labels C158 produces, answering the
    question a dedup owner actually asks: "if I trust band
    collisions, how many lightly-edited copies do I miss (recall)
    and how much unrelated text do I pull in (precision)?".  Over
    the winnow-candidate universe (the pairs with edit labels):
    label = sim_e6 ≥ θ for θ ∈ {700k, 800k, 900k}, prediction =
    ≥1 shared (band, band_key) under the engine-portable md5
    signature banding (16 perms × 4 bands).  tp/fp/fn + integer
    precision/recall per θ.

    Scale shape: the edit frame is bounded by winnow candidates;
    the prediction side is the standard banded equi-join (linear in
    postings, never all-pairs); one left join on the pair key + a
    3-row explode + one tiny agg."""
    docs = load(spark, sf, "documents")["documents"]
    ed = _edit_pairs(spark, docs, sf)
    sigs = _minhash_sigs(spark, docs, sf, num_perm=16, base_hash="md5")
    bk = D.band_keys(sigs, "doc_id", bands=4, rows_per_band=4)
    a, b = bk.alias("a"), bk.alias("b")
    pred = (a.join(b, ["band", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct()
            .withColumn("_pred", F.lit(1)))
    j = (ed.join(pred, ["id_a", "id_b"], "left")
         .select("sim_e6", F.coalesce("_pred", F.lit(0)).alias("_p")))
    th = F.explode(F.array(F.lit(700000), F.lit(800000),
                           F.lit(900000))).alias("theta_e6")
    lab = (F.col("sim_e6") >= F.col("theta_e6")).cast("long")
    return (j.select("sim_e6", "_p", th)
            .withColumn("_l", lab)
            .groupBy("theta_e6")
            .agg(F.count("*").cast("long").alias("n_pairs"),
                 F.sum("_l").cast("long").alias("n_label"),
                 F.sum("_p").cast("long").alias("n_pred"),
                 F.sum(F.col("_l") * F.col("_p")).cast("long")
                 .alias("tp"))
            .select(F.col("theta_e6").cast("long"), "n_pairs",
                    "n_label", "n_pred", "tp",
                    (F.col("n_pred") - F.col("tp")).cast("long")
                    .alias("fp"),
                    (F.col("n_label") - F.col("tp")).cast("long")
                    .alias("fn"),
                    F.expr("tp * 1000000L DIV greatest(n_pred, 1L)")
                    .cast("long").alias("precision_e6"),
                    F.expr("tp * 1000000L DIV greatest(n_label, 1L)")
                    .cast("long").alias("recall_e6")))


def hapax_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """HAPAX LEGOMENA profile per source (C163) — the share of
    once-occurring word types, the corpus-linguistics health number
    Heaps'-law fitting (C104) assumes: natural prose runs ~40-60%
    hapax types; heavy duplication crushes it (copies never mint new
    types) and OCR/mojibake damage inflates it (junk tokens are all
    unique).  Per source: types, tokens, hapax types, hapax share of
    types and of tokens — exact integers, hapax_types_e6 = h·1e6 DIV
    types.  Two hash-aggs over the (source, word) postings, nothing
    pair-shaped."""
    docs = load(spark, sf, "documents")["documents"]
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    wc = (docs.select("source", F.explode(w).alias("w"))
          .groupBy("source", "w").agg(F.count("*").alias("c")))
    return (wc.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_types"),
                 F.sum("c").cast("long").alias("n_tokens"),
                 F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                 .cast("long").alias("n_hapax"))
            .select("source", "n_types", "n_tokens", "n_hapax",
                    F.expr("n_hapax * 1000000L DIV n_types")
                    .cast("long").alias("hapax_types_e6"),
                    F.expr("n_hapax * 1000000L DIV n_tokens")
                    .cast("long").alias("hapax_tokens_e6")))


def skipgram_pmi_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed-co-occurrence collocations (C162,
    T.skipgram_pmi_topk) — the word2vec-style symmetric-window PMI
    that catches discontinuous multi-word expressions adjacent-only
    C97 misses.  Scan-stage zip_with pair generation (no doc
    self-join), exact-ratio micro-nat scores, TakeOrdered(20)."""
    docs = load(spark, sf, "documents")["documents"]
    return T.skipgram_pmi_topk(docs, "doc_id", "text")


def template_prefix_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Template DETECTION by shared opening (C161) — crawl corpora
    are full of machine-generated families ("404 not found …",
    "You need JavaScript …", listing skeletons) that near-dup
    metrics miss when the tails differ; docs sharing their first k
    words form a cluster, big clusters are template families headed
    for review or downweighting.  Reports each cluster's prefix,
    size, lowest doc_id as the canonical representative, and corpus
    share in micro-units.  One scan-stage slice + one hash-agg +
    a one-row broadcast total — linear, no pairs anywhere."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    pref = F.array_join(F.slice(words, 1, 3), " ")
    cl = (docs.select(pref.alias("prefix"), "doc_id")
          .groupBy("prefix")
          .agg(F.count("*").cast("long").alias("n_docs"),
               F.min("doc_id").cast("long").alias("rep_doc_id"))
          .filter(F.col("n_docs") >= 2))
    tot = docs.agg(F.count("*").alias("_N"))
    return (cl.crossJoin(F.broadcast(tot))
            .select("prefix", "n_docs", "rep_doc_id",
                    F.expr("n_docs * 1000000L DIV _N").cast("long")
                    .alias("share_e6")))


def encoding_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source ENCODING-ARTIFACT audit (C160) — the ingest-health
    check crawl pipelines run before any text gate: docs containing
    U+FFFD replacement chars (decoder already gave up), stray C0
    controls (binary-in-text), UTF-8-read-as-Latin-1 mojibake
    ('Ã'+continuation range — 'cafÃ©'), and NBSP (HTML extraction
    residue).  clean_e6 = docs with none of them ·1e6 DIV n_docs.
    Four scalar regexp/contains predicates per row — scan-stage
    codegen, one hash-agg; the oracle uses the same RE2-compatible
    patterns (hex escapes only, so the SQL text carries no control
    bytes).  Test corpus is clean by construction; every artifact
    branch is unit-tested with planted strings."""
    docs = load(spark, sf, "documents")["documents"]
    repl = F.col("text").contains(chr(0xFFFD))
    ctrl = F.col("text").rlike(r"[\x00-\x08\x0B\x0C\x0E-\x1F]")
    moji = F.col("text").rlike(r"Ã[\x{0080}-\x{00BF}]|â€")
    nbsp = F.col("text").contains(chr(0xA0))
    one = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return (docs.select("source", repl.alias("_r"), ctrl.alias("_c"),
                        moji.alias("_m"), nbsp.alias("_n"))
            .groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 one(F.col("_r")).alias("n_replacement"),
                 one(F.col("_c")).alias("n_control"),
                 one(F.col("_m")).alias("n_mojibake"),
                 one(F.col("_n")).alias("n_nbsp"),
                 one(~(F.col("_r") | F.col("_c") | F.col("_m")
                       | F.col("_n"))).alias("_cl"))
            .select("source", "n_docs", "n_replacement", "n_control",
                    "n_mojibake", "n_nbsp",
                    F.expr("_cl * 1000000L DIV n_docs").cast("long")
                    .alias("clean_e6")))


def readability_fre(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading-ease + FK grade level per doc (C159,
    T.readability_fre) — audience-level curation signal.  Three
    scalar regexp counts per row (the no-explode syllable identity:
    vowel groups never span a space), exact integer micro-unit
    formulas replayed verbatim by the oracle."""
    docs = load(spark, sf, "documents")["documents"]
    return T.readability_fre(docs, "doc_id", "text")


def edit_distance_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance near-dup verdicts (C158,
    D.edit_distance_pairs): winnowing candidates verified by exact
    threshold-capped Levenshtein — the character-level metric that
    separates lightly-edited copies (high sim) from same-vocabulary
    reshuffles (low sim), which every token-set metric conflates.
    Both stages engine-exact: the winnow index is the md5 oracle
    kernel, and DuckDB's levenshtein matches Spark's for distances
    within the cap (values above the cap are filtered in BOTH
    engines, so the −1 fast-path never reaches the compare)."""
    docs = load(spark, sf, "documents")["documents"]
    return _edit_pairs(spark, docs, sf)


def embedding_split_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space split-leakage audit (A.probe_max_cos) — the
    semantic twin of split_contamination_audit: for every TEST-split
    vector (md5 slot ≥ 990, the corpus_split policy on vec_id), its
    max exact cosine to any TRAIN-split vector (slot < 980) within
    its probed IVF cells, plus the >0.3 leak verdict (the
    dedup_semantic threshold).  A test doc whose near-twin sits in
    train inflates eval — this is the release gate that catches it
    in embedding space, where paraphrases evade every n-gram audit.

    Scale shape: file-pruned probed read (~n_probe/√n of codes per
    query), train filter as a pure md5-slot Column on the neighbor
    id, one max agg; LEFT join keeps zero-candidate test vectors in
    the report (NULL cosine).  Hash-verified via the probe-replay
    centroid-literal oracle."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    idx = _ann_index(spark, sf, emb)
    slot_q = C.hash_slot(F.col("vec_id"), 1000, "split-v1")
    testq = emb.filter(slot_q >= 990)
    slot_n = C.hash_slot(F.col("neighbor_id"), 1000, "split-v1")
    out = A.probe_max_cos(idx, testq, "vec_id", "embedding",
                          n_probe=4, neighbor_where=slot_n < 980)
    return out.select(
        F.col("query_id").alias("vec_id"),
        F.col("max_cos").alias("max_train_cos"),
        F.coalesce(F.col("max_cos") > 0.3, F.lit(False))
         .alias("leaked"))


def simhash_hamming_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash calibration (D.simhash_hamming_histogram): Hamming-
    distance distribution over banded candidates — the bimodal
    valley that justifies max_hamming before dedup trusts it; left
    tail complete by pigeonhole.  md5 base hash: every count
    hash-verifies via the bit-vote SQL twin."""
    docs = load(spark, sf, "documents")["documents"]
    return D.simhash_hamming_histogram(
        docs, "doc_id", "text", sig=_simhash_md5(spark, docs, sf))


def dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """One-row dataset card (C.dataset_card): volume, exact-dup
    rate, dominant-language share, Zipf slope and Heaps β — the
    release summary composed from already-verified primitives as
    1-row crossJoins; hash-verified end to end."""
    docs = load(spark, sf, "documents")["documents"]
    return C.dataset_card(docs, "doc_id", "text")


def token_budget_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Data-constrained scaling planner (C.token_budget_plan): a 2×
    total-tokens training budget allocated across sources by the
    α=1/2 temperature policy, with the implied epoch count and the
    4-epoch repetition verdict per source — exact-integer weights
    (isqrt policy), per-factor double-cast ratios, hash-verified."""
    docs = load(spark, sf, "documents")["documents"]
    return C.token_budget_plan(docs, "doc_id", "text", "source")


def heaps_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law regression (T.heaps_fit): ln(vocab) vs ln(cum
    tokens) over the 10 vocab_growth checkpoints — β (slope) ≈
    0.4–0.6 is natural text, near-0 = duplication saturated the
    vocabulary, near-1 = UUID-like noise.  Shares zipf_fit's
    loglog_fit kernel: exact-integer sums, per-factor double casts —
    the β itself hash-verifies."""
    docs = load(spark, sf, "documents")["documents"]
    return T.heaps_fit(docs, "doc_id", "text")


def minhash_band_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """LSH band-tuning curve (D.minhash_band_sweep): candidate
    volume, precision and recall at bandings (2,16) (4,8) (8,4)
    (16,2) of one shared 32-perm signature frame, against exact
    Jaccard ≥ 0.5 ground truth under the ngram_jaccard_pairs pruning
    policy — the measured S-curve that picks (b, r) before a
    corpus-scale dedup commits to a banding.  Hash-verified via the
    XXH64-in-SQL signature replay + slice-equality band candidates +
    the list_intersect exact-Jaccard twin."""
    docs = load(spark, sf, "documents")["documents"]
    return D.minhash_band_sweep(docs, "doc_id", "text", num_perm=32,
                                sigs=_minhash_sigs(spark, docs, sf),
                                pair_counts=_pair_counts(spark, docs, sf))


def dedup_simhash_verified(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash with the md5-derived 60-bit word hash — the SAME
    bit-vote aggregate as dedup_simhash but with a base hash DuckDB
    implements bit-identically, so the full fingerprint is
    hash-verified (xxhash64/63-bit stays the production default)."""
    docs = load(spark, sf, "documents")["documents"]
    return _simhash_md5(spark, docs, sf)


def benchmark_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination: flag corpus docs sharing ≥1 distinct
    3-gram with the benchmark set (stand-in: every 97th doc;
    production uses longer n-grams — n is a parameter).  The
    benchmark shingle set broadcasts — at 100 TB the corpus side is a
    linear scan + one per-doc count aggregate."""
    return _dec_full(spark, sf)


def decontaminate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level decontamination report: the maximal word ranges of
    each corpus doc overlapping a benchmark 3-gram (benchmark
    stand-in: every 97th doc) — WHERE the leak is, for audit and
    surgical span removal.  Benchmark shingles broadcast; span
    merging is a per-doc window; integer-exact oracle."""
    docs = load(spark, sf, "documents")["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return D.decontaminate_spans(corpus, bench, "doc_id", "text", n=3)


def decontaminate_span_remove(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end surgical decontamination: the span report
    (decontaminate_spans) piped into remove_spans — corpus docs come
    back with every benchmark-overlapping passage excised and the
    removed-word count, instead of being dropped wholesale.  The
    oracle embeds the span-report oracle as a CTE and rebuilds the
    cleaned strings exactly."""
    docs = load(spark, sf, "documents")["documents"]
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    spans = D.decontaminate_spans(corpus,
                                  docs.filter(F.col("doc_id") % 97 == 0),
                                  "doc_id", "text", n=3)
    return D.remove_spans(corpus, spans, "doc_id", "text")


def corpus_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling — how a real pipeline does
    domain weighting reproducibly: a quality bucket sets the keep
    rate, membership is a pure hash test (md5 of the doc id mod 100),
    so the sample is stable across runs/engines — no RNG, no seed
    coordination, and any engine can audit the decision.  Pure Column
    expressions in the scan stage."""
    docs = load(spark, sf, "documents")["documents"]
    q = T.quality_score(F.col("text"))
    rate = (F.when(q >= 0.7, 100).when(q >= 0.5, 50).otherwise(10))
    slot = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                  16, 10).cast("long") % 100
    return (docs
            .select("doc_id", rate.alias("keep_rate"), slot.alias("slot"))
            .filter(F.col("slot") < F.col("keep_rate"))
            .select("doc_id", "keep_rate"))


def corpus_shard_pack(spark: SparkSession, sf: str) -> DataFrame:
    """Training-shard packing: documents fill fixed token-budget
    shards in doc_id order (budget 4096 here).  Distributed two-pass
    prefix sum — never a global single-partition window."""
    docs = load(spark, sf, "documents")["documents"]
    toks = docs.select(
        "doc_id", T.ws_token_count(F.col("text")).cast("long").alias("tok"))
    return T.shard_pack(toks, "doc_id", "tok", budget=4096)


def corpus_filter_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """END-TO-END pretraining corpus filter: one verdict per document,
    applying the stages in real pipeline order — language gate →
    quality gate → repetition gate → exact dedup (keep min doc_id per
    md5) → near-dup clustering (keep the cluster representative).
    Verdict is the FIRST failing stage ('kept' if none), so every
    document's row is deterministic and auditable.

    Scale shape: the three text gates are pure Column expressions in
    the scan stage; exact dedup is one hash-aggregate; the near-dup
    stage consumes the SESSION-MEMOIZED corpus-wide CC graph — the
    same pair mining + pointer-jumping CC dedup_clusters /
    split_leakage_safe / cluster_size_histogram already share
    (_jaccard_cc) — instead of re-mining its own postings join per
    call (r8 verdict ask #5; the re-mine was ~2/3 of this query's
    10.7 s at sf0.1).  Cluster representative is the min doc_id AMONG
    SURVIVORS, so a cluster whose corpus-wide representative was
    gated out for quality still keeps one copy.  On a cluster you'd
    persist `scored` between stages; the plan adds no O(n²) stage
    anywhere."""
    docs = load(spark, sf, "documents")["documents"]
    return filter_verdicts(docs, cc=_jaccard_cc(spark, docs, sf))


def filter_verdicts(docs: DataFrame, cc: DataFrame | None = None) -> DataFrame:
    """Pipeline core over any (doc_id, text) frame — see
    corpus_filter_pipeline for stage semantics.  ``cc`` is the
    (node, cluster_id) near-dup component frame over the SAME docs
    (pass the memoized corpus graph); mined fresh when omitted."""
    # r14: the three gates run as ONE Arrow kernel (bit-compatible
    # with the lang_id/quality_score/repetition_ratio expressions —
    # see gate_signals_kernel; the interpreted all_shingles →
    # array_distinct chain alone was 3.5 s of this query's 6.4 s)
    scored = T.gate_signals_kernel(docs, "doc_id", "text", n=3)
    # `scored` has FOUR downstream consumers (dedup agg, semi-join
    # probe, the near-dup miner's postings, the final verdict join) —
    # materialize it so the kernel runs once per document, not once
    # per consumer.  localCheckpoint,
    # NOT persist(): persist stays registered in the CacheManager until
    # an explicit unpersist nobody can issue (the frame never escapes),
    # so blocks would accumulate across calls in a long-lived session;
    # checkpoint blocks release via the ContextCleaner on GC.  (At
    # cluster scale: reliable checkpoint / DISK_ONLY between stages.)
    scored = scored.localCheckpoint(eager=False)
    surv1 = scored.filter((F.col("_lang") == "en") & (F.col("_q") >= 0.5)
                          & (F.col("_rep") < 0.2))
    keep_ids = (surv1.groupBy(F.md5("text").alias("_h"))
                .agg(F.min("doc_id").alias("doc_id")))
    surv2 = surv1.join(keep_ids, "doc_id", "left_semi")
    if cc is None:
        pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                      threshold=0.05, max_df=50)
        cc = D.connected_components(pairs)
    cc = cc.select(F.col("node").alias("doc_id"), "cluster_id")
    # keep the min SURVIVING doc per corpus-wide cluster; everything
    # else in the cluster that reached this stage is a near_dup
    labeled = surv2.select("doc_id").join(cc, "doc_id", "left")
    rep = (labeled.filter(F.col("cluster_id").isNotNull())
           .groupBy("cluster_id").agg(F.min("doc_id").alias("_rep")))
    near = (labeled.join(rep, "cluster_id", "left")
            .filter(F.col("cluster_id").isNotNull()
                    & (F.col("_rep") != F.col("doc_id")))
            .select("doc_id", F.lit(True).alias("_nd")))
    return (
        scored
        .join(surv2.select("doc_id", F.lit(True).alias("_s2")),
              "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_lang") != "en", "lang")
             .when(F.col("_q") < 0.5, "quality")
             .when(F.col("_rep") >= 0.2, "repetition")
             .when(F.col("_s2").isNull(), "exact_dup")
             .when(F.col("_nd").isNotNull(), "near_dup")
             .otherwise("kept").alias("verdict"))
    )


def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    # r14 (guide §4.1): T.fingerprint is one interpreted md5 per
    # CHARACTER position (L−7 per doc); one Arrow map computes the
    # identical rolling min-md5 — same char-based substrings, same
    # UTF-8 md5 hex (lowercase), and Python min on the ASCII hex
    # strings ≡ array_min's binary string order.  Edge contracts:
    # NULL text → NULL fp (array_min over [NULL]); shorter-than-8
    # docs hash the whole text (the greatest(·,1) window).
    import hashlib as _hl

    import pandas as _pd

    def _fp_kernel(batches):
        md5 = _hl.md5
        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                ids.append(did)
                if text is None:
                    fps.append(None)
                    continue
                n = max(len(text) - 7, 1)
                fps.append(min(
                    md5(text[i:i + 8].encode("utf-8")).hexdigest()
                    for i in range(n)))
            if ids:
                yield _pd.DataFrame({"doc_id": ids, "fp": fps})

    docs = load(spark, sf, "documents")["documents"]
    return docs.select("doc_id", "text").mapInPandas(
        _fp_kernel, "doc_id long, fp string")


def text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")["documents"]
    return docs.select(
        "doc_id", T.normalize_text(F.col("text")).alias("norm_text"))


def pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """Scrub emails/URLs; synthetic docs contain none, so plant a
    deterministic suffix on a subset to exercise the path."""
    docs = load(spark, sf, "documents")["documents"]
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(" contact bob@example.com or https://x.io/a")))
        .otherwise(F.col("text")))
    return planted.select("doc_id", T.scrub_pii(F.col("text")).alias("clean"))


def multimodal_decode_ppm(spark: SparkSession, sf: str) -> DataFrame:
    """REAL codec end-to-end: build a true P6 PPM blob per document
    (dims + pixels are deterministic functions of doc_id), then parse
    it back byte-for-byte — header tokenization, pixel-buffer
    validation, red-channel mean.  The oracle computes the expected
    stats in closed form, so the driver verifies the decoder actually
    read the pixels (integer-valued sums → bit-exact mean)."""
    docs = load(spark, sf, "documents")["documents"]
    dims = docs.select(
        "doc_id",
        (F.lit(4) + F.col("doc_id") % 13).cast("int").alias("w"),
        (F.lit(3) + F.col("doc_id") % 7).cast("int").alias("h"),
        F.col("doc_id").alias("seed"))
    blobs = M.encode_ppm(dims, "doc_id", "w", "h", "seed")
    return M.decode_ppm_meta(blobs).select(
        "doc_id", "width", "height", F.round("mean_r", 4).alias("mean_r"))


def image_dhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-duplicate dedup via perceptual dHash over REAL
    decoded P6 blobs (M.image_dhash): the multimodal twin of
    dedup_exact.  Image content is keyed by doc_id % 50 (the quad
    TEXTURE law — ramps all share one dHash, textures separate),
    planting ~n/50-sized duplicate groups the hash must recover;
    grouping is one window over the 63-bit fingerprint.  The oracle
    reproduces decode→resize→hash in closed form from the
    (seed, index) pixel law — the full binary pipeline is
    hash-verified."""
    from pyspark.sql import Window

    docs = load(spark, sf, "documents")["documents"]
    rep = F.col("doc_id") % 50
    dims = docs.select(
        "doc_id",
        (F.lit(4) + rep % 13).cast("int").alias("w"),
        (F.lit(3) + rep % 7).cast("int").alias("h"),
        rep.alias("seed"))
    blobs = M.encode_ppm_quad(dims, "doc_id", "w", "h", "seed")
    hashes = M.image_dhash(blobs)
    w = Window.partitionBy("dhash")
    return hashes.select(
        "doc_id", "dhash",
        F.min("doc_id").over(w).alias("keep_id"),
        F.count("*").over(w).alias("dup_cnt"))


def multimodal_decode_wav(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio codec end-to-end: build a true RIFF/WAVE PCM16 blob
    per document, chunk-walk parse it back, emit sample count + RMS
    amplitude.  Integer-squared sums are exact in float64, so the
    oracle reproduces the RMS bit-for-bit in closed form."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id",
        (F.lit(100) + F.col("doc_id") % 50).cast("int").alias("n"),
        F.col("doc_id").alias("seed"))
    blobs = M.encode_wav(spec, "doc_id", "n", "seed", rate=8000)
    return M.decode_wav_meta(blobs).select(
        "doc_id", "rate", "n_samples", F.round("rms", 4).alias("rms"))


def multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video-style frame sampling: each document becomes a
    concatenated P6 frame stream (2 + doc_id%4 frames), parsed frame
    by frame; every 2nd frame emits its true pixel mean."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id", (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("nf"))
    blobs = M.encode_ppm_stream(spec, "doc_id", "nf", width=4, height=3)
    return M.frame_sample(blobs, every_n=2)


def multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column plumbing end-to-end: attach blob → mapInPandas
    decode (stubbed codec, real Arrow batching) → typed metadata."""
    docs = load(spark, sf, "documents")["documents"]
    return M.decode_image_meta(M.attach_blob(docs), "doc_id", "blob")


def dup_ngram_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level duplicated-5-gram coverage per document — the
    cheap linear-scan repetition signal (no pair join).  r15: rides
    the span family's positioned 5-gram session memo (deduped on
    (doc, sh) it is value-identical to the distinct kernel output)
    and its df aggregate instead of re-running the shingle kernel +
    a second df mine per call (§2.4; billed in artifact_build_sec)."""
    docs = load(spark, sf, "documents")["documents"]
    return D.dup_ngram_coverage(
        docs, "doc_id", "text", n=5, min_df=2,
        sh=_pos_postings(spark, docs, sf).dropDuplicates(["doc", "sh"]),
        dfc=_pos_dfc(spark, docs, sf))


def tfidf_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 keywords per document by tf-idf."""
    docs = load(spark, sf, "documents")["documents"]
    return T.tfidf_topk(docs, "doc_id", "text", k=5)


def quality_gopher(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-rule quality flags + keep verdict per document
    (thresholds adapted to the 10-100-word synthetic corpus so the
    verdict actually splits it)."""
    docs = load(spark, sf, "documents")["documents"]
    r = T.gopher_rules(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in r.items()])


def embedding_ivf_pq_ann(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ composition — HASH-VERIFIED since r5 (_ivf_pq_ann_
    oracle re-trains both quantizers from the id-ordered sample and
    replays cell probing + the ADC LUT gather + the exact re-rank in
    SQL).  Cell pruning × compressed-code ADC scan × exact re-rank;
    served from the persisted index: probed-cell reads are
    partition-pruned at the file level, quantizers never retrained
    per call."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return A.ivf_pq_topk(_ann_index(spark, sf, emb), emb, queries,
                         "vec_id", "embedding", k=5, n_probe=8, refine=4,
                         q_rows=_ann_query_rows(spark, sf, emb))


def embedding_pq_ann(spark: SparkSession, sf: str) -> DataFrame:
    """PQ/ADC approximate neighbors with exact re-rank —
    HASH-VERIFIED since r5: the oracle (_pq_ann_oracle) re-trains
    bit-identical codebooks (id-ordered sample + pure subspace
    k-means), assigns codes by the same argmin, replays the LUT
    gather for candidate selection, and re-ranks with the identical
    left-associative cosine.  The third ANN scale path — scans the
    persisted 8-byte codes, not vectors; codebooks load from the
    artifact cache."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    return A.pq_topk(_ann_index(spark, sf, emb), emb, queries,
                     "vec_id", "embedding", k=5, refine=4,
                     q_rows=_ann_query_rows(spark, sf, emb))


#: target mixture for corpus_domain_mix — deliberately skewed so the
#: policy has work to do (uniform source counts in testdata)
MIX_WEIGHTS = {f"src{i}": 20 - i for i in range(20)}


def corpus_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/validation/test split (980/10/10 permille):
    membership is md5(doc_id||salt) mod 1000 slot ranges — disjoint
    and exhaustive by construction, stable across corpus refreshes
    (C.hash_split).  Pure Column filter, no shuffle at any scale."""
    docs = load(spark, sf, "documents")["documents"]
    return C.hash_split(docs, "doc_id")


def split_leakage_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/validation/test split
    (C.leakage_safe_split): the md5-slot membership of corpus_split
    computed on the near-dup CLUSTER representative instead of the
    doc id, so a paraphrase of a test document can never sit in train
    — the contamination guard every eval split needs.  Reuses the
    session-memoized Jaccard CC labels (same graph as
    dedup_clusters); singleton docs split exactly as corpus_split
    does."""
    docs = load(spark, sf, "documents")["documents"]
    cc = _jaccard_cc(spark, docs, sf)
    return C.leakage_safe_split(docs, "doc_id", cc)


def length_bucket_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Length-bucketed batch layout (C.length_bucket_batches): docs
    bucketed by power-of-two token-length class, dealt to 4 loader
    shards by md5 slot, batches of 16 formed shard-locally by
    md5-rank — the padding-efficient loader layout, derivable by any
    engine from (ids, lengths, salt) alone.  Fixed integer bucket
    boundaries (no quantile sort); windows span one (bucket, shard)
    cell, never the corpus."""
    docs = load(spark, sf, "documents")["documents"]
    with_len = docs.select(
        "doc_id", T.ws_token_count(F.col("text")).alias("n_tok"))
    return C.length_bucket_batches(with_len, "doc_id", "n_tok",
                                   batch_size=16, n_shards=4)


def release_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Per-(split, shard) release manifest (C.release_manifest): doc
    and token counts plus an order-defined digest — md5 over the
    shard's per-doc text md5s joined in training order.  The shipped
    artifact any consumer verifies a dataset release against; a pure
    function of (ids, texts, salts), so the oracle derives identical
    digests via string_agg ORDER BY pos."""
    docs = load(spark, sf, "documents")["documents"]
    return C.release_manifest(docs, "doc_id", "text")


def span_corruption_masks(spark: SparkSession, sf: str) -> DataFrame:
    """T5 span-corruption plan (C.span_corruption_masks): ~15% of
    tokens in length-3 spans, one span per equal block at an
    md5-derived offset — non-overlapping by construction, exact
    integer arithmetic, scan-stage only (no shuffle).  mask_starts
    ships '|'-joined (the bpe token_str discipline)."""
    docs = load(spark, sf, "documents")["documents"]
    return C.span_corruption_masks(docs, "doc_id", "text")


def bigram_pmi_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation mining (T.bigram_pmi_topk): top-20 adjacent word
    pairs by PMI, min_count=5 — the multi-word-expression discovery
    signal (Church & Hanks 1990).  Micro-nat integerization over one
    exact-integer ratio; two hash-agg passes + vocabulary-sized count
    joins + TakeOrdered(k)."""
    docs = load(spark, sf, "documents")["documents"]
    return T.bigram_pmi_topk(docs, "doc_id", "text",
                             min_count=5, k=20)


def split_contamination_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Post-split leakage audit (C.split_contamination_audit): per
    eval doc, the fraction of its distinct 3-gram shingles present in
    ANY train document — the organic-overlap check that runs after
    the split policy, catching the boilerplate/mirror leakage that
    benchmark decontamination never sees.  Inverted-index semi-join
    on the shingle key, never eval×train."""
    docs = load(spark, sf, "documents")["documents"]
    return C.split_contamination_audit(
        docs, "doc_id", "text",
        postings=_sh_postings(spark, docs, sf))


def vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve (T.vocab_growth): docs /
    cumulative tokens / distinct-vocabulary size at 10 exact id-space
    checkpoints — the corpus-composition diagnostic (sub-linear
    growth is healthy text; early-flat means duplication).  One
    postings min-agg + broadcast checkpoint join; no sort anywhere."""
    docs = load(spark, sf, "documents")["documents"]
    return T.vocab_growth(docs, "doc_id", "text")


def embedding_quantize_int8(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar int8 quantization (S.quantize_int8): per-dimension
    global [min,max] ranges, coordinates to 0..255 codes — the 4×
    serving-tier compression (FAISS SQ8 analog).  Emits the per-vector
    code digest + midpoint-decode reconstruction MSE."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    return S.quantize_int8(emb, "vec_id", "embedding")


def corpus_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """α=1/2 temperature-smoothed domain mixture
    (C.temperature_mix): weight each source by isqrt(n·10^6) —
    exact-integer √n smoothing, the multilingual-sampling policy that
    shrinks head domains — then the same limiting-domain integer-rate
    arithmetic and md5-slot membership as corpus_domain_mix.  No libm
    pow anywhere: the policy is bit-reproducible in any engine (the
    partial-agg-order discipline the HLL estimate follows)."""
    docs = load(spark, sf, "documents")["documents"]
    return C.temperature_mix(docs, "doc_id", "source")


def corpus_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic training-order shuffle (C.shuffle_order): shard
    and within-shard position from md5(doc_id||salt) — the corpus
    randomization every pretraining loader needs, reproducible by any
    engine with no RNG/seed coordination.  One hash-partition by
    shard + bounded per-shard rank windows; never a global sort."""
    docs = load(spark, sf, "documents")["documents"]
    return C.shuffle_order(docs, "doc_id", n_shards=8)


def corpus_domain_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixture reshaping: integer target weights per source;
    the limiting domain is kept whole, every other down-samples by a
    deterministic md5-slot test (C.domain_mix).  One count aggregate
    (one row per domain) + a broadcast rates join + a scan filter —
    the policy arithmetic is exact integer math, which the oracle
    replicates verbatim."""
    docs = load(spark, sf, "documents")["documents"]
    return C.domain_mix(docs, "doc_id", "source", MIX_WEIGHTS)


#: the distinct (source, 3-gram) projection — the expensive half of
#: source_overlap_matrix (r11 verdict ask #4: it re-shingled the
#: corpus every run while _pair_counts had already paid for the same
#: scan).  One explode + distinct per session, localCheckpointed.
@artifact("documents")
def _source_grams(spark: SparkSession, docs: DataFrame,
                  sf: str) -> DataFrame:
    return (docs.select("source",
                        F.explode(D.word_shingles(F.col("text"), 3))
                        .alias("sh"))
            .distinct().localCheckpoint(eager=False))


def source_overlap_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source n-gram overlap audit — for every source pair, the
    shared distinct 3-gram count and the Jaccard of their gram
    vocabularies (the dataset-card signal for which sources duplicate
    each other's content and where cross-source dedup effort pays).
    One distinct (source, gram) projection (session-memoized —
    _source_grams); the self-join expands each gram to at most
    sources² rows (20² here — bounded by the DOMAIN count, never the
    corpus), then one pair aggregate."""
    docs = load(spark, sf, "documents")["documents"]
    sg = _source_grams(spark, docs, sf)
    sizes = sg.groupBy("source").agg(F.count("*").alias("_sz"))
    a = sg.select(F.col("source").alias("source_a"), "sh")
    b = sg.select(F.col("source").alias("source_b"), "sh")
    return (
        a.join(b, "sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_grams"))
        .join(sizes.select(F.col("source").alias("source_a"),
                           F.col("_sz").alias("_sz_a")), "source_a")
        .join(sizes.select(F.col("source").alias("source_b"),
                           F.col("_sz").alias("_sz_b")), "source_b")
        .select("source_a", "source_b", "shared_grams",
                F.round(F.col("shared_grams")
                        / (F.col("_sz_a") + F.col("_sz_b")
                           - F.col("shared_grams")), 4).alias("gram_jaccard"))
    )


def corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card profile: one row per (source, lang) with doc,
    token, and char totals plus char bounds — the summary every
    released corpus publishes.  One partial+final hash-agg over one
    scan; float hazard avoided by aggregating only exact integers
    (the mean is a deterministic division of two exact BIGINTs)."""
    docs = load(spark, sf, "documents")["documents"]
    return (docs.groupBy("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(T.ws_token_count(F.col("text")).cast("long"))
                  .alias("total_tokens"),
                 F.sum("n_chars").alias("total_chars"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"))
            .withColumn("mean_chars", F.round(
                F.col("total_chars") / F.col("n_docs"), 4)))


def corpus_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis keys over md5-derived uniforms): 100 docs
    drawn proportional to n_chars, reproducible by any engine from
    (ids, weights, salt) alone — no RNG, no seed coordination.
    One scan + TakeOrderedAndProject top-k, never a global sort."""
    docs = load(spark, sf, "documents")["documents"]
    return C.weighted_sample(docs, "doc_id", "n_chars", k=100)


def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental batch-vs-corpus dedup (D.incremental_dedup): docs
    with doc_id % 10 == 0 play the arriving batch, the rest the
    existing corpus.  Verdicts: exact_dup (md5 text), near_dup
    (shared md5-minhash LSH band), new.  No corpus×corpus pairing —
    the 100 TB ingestion shape."""
    docs = load(spark, sf, "documents")["documents"]
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    # both sides' signatures are doc-predicate filters of the
    # session-memoized 16-perm md5 frame (pure per-doc function, so
    # the split is value-identical to signing each side)
    sigs = _minhash_sigs(spark, docs, sf, num_perm=16, base_hash="md5")
    return D.incremental_dedup(
        batch, corpus, "doc_id", "text",
        batch_sigs=sigs.filter(F.col("doc_id") % 10 == 0),
        corpus_sigs=sigs.filter(F.col("doc_id") % 10 != 0))


def bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filtered benchmark decontamination — same corpus/bench
    split as benchmark_decontaminate (doc_id % 97) but membership
    through a 2^17-bit, k=3 Bloom filter with md5-derived positions
    (D.bloom_decontaminate): constant broadcast size at any benchmark
    scale, no false negatives, deterministic false positives — the
    oracle recomputes the identical bitset."""
    docs = load(spark, sf, "documents")["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    # both sides of the split are doc-predicate filters over the
    # session-shared postings frame — the shingle kernel never reruns
    sh = _sh_postings(spark, docs, sf)
    return D.bloom_decontaminate(
        corpus, bench, "doc_id", "text", n=3,
        postings=sh.filter(F.col("doc") % 97 != 0),
        bench_grams=sh.filter(F.col("doc") % 97 == 0)
        .select("sh").distinct())


#: blocklist terms for blocklist_filter — stand-in for a C4-style
#: bad-words list; chosen from the synthetic vocabulary so hit counts
#: are non-trivial at every SF
BLOCK_TERMS = ["slow", "hash", "batch"]


def doc_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc word-distribution Shannon entropy (T.word_entropy):
    micro-nat integerized c·ln(c) terms make the per-doc sum exact
    integer arithmetic, so the oracle matches hash-exactly up to
    identical-input ln() — same float discipline as doc_lm_score."""
    docs = load(spark, sf, "documents")["documents"]
    return T.word_entropy(docs, "doc_id", "text")


def corpus_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing (T.pack_sequences): docs
    concatenate in doc_id order into a token stream cut into fixed
    2048-token training sequences; each doc's placement (first/last
    sequence id, offset, span) comes from the same scalable two-pass
    prefix sum as corpus_shard_pack — never a global single-task
    window."""
    docs = load(spark, sf, "documents")["documents"]
    toks = docs.select(
        "doc_id", T.ws_token_count(F.col("text")).cast("long").alias("tok"))
    return T.pack_sequences(toks, "doc_id", "tok", seq_len=2048)


def ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """First-occurrence novelty (D.ngram_novelty): fraction of each
    doc's distinct 3-grams first seen in this doc (min doc_id over
    the gram postings) — the per-doc ingest-order complement of
    dup_ngram_coverage.  Exact 1e6-scaled integers."""
    docs = load(spark, sf, "documents")["documents"]
    return D.ngram_novelty(docs, "doc_id", "text", n=3,
                           postings=_sh_postings(spark, docs, sf))


def blocklist_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Blocklist-term screening (T.blocklist_hits): exact-token hits
    against a broadcast-literal term list; keep verdict is the integer
    cross-product test hits·1e6 <= ratio_e6·n_words.  Pure scan-stage
    Columns — zero shuffle at any scale."""
    docs = load(spark, sf, "documents")["documents"]
    return T.blocklist_hits(docs, "doc_id", "text", BLOCK_TERMS)


def hll_distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Engine-portable HyperLogLog (D.hll_registers/hll_estimate):
    unlike approx_distinct_users (Spark's opaque builtin sketch,
    rows-only), these md5-derived registers and the deterministic
    estimate formula reproduce bit-identically in DuckDB — the
    verified twin that proves the HLL algebra, alongside the exact
    distinct count for accuracy auditing."""
    ev = load(spark, sf, "events")["events"]
    regs = D.hll_registers(ev, ["event_type"], "user_id")
    est = D.hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct"))
    return exact.join(est, "event_type") \
        .select("event_type", F.col("exact_distinct").cast("long"),
                "hll_est")


def ngram_cms_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min Sketch demo on corpus 3-gram occurrences: build the
    4×1024 sketch, point-query the exact top-20 grams (common_ngrams'
    deterministic total order), return (ngram, df, cms_est) — est >=
    true by the CMS guarantee (property-tested), equality whenever
    the bucket had no collisions.  Unlike the HLL row (rows-only),
    this sketch is exact-integer state: the oracle replays every
    counter bit-identically from the md5 row hashes."""
    docs = load(spark, sf, "documents")["documents"]
    postings = _sh_postings(spark, docs, sf)
    sketch = D.cms_sketch(postings, "sh")
    top = D.common_ngrams(docs, "doc_id", "text", n=3, k=20, min_df=2,
                          postings=postings,
                          dfc=_sh_dfc(spark, docs, sf))
    est = D.cms_estimate(sketch, top.select(F.col("ngram").alias("sh")),
                         "sh")
    return (top.join(est.select(F.col("sh").alias("ngram"), "cms_est"),
                     "ngram")
            .select("ngram", "df", "cms_est"))


def common_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide heavy-hitter trigrams (D.common_ngrams): exact
    global top-20 by document frequency under a total order (df DESC,
    ngram ASC), TakeOrderedAndProject — the boilerplate audit."""
    docs = load(spark, sf, "documents")["documents"]
    return D.common_ngrams(docs, "doc_id", "text", n=3, k=20, min_df=2,
                           postings=_sh_postings(spark, docs, sf),
                           dfc=_sh_dfc(spark, docs, sf))


def cluster_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced sampling over embeddings (S.cluster_balanced_
    sample): coord-sign LSH cells capped at 6 docs via the exact
    integer md5-slot rate policy — SemDeDup/D4-style diversity
    selection, bit-reproducible by the oracle."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    return S.cluster_balanced_sample(emb, "vec_id", "embedding",
                                     per_cluster=6, bits=6)


def near_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Paraphrase-level benchmark decontamination — same corpus/bench
    split as benchmark_decontaminate (doc_id % 97) but contamination
    is shared-minhash-band membership (D.near_decontaminate), which
    catches reworded leaks exact n-gram overlap misses.  md5-minhash
    keys keep the whole verdict oracle-verifiable."""
    docs = load(spark, sf, "documents")["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return D.near_decontaminate(corpus, bench, "doc_id", "text")


QUERIES = {
    "doc_entropy": doc_entropy,
    "corpus_pack_sequences": corpus_pack_sequences,
    "ngram_novelty": ngram_novelty,
    "near_decontaminate": near_decontaminate,
    "blocklist_filter": blocklist_filter,
    "common_ngrams": common_ngrams,
    "ngram_cms_estimate": ngram_cms_estimate,
    "hll_distinct_users": hll_distinct_users,
    "cluster_balanced_sample": cluster_balanced_sample,
    "corpus_split": corpus_split,
    "split_leakage_safe": split_leakage_safe,
    "length_bucket_batches": length_bucket_batches,
    "corpus_shuffle": corpus_shuffle,
    "corpus_domain_mix": corpus_domain_mix,
    "corpus_temperature_mix": corpus_temperature_mix,
    "dedup_minhash_keep": dedup_minhash_keep,
    "release_manifest": release_manifest,
    "split_contamination_audit": split_contamination_audit,
    "bigram_pmi_topk": bigram_pmi_topk,
    "span_corruption_masks": span_corruption_masks,
    "contrastive_pairs": contrastive_pairs,
    "vocab_growth": vocab_growth,
    "embedding_quantize_int8": embedding_quantize_int8,
    "corpus_weighted_sample": corpus_weighted_sample,
    "corpus_stats": corpus_stats,
    "source_overlap_matrix": source_overlap_matrix,
    "dedup_incremental": dedup_incremental,
    "bloom_decontaminate": bloom_decontaminate,
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "ngram_jaccard_auto": ngram_jaccard_auto,
    "ngram_containment_pairs": ngram_containment_pairs,
    "minhash_containment_est": minhash_containment_est,
    "ngram_jaccard_prefix": ngram_jaccard_prefix,
    "dup_span_extract": dup_span_extract,
    "dup_span_remove": dup_span_remove,
    "decontaminate_spans": decontaminate_spans,
    "decontaminate_span_remove": decontaminate_span_remove,
    "line_dedup": line_dedup,
    "gopher_repetition": gopher_repetition,
    "nb_quality_classify": nb_quality_classify,
    "vocab_coverage": vocab_coverage,
    "perplexity_buckets": perplexity_buckets,
    "line_quality_filter": line_quality_filter,
    "bpe_token_count": bpe_token_count,
    "unigram_token_count": unigram_token_count,
    "unigram_encode_docs": unigram_encode_docs,
    "tokenizer_fertility": tokenizer_fertility,
    "ann_recall_eval": ann_recall_eval,
    "ann_nprobe_sweep": ann_nprobe_sweep,
    "bpe_token_count_batched": bpe_token_count_batched,
    "bpe_encode_docs": bpe_encode_docs,
    "lang_audit": lang_audit,
    "dedup_exact_prioritized": dedup_exact_prioritized,
    "image_dhash_dedup": image_dhash_dedup,
    "corpus_quality_pipeline": corpus_quality_pipeline,
    "doc_lm_score": doc_lm_score,
    "corpus_importance_weights": corpus_importance_weights,
    "embedding_cosine_topk": embedding_cosine_topk,
    "embedding_hard_negatives": embedding_hard_negatives,
    "embedding_lsh_ann": embedding_lsh_ann,
    "embedding_ivf_ann": embedding_ivf_ann,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_semantic": dedup_semantic,
    "embedding_cluster_assign": embedding_cluster_assign,
    "embedding_knn_graph": embedding_knn_graph,
    "embedding_outliers": embedding_outliers,
    "embedding_pca_project": embedding_pca_project,
    "lang_id": lang_id,
    "doc_quality_score": doc_quality_score,
    "token_count": token_count,
    "doc_fingerprint": doc_fingerprint,
    "doc_repetition": doc_repetition,
    "dedup_clusters": dedup_clusters,
    "corpus_filter_pipeline": corpus_filter_pipeline,
    "benchmark_decontaminate": benchmark_decontaminate,
    "corpus_sample": corpus_sample,
    "corpus_shard_pack": corpus_shard_pack,
    "dedup_minhash_verified": dedup_minhash_verified,
    "minhash_est_error": minhash_est_error,
    "minhash_band_sweep": minhash_band_sweep,
    "zipf_fit": zipf_fit,
    "heaps_fit": heaps_fit,
    "token_budget_plan": token_budget_plan,
    "dataset_card": dataset_card,
    "simhash_hamming_histogram": simhash_hamming_histogram,
    "embedding_split_audit": embedding_split_audit,
    "doc_length_quantiles": doc_length_quantiles,
    "source_quality_matrix": source_quality_matrix,
    "winnow_fingerprints": winnow_fingerprints,
    "winnow_overlap_pairs": winnow_overlap_pairs,
    "edit_distance_pairs": edit_distance_pairs,
    "readability_fre": readability_fre,
    "encoding_anomalies": encoding_anomalies,
    "template_prefix_clusters": template_prefix_clusters,
    "skipgram_pmi_topk": skipgram_pmi_topk,
    "hapax_ratio": hapax_ratio,
    "lsh_vs_edit_eval": lsh_vs_edit_eval,
    "ivf_balance_report": ivf_balance_report,
    "embedding_cell_margins": embedding_cell_margins,
    "dedup_simhash_verified": dedup_simhash_verified,
    "multimodal_decode": multimodal_decode,
    "multimodal_decode_ppm": multimodal_decode_ppm,
    "multimodal_decode_wav": multimodal_decode_wav,
    "multimodal_frame_sample": multimodal_frame_sample,
    "text_normalize": text_normalize,
    "pii_scrub": pii_scrub,
    "dup_ngram_coverage": dup_ngram_coverage,
    "tfidf_keywords": tfidf_keywords,
    "quality_gopher": quality_gopher,
    "embedding_pq_ann": embedding_pq_ann,
    "embedding_ivf_pq_ann": embedding_ivf_pq_ann,
}

_WORDS = "list_filter(string_split(text, ' '), w -> w <> '')"


def _sw_hits(lang_list: str) -> str:
    return f"len(list_filter({_WORDS}, w -> w IN ({lang_list})))"


_SW = {
    "en": "'the','a','and','of','to','in','is','it'",
    "de": "'der','die','das','und','zu','ist','ein','nicht'",
    "es": "'el','la','de','que','y','en','un','es'",
    "fr": "'le','la','et','de','un','est','que','pour'",
}

ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id,
               COUNT(*) AS dup_cnt
        FROM documents GROUP BY md5(text)
    """,
    "ngram_jaccard_pairs": """
        WITH d AS (
          SELECT doc_id AS doc, list_distinct(list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> array_to_string(words[i:i+2], ' '))) AS shs
          FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
                FROM documents)
        ), sh AS (
          SELECT doc, UNNEST(shs) AS sh FROM d
        ), dfc AS (
          SELECT sh FROM (SELECT sh, COUNT(*) AS cnt FROM sh GROUP BY sh)
          WHERE cnt <= 50
        ), pruned AS (
          SELECT doc, s.sh FROM sh s JOIN dfc USING (sh)
        ), cand AS (
          SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
          FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc < b.doc
        )
        SELECT id_a, id_b,
               ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                     / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))),
                     4) AS jaccard
        FROM cand c
        JOIN d a ON a.doc = c.id_a
        JOIN d b ON b.doc = c.id_b
        WHERE ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                    / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))),
                    4) >= 0.05
    """,
    "ngram_containment_pairs": """
        WITH d AS (
          SELECT doc_id AS doc, list_distinct(list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> array_to_string(words[i:i+2], ' '))) AS shs
          FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
                FROM documents)
        ), sh AS (
          SELECT doc, UNNEST(shs) AS sh FROM d
        ), dfc AS (
          SELECT sh FROM (SELECT sh, COUNT(*) AS cnt FROM sh GROUP BY sh)
          WHERE cnt <= 50
        ), pruned AS (
          SELECT doc, s.sh FROM sh s JOIN dfc USING (sh)
        ), cand AS (
          SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
          FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc < b.doc
        ), scored AS (
          SELECT id_a, id_b,
                 ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                       / len(a.shs), 4) AS cont_a,
                 ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                       / len(b.shs), 4) AS cont_b
          FROM cand c
          JOIN d a ON a.doc = c.id_a
          JOIN d b ON b.doc = c.id_b
        )
        SELECT id_a, id_b, cont_a, cont_b FROM scored
        WHERE GREATEST(cont_a, cont_b) >= 0.2
    """,
    "ngram_jaccard_auto": """
        WITH d AS (
          SELECT doc_id AS doc, list_distinct(list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> array_to_string(words[i:i+2], ' '))) AS shs
          FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
                FROM documents)
        ), sh AS (
          SELECT doc, UNNEST(shs) AS sh FROM d
        ), freq AS (
          SELECT sh, COUNT(*) AS cnt FROM sh GROUP BY sh
        ), hist AS (
          SELECT cnt, COUNT(*) AS n FROM freq GROUP BY cnt
        ), tot AS (
          SELECT COUNT(*) AS p FROM sh
        ), cut AS (
          -- auto_max_df: largest df whose cumulative self-join work
          -- sum(df^2 * n(df)) fits budget(=32) * postings; exact
          -- integer arithmetic, identical to the Spark driver rule
          SELECT COALESCE(MAX(cnt), 1) AS c
          FROM (SELECT cnt, SUM(cnt * cnt * n) OVER (ORDER BY cnt) AS cum
                FROM hist), tot
          WHERE cum <= 32 * p AND cnt <= 100000
        ), dfc AS (
          SELECT sh FROM freq, cut WHERE cnt <= c
        ), pruned AS (
          SELECT doc, s.sh FROM sh s JOIN dfc USING (sh)
        ), cand AS (
          SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
          FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc < b.doc
        )
        SELECT id_a, id_b,
               ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                     / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))),
                     4) AS jaccard
        FROM cand c
        JOIN d a ON a.doc = c.id_a
        JOIN d b ON b.doc = c.id_b
        WHERE ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                    / (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))),
                    4) >= 0.05
    """,
    "ngram_jaccard_prefix": """
        WITH d AS (
          SELECT doc_id AS doc, list_distinct(list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> array_to_string(words[i:i+2], ' '))) AS shs
          FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS words
                FROM documents)
        )
        SELECT id_a, id_b, jaccard FROM (
          SELECT a.doc AS id_a, b.doc AS id_b,
                 ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
                       / (len(a.shs) + len(b.shs)
                          - len(list_intersect(a.shs, b.shs))),
                       4) AS jaccard
          FROM d a JOIN d b ON a.doc < b.doc
        ) WHERE jaccard >= 0.6
    """,
    "embedding_cosine_topk": """
        SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos, rk FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rk
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < 20
        ) WHERE rk <= 5
    """,
    "embedding_hard_negatives": """
        SELECT query_id, query_label, neighbor_id, neighbor_label,
               ROUND(cos, 4) AS cos, rk FROM (
          SELECT q.vec_id AS query_id, q.label AS query_label,
                 c.vec_id AS neighbor_id, c.label AS neighbor_label,
                 list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rk
          FROM embeddings q JOIN embeddings c ON q.label <> c.label
          WHERE q.vec_id < 20
        ) WHERE rk <= 5
    """,
    "dedup_embedding_cosine": None,  # generated below (_c12_oracle)
    "lang_id": f"""
        SELECT doc_id,
               CASE
                 WHEN {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['de'])}
                  AND {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['es'])}
                  AND {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['fr'])} THEN 'en'
                 WHEN {_sw_hits(_SW['de'])} >= {_sw_hits(_SW['es'])}
                  AND {_sw_hits(_SW['de'])} >= {_sw_hits(_SW['fr'])} THEN 'de'
                 WHEN {_sw_hits(_SW['es'])} >= {_sw_hits(_SW['fr'])} THEN 'es'
                 ELSE 'fr'
               END AS pred_lang
        FROM documents
    """,
    "doc_quality_score": f"""
        SELECT doc_id, ROUND(
            0.5 * LEAST(n_words / 64.0, 1.0)
          + 0.25 * LEAST(sw / GREATEST(n_words, 1.0) * 4, 1.0)
          + 0.25 * (1 - LEAST(punct / GREATEST(n_chars_d, 1.0) * 4, 1.0)), 4)
          AS quality
        FROM (
          SELECT doc_id,
                 CAST(len({_WORDS}) AS DOUBLE) AS n_words,
                 CAST(length(text) AS DOUBLE) AS n_chars_d,
                 CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) AS punct,
                 CAST({_sw_hits(_SW['en'])} AS DOUBLE) AS sw
          FROM documents
        )
    """,
    "token_count": f"""
        SELECT doc_id,
               CAST(len({_WORDS}) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                    AS BIGINT) AS re_tokens
        FROM documents
    """,
    "doc_fingerprint": """
        SELECT doc_id,
               list_min(list_transform(
                 range(1, greatest(length(text) - 7, 1) + 1),
                 i -> md5(substr(text, CAST(i AS INTEGER), 8)))) AS fp
        FROM documents
    """,
    "multimodal_decode": """
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST((strlen(text) * 7) % 640 AS BIGINT) AS width,
               CAST((strlen(text) * 13) % 480 AS BIGINT) AS height,
               'stub' AS fmt
        FROM documents
    """,
}

def _c12_oracle(bands: int = 8, bits: int = 8, threshold: float = 0.3) -> str:
    """DuckDB twin of cosine_near_pairs_lsh: the coordinate-sign bucket
    is a pure sign test on the raw float coordinates, so both engines
    compute identical buckets bit-for-bit (no plane constants, no
    float-summation-order hazard)."""
    whens = " ".join(
        "WHEN {b} THEN ({expr})".format(
            b=b,
            expr=" + ".join(
                f"(CASE WHEN embedding[{b * bits + i + 1}] > 0 "
                f"THEN {1 << i} ELSE 0 END)"
                for i in range(bits)),
        )
        for b in range(bands)
    )
    return f"""
        WITH banded AS (
          SELECT vec_id, embedding, band,
                 CASE band {whens} END AS bucket
          FROM embeddings
          CROSS JOIN (SELECT UNNEST(range(0, {bands})) AS band)
        ), cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT c.id_a, c.id_b,
               ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 4) AS cos
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.id_a
        JOIN embeddings b ON b.vec_id = c.id_b
        WHERE ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 4) > {threshold}
    """


ORACLES["dedup_embedding_cosine"] = _c12_oracle()


def _lsh_ann_oracle(k: int = 5, bits: int = 8, dim: int = 64,
                    n_queries: int = 20) -> str:
    """DuckDB twin of S.lsh_ann (VERDICT r3 item 6): the seeded
    hyperplanes are embedded as full-precision literals, and every
    float reduction (plane dots for the bucket bits, the dot/norms of
    the exact cosine) is written as an explicit LEFT-ASSOCIATIVE term
    sum — the same evaluation order as Spark's sequential
    ``F.aggregate`` fold, so buckets and cosines agree bit-for-bit,
    not just to rounding."""
    from goka_spark.functions.similarity import hyperplanes

    planes = hyperplanes(dim, bits)

    def dots(vec: str, plane: list[float]) -> str:
        return " + ".join(f"({vec}[{i + 1}]::DOUBLE * {p!r})"
                          for i, p in enumerate(plane))

    def bucket(vec: str) -> str:
        return " + ".join(
            f"(CASE WHEN ({dots(vec, p)}) > 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes))

    pair_dot = " + ".join(
        f"(a.embedding[{i + 1}]::DOUBLE * b.embedding[{i + 1}]::DOUBLE)"
        for i in range(dim))
    sq = lambda v: " + ".join(
        f"({v}[{i + 1}]::DOUBLE * {v}[{i + 1}]::DOUBLE)"
        for i in range(dim))

    return f"""
        WITH c AS (
          SELECT vec_id, embedding, {bucket('embedding')} AS bucket,
                 SQRT({sq('embedding')}) AS nrm
          FROM embeddings
        ), q AS (
          SELECT vec_id, embedding, nrm,
                 UNNEST([bucket] || list_transform(
                   range(0, {bits}), i -> xor(bucket, 1 << i))) AS probe
          FROM c WHERE vec_id < {n_queries}
        ), scored AS (
          SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
                 ({pair_dot}) / (a.nrm * b.nrm) AS raw_cos
          FROM c a JOIN q b
            ON a.bucket = b.probe AND a.vec_id <> b.vec_id
        ), ranked AS (
          SELECT query_id, neighbor_id, raw_cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY raw_cos DESC, neighbor_id)
                   AS rk
          FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(raw_cos, 4) AS cos, rk
        FROM ranked WHERE rk <= {k}
    """


ORACLES["embedding_lsh_ann"] = _lsh_ann_oracle()

ORACLES["doc_repetition"] = """
    SELECT doc_id,
           ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                 / len(grams), 4) AS rep_ratio
    FROM (SELECT doc_id,
                 list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> array_to_string(words[i:i+2], ' ')) AS grams
          FROM (SELECT doc_id,
                       list_filter(string_split(text, ' '),
                                   w -> w <> '') AS words
                FROM documents))
"""

ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE pairs AS ({ORACLES["ngram_jaccard_pairs"]}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node, node AS label FROM nodes
      UNION
      SELECT e.a AS node, r.label FROM edges e JOIN reach r ON e.b = r.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY node
"""

ORACLES["bloom_fpr_calibration"] = f"""
    WITH sh AS (
      SELECT DISTINCT UNNEST(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(ws[i:i+2], ' '))) AS sh
      FROM (SELECT {_WORDS} AS ws FROM documents WHERE doc_id % 97 = 0)
    ), ks(j) AS (VALUES (0), (1), (2)),
    bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh),
                                  1, 8)) AS BIGINT) % 131072 AS pos
      FROM sh CROSS JOIN ks
    ), nb AS (SELECT COUNT(*) AS b FROM bits),
    ng AS (SELECT COUNT(*) AS g FROM sh),
    probes AS (
      SELECT 'nm:' || CAST(i AS VARCHAR) AS sh, j,
             CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
                   'nm:' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT)
               % 131072 AS pos
      FROM range(0, 10000) r(i) CROSS JOIN ks
    ), fp AS (
      SELECT COUNT(*) AS f FROM (
        SELECT sh FROM probes JOIN bits USING (pos)
        GROUP BY sh HAVING COUNT(*) = 3)
    )
    SELECT CAST(131072 AS BIGINT) AS m_bits, CAST(3 AS BIGINT) AS k,
           CAST(g AS BIGINT) AS n_grams,
           CAST(b AS BIGINT) AS n_set_bits,
           CAST(b * 1000000 // 131072 AS BIGINT) AS fill_e6,
           CAST(10000 AS BIGINT) AS n_probes,
           CAST(f AS BIGINT) AS n_fp,
           CAST(f * 1000000 // 10000 AS BIGINT) AS fpr_measured_e6,
           CAST(b * b * b * 1000000 // (131072::BIGINT * 131072
                * 131072) AS BIGINT) AS fpr_theory_e6
    FROM nb, ng, fp
"""


def _dup_quality_oracle() -> str:
    return f"""
    WITH k AS ({_minhash_keep_oracle()}),
    q AS ({ORACLES["doc_quality_score"]}),
    j AS (
      SELECT k.doc_id <> k.keep_id AS dropped,
             CAST(FLOOR(q.quality * 10000 + 0.5) AS BIGINT) AS qe4,
             d.n_chars AS c
      FROM k JOIN q USING (doc_id) JOIN documents d USING (doc_id)
    )
    SELECT dropped, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(qe4) // COUNT(*) AS BIGINT) AS mean_quality_e4,
           CAST(SUM(c) // COUNT(*) AS BIGINT) AS mean_chars
    FROM j GROUP BY dropped
    """


ORACLES["dup_quality_compare"] = _dup_quality_oracle


def _winnow_sweep_oracle() -> str:
    """The winnow fingerprint oracle generalized over (k, w): same
    positional-md5 / rightmost-argmin / pos·2³²+h packing algebra,
    parameterized constants, one UNION ALL arm per setting."""
    arms = []
    for k, w in _WINNOW_PARAMS:
        arms.append(f"""
    SELECT CAST({k} AS BIGINT) AS k, CAST({w} AS BIGINT) AS w,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.total_grams AS BIGINT) AS total_grams,
           CAST(s.total_fps AS BIGINT) AS total_fps,
           CAST(s.total_fps * 1000000 // s.total_grams AS BIGINT)
             AS density_e6,
           CAST(p.n_pairs AS BIGINT) AS n_pairs
    FROM (
      WITH d AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
      g AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(ws) - {k - 1}, 1)
                                       + 1),
                              i -> array_to_string(ws[i:i+{k - 1}],
                                                   ' ')) AS grams
        FROM d
      ), h AS (
        SELECT doc_id,
               list_transform(grams, g2 ->
                 CAST(('0x' || substr(md5(g2), 1, 8)) AS BIGINT)) AS hs
        FROM g
      ), p AS (
        SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS L,
               greatest(len(hs) - {w - 1}, 1) AS n_win,
               least({w}, len(hs)) AS wl
        FROM h
      ), sel AS (
        SELECT doc_id, L,
               list_sort(list_distinct(list_transform(
                 range(0, n_win), i ->
                   CAST(i + wl
                        - list_position(
                            list_reverse(hs[i+1:i+wl]),
                            list_aggregate(hs[i+1:i+wl], 'min'))
                        + 1 AS BIGINT) * 4294967296
                   + list_aggregate(hs[i+1:i+wl], 'min')))) AS ks
        FROM p
      )
      SELECT COUNT(*) AS n_docs, SUM(L) AS total_grams,
             SUM(len(ks)) AS total_fps
      FROM sel
    ) s CROSS JOIN (
      WITH d AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
      g AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(ws) - {k - 1}, 1)
                                       + 1),
                              i -> array_to_string(ws[i:i+{k - 1}],
                                                   ' ')) AS grams
        FROM d
      ), h AS (
        SELECT doc_id,
               list_transform(grams, g2 ->
                 CAST(('0x' || substr(md5(g2), 1, 8)) AS BIGINT)) AS hs
        FROM g
      ), p AS (
        SELECT doc_id, hs,
               greatest(len(hs) - {w - 1}, 1) AS n_win,
               least({w}, len(hs)) AS wl
        FROM h
      ), sel AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(0, n_win), i ->
                   (CAST(i + wl
                        - list_position(
                            list_reverse(hs[i+1:i+wl]),
                            list_aggregate(hs[i+1:i+wl], 'min'))
                        + 1 AS BIGINT) * 4294967296
                   + list_aggregate(hs[i+1:i+wl], 'min'))
                   % 4294967296)) AS hh
        FROM p
      ), posts AS (
        SELECT DISTINCT doc_id AS doc, UNNEST(hh) AS h2 FROM sel
      ), shared AS (
        SELECT a.doc AS da, b.doc AS db
        FROM posts a JOIN posts b ON a.h2 = b.h2 AND a.doc < b.doc
        GROUP BY da, db HAVING COUNT(*) >= 2
      )
      SELECT COUNT(*) AS n_pairs FROM shared
    ) p""")
    return " UNION ALL ".join(arms)


ORACLES["winnow_param_sweep"] = _winnow_sweep_oracle


def _deletion_audit_oracle() -> str:
    """The XXH64 keep oracle's drop set joined back to both texts,
    DuckDB levenshtein with the same cap sentinel as the plan."""
    return f"""
    WITH k AS ({_minhash_keep_oracle()}),
    d AS (
      SELECT k.doc_id, k.keep_id, a.text AS td, b.text AS tk
      FROM k
      JOIN documents a ON a.doc_id = k.doc_id
      JOIN documents b ON b.doc_id = k.keep_id
      WHERE k.doc_id <> k.keep_id
    ), s AS (
      SELECT doc_id, keep_id,
             CASE WHEN levenshtein(td, tk) > 512 THEN -1
                  ELSE levenshtein(td, tk) END AS edit_dist,
             CASE WHEN levenshtein(td, tk) > 512 THEN -1
                  ELSE (greatest(length(td), length(tk))
                        - levenshtein(td, tk)) * 1000000
                       // greatest(length(td), length(tk)) END
               AS sim_e6
      FROM d
    )
    SELECT doc_id, keep_id, CAST(edit_dist AS BIGINT) AS edit_dist,
           CAST(sim_e6 AS BIGINT) AS sim_e6,
           sim_e6 < 700000 AS false_delete
    FROM s
    """


ORACLES["dedup_deletion_audit"] = _deletion_audit_oracle


def _quantized_recall_oracle(k: int = 5, n_queries: int = 20,
                             dim: int = 64) -> str:
    """DuckDB twin of quantized_recall: per-dim (min, range) as list
    literals recomputed from THIS sf's parquet (the recomputed-
    quantizer contract), element-wise decode via list_transform
    (order-free per element), cosines as explicit left-associative
    term sums over the raw and decoded lists."""
    import duckdb

    sf_dir = _ivf_oracle_sf()
    rows = duckdb.sql(
        f"SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ("
        f"SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS x, "
        f"UNNEST(range(1, len(embedding) + 1)) AS d "
        f"FROM '{sf_dir}/embeddings.parquet') GROUP BY d ORDER BY d"
    ).fetchall()
    mns = "[" + ", ".join(repr(r[1]) for r in rows) + "]"
    rgs = "[" + ", ".join(repr(r[2] - r[1]) for r in rows) + "]"

    def pdot(va, vb):
        return " + ".join(f"({va}[{i + 1}] * {vb}[{i + 1}])"
                          for i in range(dim))

    return f"""
    WITH mr AS (SELECT {mns}::DOUBLE[] AS mns, {rgs}::DOUBLE[] AS rgs),
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), ex AS (
      SELECT vec_id, v,
             list_transform(range(1, {dim} + 1), i ->
               mns[i] + (CASE WHEN rgs[i] > 0
                 THEN least(255, greatest(0,
                        floor((v[i] - mns[i]) * 255 / rgs[i])))
                 ELSE 0 END + 0.5) * rgs[i] / 255) AS x
      FROM e, mr
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, t.var,
             CASE t.var
               WHEN 0 THEN ({pdot('q.v', 'c.v')})
                 / (SQRT({pdot('q.v', 'q.v')})
                    * SQRT({pdot('c.v', 'c.v')}))
               ELSE ({pdot('q.x', 'c.x')})
                 / (SQRT({pdot('q.x', 'q.x')})
                    * SQRT({pdot('c.x', 'c.x')}))
             END AS cos
      FROM ex c
      JOIN ex q ON q.vec_id < {n_queries} AND q.vec_id <> c.vec_id
      CROSS JOIN (VALUES (0), (1)) t(var)
    ), ranked AS (
      SELECT var, query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY var, query_id
                                ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ), top AS (
      SELECT var, query_id, neighbor_id FROM ranked WHERE rk <= {k}
    ), hit AS (
      SELECT COUNT(*) AS h
      FROM top t JOIN (SELECT query_id, neighbor_id FROM top
                       WHERE var = 0) f USING (query_id, neighbor_id)
      WHERE t.var = 1
    ), base AS (SELECT COUNT(*) AS n FROM top WHERE var = 1)
    SELECT CAST(n AS BIGINT) AS n_top, CAST(h AS BIGINT) AS n_overlap,
           CAST(h * 1000000 // greatest(n, 1) AS BIGINT) AS recall_e6
    FROM base, hit
    """


ORACLES["quantized_recall_eval"] = _quantized_recall_oracle


def _tokenizer_stability_oracle(n_merges: int = 16) -> str:
    """Retrain both halves with train_py from DuckDB's word dicts
    (bpe_train's incremental trainer is pinned to train_py by tests —
    the C67 recomputability contract) and embed the expected
    comparison table as literals."""
    import duckdb

    from goka_spark.functions import bpe as B

    sf_dir = _ivf_oracle_sf()
    halves = []
    for cond in ("< 50", ">= 50"):
        wf = dict(duckdb.sql(
            f"SELECT w, COUNT(*) FROM (SELECT UNNEST({_WORDS}) AS w "
            f"FROM '{sf_dir}/documents.parquet' WHERE "
            f"CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
            f" AS BIGINT) % 100 {cond}) GROUP BY w").fetchall())
        halves.append(B.train_py(wf, n_merges))
    ma, mb = halves
    sa, sb = set(ma), set(mb)
    rows = []
    for i in range(max(len(ma), len(mb))):
        pa = " ".join(ma[i]) if i < len(ma) else None
        pb = " ".join(mb[i]) if i < len(mb) else None
        qa = "'" + pa.replace("'", "''") + "'" if pa is not None \
            else "NULL"
        qb = "'" + pb.replace("'", "''") + "'" if pb is not None \
            else "NULL"
        rows.append("({}, {}, {}, {}, {}, {})".format(
            i + 1, qa, qb,
            1 if (pa is not None and pa == pb) else 0,
            1 if (i < len(ma) and ma[i] in sb) else 0,
            1 if (i < len(mb) and mb[i] in sa) else 0))
    return f"""
    SELECT CAST(rank AS BIGINT) AS rank, merge_a, merge_b,
           CAST(rank_match AS BIGINT) AS rank_match,
           CAST(a_in_b AS BIGINT) AS a_in_b,
           CAST(b_in_a AS BIGINT) AS b_in_a
    FROM (VALUES {", ".join(rows)})
      t(rank, merge_a, merge_b, rank_match, a_in_b, b_in_a)
    """


ORACLES["tokenizer_stability"] = _tokenizer_stability_oracle


def _source_health_oracle() -> str:
    """Composes the standalone audit oracles per source; the
    template share is the per-source prefix variant (share of a
    source's docs whose first-3-words prefix repeats WITHIN it)."""
    return f"""
    WITH enc AS ({ORACLES["encoding_anomalies"]}),
    pii AS ({ORACLES["pii_audit_matrix"]}),
    hap AS ({ORACLES["hapax_ratio"]}),
    fre0 AS ({ORACLES["readability_fre"]}),
    fre AS (
      SELECT d.source,
             (SUM(fkgl_dummy.fre_e3) + COUNT(*) * 1000000000)
               // COUNT(*) - 1000000000 AS mean_fre_e3
      FROM fre0 fkgl_dummy JOIN documents d USING (doc_id)
      GROUP BY d.source
    ),
    pc AS (
      SELECT source, array_to_string({_WORDS}[1:3], ' ') AS p,
             COUNT(*) AS c
      FROM documents GROUP BY source, p
    ),
    tmpl AS (
      SELECT source,
             SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000
               // SUM(c) AS templated_e6
      FROM pc GROUP BY source
    )
    SELECT enc.source, enc.n_docs, enc.clean_e6,
           pii.any_pii_e6, hap.hapax_types_e6,
           CAST(fre.mean_fre_e3 AS BIGINT) AS mean_fre_e3,
           CAST(tmpl.templated_e6 AS BIGINT) AS templated_e6
    FROM enc
    JOIN pii USING (source) JOIN hap USING (source)
    JOIN fre USING (source) JOIN tmpl USING (source)
    """


ORACLES["source_health_report"] = _source_health_oracle


ORACLES["chain_merge_audit"] = f"""
    WITH cl AS ({ORACLES["dedup_clusters"]}),
    pairs AS ({ORACLES["ngram_jaccard_pairs"]}),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS s FROM cl GROUP BY cluster_id
    ),
    edges AS (
      SELECT cl.cluster_id, COUNT(*) AS d
      FROM pairs JOIN cl ON cl.doc_id = pairs.id_a
      GROUP BY cl.cluster_id
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(s AS BIGINT) AS size,
           CAST(d AS BIGINT) AS n_edges,
           CAST(s * (s - 1) // 2 AS BIGINT) AS n_possible,
           CAST((s * (s - 1) // 2 - d) * 1000000
                // (s * (s - 1) // 2) AS BIGINT) AS chain_e6
    FROM sizes JOIN edges USING (cluster_id)
"""


# leakage-safe split: the dedup_clusters CC as a nested CTE, singleton
# docs their own cluster, then corpus_split's md5-slot policy computed
# on the CLUSTER id instead of the doc id.
ORACLES["split_leakage_safe"] = f"""
    WITH cl AS ({ORACLES["dedup_clusters"]}),
    fl AS (
      SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cl USING (doc_id)
    )
    SELECT doc_id, cluster_id,
           CASE WHEN slot < 980 THEN 'train'
                WHEN slot < 990 THEN 'validation'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, cluster_id,
                 CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)
                                          || 'split-v1'), 1, 8))
                      AS BIGINT) % 1000 AS slot
          FROM fl)
"""

def _minhash_oracle(num_perm: int = 16) -> str:
    """DuckDB twin of minhash_signatures(base_hash='md5'): identical
    permutation constants (same seeded _perm_params), identical
    integer algebra — sig = MIN((a*h32 + b) % (2^61-1))."""
    from goka_spark.functions.dedup import MERSENNE, _perm_params
    rows = ", ".join(f"({j}, {a}, {b})"
                     for j, (a, b) in enumerate(_perm_params(num_perm)))
    return f"""
    WITH d AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
    ), sh AS (
      SELECT doc_id, UNNEST(shs) AS s FROM d
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) & 2147483647
               AS h32
      FROM sh
    ), params(perm, a, b) AS (VALUES {rows})
    SELECT doc_id, CAST(perm AS INTEGER) AS perm,
           MIN((a * h32 + b) % {MERSENNE}) AS sig
    FROM h CROSS JOIN params
    GROUP BY doc_id, perm
    """


ORACLES["dedup_minhash_verified"] = _minhash_oracle()


def _minhash_err_oracle(num_perm: int = 16) -> str:
    """DuckDB twin of minhash_est_error: the signature oracle as a
    CTE (same permutation constants), adjacent-id pairing, exact
    Jaccard from shingle-list intersection."""
    sig = _minhash_oracle(num_perm)
    step = 1000000 // num_perm
    return f"""
    WITH s AS ({sig}), d AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS mt
      FROM s a JOIN s b
        ON b.doc_id = a.doc_id + 1 AND a.perm = b.perm
      GROUP BY a.doc_id, b.doc_id
    ), j AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shs, b.shs)) AS i_,
             len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs))
               AS u_
      FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_a, doc_b,
           CAST(mt * {step} AS BIGINT) AS est_e6,
           CAST(i_ * 1000000 // u_ AS BIGINT) AS exact_e6,
           CAST(ABS(mt * {step} - i_ * 1000000 // u_) AS BIGINT)
             AS abs_err_e6
    FROM m JOIN j USING (doc_a, doc_b)
    """


ORACLES["minhash_est_error"] = _minhash_err_oracle()


# --- XXH64-in-SQL oracles (late r5) ---------------------------------
# The PRODUCTION dedup paths hash with Spark's xxhash64; these
# callables generate XXH64 itself in DuckDB SQL (queries/xxh_sql.py:
# HUGEINT-emulated 64-bit wraparound, one projection layer per
# algorithm step), flipping dedup_simhash and dedup_minhash_lsh from
# rows-only to fully hash-verified.  Unroll depth comes from the
# actual data's max byte length, probed at oracle-build time (same
# contract as the IVF centroid literals).

def _xxh_max_len(kind: str) -> int:
    import duckdb as _dd
    sf_dir = _ivf_oracle_sf()
    if kind == "word":
        q = (f"SELECT COALESCE(MAX(octet_length(encode(w))), 8) FROM "
             f"(SELECT UNNEST({_WORDS}) AS w FROM "
             f"'{sf_dir}/documents.parquet')")
    else:
        q = (f"SELECT COALESCE(MAX(octet_length(encode(s))), 8) FROM "
             f"(SELECT array_to_string(words[i:i+2], ' ') AS s FROM "
             f"(SELECT {_WORDS} AS words FROM "
             f"'{sf_dir}/documents.parquet') d, "
             f"UNNEST(range(1, greatest(len(words) - 2, 1) + 1)) AS t(i))")
    return int(_dd.sql(q).fetchone()[0])


def _simhash_xxh_oracle() -> str:
    """DuckDB twin of simhash(base_hash='xxhash64'): XXH64 per word
    occurrence (seed 42), 63 bit-votes, positive-long fingerprint —
    bit-identical to the Spark production path."""
    from goka_spark.queries import xxh_sql as XS
    inner = (f"SELECT doc_id, w FROM (SELECT doc_id, UNNEST({_WORDS}) "
             f"AS w FROM documents)")
    xh = XS.xxh64_select(inner, "w", "hub", ["doc_id"],
                         max_len=_xxh_max_len("word"))
    return f"""
    WITH xh AS ({xh}), bits AS (SELECT UNNEST(range(0, 63)) AS j),
    v AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (hub >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM xh CROSS JOIN bits GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN (1::HUGEINT << j)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM v GROUP BY doc_id
    """


ORACLES["dedup_simhash"] = _simhash_xxh_oracle


def _xxh_sigs_ctes(num_perm: int = 32) -> str:
    """Shared CTE fragment: distinct shingles → XXH64(seed 42) →
    h31 → per-perm signature mins → per-doc ordered signature list
    ``arr(doc_id, mh)`` (+ ``inner_sh`` for per-doc set sizes)."""
    from goka_spark.functions.dedup import MERSENNE, _perm_params
    from goka_spark.queries import xxh_sql as XS

    rows = ", ".join(f"({j}, {a}, {b})"
                     for j, (a, b) in enumerate(_perm_params(num_perm)))
    inner = f"""SELECT doc_id, s FROM (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' ')))) AS s
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents))"""
    xh = XS.xxh64_select(inner, "s", "hub", ["doc_id"],
                         max_len=_xxh_max_len("shingle"))
    return f"""inner_sh AS ({inner}), xh AS ({xh}),
    params(perm, a, b) AS (VALUES {rows}),
    h AS (
      SELECT doc_id, CAST(hub & 2147483647 AS BIGINT) AS h31 FROM xh
    ),
    sigs AS (
      SELECT doc_id, perm, MIN((a * h31 + b) % {MERSENNE}) AS sig
      FROM h CROSS JOIN params GROUP BY doc_id, perm
    ),
    arr AS (
      SELECT doc_id, list(sig ORDER BY perm) AS mh FROM sigs
      GROUP BY doc_id
    )"""


def _minhash_lsh_xxh_oracle(num_perm: int = 32) -> str:
    """DuckDB twin of the dedup_minhash_lsh registry output: XXH64
    shingle hashes (seed 42) → the (a*h31+b) mod p signature mins →
    sig_hash = Spark's ARRAY fold (element k's XXH64 seeded by
    element k-1's result), replayed with a recursive CTE around ONE
    generated XXH64 instance."""
    from goka_spark.queries import xxh_sql as XS

    # the fold body: one XXH64 of the current element's decimal
    # string, seeded by the accumulator column carried through layers
    fcols, fres = XS.xxh64_cols("f_", "f_hx", "f_n", "hacc", 20)
    fold_base = f"""SELECT doc_id, mh, j, hacc,
      hex(encode(CAST(mh[j + 1] AS VARCHAR))) || repeat('0', 120)
        AS f_hx,
      octet_length(encode(CAST(mh[j + 1] AS VARCHAR))) AS f_n
      FROM rec WHERE j < {num_perm}"""
    fold_step = (f"SELECT doc_id, mh, j + 1 AS j, {fres} AS hacc "
                 f"FROM ({XS.layered(fold_base, fcols)})")

    return f"""
    WITH RECURSIVE {_xxh_sigs_ctes(num_perm)},
    rec AS (
      SELECT doc_id, mh, 0 AS j, CAST(42 AS UBIGINT) AS hacc FROM arr
      UNION ALL
      {fold_step}
    )
    SELECT doc_id, {XS.signed64('hacc')} AS sig_hash,
           mh[1] AS minhash_0
    FROM rec WHERE j = {num_perm}
    """


ORACLES["dedup_minhash_lsh"] = _minhash_lsh_xxh_oracle


def _minhash_containment_oracle(num_perm: int = 32, bands: int = 8,
                                threshold: float = 0.2) -> str:
    """DuckDB twin of minhash_containment_est: same XXH64 signature
    CTEs, band candidates by SLICE equality, agreement count, and the
    J/(1+J) inclusion–exclusion conversion in the identical
    expression order."""
    r = num_perm // bands
    return f"""
    WITH {_xxh_sigs_ctes(num_perm)},
    sz AS (
      SELECT doc_id, COUNT(*) AS s FROM inner_sh GROUP BY doc_id
    ),
    bb AS (
      SELECT doc_id, mh, band, mh[band * {r} + 1 : band * {r} + {r}] AS bk
      FROM arr, (SELECT UNNEST(range(0, {bands})) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.mh AS ma, b.mh AS mb
      FROM bb a JOIN bb b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT id_a, id_b,
             len(list_filter(range(1, {num_perm} + 1),
                             j -> ma[j] = mb[j])) AS agree,
             sa.s AS sz_a, sb.s AS sz_b
      FROM cand
      JOIN sz sa ON sa.doc_id = cand.id_a
      JOIN sz sb ON sb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, cont_a_est, cont_b_est FROM (
      SELECT id_a, id_b,
             ROUND((agree / {num_perm}) / ((agree / {num_perm}) + 1)
                   * (sz_a + sz_b) / sz_a, 4) AS cont_a_est,
             ROUND((agree / {num_perm}) / ((agree / {num_perm}) + 1)
                   * (sz_a + sz_b) / sz_b, 4) AS cont_b_est
      FROM est)
    WHERE GREATEST(cont_a_est, cont_b_est) >= {threshold}
    """


ORACLES["minhash_containment_est"] = _minhash_containment_oracle


def _minhash_keep_oracle(num_perm: int = 32, bands: int = 8) -> str:
    """DuckDB twin of dedup_minhash_keep: the XXH64 signature CTEs →
    band candidates by slice equality (≡ Spark's xxhash64-of-slice
    bucket join) → recursive-CTE connected components → the
    keep-the-longest arg-max (n_chars DESC, doc_id ASC) with
    singleton docs as their own cluster."""
    r = num_perm // bands
    return f"""
    WITH RECURSIVE {_xxh_sigs_ctes(num_perm)},
    bb AS (
      SELECT doc_id, band, mh[band * {r} + 1 : band * {r} + {r}] AS bk
      FROM arr, (SELECT UNNEST(range(0, {bands})) AS band)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bb a JOIN bb b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM cand
      UNION SELECT id_b, id_a FROM cand
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node, node AS label FROM nodes
      UNION
      SELECT e.a AS node, r.label FROM edges e JOIN reach r ON e.b = r.node
    ),
    cl AS (
      SELECT node AS doc_id, MIN(label) AS cluster_id
      FROM reach GROUP BY node
    ),
    fl AS (
      SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
             d.n_chars
      FROM documents d LEFT JOIN cl USING (doc_id)
    ),
    best AS (
      SELECT cluster_id, doc_id AS keep_id,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM fl
    )
    SELECT f.doc_id, f.cluster_id, b.keep_id
    FROM fl f JOIN best b
      ON b.cluster_id = f.cluster_id AND b.rn = 1
    """


ORACLES["dedup_minhash_keep"] = _minhash_keep_oracle


def _band_sweep_oracle(num_perm: int = 32,
                       band_list: "tuple[int, ...]" = (2, 4, 8, 16)) -> str:
    """DuckDB twin of minhash_band_sweep: XXH64 signature CTEs once,
    slice-equality band candidates per config (≡ Spark's
    xxhash64-of-slice bucket join), ground truth = the
    ngram_jaccard_pairs oracle's df-pruned candidates + full-set
    list_intersect Jaccard at ROUND(·,4) ≥ 0.5."""
    cfg_ctes, cfg_rows = [], []
    for b in band_list:
        r = num_perm // b
        cfg_ctes.append(f"""
    bb{b} AS (
      SELECT doc_id, band, mh[band * {r} + 1 : band * {r} + {r}] AS bk
      FROM arr, (SELECT UNNEST(range(0, {b})) AS band)
    ),
    c{b} AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bb{b} a JOIN bb{b} b2
        ON a.band = b2.band AND a.bk = b2.bk AND a.doc_id < b2.doc_id
    ),
    r{b} AS (
      SELECT {b} AS bands, {r} AS rows_per_band,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(COALESCE(SUM(CASE WHEN t.id_a IS NOT NULL
                                    THEN 1 END), 0) AS BIGINT)
               AS n_true_pairs
      FROM c{b} c LEFT JOIN truth t
        ON t.id_a = c.id_a AND t.id_b = c.id_b
    )""")
        cfg_rows.append(f"SELECT * FROM r{b}")
    union = " UNION ALL ".join(cfg_rows)
    return f"""
    WITH {_xxh_sigs_ctes(num_perm)},
    shs AS (
      SELECT doc_id AS doc, list(s) AS shs FROM inner_sh GROUP BY doc_id
    ),
    dfc AS (
      SELECT s FROM (SELECT s, COUNT(*) AS cnt FROM inner_sh GROUP BY s)
      WHERE cnt <= 50
    ),
    pruned AS (
      SELECT doc_id AS doc, i.s FROM inner_sh i JOIN dfc USING (s)
    ),
    candj AS (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc < b.doc
    ),
    truth AS (
      SELECT id_a, id_b FROM candj c
      JOIN shs a ON a.doc = c.id_a
      JOIN shs b ON b.doc = c.id_b
      WHERE ROUND(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
            / (len(a.shs) + len(b.shs)
               - len(list_intersect(a.shs, b.shs))), 4) >= 0.5
    ),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_total FROM truth),
    {",".join(cfg_ctes)}
    SELECT bands, rows_per_band, n_candidates, n_true_pairs,
           n_true_total,
           CASE WHEN n_candidates > 0
                THEN CAST(n_true_pairs * 1000000 // n_candidates
                          AS BIGINT)
                ELSE 0 END AS precision_e6,
           CASE WHEN n_true_total > 0
                THEN CAST(n_true_pairs * 1000000 // n_true_total
                          AS BIGINT)
                ELSE 0 END AS recall_e6
    FROM ({union}) CROSS JOIN tt
    """


ORACLES["minhash_band_sweep"] = _band_sweep_oracle

# zipf fit: per-point ln of exact integers -> micro-nats, regression
# sums in exact integer arithmetic, final ratios via per-factor
# double casts in the same association as the Column expression
ORACLES["zipf_fit"] = f"""
    WITH uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT UNNEST({{_W}}) AS w FROM documents) GROUP BY w
    ),
    top AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r
      FROM uni ORDER BY c DESC, w LIMIT 100
    ),
    pts AS (
      SELECT CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS x,
             CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS y
      FROM top
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts
    )
    SELECT m AS n_points,
           CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
                THEN CAST(FLOOR(
                  CAST(m * sxy - sx * sy AS DOUBLE)
                  / CAST(m * sxx - sx * sx AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END AS slope_e6,
           CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
                THEN CAST(FLOOR(
                  (CAST(sy AS DOUBLE)
                   - CAST(m * sxy - sx * sy AS DOUBLE)
                     / CAST(m * sxx - sx * sx AS DOUBLE)
                     * CAST(sx AS DOUBLE))
                  / CAST(m AS DOUBLE) + 0.5) AS BIGINT)
                ELSE 0 END AS intercept_e6,
           CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
                 AND CAST(m * syy - sy * sy AS DOUBLE) > 0
                THEN CAST(FLOOR(
                  (CAST(m * sxy - sx * sy AS DOUBLE)
                   * CAST(m * sxy - sx * sy AS DOUBLE))
                  / (CAST(m * sxx - sx * sx AS DOUBLE)
                     * CAST(m * syy - sy * sy AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END AS r2_e6
    FROM s
""".replace("{_W}", _WORDS)

ORACLES["corpus_shard_pack"] = f"""
    SELECT doc_id,
           CAST(FLOOR(COALESCE(SUM(tok) OVER (
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 4096.0) AS BIGINT) AS shard_id
    FROM (SELECT doc_id, CAST(len({_WORDS}) AS BIGINT) AS tok
          FROM documents)
"""

ORACLES["corpus_pack_sequences"] = f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_WORDS}) AS BIGINT) AS tok
      FROM documents
    ), c AS (
      SELECT doc_id, tok,
             COALESCE(SUM(tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM t
    )
    SELECT doc_id, tok,
           CAST(cum // 2048 AS BIGINT) AS first_seq,
           CAST((cum + tok - 1) // 2048 AS BIGINT) AS last_seq,
           CAST(cum % 2048 AS BIGINT) AS seq_offset,
           CAST((cum + tok - 1) // 2048 - cum // 2048 + 1 AS BIGINT)
             AS n_seqs
    FROM c WHERE tok >= 1
"""

ORACLES["ngram_novelty"] = f"""
    WITH sh AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' ')))) AS sh
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
      WHERE len(words) >= 1  -- empty docs emit no postings in Spark
    ), firsts AS (
      SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel,
           CAST((SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 * 1000000)
                // COUNT(*) AS BIGINT) AS novelty_e6
    FROM sh s JOIN firsts f USING (sh)
    GROUP BY s.doc_id
"""

ORACLES["benchmark_decontaminate"] = f"""
    WITH sh AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' ')))) AS sh
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
    ), bench AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM sh JOIN bench USING (sh)
    WHERE doc_id % 97 <> 0
    GROUP BY doc_id
    HAVING COUNT(*) >= 1
"""

ORACLES["corpus_sample"] = f"""
    SELECT doc_id, keep_rate FROM (
      SELECT doc_id,
             CASE WHEN q >= 0.7 THEN 100
                  WHEN q >= 0.5 THEN 50 ELSE 10 END AS keep_rate,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS slot
      FROM ({ORACLES["doc_quality_score"].replace("AS quality", "AS q")})
    ) WHERE slot < keep_rate
"""

# DuckDB twin of simhash(base_hash='md5'): same 60-bit votes, same
# reconstruction; SUM() is HUGEINT in DuckDB — cast back to BIGINT.
ORACLES["dedup_simhash_verified"] = f"""
    WITH w AS (
      SELECT doc_id, UNNEST({_WORDS}) AS w FROM documents
    ), h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
      FROM w
    ), votes AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT UNNEST(range(0, 60)) AS j)
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
"""

# end-to-end pipeline oracle: the same stages as corpus_filter_pipeline,
# chained as CTEs (RECURSIVE only for the reach closure at the end).
ORACLES["corpus_filter_pipeline"] = f"""
    WITH RECURSIVE scored AS (
      SELECT doc_id, text,
             CASE
               WHEN {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['de'])}
                AND {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['es'])}
                AND {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['fr'])} THEN 'en'
               WHEN {_sw_hits(_SW['de'])} >= {_sw_hits(_SW['es'])}
                AND {_sw_hits(_SW['de'])} >= {_sw_hits(_SW['fr'])} THEN 'de'
               WHEN {_sw_hits(_SW['es'])} >= {_sw_hits(_SW['fr'])} THEN 'es'
               ELSE 'fr'
             END AS lang,
             ROUND(0.5 * LEAST(n_words / 64.0, 1.0)
                 + 0.25 * LEAST(sw / GREATEST(n_words, 1.0) * 4, 1.0)
                 + 0.25 * (1 - LEAST(punct / GREATEST(n_chars_d, 1.0) * 4, 1.0)),
                   4) AS q,
             ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams),
                   4) AS rep
      FROM (SELECT doc_id, text,
                   CAST(len(words) AS DOUBLE) AS n_words,
                   CAST(length(text) AS DOUBLE) AS n_chars_d,
                   CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                     AS punct,
                   CAST({_sw_hits(_SW['en'])} AS DOUBLE) AS sw,
                   list_transform(range(1, greatest(len(words) - 2, 1) + 1),
                                  i -> array_to_string(words[i:i+2], ' '))
                     AS grams
            FROM (SELECT doc_id, text, {_WORDS} AS words FROM documents))
    ), surv1 AS (
      SELECT doc_id, text FROM scored
      WHERE lang = 'en' AND q >= 0.5 AND rep < 0.2
    ), ek AS (
      SELECT md5(text) AS h, MIN(doc_id) AS kid FROM surv1 GROUP BY 1
    ), surv2 AS (
      SELECT s.doc_id, s.text FROM surv1 s
      JOIN ek ON md5(s.text) = ek.h AND s.doc_id = ek.kid
    ), pairs2 AS ({ORACLES["ngram_jaccard_pairs"]}
    ), edges2 AS (
      SELECT id_a AS a, id_b AS b FROM pairs2
      UNION
      SELECT id_b, id_a FROM pairs2
    ), nodes2 AS (SELECT DISTINCT a AS node FROM edges2),
    reach2 AS (
      SELECT node, node AS label FROM nodes2
      UNION
      SELECT e.a AS node, r.label FROM edges2 e JOIN reach2 r ON e.b = r.node
    ), cc2 AS (
      -- corpus-wide components: the same graph dedup_clusters
      -- certifies (r8 verdict ask #5 — one shared pair mining)
      SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach2 GROUP BY node
    ), rep2 AS (
      -- min SURVIVING doc per cluster is the kept representative
      SELECT c.cluster_id, MIN(v.doc_id) AS rep_id
      FROM cc2 c JOIN surv2 v ON v.doc_id = c.doc_id
      GROUP BY c.cluster_id
    )
    SELECT s.doc_id,
           CASE WHEN s.lang <> 'en' THEN 'lang'
                WHEN s.q < 0.5 THEN 'quality'
                WHEN s.rep >= 0.2 THEN 'repetition'
                WHEN v.doc_id IS NULL THEN 'exact_dup'
                WHEN c.cluster_id IS NOT NULL AND r2.rep_id <> s.doc_id
                  THEN 'near_dup'
                ELSE 'kept' END AS verdict
    FROM scored s
    LEFT JOIN surv2 v ON v.doc_id = s.doc_id
    LEFT JOIN cc2 c ON c.doc_id = s.doc_id
    LEFT JOIN rep2 r2 ON r2.cluster_id = c.cluster_id
"""

ORACLES["multimodal_decode_ppm"] = """
    SELECT doc_id,
           CAST(4 + doc_id % 13 AS BIGINT) AS width,
           CAST(3 + doc_id % 7 AS BIGINT) AS height,
           ROUND(list_avg(list_transform(
             range(0, (4 + doc_id % 13) * (3 + doc_id % 7)),
             i -> CAST((doc_id * 31 + i) % 256 AS DOUBLE))), 4) AS mean_r
    FROM documents
"""

ORACLES["image_dhash_dedup"] = """
    WITH p AS (
      SELECT doc_id,
             4 + (doc_id % 50) % 13 AS w,
             3 + (doc_id % 50) % 7 AS h,
             doc_id % 50 AS seed
      FROM documents
    ), idx AS (
      -- sampled source index + seed for both sides of each gradient
      SELECT doc_id, k,
             ((((k // 8) * h) // 8) * w + (((k % 8) * w) // 9)) + seed
               AS a,
             ((((k // 8) * h) // 8) * w + ((((k % 8) + 1) * w) // 9))
               + seed AS b
      FROM p, UNNEST(range(0, 63)) AS t(k)
    ), hashed AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN (a * a) % 256 > (b * b) % 256
                           THEN (CAST(1 AS BIGINT) << k)
                           ELSE 0 END) AS BIGINT) AS dhash
      FROM idx GROUP BY doc_id
    )
    SELECT doc_id, dhash,
           MIN(doc_id) OVER (PARTITION BY dhash) AS keep_id,
           COUNT(*) OVER (PARTITION BY dhash) AS dup_cnt
    FROM hashed
"""

ORACLES["multimodal_decode_wav"] = """
    SELECT doc_id,
           CAST(8000 AS BIGINT) AS rate,
           CAST(100 + doc_id % 50 AS BIGINT) AS n_samples,
           ROUND(sqrt(list_avg(list_transform(
             range(0, 100 + doc_id % 50),
             i -> POWER(CAST((doc_id * 7 + i * 13) % 65536 - 32768
                             AS DOUBLE), 2)))), 4) AS rms
    FROM documents
"""

ORACLES["multimodal_frame_sample"] = """
    SELECT doc_id, frame_idx,
           CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
           ROUND(list_avg(list_transform(
             range(0, 12),
             i -> CAST((doc_id * 100 + frame_idx) * 31 + i AS BIGINT) % 256)),
             4) AS mean_r
    FROM documents,
         (SELECT UNNEST(range(0, 6)) AS frame_idx)
    WHERE frame_idx < 2 + doc_id % 4 AND frame_idx % 2 = 0
"""

ORACLES["dup_ngram_coverage"] = f"""
    WITH d AS (
      SELECT doc_id AS doc, list_distinct(list_transform(
               range(1, greatest(len(words) - 4, 1) + 1),
               i -> array_to_string(words[i:i+4], ' '))) AS shs
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
    ), sh AS (
      SELECT doc, UNNEST(shs) AS sh FROM d
    ), dfc AS (
      SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh
    )
    SELECT doc AS doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_grams,
           ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS dup_frac
    FROM sh JOIN dfc USING (sh)
    GROUP BY doc
"""

ORACLES["tfidf_keywords"] = """
    WITH t AS (
      SELECT doc_id, UNNEST(regexp_extract_all(lower(text), '[a-z]+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n FROM documents
    ), s AS (
      SELECT doc_id, term, tf,
             tf * ln(CAST(n AS DOUBLE) / df) AS raw,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY tf * ln(CAST(n AS DOUBLE) / df) DESC, term) AS rk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, ROUND(raw, 4) AS tfidf, rk
    FROM s WHERE rk <= 5
"""

# keep compares the UNROUNDED doubles, mirroring gopher_rules
ORACLES["quality_gopher"] = f"""
    SELECT doc_id,
           n_words,
           ROUND(mwl, 4) AS mean_word_len,
           ROUND(alpha, 4) AS alpha_ratio,
           sw_hits,
           CAST(n_words >= 30 AND n_words <= 10000
                AND mwl >= 3.0 AND mwl <= 10.0
                AND alpha >= 0.8 AND sw_hits >= 2 AS BIGINT) AS keep
    FROM (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             length(regexp_replace(text, '\\s+', '', 'g'))
               / CAST(GREATEST(len(words), 1) AS DOUBLE) AS mwl,
             len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
               / CAST(GREATEST(len(words), 1) AS DOUBLE) AS alpha,
             CAST({_sw_hits(_SW['en'])} AS BIGINT) AS sw_hits
      FROM (SELECT doc_id, text, {_WORDS} AS words FROM documents)
    )
"""

ORACLES["text_normalize"] = r"""
    SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text
    FROM documents
"""
ORACLES["pii_scrub"] = r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact bob@example.com or https://x.io/a'
                  ELSE text END,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+', '<URL>', 'g') AS clean
    FROM documents
"""

ORACLES["dup_span_extract"] = f"""
    WITH d AS (
      SELECT doc_id AS doc, {_WORDS} AS words FROM documents
    ), g AS (
      SELECT doc, CAST(i AS BIGINT) AS pos,
             array_to_string(words[i:i+4], ' ') AS sh
      FROM d, UNNEST(range(1, greatest(len(words) - 4, 1) + 1)) AS t(i)
      WHERE len(words) >= 1  -- empty doc => no grams (Spark emits none)
    ), dfc AS (
      SELECT sh, COUNT(DISTINCT doc) AS df FROM g GROUP BY sh
    ), dup AS (
      SELECT doc, pos FROM g JOIN dfc USING (sh) WHERE df >= 2
    ), isl AS (
      SELECT doc, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 4) OVER (
                    PARTITION BY doc ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) + 1 THEN 1 ELSE 0 END AS brk
      FROM dup
    ), ids AS (
      SELECT doc, pos,
             SUM(brk) OVER (PARTITION BY doc ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
      FROM isl
    )
    SELECT doc AS doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS dup_grams
    FROM ids GROUP BY doc, island
"""

ORACLES["decontaminate_spans"] = f"""
    WITH d AS (
      SELECT doc_id AS doc, {_WORDS} AS words FROM documents
    ), bsh AS (
      SELECT DISTINCT array_to_string(words[i:i+2], ' ') AS sh
      FROM d, UNNEST(range(1, greatest(len(words) - 2, 1) + 1)) AS t(i)
      WHERE len(words) >= 1 AND doc % 97 = 0
    ), g AS (
      SELECT doc, CAST(i AS BIGINT) AS pos,
             array_to_string(words[i:i+2], ' ') AS sh
      FROM d, UNNEST(range(1, greatest(len(words) - 2, 1) + 1)) AS t(i)
      WHERE len(words) >= 1 AND doc % 97 <> 0
    ), hit AS (
      SELECT doc, pos FROM g JOIN bsh USING (sh)
    ), isl AS (
      SELECT doc, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 2) OVER (
                    PARTITION BY doc ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) + 1 THEN 1 ELSE 0 END AS brk
      FROM hit
    ), ids AS (
      SELECT doc, pos,
             SUM(brk) OVER (PARTITION BY doc ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
      FROM isl
    )
    SELECT doc AS doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 2 AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS bench_grams
    FROM ids GROUP BY doc, island
"""

def _span_remove_oracle(span_sql: str, doc_filter: str = "TRUE") -> str:
    """Removal oracle template: any span report (embedded as a CTE)
    piped into the exact string rebuild over ``documents`` rows
    matching ``doc_filter``."""
    return f"""
    WITH spans AS ({span_sql}),
    cov AS (
      SELECT DISTINCT doc_id,
             UNNEST(range(span_start, span_end + 1)) AS pos
      FROM spans
    ), covl AS (
      SELECT doc_id, list(pos) AS cl FROM cov GROUP BY doc_id
    ), d AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
      WHERE {doc_filter}
    )
    SELECT d.doc_id,
           COALESCE(array_to_string(list_transform(
             list_filter(range(1, len(words) + 1),
                         i -> NOT list_contains(COALESCE(cl, []), i)),
             i -> words[i]), ' '), '') AS clean_text,
           CAST(len(list_filter(range(1, len(words) + 1),
                    i -> list_contains(COALESCE(cl, []), i))) AS BIGINT)
             AS removed_words
    FROM d LEFT JOIN covl ON covl.doc_id = d.doc_id
"""


ORACLES["dup_span_remove"] = _span_remove_oracle(
    ORACLES["dup_span_extract"])
ORACLES["decontaminate_span_remove"] = _span_remove_oracle(
    ORACLES["decontaminate_spans"], "doc_id % 97 <> 0")

# micro-nat integerized log ratios: the per-doc SUM is exact integer
# arithmetic, so engines agree regardless of aggregation order; only
# the per-bucket ln() (on identical doubles) must match — see
# text.dsir_importance
ORACLES["corpus_importance_weights"] = f"""
    WITH d AS (
      SELECT doc_id AS doc, {_WORDS} AS words FROM documents
    ), uni AS (
      SELECT doc, UNNEST(words) AS sh FROM d
    ), bi AS (
      SELECT doc, array_to_string(words[i:i+1], ' ') AS sh
      FROM d, UNNEST(range(1, greatest(len(words) - 1, 1) + 1)) AS t(i)
      WHERE len(words) >= 1  -- empty doc => no grams (Spark emits none)
    ), grams AS (
      SELECT * FROM uni UNION ALL SELECT * FROM bi
    ), feat AS (
      SELECT doc,
             CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) % 1024 AS bucket,
             COUNT(*) AS cnt
      FROM grams GROUP BY doc, bucket
    ), rawb AS (
      SELECT bucket, SUM(cnt) AS cr FROM feat GROUP BY bucket
    ), tgtb AS (
      SELECT bucket, SUM(cnt) AS ct FROM feat
      WHERE doc % 7 = 0 GROUP BY bucket
    ), b AS (
      SELECT r.bucket, r.cr, COALESCE(t.ct, 0) AS ct
      FROM rawb r LEFT JOIN tgtb t USING (bucket)
    ), tot AS (
      SELECT SUM(cr) AS r_tot, SUM(ct) AS t_tot FROM b
    ), lr AS (
      SELECT bucket,
             CAST(FLOOR(1e6 * (ln((ct + 1) / (t_tot + 1024))
                               - ln((cr + 1) / (r_tot + 1024)))
                        + 0.5) AS BIGINT) AS lr_e6
      FROM b, tot
    )
    SELECT doc AS doc_id,
           CAST(SUM(cnt * lr_e6) AS BIGINT) AS weight_e6,
           CAST(SUM(cnt * lr_e6) AS BIGINT) / 1e6 AS weight
    FROM feat JOIN lr USING (bucket)
    GROUP BY doc
"""

ORACLES["vocab_coverage"] = f"""
    WITH d AS (
      SELECT doc_id AS doc, {_WORDS} AS words FROM documents
    ), tok AS (
      SELECT doc, UNNEST(words) AS wrd FROM d
    ), freq AS (
      SELECT wrd, COUNT(*) AS cnt FROM tok GROUP BY wrd
    ), vocab AS (
      SELECT wrd FROM (
        SELECT wrd, ROW_NUMBER() OVER (ORDER BY cnt DESC, wrd) AS rn
        FROM freq) WHERE rn <= 500
    ), cov AS (
      SELECT doc, COUNT(*) AS n_tokens,
             SUM(CASE WHEN v.wrd IS NULL THEN 1 ELSE 0 END) AS oov
      FROM tok t LEFT JOIN vocab v USING (wrd) GROUP BY doc
    )
    SELECT d.doc AS doc_id,
           CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(oov, 0) AS BIGINT) AS oov_tokens,
           CAST((COALESCE(oov, 0) * 1000000)
                // greatest(COALESCE(n_tokens, 0), 1) AS BIGINT)
             AS oov_frac_e6
    FROM d LEFT JOIN cov USING (doc)
"""

ORACLES["nb_quality_classify"] = f"""
    WITH d AS (
      SELECT doc_id AS doc, n_chars, {_WORDS} AS words FROM documents
    ), uni AS (
      SELECT doc, UNNEST(words) AS sh FROM d
    ), bi AS (
      SELECT doc, array_to_string(words[i:i+1], ' ') AS sh
      FROM d, UNNEST(range(1, greatest(len(words) - 1, 1) + 1)) AS t(i)
      WHERE len(words) >= 1
    ), grams AS (
      SELECT * FROM uni UNION ALL SELECT * FROM bi
    ), feat AS (
      SELECT doc,
             CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) % 1024 AS bucket,
             COUNT(*) AS cnt
      FROM grams GROUP BY doc, bucket
    ), lab AS (
      SELECT doc, CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
      FROM d WHERE doc % 3 = 0
    ), tb AS (
      SELECT bucket,
             SUM(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS cp,
             SUM(CASE WHEN y = 0 THEN cnt ELSE 0 END) AS cn
      FROM feat JOIN lab USING (doc) GROUP BY bucket
    ), b AS (
      SELECT a.bucket, COALESCE(cp, 0) AS cp, COALESCE(cn, 0) AS cn
      FROM (SELECT DISTINCT bucket FROM feat) a
      LEFT JOIN tb USING (bucket)
    ), tot AS (
      SELECT SUM(cp) AS p_tot, SUM(cn) AS n_tot FROM b
    ), prior AS (
      SELECT CAST(FLOOR(1e6 * (ln((SUM(y) + 1.0) / (COUNT(*) + 2))
                               - ln((COUNT(*) - SUM(y) + 1.0)
                                    / (COUNT(*) + 2)))
                        + 0.5) AS BIGINT) AS prior_e6
      FROM lab
    ), coef AS (
      SELECT bucket,
             CAST(FLOOR(1e6 * (ln((cp + 1) / (p_tot + 1024))
                               - ln((cn + 1) / (n_tot + 1024)))
                        + 0.5) AS BIGINT) AS lo_e6
      FROM b, tot
    ), scored AS (
      SELECT doc, SUM(cnt * lo_e6) AS s
      FROM feat JOIN coef USING (bucket) GROUP BY doc
    )
    SELECT d.doc AS doc_id,
           CAST(COALESCE(s, 0) + prior_e6 AS BIGINT) AS score_e6,
           CAST(COALESCE(s, 0) + prior_e6 > 0 AS BIGINT) AS predicted
    FROM d LEFT JOIN scored USING (doc), prior
"""

ORACLES["lang_audit"] = f"""
    WITH pred AS (
      SELECT source, lang,
             CASE
               WHEN {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['de'])}
                AND {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['es'])}
                AND {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['fr'])} THEN 'en'
               WHEN {_sw_hits(_SW['de'])} >= {_sw_hits(_SW['es'])}
                AND {_sw_hits(_SW['de'])} >= {_sw_hits(_SW['fr'])} THEN 'de'
               WHEN {_sw_hits(_SW['es'])} >= {_sw_hits(_SW['fr'])} THEN 'es'
               ELSE 'fr'
             END AS pred_lang
      FROM documents
    )
    SELECT source, lang, pred_lang, COUNT(*) AS n,
           lang <> pred_lang AS mismatch
    FROM pred GROUP BY source, lang, pred_lang
"""

ORACLES["dedup_exact_prioritized"] = """
    WITH g AS (
      SELECT md5(text) AS m, COUNT(*) AS dup_cnt,
             COUNT(DISTINCT source) AS n_sources
      FROM documents GROUP BY md5(text)
    ), r AS (
      SELECT md5(text) AS m, doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY md5(text)
               ORDER BY CASE source WHEN 'src5' THEN 0
                                    WHEN 'src1' THEN 1
                                    ELSE 2 END,
                        source, doc_id) AS rn
      FROM documents
    )
    SELECT m AS text_md5, doc_id AS keep_id, source AS keep_source,
           CAST(dup_cnt AS BIGINT) AS dup_cnt,
           CAST(n_sources AS BIGINT) AS n_sources
    FROM r JOIN g USING (m) WHERE rn = 1
"""


def _bpe_oracle(n_merges: int = 16, batch: "int | None" = None) -> str:
    """DuckDB twin of bpe_token_count: re-train bit-identical merges
    with train_py from DuckDB's word dict (bpe_train's incremental
    trainer is pinned to it by tests), apply them to the vocabulary,
    embed the word→n_tokens table as literals, and replay the
    per-doc sum in SQL.  ``batch`` retrains with the batched twin instead (the
    r7 scale mode) — same recomputability contract."""
    import duckdb

    from goka_spark.functions import bpe as B

    sf_dir = _ivf_oracle_sf()
    wf = dict(duckdb.sql(
        f"SELECT w, COUNT(*) FROM (SELECT UNNEST({_WORDS}) AS w "
        f"FROM '{sf_dir}/documents.parquet') GROUP BY w").fetchall())
    merges = (B.train_batched_py(wf, n_merges, batch=batch)
              if batch else B.train_py(wf, n_merges))
    counts = {w: len(B.encode_word(w, merges)) for w in wf}
    values = ", ".join(
        "('{}', {})".format(w.replace("'", "''"), c)
        for w, c in sorted(counts.items()))
    return f"""
        WITH wt(word, n_tokens) AS (VALUES {values}),
        d AS (SELECT doc_id, {_WORDS} AS words FROM documents),
        tok AS (SELECT doc_id, UNNEST(words) AS word FROM d),
        per AS (
          SELECT doc_id, COUNT(*) AS n_words, SUM(n_tokens) AS bpe
          FROM tok JOIN wt USING (word) GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(bpe, 0) AS BIGINT) AS bpe_tokens
        FROM d LEFT JOIN per USING (doc_id)
    """


ORACLES["bpe_token_count"] = _bpe_oracle
ORACLES["bpe_token_count_batched"] = lambda: _bpe_oracle(48, batch=8)


def _bpe_encode_oracle(n_merges: int = 16) -> str:
    """DuckDB twin of bpe_encode_docs: the recomputed merges encode
    the vocabulary in pure Python; the word→subword-string table
    embeds as literals; the per-doc sequence is an ordered rebuild."""
    import duckdb

    from goka_spark.functions import bpe as B

    sf_dir = _ivf_oracle_sf()
    wf = dict(duckdb.sql(
        f"SELECT w, COUNT(*) FROM (SELECT UNNEST({_WORDS}) AS w "
        f"FROM '{sf_dir}/documents.parquet') GROUP BY w").fetchall())
    merges = B.train_py(wf, n_merges)
    enc = {w: B.encode_word(w, merges) for w in wf}
    values = ", ".join(
        "('{}', {}, '{}')".format(
            w.replace("'", "''"), len(t),
            " ".join(t).replace("'", "''"))
        for w, t in sorted(enc.items()))
    return f"""
        WITH wt(word, n_tok, tstr) AS (VALUES {values}),
        d AS (SELECT doc_id, {_WORDS} AS words FROM documents),
        tok AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos, words[i] AS word
          FROM d, UNNEST(range(1, len(words) + 1)) AS t(i)
        ), per AS (
          SELECT doc_id, SUM(n_tok) AS n_tokens,
                 string_agg(tstr, ' ' ORDER BY pos) AS token_str
          FROM tok JOIN wt USING (word) GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
               COALESCE(token_str, '') AS token_str
        FROM d LEFT JOIN per USING (doc_id)
    """


ORACLES["bpe_encode_docs"] = _bpe_encode_oracle


@artifact("documents")
def _uni_word_table(sf: str) -> dict:
    """Re-train the unigram vocabulary with train_py from DuckDB's
    word dict (unigram_train runs the same trainer on Spark's) and
    Viterbi-encode every dict word; shared by the unigram + fertility
    oracles."""
    import duckdb

    from goka_spark.functions import unigram as U

    wf = dict(duckdb.sql(
        f"SELECT w, COUNT(*) FROM (SELECT UNNEST({_WORDS}) AS w "
        f"FROM '{sf}/documents.parquet') GROUP BY w").fetchall())
    costs = U.piece_costs(U.train_py(wf))
    return {w: U.viterbi_py(w, costs) for w in wf}


def _uni_count_oracle() -> str:
    """DuckDB twin of unigram_token_count — literal word→n_tokens
    table from the recomputed vocabulary, per-doc sum in SQL."""
    enc = _uni_word_table(_ivf_oracle_sf())
    values = ", ".join(
        "('{}', {})".format(w.replace("'", "''"), len(t))
        for w, t in sorted(enc.items()))
    return f"""
        WITH wt(word, n_tokens) AS (VALUES {values}),
        d AS (SELECT doc_id, {_WORDS} AS words FROM documents),
        tok AS (SELECT doc_id, UNNEST(words) AS word FROM d),
        per AS (
          SELECT doc_id, COUNT(*) AS n_words, SUM(n_tokens) AS uni
          FROM tok JOIN wt USING (word) GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
               CAST(COALESCE(uni, 0) AS BIGINT) AS uni_tokens
        FROM d LEFT JOIN per USING (doc_id)
    """


def _uni_encode_oracle() -> str:
    """DuckDB twin of unigram_encode_docs — string-exact ordered
    rebuild from the literal word→subwords table."""
    enc = _uni_word_table(_ivf_oracle_sf())
    values = ", ".join(
        "('{}', {}, '{}')".format(
            w.replace("'", "''"), len(t),
            " ".join(t).replace("'", "''"))
        for w, t in sorted(enc.items()))
    return f"""
        WITH wt(word, n_tok, tstr) AS (VALUES {values}),
        d AS (SELECT doc_id, {_WORDS} AS words FROM documents),
        tok AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos, words[i] AS word
          FROM d, UNNEST(range(1, len(words) + 1)) AS t(i)
        ), per AS (
          SELECT doc_id, SUM(n_tok) AS n_tokens,
                 string_agg(tstr, ' ' ORDER BY pos) AS token_str
          FROM tok JOIN wt USING (word) GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
               COALESCE(token_str, '') AS token_str
        FROM d LEFT JOIN per USING (doc_id)
    """


ORACLES["unigram_token_count"] = _uni_count_oracle
ORACLES["unigram_encode_docs"] = _uni_encode_oracle


def _fertility_oracle() -> str:
    """DuckDB twin of tokenizer_fertility: BOTH vocabularies
    re-trained in pure Python, word→(bpe, unigram) token counts as
    one literal table, per-source sums + integer fertility in SQL."""
    import duckdb

    from goka_spark.functions import bpe as B

    sf_dir = _ivf_oracle_sf()
    wf = dict(duckdb.sql(
        f"SELECT w, COUNT(*) FROM (SELECT UNNEST({_WORDS}) AS w "
        f"FROM '{sf_dir}/documents.parquet') GROUP BY w").fetchall())
    merges = B.train_py(wf, 16)
    uni = _uni_word_table(_ivf_oracle_sf())
    values = ", ".join(
        "('{}', {}, {})".format(w.replace("'", "''"),
                                len(B.encode_word(w, merges)),
                                len(uni[w]))
        for w in sorted(wf))
    return f"""
        WITH wt(word, bt, ut) AS (VALUES {values}),
        tok AS (SELECT source, UNNEST({_WORDS}) AS word
                FROM documents)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(bt) AS BIGINT) AS bpe_tokens,
               CAST(SUM(ut) AS BIGINT) AS uni_tokens,
               CAST(SUM(bt) * 1000000 // COUNT(*) AS BIGINT)
                 AS bpe_fertility_e6,
               CAST(SUM(ut) * 1000000 // COUNT(*) AS BIGINT)
                 AS uni_fertility_e6
        FROM tok JOIN wt USING (word) GROUP BY source
    """


ORACLES["tokenizer_fertility"] = _fertility_oracle


def _ann_recall_oracle() -> str:
    """DuckDB twin of ann_recall_eval: the centroid-literal IVF
    oracle at k=6 (self dropped, re-ranked to 5) intersected with the
    brute-force exact top-5 — recall is recomputed end to end, not
    assumed."""
    ivf6 = _ivf_ann_oracle(k=6)
    exact = ORACLES["embedding_cosine_topk"]
    return f"""
        WITH ivf6 AS ({ivf6}), appr AS (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY rk) AS r2
          FROM ivf6 WHERE neighbor_id <> query_id
        ), ex AS ({exact}), h AS (
          SELECT a.query_id, COUNT(*) AS n_hits
          FROM appr a JOIN ex
            ON a.query_id = ex.query_id
           AND a.neighbor_id = ex.neighbor_id
          WHERE a.r2 <= 5 GROUP BY a.query_id
        )
        SELECT q.vec_id AS query_id,
               CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
               CAST(COALESCE(n_hits, 0) * 200000 AS BIGINT)
                 AS recall_e6
        FROM embeddings q LEFT JOIN h ON q.vec_id = h.query_id
        WHERE q.vec_id < 20
    """


ORACLES["ann_recall_eval"] = _ann_recall_oracle


def _nprobe_sweep_oracle(k: int = 5,
                         probes: "tuple[int, ...]" = (1, 2, 4, 8),
                         dim: int = 64, n_queries: int = 20) -> str:
    """DuckDB twin of ann_nprobe_sweep: one probe ranking at
    max(probes) from the recomputed centroid literals, per-depth
    rank-filter + top-k, intersected with the brute-force exact
    top-k."""
    n_cells, ctes = _ivf_cells_ctes(dim)
    pair_dot = " + ".join(f"(a.v[{i + 1}] * p.qv[{i + 1}])"
                          for i in range(dim))
    max_p, step = max(probes), 1000000 // k
    per_p = "\n UNION ALL \n".join(f"""
        SELECT q.vec_id AS query_id, CAST({p} AS BIGINT) AS n_probe,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
               CAST(COALESCE(h.n, 0) * {step} AS BIGINT) AS recall_e6
        FROM embeddings q LEFT JOIN (
          SELECT r.query_id, COUNT(*) AS n
          FROM (SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY raw_cos DESC, neighbor_id) AS rk
                FROM scored WHERE cell_rk <= {p}) r
          JOIN ex ON r.query_id = ex.query_id
                 AND r.neighbor_id = ex.neighbor_id
          WHERE r.rk <= {k} GROUP BY r.query_id
        ) h ON q.vec_id = h.query_id
        WHERE q.vec_id < {n_queries}""" for p in probes)
    exact = ORACLES["embedding_cosine_topk"]
    return f"""
        WITH {ctes}, qx AS (
          SELECT vec_id AS query_id, v AS qv,
                 UNNEST(s) AS sim, UNNEST(range(0, {n_cells})) AS c
          FROM sims WHERE vec_id < {n_queries}
        ), probes AS (
          SELECT query_id, qv, c AS cell, rn AS cell_rk
          FROM (SELECT query_id, qv, c, sim,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, c) AS rn
                FROM qx)
          WHERE rn <= {max_p}
        ), scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id, p.cell_rk,
                 ({pair_dot}) AS raw_cos
          FROM assigned a JOIN probes p
            ON a.cell = p.cell AND a.vec_id <> p.query_id
        ), ex AS ({exact})
        {per_p}
    """


ORACLES["ann_nprobe_sweep"] = _nprobe_sweep_oracle

ORACLES["line_quality_filter"] = f"""
    WITH d AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
    ), resh AS (
      SELECT doc_id, list_transform(
        range(0, greatest(CAST(ceil(len(words) / 10.0) AS INT), 1)),
        i -> array_to_string(words[i*10+1:i*10+10], ' ')) AS lines
      FROM d
    ), ln AS (
      SELECT doc_id, CAST(i AS BIGINT) AS ix, lines[i] AS line
      FROM resh, UNNEST(range(1, len(lines) + 1)) AS t(i)
    ), kept AS (
      SELECT doc_id, ix, line FROM ln
      WHERE line = ''
         OR len(list_filter(string_split(line, ' '), w -> w <> '')) >= 6
    )
    SELECT t.doc_id,
           COALESCE(k.clean_text, '') AS clean_text,
           CAST(t.lines_total AS BIGINT) AS lines_total,
           CAST(t.lines_total - COALESCE(k.kept, 0) AS BIGINT)
             AS lines_removed
    FROM (SELECT doc_id, COUNT(*) AS lines_total FROM ln GROUP BY doc_id) t
    LEFT JOIN (SELECT doc_id,
                      string_agg(line, chr(10) ORDER BY ix) AS clean_text,
                      COUNT(*) AS kept
               FROM kept GROUP BY doc_id) k USING (doc_id)
"""

ORACLES["line_dedup"] = f"""
    WITH d AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
    ), resh AS (
      SELECT doc_id, list_transform(
        range(0, greatest(CAST(ceil(len(words) / 10.0) AS INT), 1)),
        i -> array_to_string(words[i*10+1:i*10+10], ' ')) AS lines
      FROM d
    ), ln AS (
      SELECT doc_id, CAST(i AS BIGINT) AS ix, lines[i] AS line
      FROM resh, UNNEST(range(1, len(lines) + 1)) AS t(i)
    ), dfc AS (
      SELECT line, COUNT(DISTINCT doc_id) AS df FROM ln
      WHERE line <> '' GROUP BY line
    ), kept AS (
      SELECT l.doc_id, l.ix, l.line
      FROM ln l LEFT JOIN dfc USING (line)
      WHERE l.line = '' OR df IS NULL OR df < 2
    )
    SELECT t.doc_id,
           COALESCE(k.clean_text, '') AS clean_text,
           CAST(t.lines_total AS BIGINT) AS lines_total,
           CAST(t.lines_total - COALESCE(k.kept, 0) AS BIGINT)
             AS lines_removed
    FROM (SELECT doc_id, COUNT(*) AS lines_total FROM ln GROUP BY doc_id) t
    LEFT JOIN (SELECT doc_id,
                      string_agg(line, chr(10) ORDER BY ix) AS clean_text,
                      COUNT(*) AS kept
               FROM kept GROUP BY doc_id) k USING (doc_id)
"""

_GOPHER_REP_GRAMS = "\n      UNION ALL\n".join(f"""
      SELECT doc_id, {n} AS n, CAST(i AS BIGINT) AS pos,
             array_to_string(words[i:i+{n - 1}], ' ') AS gram
      FROM d, UNNEST(range(1, len(words) - {n} + 2)) AS t(i)
      WHERE len(words) >= {n}""" for n in (2, 3, 4, 5, 10))

ORACLES["gopher_repetition"] = f"""
    WITH d AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
    ), tok AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, words[i] AS wrd
      FROM d, UNNEST(range(1, len(words) + 1)) AS t(i)
    ), totals AS (
      SELECT doc_id, COUNT(*) AS n_words, SUM(length(wrd)) AS chars
      FROM tok GROUP BY doc_id
    ), g AS ({_GOPHER_REP_GRAMS}
    ), cnts AS (
      SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY ALL
    ), top AS (
      SELECT doc_id, n, cnt, length(gram) - (n - 1) AS gch,
             ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                ORDER BY cnt DESC, gram) AS rn
      FROM cnts
    ), topv AS (
      SELECT t.doc_id, n,
             (cnt * gch * 1000000) // greatest(chars, 1) AS v
      FROM top t JOIN totals USING (doc_id)
      WHERE rn = 1 AND n IN (2, 3, 4)
    ), topp AS (
      SELECT doc_id,
             MAX(CASE WHEN n = 2 THEN v END) AS t2,
             MAX(CASE WHEN n = 3 THEN v END) AS t3,
             MAX(CASE WHEN n = 4 THEN v END) AS t4
      FROM topv GROUP BY doc_id
    ), dupp AS (
      SELECT g.doc_id, g.n, g.pos
      FROM g JOIN cnts USING (doc_id, n, gram)
      WHERE cnt >= 2 AND g.n IN (5, 10)
    ), cov AS (
      SELECT DISTINCT doc_id, n, CAST(j AS BIGINT) AS i
      FROM dupp, UNNEST(range(pos, pos + n)) AS t(j)
    ), covch AS (
      SELECT c.doc_id, c.n, SUM(length(t.wrd)) AS cch
      FROM cov c JOIN tok t ON t.doc_id = c.doc_id AND t.pos = c.i
      GROUP BY c.doc_id, c.n
    ), dupv AS (
      SELECT cc.doc_id,
             MAX(CASE WHEN n = 5 THEN v END) AS d5,
             MAX(CASE WHEN n = 10 THEN v END) AS d10
      FROM (SELECT c.doc_id, n,
                   (cch * 1000000) // greatest(chars, 1) AS v
            FROM covch c JOIN totals USING (doc_id)) cc
      GROUP BY cc.doc_id
    ), resh AS (
      SELECT doc_id, list_transform(
        range(0, greatest(CAST(ceil(len(words) / 10.0) AS INT), 1)),
        i -> array_to_string(words[i*10+1:i*10+10], ' ')) AS lines
      FROM d
    ), ln AS (
      SELECT doc_id, lines[i] AS line
      FROM resh, UNNEST(range(1, len(lines) + 1)) AS t(i)
      WHERE lines[i] <> ''
    ), lc AS (
      SELECT doc_id, line, COUNT(*) AS cnt FROM ln GROUP BY ALL
    ), lstat AS (
      SELECT doc_id,
             (SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) * 1000000)
               // greatest(SUM(cnt), 1) AS dlf,
             (SUM(CASE WHEN cnt >= 2 THEN cnt * length(line) ELSE 0 END)
               * 1000000)
               // greatest(SUM(cnt * length(line)), 1) AS dlcf
      FROM lc GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_words AS BIGINT) AS n_words,
           CAST(t.chars AS BIGINT) AS chars,
           CAST(COALESCE(t2, 0) AS BIGINT) AS top2_frac_e6,
           CAST(COALESCE(t3, 0) AS BIGINT) AS top3_frac_e6,
           CAST(COALESCE(t4, 0) AS BIGINT) AS top4_frac_e6,
           CAST(COALESCE(d5, 0) AS BIGINT) AS dup5_frac_e6,
           CAST(COALESCE(d10, 0) AS BIGINT) AS dup10_frac_e6,
           CAST(COALESCE(dlf, 0) AS BIGINT) AS dup_line_frac_e6,
           CAST(COALESCE(dlcf, 0) AS BIGINT) AS dup_line_char_frac_e6,
           CAST(COALESCE(t2, 0) <= 200000 AND COALESCE(t3, 0) <= 180000
                AND COALESCE(t4, 0) <= 160000
                AND COALESCE(d5, 0) <= 150000
                AND COALESCE(d10, 0) <= 100000
                AND COALESCE(dlf, 0) <= 300000
                AND COALESCE(dlcf, 0) <= 200000 AS BIGINT) AS keep
    FROM totals t
    LEFT JOIN topp USING (doc_id)
    LEFT JOIN dupv USING (doc_id)
    LEFT JOIN lstat USING (doc_id)
"""

# shared by doc_lm_score and perplexity_buckets (the corpus bigram LM)
_LM_CTES = f"""d AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
    ), pr AS (
      SELECT doc_id, words[i] AS prev, words[i + 1] AS wrd
      FROM d, UNNEST(range(1, len(words))) AS t(i)
    ), doc_tr AS (
      SELECT doc_id, prev, wrd, COUNT(*) AS cnt
      FROM pr GROUP BY doc_id, prev, wrd
    ), cpw AS (
      SELECT prev, wrd, SUM(cnt) AS cpw FROM doc_tr GROUP BY prev, wrd
    ), cp AS (
      SELECT prev, SUM(cpw) AS cp FROM cpw GROUP BY prev
    ), vocab AS (
      SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT UNNEST(words) AS w FROM d)
    ), lp AS (
      SELECT prev, wrd,
             CAST(FLOOR(1e6 * ln((cpw + 1) / (cp + v)) + 0.5) AS BIGINT)
               AS lp_e6
      FROM cpw JOIN cp USING (prev), vocab
    ), lm_scored AS (
      SELECT doc_id,
             CAST(SUM(cnt * lp_e6) AS BIGINT) AS logprob_e6,
             CAST(SUM(cnt) AS BIGINT) AS n_bigrams
      FROM doc_tr JOIN lp USING (prev, wrd)
      GROUP BY doc_id
    ), lm AS (
      SELECT doc_id,
             COALESCE(n_bigrams, 0) AS n_bigrams,
             COALESCE(logprob_e6, 0) AS logprob_e6,
             CASE WHEN COALESCE(n_bigrams, 0) > 0
                  THEN CAST(logprob_e6 AS DOUBLE) / 1e6 / n_bigrams
             END AS avg_logprob
      FROM documents LEFT JOIN lm_scored USING (doc_id)
    )"""

ORACLES["doc_lm_score"] = f"""
    WITH {_LM_CTES}
    SELECT doc_id, n_bigrams, logprob_e6, avg_logprob FROM lm
"""

ORACLES["perplexity_buckets"] = f"""
    WITH {_LM_CTES}, th AS (
      SELECT quantile_cont(avg_logprob, [1.0/3.0, 2.0/3.0]) AS b
      FROM lm WHERE n_bigrams > 0
    )
    SELECT doc_id, n_bigrams,
           CASE WHEN n_bigrams = 0 THEN 'unscored'
                WHEN avg_logprob >= b[2] THEN 'head'
                WHEN avg_logprob >= b[1] THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM lm, th
"""


# --- corpus split / mix / incremental dedup / bloom (round 5) -------

ORACLES["corpus_shuffle"] = """
    WITH k AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || 'shuffle-v1') AS key
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST('0x' || substr(key, 1, 8) AS BIGINT) % 8 AS BIGINT)
             AS shard,
           CAST(ROW_NUMBER() OVER (
                  PARTITION BY CAST('0x' || substr(key, 1, 8) AS BIGINT) % 8
                  ORDER BY key, doc_id) AS BIGINT) AS pos
    FROM k
"""

ORACLES["corpus_split"] = """
    SELECT doc_id,
           CASE WHEN slot < 980 THEN 'train'
                WHEN slot < 990 THEN 'validation'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                          || 'split-v1'), 1, 8))
                      AS BIGINT) % 1000 AS slot
          FROM documents)
"""

ORACLES["source_overlap_matrix"] = f"""
    WITH sg AS (
      SELECT DISTINCT source, sh FROM (
        SELECT source, UNNEST(list_distinct(list_transform(
                 range(1, greatest(len(words) - 2, 1) + 1),
                 i -> array_to_string(words[i:i+2], ' ')))) AS sh
        FROM (SELECT source, {_WORDS} AS words FROM documents))
    ), sz AS (
      SELECT source, COUNT(*) AS s FROM sg GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared_grams
      FROM sg a JOIN sg b ON a.sh = b.sh AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, CAST(shared_grams AS BIGINT) AS shared_grams,
           ROUND(shared_grams / (za.s + zb.s - shared_grams), 4)
             AS gram_jaccard
    FROM shared
    JOIN sz za ON za.source = shared.source_a
    JOIN sz zb ON zb.source = shared.source_b
"""

ORACLES["corpus_stats"] = f"""
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_WORDS})) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS mean_chars
    FROM documents GROUP BY source, lang
"""

ORACLES["corpus_weighted_sample"] = """
    SELECT doc_id, weight, ROUND(key, 6) AS sample_key FROM (
      SELECT doc_id, n_chars AS weight,
             ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                          || 'ws-v1'), 1, 8)) AS BIGINT)
                 % 4294967296 + 1) / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS key
      FROM documents WHERE n_chars > 0
      ORDER BY key DESC, doc_id LIMIT 100)
"""

_MIX_VALUES = ", ".join(
    f"('src{i}', {20 - i})" for i in range(20))

ORACLES["corpus_domain_mix"] = f"""
    WITH w(source, wt) AS (VALUES {_MIX_VALUES}),
    c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source),
    j AS (SELECT c.source, n_docs, COALESCE(wt, 0) AS wt,
                 CASE WHEN COALESCE(wt, 0) > 0
                      THEN (n_docs * 1000000) // wt END AS r
          FROM c LEFT JOIN w USING (source)),
    lim AS (SELECT n_docs AS n_l, wt AS w_l FROM j
            WHERE wt > 0 ORDER BY r, source LIMIT 1),
    rates AS (SELECT source,
                     CAST(CASE WHEN n_docs > 0
                          THEN (((n_l * wt) // w_l) * 1000000) // n_docs
                          END AS BIGINT) AS rate_e6
              FROM j CROSS JOIN lim)
    SELECT doc_id, source, rate_e6
    FROM documents JOIN rates USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                   || 'mix-v1'), 1, 8))
               AS BIGINT) % 1000000 < rate_e6
"""

# α=1/2 temperature mix: the domain_mix oracle with weights derived
# in-query — wt = exact isqrt(n·10^6) (floor-corrected double sqrt,
# the same ±1 adjustment the Spark _isqrt Column performs), then the
# identical limiting-domain // arithmetic and md5-slot membership.
ORACLES["corpus_temperature_mix"] = """
    WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY source),
    sq0 AS (SELECT source, n_docs, n_docs * 1000000 AS x,
                   CAST(FLOOR(SQRT(CAST(n_docs * 1000000 AS DOUBLE)))
                        AS BIGINT) AS s0
            FROM c),
    sq1 AS (SELECT source, n_docs, x,
                   s0 - CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END AS s1
            FROM sq0),
    j AS (SELECT source, n_docs,
                 s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= x
                      THEN 1 ELSE 0 END AS wt
          FROM sq1),
    jr AS (SELECT source, n_docs, wt, (n_docs * 1000000) // wt AS r
           FROM j),
    lim AS (SELECT n_docs AS n_l, wt AS w_l FROM jr
            ORDER BY r, source LIMIT 1),
    rates AS (SELECT source,
                     CAST(CASE WHEN n_docs > 0
                          THEN (((n_l * wt) // w_l) * 1000000) // n_docs
                          END AS BIGINT) AS rate_e6
              FROM jr CROSS JOIN lim)
    SELECT doc_id, source, rate_e6
    FROM documents JOIN rates USING (source)
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                   || 'tmix-v1'), 1, 8))
               AS BIGINT) % 1000000 < rate_e6
"""

# release manifest: hash_split membership + shuffle_order shard/pos
# (both oracles inlined), digest = md5 of the pos-ordered per-doc md5s
ORACLES["release_manifest"] = f"""
    WITH sp AS (
      SELECT doc_id,
             CASE WHEN slot < 980 THEN 'train'
                  WHEN slot < 990 THEN 'validation'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                            || 'split-v1'), 1, 8))
                        AS BIGINT) % 1000 AS slot
            FROM documents)
    ), k AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || 'shuffle-v1') AS key
      FROM documents
    ), ord AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(key, 1, 8) AS BIGINT) % 8
                  AS BIGINT) AS shard,
             CAST(ROW_NUMBER() OVER (
                    PARTITION BY CAST('0x' || substr(key, 1, 8) AS BIGINT) % 8
                    ORDER BY key, doc_id) AS BIGINT) AS pos
      FROM k
    ), b AS (
      SELECT d.doc_id, md5(d.text) AS h,
             CAST(len({_WORDS}) AS BIGINT) AS t,
             sp.split, ord.shard, ord.pos
      FROM documents d JOIN sp USING (doc_id) JOIN ord USING (doc_id)
    )
    SELECT split, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           md5(string_agg(h, '|' ORDER BY pos)) AS digest
    FROM b GROUP BY split, shard
"""

# split contamination audit: hash_split membership (inlined) +
# distinct 3-gram postings; hits = eval postings whose shingle occurs
# in ANY train doc; shingle-less eval docs appear with zeros
# bigram PMI: micro-nat integerization of one exact-integer ratio,
# per-factor double casts in fixed association (matches the Column
# expression bit-for-bit); bigrams only from docs with >= 2 words
# span corruption: round-half-up masked count, block partition,
# md5-offset span per block -- all integer, mirrors the Column expr
ORACLES["span_corruption_masks"] = f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_WORDS}) AS BIGINT) AS n FROM documents
    ), s AS (
      SELECT doc_id, n,
             (2 * ((n * 150000 + 500000) // 1000000) + 3) // 6
               AS n_spans
      FROM t
    ), b AS (
      SELECT doc_id, n, n_spans,
             CASE WHEN n_spans > 0 THEN n // n_spans ELSE 0 END AS blk
      FROM s
    )
    SELECT doc_id, n AS n_tokens, n_spans,
           CASE WHEN n_spans > 0 THEN array_to_string(
             list_transform(range(0, n_spans), b2 ->
               b2 * blk + 1 +
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-'
                     || CAST(b2 AS VARCHAR) || 'mask-v1'), 1, 8))
                    AS BIGINT) % greatest(blk - 2, 1)), '|')
           ELSE '' END AS mask_starts,
           CASE WHEN n > 0 THEN n_spans * 3 * 1000000 // n
                ELSE 0 END AS masked_e6
    FROM b
"""


def _contrastive_oracle() -> str:
    """DuckDB twin of contrastive_pairs: the keep-pipeline oracle
    filtered to non-canonical members."""
    keep = _minhash_keep_oracle()
    return f"""
        SELECT doc_id AS anchor_id, keep_id AS positive_id, cluster_id
        FROM ({keep}) WHERE doc_id <> keep_id
    """


ORACLES["contrastive_pairs"] = _contrastive_oracle

ORACLES["bigram_pmi_topk"] = f"""
    WITH d AS (SELECT doc_id, {_WORDS} AS words FROM documents),
    uni AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT UNNEST(words) AS w FROM d) GROUP BY w
    ), nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT sh, COUNT(*) AS cnt_ab FROM (
        SELECT array_to_string(words[i:i+1], ' ') AS sh
        FROM d, UNNEST(range(1, greatest(len(words) - 1, 0) + 1)) t(i)
        WHERE len(words) >= 2
      ) GROUP BY sh
    ), bt AS (SELECT CAST(SUM(cnt_ab) AS BIGINT) AS b FROM bi),
    p AS (
      SELECT string_split(sh, ' ')[1] AS w1,
             string_split(sh, ' ')[2] AS w2, cnt_ab
      FROM bi WHERE cnt_ab >= 5
    )
    SELECT w1, w2, CAST(cnt_ab AS BIGINT) AS cnt_ab,
           CAST(FLOOR(ln(
             (CAST(cnt_ab AS DOUBLE) * CAST(n AS DOUBLE)
              * CAST(n AS DOUBLE))
             / (CAST(b AS DOUBLE) * CAST(ca.c AS DOUBLE)
                * CAST(cb.c AS DOUBLE))) * 1000000 + 0.5) AS BIGINT)
             AS pmi_e6
    FROM p JOIN uni ca ON p.w1 = ca.w JOIN uni cb ON p.w2 = cb.w,
         nt, bt
    ORDER BY pmi_e6 DESC, w1, w2 LIMIT 20
"""

ORACLES["split_contamination_audit"] = f"""
    WITH sp AS (
      SELECT doc_id,
             CASE WHEN slot < 980 THEN 'train'
                  WHEN slot < 990 THEN 'validation'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                            || 'split-v1'), 1, 8))
                        AS BIGINT) % 1000 AS slot
            FROM documents)
    ), d AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
    ), post AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' ')))) AS sh
      FROM d WHERE len(words) >= 1
    ), tr AS (
      SELECT DISTINCT sh FROM post JOIN sp USING (doc_id)
      WHERE split = 'train'
    ), agg AS (
      SELECT p.doc_id, sp.split,
             COUNT(*) AS n_sh,
             COALESCE(SUM(CASE WHEN t.sh IS NOT NULL THEN 1 END), 0)
               AS hits
      FROM post p JOIN sp USING (doc_id)
      LEFT JOIN tr t USING (sh)
      WHERE sp.split <> 'train'
      GROUP BY p.doc_id, sp.split
    )
    SELECT doc_id, split, CAST(n_sh AS BIGINT) AS n_sh,
           CAST(hits AS BIGINT) AS hits,
           CAST(FLOOR(hits * 1000000 / CAST(n_sh AS DOUBLE)) AS BIGINT)
             AS contamination_e6
    FROM agg
    UNION ALL
    SELECT sp.doc_id, sp.split, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT)
    FROM sp
    WHERE split <> 'train'
      AND doc_id NOT IN (SELECT DISTINCT doc_id FROM post)
"""

# vocab growth: value-space decile checkpoints (exact integer
# arithmetic on the id range), per-word first-occurrence min-agg
ORACLES["vocab_growth"] = f"""
    WITH mm AS (
      SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents
    ), ck AS (
      SELECT DISTINCT mn + ((mx - mn + 1) * k + 9) // 10 - 1
               AS checkpoint
      FROM mm, generate_series(1, 10) t(k)
    ), fw AS (
      SELECT w, MIN(doc_id) AS first
      FROM (SELECT doc_id, UNNEST({_WORDS}) AS w FROM documents)
      GROUP BY w
    ), v AS (
      SELECT checkpoint, COUNT(*) AS vocab_size
      FROM fw JOIN ck ON first <= checkpoint GROUP BY checkpoint
    ), dts AS (
      SELECT checkpoint, COUNT(*) AS n_docs, SUM(t) AS cum_tokens
      FROM (SELECT doc_id, CAST(len({_WORDS}) AS BIGINT) AS t
            FROM documents)
      JOIN ck ON doc_id <= checkpoint GROUP BY checkpoint
    )
    SELECT CAST(checkpoint AS BIGINT) AS checkpoint,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(COALESCE(vocab_size, 0) AS BIGINT) AS vocab_size
    FROM dts LEFT JOIN v USING (checkpoint)
"""



# heaps fit: the vocab_growth oracle as the point source, then the
# identical log-log regression arithmetic as the zipf_fit oracle
def _heaps_oracle() -> str:
    vg = ORACLES["vocab_growth"]
    return f"""
    WITH vg AS ({vg}),
    pts AS (
      SELECT CAST(FLOOR(ln(CAST(cum_tokens AS DOUBLE)) * 1000000
                        + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(ln(CAST(vocab_size AS DOUBLE)) * 1000000
                        + 0.5) AS BIGINT) AS y
      FROM vg WHERE cum_tokens > 0 AND vocab_size > 0
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts
    )
    SELECT m AS n_points,
           CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
                THEN CAST(FLOOR(
                  CAST(m * sxy - sx * sy AS DOUBLE)
                  / CAST(m * sxx - sx * sx AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END AS slope_e6,
           CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
                THEN CAST(FLOOR(
                  (CAST(sy AS DOUBLE)
                   - CAST(m * sxy - sx * sy AS DOUBLE)
                     / CAST(m * sxx - sx * sx AS DOUBLE)
                     * CAST(sx AS DOUBLE))
                  / CAST(m AS DOUBLE) + 0.5) AS BIGINT)
                ELSE 0 END AS intercept_e6,
           CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
                 AND CAST(m * syy - sy * sy AS DOUBLE) > 0
                THEN CAST(FLOOR(
                  (CAST(m * sxy - sx * sy AS DOUBLE)
                   * CAST(m * sxy - sx * sy AS DOUBLE))
                  / (CAST(m * sxx - sx * sx AS DOUBLE)
                     * CAST(m * syy - sy * sy AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT)
                ELSE 0 END AS r2_e6
    FROM s
    """


ORACLES["heaps_fit"] = _heaps_oracle


# token budget plan: per-source token totals, the temperature_mix
# isqrt weight dance on TOKENS, then the identical per-factor
# double-cast budget/alloc/epoch arithmetic as the Column plan
ORACLES["token_budget_plan"] = f"""
    WITH c AS (
      SELECT source, CAST(SUM(len({_WORDS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    sq0 AS (SELECT source, n_tokens, n_tokens * 1000000 AS x,
                   CAST(FLOOR(SQRT(CAST(n_tokens * 1000000 AS DOUBLE)))
                        AS BIGINT) AS s0
            FROM c),
    sq1 AS (SELECT source, n_tokens, x,
                   s0 - CASE WHEN s0 * s0 > x THEN 1 ELSE 0 END AS s1
            FROM sq0),
    j AS (SELECT source, n_tokens,
                 s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= x
                      THEN 1 ELSE 0 END AS wt
          FROM sq1),
    s AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot,
                 CAST(SUM(wt) AS BIGINT) AS sw FROM j),
    b AS (
      SELECT source, n_tokens, wt, sw,
             CAST(FLOOR(CAST(tot AS DOUBLE) * 2000000.0 / 1000000.0)
                  AS BIGINT) AS budget
      FROM j CROSS JOIN s
    ),
    a AS (
      SELECT source, n_tokens, wt, sw,
             CASE WHEN sw > 0
                  THEN CAST(FLOOR(CAST(budget AS DOUBLE)
                                  * CAST(wt AS DOUBLE)
                                  / CAST(sw AS DOUBLE)) AS BIGINT)
                  ELSE 0 END AS alloc_tokens
      FROM b
    ),
    e AS (
      SELECT source, n_tokens, wt, sw, alloc_tokens,
             CASE WHEN n_tokens > 0
                  THEN CAST(FLOOR(CAST(alloc_tokens AS DOUBLE)
                                  / CAST(n_tokens AS DOUBLE)
                                  * 1000000) AS BIGINT)
                  ELSE 0 END AS epochs_e6
      FROM a
    )
    SELECT source, n_tokens,
           CAST(wt * 1000000 // sw AS BIGINT) AS share_e6,
           alloc_tokens, epochs_e6,
           epochs_e6 > 4000000 AS capped,
           LEAST(alloc_tokens, n_tokens * 4) AS capped_alloc_tokens
    FROM e
"""

# dataset card: composition of the zipf/heaps oracles (as CTEs) with
# scalar volume/dup/lang aggregates -- same 1-row crossJoin algebra
def _dataset_card_oracle() -> str:
    z = ORACLES["zipf_fit"]
    h = _heaps_oracle()
    return f"""
    WITH base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({_WORDS})) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS uniq
      FROM documents
    ),
    vocab AS (
      SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size
      FROM (SELECT UNNEST({_WORDS}) AS w FROM documents)
    ),
    lng AS (
      SELECT lang AS top_lang, CAST(COUNT(*) AS BIGINT) AS lc
      FROM documents GROUP BY lang ORDER BY lc DESC, lang LIMIT 1
    ),
    zf AS ({z}), hf AS ({h})
    SELECT n_docs, n_tokens, vocab_size,
           CAST((n_docs - uniq) * 1000000 // n_docs AS BIGINT)
             AS dup_rate_e6,
           top_lang,
           CAST(lc * 1000000 // n_docs AS BIGINT)
             AS top_lang_share_e6,
           zf.slope_e6 AS zipf_slope_e6,
           hf.slope_e6 AS heaps_beta_e6
    FROM base CROSS JOIN vocab CROSS JOIN lng CROSS JOIN zf CROSS JOIN hf
    """


ORACLES["dataset_card"] = _dataset_card_oracle


# simhash hamming histogram: the verified 60-bit simhash CTE, banded
# blocking by shift/mask chunk equality (same width arithmetic as the
# Column plan), exact xor bit_count per distinct candidate pair
ORACLES["simhash_hamming_histogram"] = f"""
    WITH w AS (
      SELECT doc_id, UNNEST({_WORDS}) AS w FROM documents
    ), h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
      FROM w
    ), votes AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT UNNEST(range(0, 60)) AS j)
      GROUP BY doc_id, j
    ), sims AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ), bb AS (
      SELECT doc_id, simhash, band,
             (simhash >> (band * 8)) & 255 AS chunk
      FROM sims CROSS JOIN (SELECT UNNEST(range(0, 8)) AS band)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             bit_count(xor(a.simhash, b.simhash)) AS hamming
      FROM bb a JOIN bb b
        ON a.band = b.band AND a.chunk = b.chunk
       AND a.doc_id < b.doc_id
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM cand GROUP BY hamming
"""


def _split_audit_oracle(n_probe: int = 4, dim: int = 64) -> str:
    """DuckDB twin of embedding_split_audit: centroid-literal probe
    replay for the md5-slot test queries, train-slot neighbor filter,
    MAX exact cosine, LEFT JOIN keeping zero-candidate queries."""
    n_cells, ctes = _ivf_cells_ctes(dim)
    pair_dot = " + ".join(f"(a.v[{i + 1}] * p.qv[{i + 1}])"
                          for i in range(dim))

    def slot(c):
        return (f"CAST(('0x' || substr(md5(CAST({c} AS VARCHAR) "
                f"|| 'split-v1'), 1, 8)) AS BIGINT) % 1000")

    return f"""
        WITH {ctes}, qx AS (
          SELECT vec_id AS query_id, v AS qv,
                 UNNEST(s) AS sim, UNNEST(range(0, {n_cells})) AS c
          FROM sims WHERE {slot('vec_id')} >= 990
        ), probes AS (
          SELECT query_id, qv, c AS cell
          FROM (SELECT query_id, qv, c, sim,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, c) AS rn
                FROM qx)
          WHERE rn <= {n_probe}
        ), scored AS (
          SELECT p.query_id, ({pair_dot}) AS raw_cos
          FROM assigned a JOIN probes p
            ON a.cell = p.cell AND a.vec_id <> p.query_id
          WHERE {slot('a.vec_id')} < 980
        ), mx AS (
          SELECT query_id, ROUND(MAX(raw_cos), 4) AS max_train_cos
          FROM scored GROUP BY query_id
        ), qs AS (
          SELECT DISTINCT query_id FROM qx
        )
        SELECT qs.query_id AS vec_id, mx.max_train_cos,
               COALESCE(mx.max_train_cos > 0.3, FALSE) AS leaked
        FROM qs LEFT JOIN mx USING (query_id)
    """


ORACLES["embedding_split_audit"] = _split_audit_oracle


# winnowing: positional k-gram md5 hashes, rightmost window argmin by
# the reverse-position formula, pos*2^32+h packing -- the identical
# array algebra as the Column plan
ORACLES["winnow_fingerprints"] = f"""
    WITH d AS (
      SELECT doc_id, {_WORDS} AS ws FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
                            i -> array_to_string(ws[i:i+2], ' '))
               AS grams
      FROM d
    ), h AS (
      SELECT doc_id,
             list_transform(grams, g2 ->
               CAST(('0x' || substr(md5(g2), 1, 8)) AS BIGINT)) AS hs
      FROM g
    ), p AS (
      SELECT doc_id, hs, CAST(len(hs) AS BIGINT) AS L,
             greatest(len(hs) - 3, 1) AS n_win,
             least(4, len(hs)) AS wl
      FROM h
    ), sel AS (
      SELECT doc_id, L,
             list_sort(list_distinct(list_transform(
               range(0, n_win), i ->
                 CAST(i + wl
                      - list_position(
                          list_reverse(hs[i+1:i+wl]),
                          list_aggregate(hs[i+1:i+wl], 'min'))
                      + 1 AS BIGINT) * 4294967296
                 + list_aggregate(hs[i+1:i+wl], 'min')))) AS ks
      FROM p
    )
    SELECT doc_id, L AS n_grams,
           CAST(len(ks) AS BIGINT) AS n_fingerprints,
           array_to_string(list_transform(ks, k2 ->
             CAST(k2 // 4294967296 AS VARCHAR) || ':'
             || CAST(k2 % 4294967296 AS VARCHAR)), '|')
             AS fingerprints
    FROM sel
"""


# winnow overlap: the winnowing oracle's selected-hash lists, unnested
# to a distinct (doc, hash) inverted index, self-joined on hash
ORACLES["winnow_overlap_pairs"] = f"""
    WITH fpq AS ({ORACLES["winnow_fingerprints"]}),
    posts AS (
      SELECT DISTINCT doc_id AS doc,
             CAST(string_split(UNNEST(string_split(fingerprints, '|')),
                               ':')[2] AS BIGINT) AS h
      FROM fpq WHERE n_fingerprints > 0
    )
    SELECT a.doc AS id_a, b.doc AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fp
    FROM posts a JOIN posts b ON a.h = b.h AND a.doc < b.doc
    GROUP BY a.doc, b.doc
    HAVING COUNT(*) >= 2
"""


# LSH-vs-edit calibration: the edit-pair oracle + the md5 signature
# CTE banded by string_agg keys, confusion counts per theta
def _lsh_vs_edit_oracle() -> str:
    sig = _minhash_oracle(16)
    return f"""
    WITH ed AS ({ORACLES["edit_distance_pairs"]}),
    s AS ({sig}),
    bk AS (
      SELECT doc_id, perm // 4 AS band,
             string_agg(CAST(sig AS VARCHAR), '-' ORDER BY perm)
               AS band_key
      FROM s GROUP BY doc_id, perm // 4
    ),
    pred AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    j AS (
      SELECT ed.sim_e6,
             CASE WHEN pred.id_a IS NULL THEN 0 ELSE 1 END AS p
      FROM ed LEFT JOIN pred USING (id_a, id_b)
    ),
    th AS (SELECT UNNEST([700000, 800000, 900000]) AS theta_e6),
    c AS (
      SELECT theta_e6, COUNT(*) AS n_pairs,
             SUM(CASE WHEN sim_e6 >= theta_e6 THEN 1 ELSE 0 END)
               AS n_label,
             SUM(p) AS n_pred,
             SUM(CASE WHEN sim_e6 >= theta_e6 THEN p ELSE 0 END) AS tp
      FROM j, th GROUP BY theta_e6
    )
    SELECT CAST(theta_e6 AS BIGINT) AS theta_e6,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_label AS BIGINT) AS n_label,
           CAST(n_pred AS BIGINT) AS n_pred,
           CAST(tp AS BIGINT) AS tp,
           CAST(n_pred - tp AS BIGINT) AS fp,
           CAST(n_label - tp AS BIGINT) AS fn,
           CAST(tp * 1000000 // greatest(n_pred, 1) AS BIGINT)
             AS precision_e6,
           CAST(tp * 1000000 // greatest(n_label, 1) AS BIGINT)
             AS recall_e6
    FROM c
    """


ORACLES["lsh_vs_edit_eval"] = _lsh_vs_edit_oracle


ORACLES["hapax_ratio"] = f"""
    WITH wc AS (
      SELECT source, w, COUNT(*) AS c FROM (
        SELECT source, UNNEST({_WORDS}) AS w FROM documents
      ) GROUP BY source, w
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS hapax_types_e6,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                // SUM(c) AS BIGINT) AS hapax_tokens_e6
    FROM wc GROUP BY source
"""


# skipgram PMI: nested list_transform pair generation (offsets 1..4,
# 'min max' string packing), then the bigram_pmi count/ratio algebra
ORACLES["skipgram_pmi_topk"] = f"""
    WITH d AS (
      SELECT doc_id, {_WORDS} AS ws FROM documents
    ), prs AS (
      SELECT UNNEST(flatten(list_transform([1, 2, 3, 4], o ->
               list_transform(range(1, greatest(len(ws) - o, 0) + 1),
                 i -> least(ws[i], ws[i + o]) || ' '
                      || greatest(ws[i], ws[i + o]))))) AS pr
      FROM d
    ), pc AS (
      SELECT pr, COUNT(*) AS cnt_ab FROM prs GROUP BY pr
    ), tt AS (SELECT SUM(cnt_ab) AS t FROM pc),
    uni AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT UNNEST({_WORDS}) AS w FROM documents) GROUP BY w
    ), nn AS (SELECT SUM(c) AS n FROM uni)
    SELECT string_split(pr, ' ')[1] AS w1,
           string_split(pr, ' ')[2] AS w2,
           CAST(cnt_ab AS BIGINT) AS cnt_ab,
           CAST(FLOOR(LN((CAST(cnt_ab AS DOUBLE) * CAST(n AS DOUBLE)
                          * CAST(n AS DOUBLE))
                         / (CAST(t AS DOUBLE) * CAST(ca.c AS DOUBLE)
                            * CAST(cb.c AS DOUBLE))) * 1000000 + 0.5)
                AS BIGINT) AS pmi_e6
    FROM pc
    JOIN uni ca ON ca.w = string_split(pr, ' ')[1]
    JOIN uni cb ON cb.w = string_split(pr, ' ')[2], tt, nn
    WHERE cnt_ab >= 5
    ORDER BY pmi_e6 DESC, w1, w2 LIMIT 20
"""


ORACLES["template_prefix_clusters"] = f"""
    WITH p AS (
      SELECT doc_id,
             array_to_string({_WORDS}[1:3], ' ') AS prefix
      FROM documents
    ), cl AS (
      SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS rep_doc_id
      FROM p GROUP BY prefix HAVING COUNT(*) >= 2
    ), t AS (SELECT COUNT(*) AS n FROM documents)
    SELECT prefix, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(rep_doc_id AS BIGINT) AS rep_doc_id,
           CAST(n_docs * 1000000 // n AS BIGINT) AS share_e6
    FROM cl, t
"""


# encoding audit: same artifact predicates, RE2 hex/{codepoint}
# escapes (semantically identical to the Java \\u escapes Spark-side)
ORACLES["encoding_anomalies"] = r"""
    WITH t AS (
      SELECT source,
             regexp_matches(text, '\x{FFFD}') AS r,
             regexp_matches(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]') AS c,
             regexp_matches(text, 'Ã[\x{0080}-\x{00BF}]|â€') AS m,
             regexp_matches(text, '\x{00A0}') AS n
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT)
             AS n_replacement,
           CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_control,
           CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mojibake,
           CAST(SUM(CASE WHEN n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nbsp,
           CAST(SUM(CASE WHEN NOT (r OR c OR m OR n) THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS clean_e6
    FROM t GROUP BY source
"""


# readability: the whole-text syllable identity (vowel groups never
# span a space; greedy '[aeiouy][^ ]*' hits once per vowel-bearing
# word) and the exact integer FRE/FKGL arithmetic
ORACLES["readability_fre"] = f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_WORDS}) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
               AS sent,
             CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
               AS vg,
             CAST(len(regexp_extract_all(text, '[aeiouy][^ ]*'))
                  AS BIGINT) AS vw
      FROM documents
    )
    SELECT doc_id, n_words,
           CAST(greatest(sent, 1) AS BIGINT) AS n_sentences,
           CAST(vg + (n_words - vw) AS BIGINT) AS n_syllables,
           CAST(206835 - 1015 * n_words // greatest(sent, 1)
                - 84600 * (vg + (n_words - vw))
                  // greatest(n_words, 1) AS BIGINT) AS fre_e3,
           CAST(390 * n_words // greatest(sent, 1)
                + 11800 * (vg + (n_words - vw))
                  // greatest(n_words, 1) - 15590 AS BIGINT) AS fkgl_e3
    FROM t
"""


# edit-distance verify: the winnow-candidate oracle joined back to
# the texts, DuckDB's levenshtein (same unit-cost Wagner-Fischer
# semantics as Spark's) with the cap applied as a WHERE so the
# surviving rows and values match the threshold-capped Spark plan
ORACLES["edit_distance_pairs"] = f"""
    WITH cand AS ({ORACLES["winnow_overlap_pairs"]})
    SELECT id_a, id_b, shared_fp,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           CAST((greatest(length(a.text), length(b.text))
                 - levenshtein(a.text, b.text)) * 1000000
                // greatest(length(a.text), length(b.text))
                AS BIGINT) AS sim_e6
    FROM cand
    JOIN documents a ON a.doc_id = cand.id_a
    JOIN documents b ON b.doc_id = cand.id_b
    WHERE levenshtein(a.text, b.text) <= 512
"""


# doc length quantiles: the value_histogram arithmetic on per-doc
# token counts -- 128 bins of width 2 on [0, 256), inverted CDF
ORACLES["doc_length_quantiles"] = f"""
    WITH b AS (
      SELECT source,
             CAST(LEAST(GREATEST(FLOOR(CAST(len({_WORDS}) AS DOUBLE)
                                       / 2.0), 0), 127) AS INT)
               AS bin,
             COUNT(*) AS c
      FROM documents GROUP BY source, bin
    ), cum AS (
      SELECT source, bin, c,
             SUM(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY source) AS n
      FROM b
    )
    SELECT source,
           MIN(CASE WHEN cum >= CEIL(n * 0.5) THEN bin * 2.0 END) AS p50,
           MIN(CASE WHEN cum >= CEIL(n * 0.9) THEN bin * 2.0 END) AS p90
    FROM cum GROUP BY source
"""


# source quality matrix: the three per-doc gate oracles composed as
# CTEs, unioned to (source, gate, ok) and aggregated -- the batch
# hash-verified twin of the QualityGateSink kernel
def _source_quality_oracle() -> str:
    return f"""
    WITH rep AS ({ORACLES["gopher_repetition"]}),
    ent AS ({ORACLES["doc_entropy"]}),
    blk AS ({ORACLES["blocklist_filter"]}),
    j AS (
      SELECT d.source,
             rep.keep = 1 AS rep_ok,
             ent.n_tokens > 0
               AND COALESCE(ent.entropy, 0) >= 1.0 AS ent_ok,
             blk.keep AS blk_ok
      FROM documents d
      JOIN rep ON rep.doc_id = d.doc_id
      JOIN ent ON ent.doc_id = d.doc_id
      JOIN blk ON blk.doc_id = d.doc_id
    ),
    u AS (
      SELECT source, 'repetition' AS gate, rep_ok AS ok FROM j
      UNION ALL SELECT source, 'entropy', ent_ok FROM j
      UNION ALL SELECT source, 'blocklist', blk_ok FROM j
    )
    SELECT source, gate,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS pass_e6
    FROM u GROUP BY source, gate
    """


ORACLES["source_quality_matrix"] = _source_quality_oracle


def _gate_bias_oracle() -> str:
    """The three per-doc gate oracles composed as CTEs (the C113
    pattern) grouped by the token-length bucket instead of source."""
    return f"""
    WITH rep AS ({ORACLES["gopher_repetition"]}),
    ent AS ({ORACLES["doc_entropy"]}),
    blk AS ({ORACLES["blocklist_filter"]}),
    j AS (
      SELECT LEAST(len({_WORDS}) // 32, 4) AS len_bucket,
             rep.keep = 1 AS rep_ok,
             ent.n_tokens > 0
               AND COALESCE(ent.entropy, 0) >= 1.0 AS ent_ok,
             blk.keep AS blk_ok
      FROM documents d
      JOIN rep ON rep.doc_id = d.doc_id
      JOIN ent ON ent.doc_id = d.doc_id
      JOIN blk ON blk.doc_id = d.doc_id
    ),
    u AS (
      SELECT len_bucket, 'repetition' AS gate, rep_ok AS ok FROM j
      UNION ALL SELECT len_bucket, 'entropy', ent_ok FROM j
      UNION ALL SELECT len_bucket, 'blocklist', blk_ok FROM j
    )
    SELECT CAST(len_bucket AS BIGINT) AS len_bucket, gate,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS pass_e6
    FROM u GROUP BY len_bucket, gate
    """


ORACLES["gate_bias_by_length"] = _gate_bias_oracle


# audio headroom: the PCM sample law replayed in closed form
ORACLES["wav_headroom"] = """
    WITH d AS (
      SELECT doc_id, 100 + doc_id % 50 AS n, doc_id AS seed
      FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
               i -> abs(((seed * 7 + i * 13) % 65536) - 32768)) AS a
      FROM d
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(list_aggregate(list_transform(a,
                  x -> CASE WHEN x >= 30000 THEN 1 ELSE 0 END),
                'sum') AS BIGINT) AS n_hot,
           CAST(list_aggregate(a, 'max') AS BIGINT) AS peak_abs,
           CAST(list_aggregate(list_transform(a,
                  x -> CASE WHEN x >= 30000 THEN 1 ELSE 0 END),
                'sum') * 1000000 // n AS BIGINT) AS hot_e6
    FROM s
"""


# image contrast: the quad pixel law ((i+seed)² % 256) replayed in
# closed form — decode, gray moments, variance, flat gate
ORACLES["image_contrast_score"] = """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 251 = 0 THEN 1
                  ELSE (4 + doc_id % 13) * (3 + doc_id % 7) END AS n,
             doc_id AS seed
      FROM documents
    ), px AS (
      SELECT doc_id, n,
             list_transform(range(0, n),
                            i -> ((i + seed) * (i + seed)) % 256) AS ps
      FROM d
    ), s AS (
      SELECT doc_id, n,
             list_aggregate(ps, 'sum') AS s1,
             list_aggregate(list_transform(ps, p -> p * p), 'sum') AS s2
      FROM px
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_pixels,
           CAST(s1 * 1000000 // n AS BIGINT) AS mean_e6,
           CAST((n * s2 - s1 * s1) * 1000000 // (n * n) AS BIGINT)
             AS var_e6,
           (n * s2 - s1 * s1) * 1000000 // (n * n) < 100000000
             AS is_flat
    FROM s
"""


def _curriculum_oracle() -> str:
    return f"""
    WITH r AS ({ORACLES["readability_fre"]}),
    p AS (
      SELECT CASE WHEN fkgl_e3 < 0 THEN 0
                  WHEN fkgl_e3 < 4000 THEN 1
                  WHEN fkgl_e3 < 8000 THEN 2 ELSE 3 END AS phase,
             n_words, fkgl_e3
      FROM r
    ), agg AS (
      SELECT phase, COUNT(*) AS n_docs, SUM(n_words) AS n_tokens,
             SUM(fkgl_e3) AS fk
      FROM p GROUP BY phase
    ), tot AS (SELECT SUM(n_tokens) AS t FROM agg)
    SELECT CAST(phase AS BIGINT) AS phase,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens * 1000000 // greatest(t, 1) AS BIGINT)
             AS token_share_e6,
           CAST((fk + n_docs * 1000000) // n_docs - 1000000 AS BIGINT)
             AS mean_fkgl_e3
    FROM agg, tot
    """


ORACLES["curriculum_phases"] = _curriculum_oracle


# int8 scalar quantization: per-dim global [min,max], code =
# clamp(floor((x-mn)*255/rg)), digest over '|'-joined codes, midpoint
# decode MSE via an ordered left fold (bit-identical to F.aggregate)
ORACLES["embedding_quantize_int8"] = """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), mm AS (
      SELECT d, MIN(x) AS mn, MAX(x) AS mx
      FROM (SELECT UNNEST(v) AS x,
                   UNNEST(range(1, len(v) + 1)) AS d FROM e)
      GROUP BY d
    ), r AS (
      SELECT list(mn ORDER BY d) AS mns,
             list(mx - mn ORDER BY d) AS rgs
      FROM mm
    ), q AS (
      SELECT vec_id, v, mns, rgs,
             list_transform(range(1, len(v) + 1),
               i -> CASE WHEN rgs[i] > 0
                    THEN CAST(LEAST(255, GREATEST(0,
                         FLOOR((v[i] - mns[i]) * 255.0 / rgs[i])))
                         AS BIGINT)
                    ELSE 0 END) AS qs
      FROM e, r
    )
    SELECT vec_id,
           md5(array_to_string(qs, '|')) AS codes_md5,
           ROUND(list_reduce(list_prepend(0.0,
                   list_transform(range(1, len(v) + 1),
                     i -> ((v[i] - mns[i])
                           - (qs[i] + 0.5) * rgs[i] / 255.0)
                          * ((v[i] - mns[i])
                             - (qs[i] + 0.5) * rgs[i] / 255.0))),
                 (a, x) -> a + x) / len(v), 6) AS recon_mse
    FROM q
"""

ORACLES["length_bucket_batches"] = f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_WORDS}) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR) || 'batch-v1') AS key
      FROM documents
    ), b AS (
      SELECT doc_id, key,
             CASE {' '.join(f"WHEN n_tok < {1 << (k + 1)} THEN {k}"
                            for k in range(12))}
                  ELSE 12 END AS bucket,
             CAST('0x' || substr(key, 1, 8) AS BIGINT) % 4 AS shard
      FROM t
    )
    SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
           CAST(shard AS BIGINT) AS shard,
           CAST((ROW_NUMBER() OVER (PARTITION BY bucket, shard
                                    ORDER BY key, doc_id) - 1) // 16
                AS BIGINT) AS batch
    FROM b
"""

# band keys from the md5-minhash twin: DuckDB rebuilds band_key =
# the band's 4 signature values joined by '-' (string_agg ORDER BY
# perm), the engine-portable form band_keys() emits Spark-side.
ORACLES["dedup_incremental"] = f"""
    WITH sig AS ({_minhash_oracle()}),
    bnd AS (
      SELECT doc_id, perm // 4 AS band,
             string_agg(CAST(sig AS VARCHAR), '-' ORDER BY perm)
               AS band_key
      FROM sig GROUP BY doc_id, perm // 4
    ), ex AS (
      SELECT DISTINCT b.doc_id
      FROM documents b
      WHERE b.doc_id % 10 = 0 AND md5(b.text) IN
            (SELECT md5(text) FROM documents WHERE doc_id % 10 <> 0)
    ), nr AS (
      SELECT DISTINCT b.doc_id
      FROM bnd b JOIN bnd c
        ON b.band = c.band AND b.band_key = c.band_key
      WHERE b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    )
    SELECT doc_id,
           CASE WHEN doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
                WHEN doc_id IN (SELECT doc_id FROM nr) THEN 'near_dup'
                ELSE 'new' END AS verdict
    FROM documents WHERE doc_id % 10 = 0
"""

ORACLES["bloom_decontaminate"] = f"""
    WITH sh AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' ')))) AS sh
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
    ), ks(j) AS (VALUES (0), (1), (2)),
    bits AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh),
                                  1, 8)) AS BIGINT) % 131072 AS pos
      FROM (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
           CROSS JOIN ks
    ), probes AS (
      SELECT doc_id, sh, j,
             CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh),
                                  1, 8)) AS BIGINT) % 131072 AS pos
      FROM sh CROSS JOIN ks WHERE doc_id % 97 <> 0
    ), hit_grams AS (
      SELECT doc_id, sh FROM probes JOIN bits USING (pos)
      GROUP BY doc_id, sh HAVING COUNT(*) = 3
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM hit_grams GROUP BY doc_id HAVING COUNT(*) >= 1
"""


# --- entropy / blocklist / heavy hitters / balanced sample (r5) -----

ORACLES["doc_entropy"] = f"""
    WITH w AS (
      SELECT doc_id AS doc, UNNEST(words) AS wrd
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
    ), pw AS (
      SELECT doc, wrd, COUNT(*) AS cnt FROM w GROUP BY doc, wrd
    ), scored AS (
      SELECT doc,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(CAST(FLOOR(1e6 * cnt * ln(cnt) + 0.5) AS BIGINT))
                  AS BIGINT) AS clnc_e6
      FROM pw GROUP BY doc
    )
    SELECT doc_id,
           COALESCE(n_tokens, 0) AS n_tokens,
           COALESCE(n_distinct, 0) AS n_distinct,
           CASE WHEN COALESCE(n_tokens, 0) > 0
                THEN ln(n_tokens)
                     - CAST(clnc_e6 AS DOUBLE) / 1e6 / n_tokens
           END AS entropy
    FROM documents LEFT JOIN scored ON doc_id = doc
"""

_BLOCK_SQL = "['slow', 'hash', 'batch']"

ORACLES["blocklist_filter"] = f"""
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(list_filter(ws, w -> list_contains({_BLOCK_SQL}, w)))
                AS BIGINT) AS hits_total,
           CAST(len(list_distinct(
                  list_filter(ws, w -> list_contains({_BLOCK_SQL}, w))))
                AS BIGINT) AS hits_distinct,
           len(list_filter(ws, w -> list_contains({_BLOCK_SQL}, w)))
             * 1000000 <= 50000 * len(ws) AS keep
    FROM (SELECT doc_id, {_WORDS} AS ws FROM documents)
"""

ORACLES["hll_distinct_users"] = """
    WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events
    ), rv AS (
      SELECT event_type,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) AS reg,
             CASE WHEN CAST(('0x' || substr(hx, 3, 12)) AS BIGINT) > 0
                  THEN 49 - length(bin(
                         CAST(('0x' || substr(hx, 3, 12)) AS BIGINT)))
                  ELSE 49 END AS val
      FROM h
    ), regs AS (
      SELECT event_type, reg, MAX(val) AS r FROM rv GROUP BY event_type, reg
    ), per AS (
      -- exact BIGINT harmonic sum: SUM(2^(49-r)) + absent*2^49,
      -- divided by 2^49 once (order-independent, matches Spark)
      SELECT event_type,
             CAST(SUM(CAST(1 AS BIGINT) << (49 - r))
                  + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 49)
                  AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 49 AS DOUBLE)
               AS s,
             CAST(256 - COUNT(*) AS DOUBLE) AS zeros
      FROM regs GROUP BY event_type
    ), est AS (
      SELECT event_type,
             CASE WHEN (0.7213 / (1 + 1.079/256)) * 256 * 256 / s
                       <= 2.5 * 256 AND zeros > 0
                  THEN ROUND(256.0 * ln(256.0 / zeros), 4)
                  ELSE ROUND((0.7213 / (1 + 1.079/256)) * 256 * 256 / s, 4)
             END AS hll_est
      FROM per
    )
    SELECT e.event_type,
           CAST(x.exact_distinct AS BIGINT) AS exact_distinct, e.hll_est
    FROM est e JOIN (SELECT event_type,
                            COUNT(DISTINCT user_id) AS exact_distinct
                     FROM events GROUP BY event_type) x USING (event_type)
"""

ORACLES["ngram_cms_estimate"] = f"""
    WITH d AS (
      SELECT doc_id AS doc, list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
      WHERE len(words) >= 1
    ), sh AS (
      SELECT doc, UNNEST(shs) AS sh FROM d
    ), dfc AS (
      SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh
    ), top AS (
      SELECT sh AS ngram, df FROM (
        SELECT sh, df, ROW_NUMBER() OVER (ORDER BY df DESC, sh) AS rn
        FROM dfc WHERE df >= 2) WHERE rn <= 20
    ), cms AS (
      SELECT r, CAST('0x' || substr(md5('r' || r || ':' || sh), 1, 8)
                     AS BIGINT) % 1024 AS b, COUNT(*) AS c
      FROM sh CROSS JOIN (SELECT UNNEST(range(0, 4)) AS r)
      GROUP BY r, b
    ), est AS (
      SELECT ngram, MIN(COALESCE(c, 0)) AS cms_est
      FROM (SELECT t.ngram, q.r,
                   CAST('0x' || substr(md5('r' || q.r || ':' || t.ngram),
                                       1, 8) AS BIGINT) % 1024 AS b
            FROM top t CROSS JOIN (SELECT UNNEST(range(0, 4)) AS r) q) x
      LEFT JOIN cms ON cms.r = x.r AND cms.b = x.b
      GROUP BY ngram
    )
    SELECT t.ngram, CAST(t.df AS BIGINT) AS df,
           CAST(e.cms_est AS BIGINT) AS cms_est
    FROM top t JOIN est e USING (ngram)
"""

ORACLES["common_ngrams"] = f"""
    WITH d AS (
      SELECT doc_id AS doc, list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
      WHERE len(words) >= 1  -- empty doc => no grams (Spark emits none)
    ), sh AS (
      SELECT doc, UNNEST(shs) AS sh FROM d
    )
    SELECT sh AS ngram, CAST(COUNT(*) AS BIGINT) AS df
    FROM sh GROUP BY sh HAVING COUNT(*) >= 2
    ORDER BY df DESC, ngram ASC LIMIT 20
"""

def _cluster_sql(bits: int = 6) -> str:
    return " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits))

ORACLES["cluster_balanced_sample"] = f"""
    WITH c AS (
      SELECT vec_id, CAST({_cluster_sql()} AS BIGINT) AS cluster
      FROM embeddings
    ), sizes AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_cluster
      FROM c GROUP BY cluster
    ), rates AS (
      SELECT cluster, n_cluster,
             CASE WHEN n_cluster <= 6 THEN 1000000
                  ELSE (6 * 1000000) // n_cluster END AS rate_e6
      FROM sizes
    )
    SELECT vec_id, cluster, n_cluster,
           CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || 'cbs-v1'),
                                1, 8)) AS BIGINT) % 1000000 < rate_e6
             AS keep
    FROM c JOIN rates USING (cluster)
"""


# --- hash-verified IVF ANN oracle (r5) ------------------------------
# The quantizer became oracle-recomputable this round: the training
# sample is id-ordered (similarity.ivf_centroids(order_col=...)) and
# Lloyd's is a pure function of it (similarity.lloyd_kmeans), so the
# oracle builder below re-trains the IDENTICAL centroids from the
# parquet with numpy (no Spark) and embeds them as SQL literals —
# same idiom as the LSH plane literals.  Every float reduction the
# SCORED values depend on (norms, cosines) is written as the same
# left-associative term sum Spark's F.aggregate fold evaluates, so
# cosines match bit-for-bit; cell assignment/probe selection compare
# sums against numpy matmuls (ulp-level differences flip them only on
# exact ties, measure-zero on real embeddings).

def _ivf_oracle_sf() -> str:
    """The sf dir the oracle's centroid literals are derived from.
    The driver's correctness gate runs at sf0.01 (the documented
    contract); tools/verify_local.py overrides per run."""
    import os
    return os.environ.get("GOKA_SPARK_ORACLE_SF", "/root/testdata/sf0.01")


def _ivf_local_centroids(sf_dir: str, n_cells: int,
                         train_cap: int = 100_000) -> "list[list[float]]":
    """Numpy twin of the indexed build's quantizer training: same
    id-ordered sample, same seeded Lloyd's — bit-identical centroids
    (asserted in tests/test_ann_index.py)."""
    import duckdb
    import numpy as np

    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {train_cap}").fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    nc = S.lloyd_kmeans(X, n_cells, seed=42, max_iter=10)
    nc = nc / np.linalg.norm(nc, axis=1, keepdims=True)
    return nc.tolist()


def _cv_ctes(dim: int = 64) -> str:
    """CTE block projecting every embedding to its unit form ``v``
    with the same left-associative norm fold Spark's ``_normalized``
    evaluates — the common prefix of all four ANN oracles."""
    sq = " + ".join(f"(e[{i + 1}] * e[{i + 1}])" for i in range(dim))
    return f"""base AS (
          SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
          FROM embeddings
        ), cv AS (
          SELECT vec_id, list_transform(e, x -> x / n) AS v
          FROM (SELECT vec_id, e, SQRT({sq}) AS n FROM base)
        )"""


def _ivf_cells_ctes(dim: int = 64) -> "tuple[int, str]":
    """Shared CTE block computing each vector's unit form ``v`` and
    its IVF cell (argmax centroid similarity, first-max tie-break like
    numpy argsort) — the common prefix of the IVF-ANN and SemDeDup
    oracles.  Returns (n_cells, sql_ctes)."""
    import duckdb

    sf_dir = _ivf_oracle_sf()
    n = duckdb.sql(f"SELECT COUNT(*) FROM "
                   f"'{sf_dir}/embeddings.parquet'").fetchone()[0]
    n_cells = A.adaptive_n_cells(n)
    nc = _ivf_local_centroids(sf_dir, n_cells)

    sims = ", ".join(
        " + ".join(f"(v[{i + 1}] * {c[i]!r})" for i in range(dim))
        for c in nc)
    return n_cells, f"""{_cv_ctes(dim)}, sims AS (
          SELECT vec_id, v, [{sims}] AS s FROM cv
        ), assigned AS (
          SELECT vec_id, v,
                 list_position(s, list_aggregate(s, 'max')) - 1 AS cell
          FROM sims
        )"""


def _ivf_ann_oracle(k: int = 5, n_probe: int = 4, dim: int = 64,
                    n_queries: int = 20) -> str:
    n_cells, ctes = _ivf_cells_ctes(dim)
    pair_dot = " + ".join(f"(a.v[{i + 1}] * p.qv[{i + 1}])"
                          for i in range(dim))

    return f"""
        WITH {ctes}, qx AS (
          SELECT vec_id AS query_id, v AS qv,
                 UNNEST(s) AS sim, UNNEST(range(0, {n_cells})) AS c
          FROM sims WHERE vec_id < {n_queries}
        ), probes AS (
          SELECT query_id, qv, c AS cell
          FROM (SELECT query_id, qv, c, sim,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, c) AS rn
                FROM qx)
          WHERE rn <= {n_probe}
        ), scored AS (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 ({pair_dot}) AS raw_cos
          FROM assigned a JOIN probes p
            ON a.cell = p.cell AND a.vec_id <> p.query_id
        ), ranked AS (
          SELECT query_id, neighbor_id, raw_cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY raw_cos DESC, neighbor_id)
                   AS rk
          FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(raw_cos, 4) AS cos, rk
        FROM ranked WHERE rk <= {k}
    """


# registered as a CALLABLE: resolved at oracle_sql() time so the sf
# override (and the parquet itself) are read when the driver asks,
# not at import
ORACLES["embedding_ivf_ann"] = _ivf_ann_oracle


def _semantic_oracle(bands: int = 8, bits: int = 8,
                     threshold: float = 0.3, dim: int = 64) -> str:
    """DuckDB twin of A.semantic_dedup: cell-scoped LSH-banded
    near-pairs (cells from the recomputed centroid literals, buckets
    from the C12 coordinate-sign test — sign(v_i) == sign(e_i) since
    the norm is positive), exact cosine as the left-associative dot
    of unit vectors, recursive-CTE connected components, min-id
    representative."""
    _, ctes = _ivf_cells_ctes(dim)
    whens = " ".join(
        "WHEN {b} THEN ({expr})".format(
            b=b,
            expr=" + ".join(
                f"(CASE WHEN v[{b * bits + i + 1}] > 0 "
                f"THEN {1 << i} ELSE 0 END)"
                for i in range(bits)),
        )
        for b in range(bands)
    )
    pair_dot = " + ".join(f"(va.v[{i + 1}] * vb.v[{i + 1}])"
                          for i in range(dim))
    return f"""
        WITH RECURSIVE {ctes}, banded AS (
          SELECT vec_id, cell, band, CASE band {whens} END AS bucket
          FROM assigned CROSS JOIN
               (SELECT UNNEST(range(0, {bands})) AS band)
        ), cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.cell = b.cell AND a.band = b.band
           AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ), pairs AS (
          SELECT id_a, id_b
          FROM cand
          JOIN cv va ON va.vec_id = id_a
          JOIN cv vb ON vb.vec_id = id_b
          WHERE ROUND({pair_dot}, 4) > {threshold}
        ), edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), nodes AS (
          SELECT DISTINCT a AS node FROM edges
        ), reach AS (
          SELECT node, node AS label FROM nodes
          UNION
          SELECT e.a AS node, r.label FROM edges e JOIN reach r ON e.b = r.node
        )
        SELECT node AS vec_id, MIN(label) AS keep_id,
               node = MIN(label) AS is_kept
        FROM reach GROUP BY node
    """


ORACLES["dedup_semantic"] = _semantic_oracle


def _cluster_assign_oracle(dim: int = 64) -> str:
    """DuckDB twin of embedding_cluster_assign: the `assigned` CTE
    (recomputed centroid literals, argmax cell with first-max
    tie-break) plus one count window."""
    _, ctes = _ivf_cells_ctes(dim)
    return f"""
        WITH {ctes}
        SELECT vec_id, CAST(cell AS BIGINT) AS cluster,
               COUNT(*) OVER (PARTITION BY cell) AS cluster_size
        FROM assigned
    """


ORACLES["embedding_cluster_assign"] = _cluster_assign_oracle


def _outliers_oracle(dim: int = 64, frac_denom: int = 20) -> str:
    """DuckDB twin of embedding_outliers: recomputed centroid
    literals → each vector's own-cell dot (the max of its sims list)
    rounded to 4, per-cell ascending rank with vec_id ties, integer
    ceil cutoff — the same arithmetic order as the Spark plan."""
    _, ctes = _ivf_cells_ctes(dim)
    return f"""
        WITH {ctes},
        sc AS (
          SELECT vec_id,
                 CAST(list_position(s, list_aggregate(s, 'max')) - 1
                      AS BIGINT) AS cluster,
                 ROUND(list_aggregate(s, 'max'), 4) AS sim_c
          FROM sims
        ),
        ranked AS (
          SELECT vec_id, cluster, sim_c,
                 ROW_NUMBER() OVER (PARTITION BY cluster
                                    ORDER BY sim_c, vec_id) AS rn,
                 COUNT(*) OVER (PARTITION BY cluster) AS n
          FROM sc
        )
        SELECT vec_id, cluster, sim_c,
               rn <= (n + {frac_denom - 1}) // {frac_denom} AS is_outlier
        FROM ranked
    """


ORACLES["embedding_outliers"] = _outliers_oracle


def _ivf_balance_oracle(dim: int = 64) -> str:
    """DuckDB twin of ivf_balance_report: recomputed centroid
    literals → own-cell sim (max of the sims list) integerized at
    ROUND(·e4) per vector, then exact-integer cell aggregates, the
    same fill/mean arithmetic as the Column plan."""
    _, ctes = _ivf_cells_ctes(dim)
    return f"""
        WITH {ctes},
        sc AS (
          SELECT vec_id,
                 CAST(list_position(s, list_aggregate(s, 'max')) - 1
                      AS BIGINT) AS cluster,
                 CAST(ROUND(list_aggregate(s, 'max') * 10000, 0)
                      AS BIGINT) AS se4
          FROM sims
        ),
        pc AS (
          SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
                 CAST(SUM(se4) AS BIGINT) AS ss,
                 CAST(MIN(se4) AS BIGINT) AS min_sim_e4,
                 CAST(MAX(se4) AS BIGINT) AS max_sim_e4
          FROM sc GROUP BY cluster
        ),
        tt AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS tot FROM pc)
        SELECT cluster, n_vectors,
               CAST(n_vectors * 1000000 // tot AS BIGINT) AS fill_e6,
               CAST(FLOOR(CAST(ss AS DOUBLE)
                          / CAST(n_vectors AS DOUBLE)) AS BIGINT)
                 AS mean_sim_e4,
               min_sim_e4, max_sim_e4
        FROM pc CROSS JOIN tt
    """


ORACLES["ivf_balance_report"] = _ivf_balance_oracle


def _cell_margin_oracle(dim: int = 64, ambiguous_e4: int = 500) -> str:
    """DuckDB twin of embedding_cell_margins: recomputed centroid
    literals → per-vector sims list, first-max argmax cell, margin =
    own ROUND(·e4) minus the max ROUND(·e4) over the other cells
    (1-based list_filter index mirrors Spark's 0-based filter), then
    the same exact-integer cell aggregates."""
    _, ctes = _ivf_cells_ctes(dim)
    return f"""
        WITH {ctes},
        m AS (
          SELECT vec_id,
                 list_position(s, list_aggregate(s, 'max')) AS pos,
                 list_transform(s, x -> CAST(ROUND(x * 10000, 0)
                                             AS BIGINT)) AS se4
          FROM sims
        ), mm AS (
          SELECT CAST(pos - 1 AS BIGINT) AS cluster,
                 se4[pos] - list_aggregate(
                   list_filter(se4, (x, i) -> i != pos), 'max') AS margin
          FROM m
        )
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
               CAST(FLOOR(CAST(SUM(margin) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
                 AS mean_margin_e4,
               CAST(MIN(margin) AS BIGINT) AS min_margin_e4,
               CAST(SUM(CASE WHEN margin < {ambiguous_e4} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ambiguous
        FROM mm GROUP BY cluster
    """


ORACLES["embedding_cell_margins"] = _cell_margin_oracle


def _knn_graph_oracle(k: int = 5, dim: int = 64) -> str:
    """DuckDB twin of embedding_knn_graph: recomputed centroid
    literals assign cells, same-cell self-join, left-associative pair
    dots, per-vector top-k window ordered (raw cos DESC, neighbor)."""
    _, ctes = _ivf_cells_ctes(dim)
    pair_dot = " + ".join(f"(a.v[{i + 1}] * b.v[{i + 1}])"
                          for i in range(dim))
    return f"""
        WITH {ctes}, scored AS (
          SELECT a.vec_id, b.vec_id AS neighbor_id,
                 ({pair_dot}) AS raw
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id <> b.vec_id
        ), ranked AS (
          SELECT vec_id, neighbor_id, raw,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY raw DESC, neighbor_id)
                   AS rank
          FROM scored
        )
        SELECT vec_id, neighbor_id, ROUND(raw, 4) AS cos,
               CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= {k}
    """


ORACLES["embedding_knn_graph"] = _knn_graph_oracle


def _pca_oracle(k: int = 8, dim: int = 64) -> str:
    """DuckDB twin of embedding_pca_project: re-fit bit-identical
    mean/components (same id-ordered sample, same pca_fit), embed as
    SQL literals, replay the left-associative centered dots."""
    import duckdb
    import numpy as np

    sf_dir = _ivf_oracle_sf()
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT 100000").fetchall()
    mean, comps = S.pca_fit(np.array([r[0] for r in rows],
                                     dtype=np.float64), k)
    cases = " ".join(
        "WHEN {} THEN {}".format(j, " + ".join(
            f"((e[{i + 1}] - {mean[i]!r}) * {comps[j][i]!r})"
            for i in range(dim)))
        for j in range(k))
    return f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS e
      FROM embeddings
    )
    SELECT vec_id, CAST(u.comp AS INTEGER) AS comp,
           ROUND(CASE u.comp {cases} END, 4) AS value
    FROM base, (SELECT UNNEST(range(0, {k})) AS comp) u
    """


ORACLES["embedding_pca_project"] = _pca_oracle


def _ivf_local_books(sf_dir: str, m: int = 8, ksub: int = 16,
                     train_cap: int = 100_000) -> "list":
    """Numpy twin of the indexed build's PQ codebook training (same
    id-ordered sample, pure subspace_kmeans — bit-identical to the
    persisted books, asserted in tests/test_ann_index.py)."""
    import duckdb
    import numpy as np

    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {train_cap}").fetchall()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    return S.subspace_kmeans(X, m, ksub, seed=42, max_iter=10).tolist()


def _pq_coded_ctes(dim: int = 64, m: int = 8,
                   ksub: int = 16) -> "tuple[str, str]":
    """(coded-corpus CTE suffix, per-pair ADC approx expression).

    ``coded`` assigns each vector its m sub-codes (argmin squared
    distance to the codebook literals — first-min tie-break like
    numpy argmin); the approx expression replays the LUT gather:
    Σ_j <q_sub_j, book_j[code_j]> with the codebook rows inlined
    per CASE branch.  Approx scores only SELECT candidates (Spark's
    numpy path differs in ulps); the hash-compared cosines come from
    the exact re-rank, identical on both sides."""
    books = _ivf_local_books(_ivf_oracle_sf(), m, ksub)
    dsub = dim // m

    def dl(j: int) -> str:
        return ", ".join(
            " + ".join(
                f"((v[{j * dsub + d + 1}] - {books[j][c][d]!r}) * "
                f"(v[{j * dsub + d + 1}] - {books[j][c][d]!r}))"
                for d in range(dsub))
            for c in range(ksub))

    dcols = ", ".join(f"[{dl(j)}] AS d{j}" for j in range(m))
    code = ", ".join(
        f"list_position(d{j}, list_aggregate(d{j}, 'min')) - 1"
        for j in range(m))
    coded = f"""pdist AS (
          SELECT vec_id, v, {dcols} FROM cv
        ), coded AS (
          SELECT vec_id, v, [{code}] AS code FROM pdist
        )"""

    def lut(j: int, c: int) -> str:
        return " + ".join(
            f"(q.qv[{j * dsub + d + 1}] * {books[j][c][d]!r})"
            for d in range(dsub))

    approx = " + ".join(
        "(CASE a.code[{p}] {w} END)".format(
            p=j + 1,
            w=" ".join(f"WHEN {c} THEN ({lut(j, c)})"
                       for c in range(ksub)))
        for j in range(m))
    return coded, approx


def _pq_rerank_sql(n_cand: int, k: int, dim: int) -> str:
    """Candidate cut + exact-cosine re-rank tail shared by the PQ and
    IVF-PQ oracles (twin of ann_index._adc_scan's global top-n_cand
    + ann_index._rerank_exact)."""
    pair_dot = " + ".join(f"(a.v[{i + 1}] * q.qv[{i + 1}])"
                          for i in range(dim))
    return f"""cand AS (
          SELECT query_id, neighbor_id
          FROM (SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY approx DESC,
                                                   neighbor_id) AS rn
                FROM approx)
          WHERE rn <= {n_cand}
        ), ranked AS (
          SELECT c.query_id, c.neighbor_id, ({pair_dot}) AS raw_cos,
                 ROW_NUMBER() OVER (PARTITION BY c.query_id
                                    ORDER BY ({pair_dot}) DESC,
                                             c.neighbor_id) AS rk
          FROM cand c
          JOIN cv a ON a.vec_id = c.neighbor_id
          JOIN q ON q.query_id = c.query_id
        )
        SELECT query_id, neighbor_id, ROUND(raw_cos, 4) AS cos, rk
        FROM ranked WHERE rk <= {k}"""


def _pq_ann_oracle(k: int = 5, refine: int = 4, dim: int = 64,
                   n_queries: int = 20) -> str:
    coded, approx = _pq_coded_ctes(dim)
    return f"""
        WITH {_cv_ctes(dim)}, {coded}, q AS (
          SELECT vec_id AS query_id, v AS qv FROM cv
          WHERE vec_id < {n_queries}
        ), approx AS (
          SELECT q.query_id, a.vec_id AS neighbor_id, {approx} AS approx
          FROM coded a CROSS JOIN q WHERE a.vec_id <> q.query_id
        ), {_pq_rerank_sql(refine * k, k, dim)}
    """


def _ivf_pq_ann_oracle(k: int = 5, n_probe: int = 8, refine: int = 4,
                       dim: int = 64, n_queries: int = 20) -> str:
    n_cells, ctes = _ivf_cells_ctes(dim)
    coded, approx = _pq_coded_ctes(dim)
    # coded builds on cv; cells add per-vector cell; probes pick each
    # query's n_probe nearest cells — the ADC scan pairs a corpus
    # vector with a query ONLY when its cell is in that query's probe
    # set (Spark: per-query np.isin mask within the pruned union)
    return f"""
        WITH {ctes}, {coded}, q AS (
          SELECT vec_id AS query_id, v AS qv FROM cv
          WHERE vec_id < {n_queries}
        ), qx AS (
          SELECT vec_id AS query_id,
                 UNNEST(s) AS sim, UNNEST(range(0, {n_cells})) AS c
          FROM sims WHERE vec_id < {n_queries}
        ), probes AS (
          SELECT query_id, c AS cell
          FROM (SELECT query_id, c, sim,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, c) AS rn
                FROM qx)
          WHERE rn <= {n_probe}
        ), approx AS (
          SELECT q.query_id, a.vec_id AS neighbor_id, {approx} AS approx
          FROM coded a
          JOIN assigned s ON s.vec_id = a.vec_id
          JOIN probes p ON p.cell = s.cell
          JOIN q ON q.query_id = p.query_id
          WHERE a.vec_id <> q.query_id
        ), {_pq_rerank_sql(refine * k, k, dim)}
    """


ORACLES["embedding_pq_ann"] = _pq_ann_oracle
ORACLES["embedding_ivf_pq_ann"] = _ivf_pq_ann_oracle


ORACLES["near_decontaminate"] = f"""
    WITH sig AS ({_minhash_oracle()}),
    bnd AS (
      SELECT doc_id, perm // 4 AS band,
             string_agg(CAST(sig AS VARCHAR), '-' ORDER BY perm)
               AS band_key
      FROM sig GROUP BY doc_id, perm // 4
    ), ex AS (
      SELECT DISTINCT b.doc_id
      FROM documents b
      WHERE b.doc_id % 97 <> 0 AND md5(b.text) IN
            (SELECT md5(text) FROM documents WHERE doc_id % 97 = 0)
    ), nr AS (
      SELECT DISTINCT b.doc_id
      FROM bnd b JOIN bnd c
        ON b.band = c.band AND b.band_key = c.band_key
      WHERE b.doc_id % 97 <> 0 AND c.doc_id % 97 = 0
    )
    SELECT doc_id,
           CASE WHEN doc_id IN (SELECT doc_id FROM ex)
                  THEN 'contaminated_exact'
                WHEN doc_id IN (SELECT doc_id FROM nr)
                  THEN 'contaminated_near'
                ELSE 'clean' END AS verdict
    FROM documents WHERE doc_id % 97 <> 0
"""


# composed from the individually-verified stage oracles: the LM CTEs
# (d/lm), the gopher gram CTEs, entropy, blocklist, contamination,
# and the md5 keeper — first-failing-gate CASE mirrors the Spark plan.
# Raw text has no newlines, so the gopher LINE rules pass trivially
# (single line per doc) and only the gram rules decide `repetition`.
ORACLES["corpus_quality_pipeline"] = f"""
    WITH {_LM_CTES}, th AS (
      SELECT quantile_cont(avg_logprob, [1.0/3.0, 2.0/3.0]) AS b
      FROM lm WHERE n_bigrams > 0
    ), gg AS ({_GOPHER_REP_GRAMS}
    ), gcnt AS (
      SELECT doc_id, n, gram, COUNT(*) AS cnt FROM gg GROUP BY ALL
    ), gtot AS (
      SELECT doc_id, COUNT(*) AS n_words, SUM(length(wrd)) AS chars
      FROM (SELECT doc_id, UNNEST(words) AS wrd FROM d) GROUP BY doc_id
    ), gtop AS (
      SELECT doc_id, n, cnt, length(gram) - (n - 1) AS gch,
             ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                ORDER BY cnt DESC, gram) AS rn
      FROM gcnt
    ), gtopp AS (
      SELECT t.doc_id,
             MAX(CASE WHEN n = 2 THEN v END) AS t2,
             MAX(CASE WHEN n = 3 THEN v END) AS t3,
             MAX(CASE WHEN n = 4 THEN v END) AS t4
      FROM (SELECT g.doc_id, n,
                   (cnt * gch * 1000000) // greatest(chars, 1) AS v
            FROM gtop g JOIN gtot USING (doc_id)
            WHERE rn = 1 AND n IN (2, 3, 4)) t
      GROUP BY t.doc_id
    ), gdupp AS (
      SELECT gg.doc_id, gg.n, gg.pos
      FROM gg JOIN gcnt USING (doc_id, n, gram)
      WHERE cnt >= 2 AND gg.n IN (5, 10)
    ), gcov AS (
      SELECT DISTINCT doc_id, n, CAST(j AS BIGINT) AS i
      FROM gdupp, UNNEST(range(pos, pos + n)) AS t(j)
    ), gcovch AS (
      SELECT c.doc_id, c.n, SUM(length(t.wrd)) AS cch
      FROM gcov c JOIN (
        SELECT doc_id, CAST(i AS BIGINT) AS pos, words[i] AS wrd
        FROM d, UNNEST(range(1, len(words) + 1)) AS t(i)) t
        ON t.doc_id = c.doc_id AND t.pos = c.i
      GROUP BY c.doc_id, c.n
    ), gdupv AS (
      SELECT cc.doc_id,
             MAX(CASE WHEN n = 5 THEN v END) AS d5,
             MAX(CASE WHEN n = 10 THEN v END) AS d10
      FROM (SELECT c.doc_id, n,
                   (cch * 1000000) // greatest(chars, 1) AS v
            FROM gcovch c JOIN gtot USING (doc_id)) cc
      GROUP BY cc.doc_id
    ), pln AS (
      -- raw-text line stats (split on newline, empties structural) so
      -- the oracle checks the SAME full keep verdict Spark's
      -- gopher_repetition computes — not just the gram half — even if
      -- a doc ever carries repeated newline-delimited lines
      SELECT doc_id, line, COUNT(*) AS cnt
      FROM (SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line
            FROM documents)
      WHERE line <> '' GROUP BY doc_id, line
    ), plst AS (
      SELECT doc_id,
             (SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) * 1000000)
               // greatest(SUM(cnt), 1) AS dlf,
             (SUM(CASE WHEN cnt >= 2 THEN cnt * length(line) ELSE 0 END)
               * 1000000)
               // greatest(SUM(cnt * length(line)), 1) AS dlcf
      FROM pln GROUP BY doc_id
    ), grep AS (
      SELECT t.doc_id,
             CASE WHEN COALESCE(t2, 0) <= 200000
                   AND COALESCE(t3, 0) <= 180000
                   AND COALESCE(t4, 0) <= 160000
                   AND COALESCE(d5, 0) <= 150000
                   AND COALESCE(d10, 0) <= 100000
                   AND COALESCE(dlf, 0) <= 300000
                   AND COALESCE(dlcf, 0) <= 200000
                  THEN 1 ELSE 0 END AS rep_keep
      FROM gtot t
      LEFT JOIN gtopp USING (doc_id)
      LEFT JOIN gdupv USING (doc_id)
      LEFT JOIN plst USING (doc_id)
    ), eent AS (
      SELECT doc_id,
             CASE WHEN SUM(cnt) > 0
                  THEN ln(SUM(cnt))
                       - CAST(SUM(CAST(FLOOR(1e6 * cnt * ln(cnt) + 0.5)
                                       AS BIGINT)) AS DOUBLE)
                         / 1e6 / SUM(cnt)
             END AS ent
      FROM (SELECT doc_id, wrd, COUNT(*) AS cnt
            FROM (SELECT doc_id, UNNEST(words) AS wrd FROM d)
            GROUP BY doc_id, wrd)
      GROUP BY doc_id
    ), blk AS (
      SELECT doc_id,
             len(list_filter(words, w -> list_contains({_BLOCK_SQL}, w)))
               * 1000000 <= 120000 * len(words) AS bkeep
      FROM d
    ), csh AS (
      SELECT doc_id, UNNEST(list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' ')))) AS sh
      FROM d
      WHERE len(words) >= 1  -- empty-doc guard: Spark emits no shingle
    ), chit AS (
      SELECT doc_id, COUNT(*) AS hits
      FROM csh JOIN (SELECT DISTINCT sh FROM csh WHERE doc_id % 97 = 0)
        USING (sh)
      WHERE doc_id % 97 <> 0 GROUP BY doc_id
    ), ddoc AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text))
               AS keep_id
      FROM documents
    )
    SELECT dd.doc_id,
           CASE WHEN dd.doc_id % 97 = 0 THEN 'benchmark'
                WHEN COALESCE(rep_keep, 0) = 0 THEN 'repetition'
                WHEN ent IS NULL OR ent < 1.0 THEN 'entropy'
                WHEN NOT COALESCE(bkeep, TRUE) THEN 'blocklist'
                WHEN (CASE WHEN lm.n_bigrams = 0 THEN 'unscored'
                           WHEN lm.avg_logprob >= b[2] THEN 'head'
                           WHEN lm.avg_logprob >= b[1] THEN 'middle'
                           ELSE 'tail' END) = 'tail' THEN 'perplexity'
                WHEN COALESCE(hits, 0) > 0 THEN 'contaminated'
                WHEN keep_id <> dd.doc_id THEN 'exact_dup'
                ELSE 'kept' END AS verdict
    FROM documents dd
    LEFT JOIN grep USING (doc_id)
    LEFT JOIN eent USING (doc_id)
    LEFT JOIN blk USING (doc_id)
    LEFT JOIN lm USING (doc_id)
    LEFT JOIN chit USING (doc_id)
    LEFT JOIN ddoc USING (doc_id), th
"""


# --- round 8 additions (C114-C118) ----------------------------------

def doc_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking (C.doc_chunk): chunk i covers
    words [i·stride, i·stride+chunk) — the loader/RAG step that turns
    documents into fixed-size units.  Pure scan stage (zero shuffle,
    zero joins); chunk=16/stride=12 here so the test corpus's short
    docs still exercise multi-chunk overlap."""
    docs = load(spark, sf, "documents")["documents"]
    return C.doc_chunk(docs, "doc_id", "text", chunk=16, stride=12)


def release_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Release-to-release delta (C.release_diff) over a deterministic
    simulated next release: docs with id%17==0 removed, id%13==0
    edited (text + ' v2'), id%19==0 re-added under id+10_000_000 —
    the audit that bounds a release's retraining blast radius.  The
    join carries (id, md5) only, never text."""
    docs = load(spark, sf, "documents")["documents"]
    new_base = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"))
    added = docs.filter(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    return C.release_diff(docs, new_base.unionByName(added),
                          "doc_id", "text")


def source_divergence_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between per-source unigram
    distributions (T.source_divergence_matrix) in exact integer
    micro-nats — the mixture-design diagnostic telling you which
    sources speak the same language (near-0) vs disjoint registers
    (near ln 2 = 693147)."""
    docs = load(spark, sf, "documents")["documents"]
    return T.source_divergence_matrix(docs, "doc_id", "text", "source")


def cluster_size_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup cluster SIZE distribution over the session-memoized
    Jaccard CC graph (same graph as dedup_clusters /
    split_leakage_safe — pair mining + CC run once per session):
    singleton docs count as size-1 clusters, so n_docs sums to the
    corpus.  The one-page answer to "how duplicated is this corpus,
    and is it a long tail or a few megaclusters?"."""
    docs = load(spark, sf, "documents")["documents"]
    cc = _jaccard_cc(spark, docs, sf)
    labeled = (docs.select("doc_id")
               .join(cc.withColumnRenamed("node", "doc_id"),
                     "doc_id", "left")
               .select("doc_id",
                       F.coalesce("cluster_id", "doc_id")
                       .alias("cluster_id")))
    sizes = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"))
    return (sizes.groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters"))
            .select(F.col("cluster_size").cast("long"),
                    F.col("n_clusters").cast("long"),
                    (F.col("cluster_size") * F.col("n_clusters"))
                    .cast("long").alias("n_docs")))


def bloom_fpr_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom false-positive CALIBRATION (C180) — the C95-style
    "measure your sketch" pass for the C40 decontamination filter:
    build the same benchmark filter (3-gram shingles of the
    doc_id % 97 == 0 docs, m = 131072, k = 3), probe it with 10,000
    deterministic GUARANTEED non-members ('nm:{i}' — the ':' can
    never appear in a space-joined shingle), and report the measured
    FPR beside the exact fill-ratio theory fpr = (set/m)³ — all
    integers, so the calibration itself hash-verifies.  A measured
    rate far off theory means hash-position clustering; far above
    target means the filter is undersized for the benchmark."""
    m_bits, k = 131072, 3
    docs = load(spark, sf, "documents")["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    grams = (bench.select(F.explode(D.word_shingles(
        F.col("text"), 3)).alias("sh")).distinct())
    bits = (D.bloom_bits(grams, "sh", m_bits, k)
            .select("pos").distinct())
    n_bits = bits.agg(F.count("*").alias("_b"))
    n_grams = grams.agg(F.count("*").alias("_g"))
    probes = spark.range(10_000).select(
        F.concat(F.lit("nm:"), F.col("id").cast("string"))
        .alias("sh"))
    hits = (D.bloom_bits(probes, "sh", m_bits, k)
            .join(bits, "pos")
            .groupBy("sh").agg(F.count("*").alias("_k"))
            .filter(F.col("_k") == k)
            .agg(F.count("*").alias("_fp")))
    return (n_bits.crossJoin(F.broadcast(n_grams))
            .crossJoin(F.broadcast(hits))
            .select(F.lit(m_bits).cast("long").alias("m_bits"),
                    F.lit(k).cast("long").alias("k"),
                    F.col("_g").cast("long").alias("n_grams"),
                    F.col("_b").cast("long").alias("n_set_bits"),
                    F.expr(f"_b * 1000000L DIV {m_bits}").cast("long")
                    .alias("fill_e6"),
                    F.lit(10_000).cast("long").alias("n_probes"),
                    F.col("_fp").cast("long").alias("n_fp"),
                    F.expr("_fp * 1000000L DIV 10000").cast("long")
                    .alias("fpr_measured_e6"),
                    F.expr(f"_b * _b * _b * 1000000L DIV "
                           f"({m_bits}L * {m_bits}L * {m_bits}L)")
                    .cast("long").alias("fpr_theory_e6")))


QUERIES["bloom_fpr_calibration"] = bloom_fpr_calibration


def dup_quality_compare(spark: SparkSession, sf: str) -> DataFrame:
    """Are the DUPLICATES the bad docs (C179)?  The keep pipeline
    deletes by length, not quality — this audit checks what that
    policy actually removes: kept vs dropped docs compared on count,
    mean quality score (each doc's C8 score quantized ONCE to e4,
    exact integer mean), and mean length.  If dropped ≈ kept the
    dedup is quality-neutral (pure redundancy removal); a big gap
    means the near-dup clusters concentrate in one quality tier and
    the keep policy choice matters.  Memoized keep frame + one
    scan + a 2-row agg."""
    docs = load(spark, sf, "documents")["documents"]
    keep = _keep_frame(spark, sf)
    q_e4 = F.floor(T.quality_score(F.col("text")) * 10000
                   + F.lit(0.5)).cast("long")
    d = (docs.select("doc_id", q_e4.alias("_q"),
                     F.col("n_chars").cast("long").alias("_c"))
         .join(keep.select("doc_id",
                           (F.col("doc_id") != F.col("keep_id"))
                           .alias("dropped")), "doc_id"))
    return (d.groupBy("dropped")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.expr("sum(_q) DIV count(*)").cast("long")
                 .alias("mean_quality_e4"),
                 F.expr("sum(_c) DIV count(*)").cast("long")
                 .alias("mean_chars")))


QUERIES["dup_quality_compare"] = dup_quality_compare


_WINNOW_PARAMS = ((3, 4), (3, 8), (4, 4))


def winnow_param_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing (k, w) CALIBRATION (C178) — the C100/C122-style
    measured-on-YOUR-corpus sweep for the MOSS family: per (k-gram,
    window) setting, fingerprint density (theory: ≈ 2/(w+1) of
    grams), distinct posting volume, and the candidate-pair count
    at min_shared=2 — the index-size vs recall dial C110/C111 run
    at one fixed point.  Reuses the parameterized _winnow_keys
    kernel per setting; each is one scan + one posting join, the
    sweep is |params| of them over the SAME corpus scan shape."""
    docs = load(spark, sf, "documents")["documents"]
    outs = []
    for k, w in _WINNOW_PARAMS:
        # r15 (guide §2.4): each setting's kernel frame feeds BOTH the
        # postings arm and the stats arm — without a barrier the
        # winnow kernel scanned the corpus twice per non-memoized
        # setting (the before-plan shows 12 MapInPandas nodes for 3
        # settings); the checkpoint makes it one scan each.  The
        # per-doc fingerprint dedup also moves INTO the scan stage
        # (array_distinct over the doc's own fingerprint array ≡ the
        # old global distinct on (doc, h), because rows are doc-keyed)
        # — that removes the (doc, h) exchange entirely, leaving only
        # the h-repartition both join sides reuse.
        kf = _winnow_kf(spark, docs, sf) if (k, w) == (3, 4) \
            else (D._winnow_keys(docs, "doc_id", "text", k, w)
                  .localCheckpoint(eager=False))
        posts = (kf.select(
            F.col("doc_id").alias("doc"),
            F.explode_outer(F.array_distinct(F.transform(
                "_ks", lambda x: x % F.lit(4294967296)))).alias("h")))
        posts = posts.repartition(
            posts.sparkSession.sparkContext.defaultParallelism, "h")
        a, b = posts.alias("a"), posts.alias("b")
        pairs = (a.join(b, "h")
                 .filter(F.col("a.doc") < F.col("b.doc"))
                 .groupBy(F.col("a.doc"), F.col("b.doc"))
                 .agg(F.count("*").alias("_c"))
                 .filter(F.col("_c") >= 2)
                 .agg(F.count("*").alias("n_pairs")))
        stats = (kf.select(
            F.col("_L").alias("_g"), F.size("_ks").alias("_f"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("_g").alias("total_grams"),
                 F.sum("_f").alias("total_fps")))
        outs.append(
            stats.crossJoin(F.broadcast(pairs))
            .select(F.lit(k).cast("long").alias("k"),
                    F.lit(w).cast("long").alias("w"),
                    F.col("n_docs").cast("long"),
                    F.col("total_grams").cast("long"),
                    F.col("total_fps").cast("long"),
                    F.expr("total_fps * 1000000L DIV total_grams")
                    .cast("long").alias("density_e6"),
                    F.col("n_pairs").cast("long")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


QUERIES["winnow_param_sweep"] = winnow_param_sweep


def dedup_deletion_audit(spark: SparkSession, sf: str) -> DataFrame:
    """What did dedup actually DELETE (C177) — the post-hoc audit of
    the production keep pipeline (C82): every dropped doc scored by
    capped Levenshtein against ITS OWN KEEPER.  sim near 1e6 = a
    true near-copy, good riddance; sim below ~0.7 (or beyond the
    cap, sentinel −1) = the band-collision graph chained away a doc
    that is NOT a copy of its representative — the deletion-side
    complement of C173's structural chaining view and C164's
    candidate-level calibration.  false_delete flags them.

    Scale shape: the pair list is exactly the DROP set (one row per
    deleted doc — the thing you audit is small by construction);
    two id joins + the C158 checkpoint-barrier scoring."""
    keep = _keep_frame(spark, sf)
    docs = load(spark, sf, "documents")["documents"]
    dropped = keep.filter(F.col("doc_id") != F.col("keep_id")) \
        .select("doc_id", "keep_id")
    ta = docs.select("doc_id", F.col("text").alias("_td"))
    tk = docs.select(F.col("doc_id").alias("keep_id"),
                     F.col("text").alias("_tk"))
    joined = dropped.join(ta, "doc_id").join(tk, "keep_id")
    sc = joined.sparkSession.sparkContext
    scored = (joined.repartition(sc.defaultParallelism)
              .withColumn("_d", F.levenshtein("_td", "_tk", 512))
              .localCheckpoint(eager=False))
    sim = F.when(F.col("_d") >= 0,
                 F.expr("(greatest(length(_td), length(_tk)) - _d)"
                        " * 1000000L DIV greatest(length(_td),"
                        " length(_tk))")).otherwise(F.lit(-1))
    return (scored
            .select("doc_id", "keep_id",
                    F.col("_d").cast("long").alias("edit_dist"),
                    sim.cast("long").alias("sim_e6"))
            .withColumn("false_delete", F.col("sim_e6") < 700000))


QUERIES["dedup_deletion_audit"] = dedup_deletion_audit


def quantized_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 serving-tier RECALL (C176, S.quantized_recall) — the
    deploy decision C91's reconstruction MSE cannot answer: after
    the SQ8 midpoint decode (exactly what a serving index stores),
    does brute cosine top-5 still return the full-precision top-5
    over the standard 20-query set?  The matryoshka harness with
    the quantized vector as the variant; decode chain, fold order
    and tie ranking all engine-identical, so the recall number
    itself hash-verifies."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    return S.quantized_recall(emb, "vec_id", "embedding")


QUERIES["quantized_recall_eval"] = quantized_recall_eval


def tokenizer_stability(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer STABILITY to resampling (C175) — train the same
    16-merge BPE on two disjoint md5-slot halves of the corpus and
    compare merge tables rank by rank: a tokenizer whose early
    merges flip under a coin-flip resample will also drift between
    releases, and every downstream token count with it.  Per rank:
    both merges, exact-rank agreement, and set membership each way
    (late-rank reorderings are benign; disappearances are not).
    Each half trains like bpe_token_count (one word-dict collect,
    then the merges on the driver); the comparison is
    vocab-rank-sized."""
    docs = load(spark, sf, "documents")["documents"]
    ma, mb = _half_merges(docs, sf)
    sa, sb = set(ma), set(mb)
    rows = []
    for i in range(max(len(ma), len(mb))):
        pa = " ".join(ma[i]) if i < len(ma) else None
        pb = " ".join(mb[i]) if i < len(mb) else None
        rows.append((
            i + 1, pa, pb,
            1 if (pa is not None and pa == pb) else 0,
            1 if (i < len(ma) and ma[i] in sb) else 0,
            1 if (i < len(mb) and mb[i] in sa) else 0,
        ))
    return spark.createDataFrame(
        rows, "rank long, merge_a string, merge_b string, "
              "rank_match long, a_in_b long, b_in_a long")


QUERIES["tokenizer_stability"] = tokenizer_stability


def source_health_report(spark: SparkSession, sf: str) -> DataFrame:
    """Source HEALTH one-pager (C174) — the morning dashboard of a
    corpus operation, one row per source composing the audits this
    round added: doc volume, clean-encoding rate (C160), any-PII
    rate (C166), hapax type share (C163), mean reading ease (C159),
    template-cluster doc share (C161).  Each number is the SAME
    kernel the standalone audit runs (and its oracle composes the
    standalone oracles), so the dashboard can never disagree with
    the deep-dive.  Five scan-stage passes + per-source hash-aggs
    joined on the tiny source key."""
    enc = encoding_anomalies(spark, sf).select("source", "n_docs",
                                               "clean_e6")
    pii = pii_audit_matrix(spark, sf).select("source", "any_pii_e6")
    hap = hapax_ratio(spark, sf).select("source", "hapax_types_e6")
    docs = load(spark, sf, "documents")["documents"]
    fre = (T.readability_fre(docs, "doc_id", "text")
           .join(docs.select("doc_id", "source"), "doc_id")
           .groupBy("source")
           .agg(F.sum("fre_e3").alias("_f"),
                F.count("*").alias("_n"))
           .select("source",
                   F.expr("(_f + _n * 1000000000L) DIV _n - 1000000000L")
                   .cast("long").alias("mean_fre_e3")))
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    pref = F.array_join(F.slice(words, 1, 3), " ")
    pc = (docs.select("source", pref.alias("_p"))
          .groupBy("source", "_p")
          .agg(F.count("*").alias("_c")))
    tmpl = (pc.groupBy("source")
            .agg(F.sum(F.when(F.col("_c") >= 2, F.col("_c"))
                       .otherwise(0)).alias("_t"),
                 F.sum("_c").alias("_n"))
            .select("source",
                    F.expr("_t * 1000000L DIV _n").cast("long")
                    .alias("templated_e6")))
    return (enc.join(pii, "source").join(hap, "source")
            .join(fre, "source").join(tmpl, "source")
            .select("source", "n_docs", "clean_e6", "any_pii_e6",
                    "hapax_types_e6", "mean_fre_e3", "templated_e6"))


QUERIES["source_health_report"] = source_health_report


def chain_merge_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster CHAINING audit (C173) — connected components merge
    A~B and B~C into one cluster even when A and C share nothing;
    a little chaining is what transitive dedup is FOR, a lot means
    the threshold is too loose and the keep-one policy is deleting
    non-duplicates.  Per multi-doc cluster: size, direct similarity
    edges, possible pairs s(s−1) DIV 2, and chain_e6 = missing-edge
    share — clusters near 1e6 are long chains, near 0 are cliques.
    Reuses the session-memoized CC graph + one pair recount; the
    edge join is on the pair list (bounded), never all-pairs."""
    docs = load(spark, sf, "documents")["documents"]
    cc = _jaccard_cc(spark, docs, sf)
    pairs = _jaccard_pairs(spark, docs, sf)
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("size"))
    edges = (pairs.join(cc.selectExpr("node AS id_a", "cluster_id"),
                        "id_a")
             .groupBy("cluster_id")
             .agg(F.count("*").cast("long").alias("n_edges")))
    return (sizes.join(edges, "cluster_id")
            .select(F.col("cluster_id").cast("long"), "size",
                    "n_edges",
                    F.expr("size * (size - 1) DIV 2").cast("long")
                    .alias("n_possible"),
                    F.expr("(size * (size - 1) DIV 2 - n_edges)"
                           " * 1000000L DIV (size * (size - 1) DIV 2)")
                    .cast("long").alias("chain_e6")))


QUERIES["chain_merge_audit"] = chain_merge_audit


def wav_headroom(spark: SparkSession, sf: str) -> DataFrame:
    """Audio HEADROOM / clipping gate (C172, M.wav_headroom_report)
    — completes the audio-quality trio beside C123 silence and C131
    ZCR: per clip, samples within 2768 of the int16 rails
    (|s| ≥ 30000), peak amplitude, hot share in micro-units — a hot
    clip was recorded clipped and poisons spectral features.
    All-integer outputs off real RIFF parses; the oracle replays
    the PCM sample law ((seed·7 + i·13) % 65536 − 32768) in closed
    form."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id",
        (F.lit(100) + F.col("doc_id") % 50).cast("int").alias("n"),
        F.col("doc_id").alias("seed"))
    blobs = M.encode_wav(spec, "doc_id", "n", "seed", rate=8000)
    return M.wav_headroom_report(blobs)


QUERIES["wav_headroom"] = wav_headroom


def image_contrast_score(spark: SparkSession, sf: str) -> DataFrame:
    """Image CONTRAST gate (C171, M.image_moment_stats) — the
    multimodal twin of the text entropy floor: flat/blank frames
    (variance ≈ 0) carry no training signal and a contrast gate
    drops them before feature extraction.  Exact integers off real
    decoded P6 pixels: mean_e6 = Σp·1e6 DIV N, var_e6 =
    (N·Σp² − (Σp)²)·1e6 DIV N², is_flat ⟺ var_e6 < 100·1e6
    (variance under 100 gray² — the quad texture keeps real images
    far above it, and every doc_id % 251 == 0 gets a 1×1 image,
    genuinely zero-variance, so the gate branch fires on driver
    data).  The oracle replays decode→moments in closed form from
    the (seed, index) pixel law."""
    docs = load(spark, sf, "documents")["documents"]
    flat = (F.col("doc_id") % 251 == 0)
    dims = docs.select(
        "doc_id",
        F.when(flat, F.lit(1))
        .otherwise(F.lit(4) + F.col("doc_id") % 13)
        .cast("int").alias("w"),
        F.when(flat, F.lit(1))
        .otherwise(F.lit(3) + F.col("doc_id") % 7)
        .cast("int").alias("h"),
        F.col("doc_id").alias("seed"))
    blobs = M.encode_ppm_quad(dims, "doc_id", "w", "h", "seed")
    stats = M.image_moment_stats(blobs)
    return (stats.select(
        "doc_id", "n_pixels",
        F.expr("px_sum * 1000000L DIV n_pixels").cast("long")
        .alias("mean_e6"),
        F.expr("(n_pixels * px_sum2 - px_sum * px_sum) * 1000000L"
               " DIV (n_pixels * n_pixels)").cast("long")
        .alias("var_e6"))
        .withColumn("is_flat", F.col("var_e6") < 100 * 1_000_000))


QUERIES["image_contrast_score"] = image_contrast_score


def curriculum_phases(spark: SparkSession, sf: str) -> DataFrame:
    """CURRICULUM assembly (C170) — stage training data easy→hard
    (curriculum learning): each doc lands in a difficulty phase by
    fixed FK-grade thresholds (C159's fkgl_e3 at <0 / <4000 /
    <8000 / ≥8000 — fixed cutoffs, not quantiles, so phase
    membership is stable when the corpus grows and the assignment
    never needs a global sort).  Per phase: docs, tokens, token
    share, mean grade — the loader's phase-schedule input.  Two
    scan-stage expression sets + one hash-agg + a one-row
    broadcast."""
    docs = load(spark, sf, "documents")["documents"]
    r = T.readability_fre(docs, "doc_id", "text")
    phase = (F.when(F.col("fkgl_e3") < 0, 0)
             .when(F.col("fkgl_e3") < 4000, 1)
             .when(F.col("fkgl_e3") < 8000, 2)
             .otherwise(3))
    agg = (r.select(phase.alias("phase"), "n_words", "fkgl_e3")
           .groupBy("phase")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum("n_words").cast("long").alias("n_tokens"),
                F.sum("fkgl_e3").alias("_fk")))
    tot = agg.agg(F.sum("n_tokens").alias("_T"))
    return (agg.crossJoin(F.broadcast(tot))
            .select(F.col("phase").cast("long"), "n_docs", "n_tokens",
                    F.expr("n_tokens * 1000000L DIV greatest(_T, 1L)")
                    .cast("long").alias("token_share_e6"),
                    # _fk can be NEGATIVE (fkgl floors at −15590):
                    # both Spark DIV and DuckDB // truncate toward
                    # zero, but the mean here is defined as
                    # floor(_fk/n) — shift to non-negative so both
                    # engines compute the floor, not the truncation
                    F.expr("(_fk + n_docs * 1000000L) DIV n_docs"
                           " - 1000000L").cast("long")
                    .alias("mean_fkgl_e3")))


QUERIES["curriculum_phases"] = curriculum_phases


def gate_bias_by_length(spark: SparkSession, sf: str) -> DataFrame:
    """Gate BIAS by document length (C169) — quality gates tuned on
    average docs quietly slaughter one length tail (repetition
    ratios inflate on short docs, entropy floors punish them too;
    long docs hit ratio caps).  Per (token-length bucket, gate):
    pass counts and rates — the audit that says WHICH gate to
    re-tune before a filter pass reshapes the length distribution.
    Same composed kernel as C113's per-source matrix
    (C.quality_gate_counts), grouped by least(tokens DIV 32, 4)."""
    docs = load(spark, sf, "documents")["documents"]
    d2 = docs.withColumn(
        "len_bucket",
        F.least(F.expr("CAST(size(filter(split(text, ' '), "
                       "w -> w != '')) AS BIGINT) DIV 32"), F.lit(4)))
    m = C.quality_gate_counts(d2, "doc_id", "text",
                              tuple(BLOCK_TERMS),
                              group_cols=("len_bucket",))
    return m.select(F.col("len_bucket").cast("long"), "gate",
                    "n_pass", "n_docs",
                    F.expr("n_pass * 1000000L DIV n_docs")
                    .alias("pass_e6"))


QUERIES["gate_bias_by_length"] = gate_bias_by_length


def text_vs_embedding_consistency(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-modal CONSISTENCY audit (C168) — near-identical texts
    must have near-identical embeddings: over the winnow-candidate
    pairs (which carry C158's exact edit similarity), the
    (edit-sim bucket × embedding-cosine bucket) contingency table.
    Mass on the high-edit/low-cosine diagonal corner is an embedding
    pipeline bug (stale vectors, wrong id join, truncation) — the
    check that catches it BEFORE SemDeDup quietly under-merges.
    Buckets: edit sim_e6 DIV 200k (0-4, exact integer), cosine
    rounded to 4 dp (the C12 engine-agreement discipline) then
    decile-binned over [−1, 1] — identical double arithmetic on the
    identically-rounded value in both engines.  Pair frame is
    winnow-bounded; two id joins + one hash-agg."""
    t = load(spark, sf, "documents", "embeddings")
    docs, emb = t["documents"], t["embeddings"]
    ed = _edit_pairs(spark, docs, sf)
    v = S._normalized(emb.select(F.col("vec_id").alias("_id"),
                                 F.col("embedding")),
                      "_id", F.col("embedding"))
    va = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    j = (ed.join(va, "id_a").join(vb, "id_b")
         .withColumn("cos", F.round(S.dot(F.col("_va"),
                                          F.col("_vb")), 4)))
    ebin = F.expr("least(sim_e6 DIV 200000, 4L)")
    cbin = F.least(F.greatest(F.floor((F.col("cos") + 1.0) * 5.0),
                              F.lit(0)), F.lit(9))
    return (j.select(ebin.alias("edit_bin"), cbin.alias("cos_bin"))
            .groupBy("edit_bin", "cos_bin")
            .agg(F.count("*").cast("long").alias("n_pairs"))
            .select(F.col("edit_bin").cast("long"),
                    F.col("cos_bin").cast("long"), "n_pairs"))


QUERIES["text_vs_embedding_consistency"] = text_vs_embedding_consistency


def sample_mix_chi2(spark: SparkSession, sf: str) -> DataFrame:
    """Sampler BIAS validation (C167) — before trusting any
    hash-sampled eval slice, check the sample kept the source mix:
    a 10% md5-slot sample (C22's deterministic sampler, uniform
    rate) against the full corpus, per source: full/sample shares,
    |drift|, and the exact-integer chi-square term
    (m·N − n·M)²·1e6 DIV (N·n·M) — Σ over sources ~ χ²(k−1) under
    the null, so a huge term names the biased stratum.  Everything
    engine-exact (the sampler IS a hash test — no RNG); two
    hash-aggs + a one-row broadcast.  BIGINT products hold while
    m·N ≤ 3e9-ish per stratum; shard-and-merge the counts beyond."""
    docs = load(spark, sf, "documents")["documents"]
    slot = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                              1, 8), 16, 10).cast("long") % 100
    t = docs.select("source", (slot < 10).cast("long").alias("_in"))
    per = (t.groupBy("source")
           .agg(F.count("*").cast("long").alias("n_full"),
                F.sum("_in").cast("long").alias("n_samp")))
    tot = per.agg(F.sum("n_full").alias("_N"), F.sum("n_samp").alias("_M"))
    return (per.crossJoin(F.broadcast(tot))
            .select("source", "n_full", "n_samp",
                    F.expr("n_full * 1000000L DIV _N").cast("long")
                    .alias("share_full_e6"),
                    F.expr("n_samp * 1000000L DIV greatest(_M, 1L)")
                    .cast("long").alias("share_samp_e6"),
                    F.abs(F.expr("n_samp * 1000000L DIV greatest(_M, 1L)"
                                 " - n_full * 1000000L DIV _N"))
                    .cast("long").alias("drift_e6"),
                    F.expr("(n_samp * _N - n_full * _M)"
                           " * (n_samp * _N - n_full * _M) * 1000000L"
                           " DIV (_N * n_full * greatest(_M, 1L))")
                    .cast("long").alias("chi2_term_e6")))


QUERIES["sample_mix_chi2"] = sample_mix_chi2


def pii_audit_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """PII AUDIT before the scrub (C166) — per-source rates of each
    PII class so a release owner knows WHAT C14's scrubber will
    touch and which feed is leaking: emails and URLs use the exact
    patterns `scrub_pii` rewrites (audit and scrub can never
    disagree), plus the phone / IPv4 classes the scrubber docstring
    marks as extensions.  Same planted-PII convention as the C14
    oracle (every 10th doc gains a synthetic email+URL — the corpus
    itself is clean), so the rates are non-trivial and
    hash-verified; phone/IP fire in unit tests.  Four scalar regexp
    predicates + one hash-agg."""
    from goka_spark.functions.text import EMAIL_RE, URL_RE

    docs = load(spark, sf, "documents")["documents"]
    planted = F.when(F.col("doc_id") % 10 == 0,
                     F.concat(F.col("text"),
                              F.lit(" contact bob@example.com or"
                                    " https://x.io/a"))) \
        .otherwise(F.col("text"))
    t = docs.select("source", planted.alias("_t"))
    flags = t.select(
        "source",
        F.col("_t").rlike(EMAIL_RE).alias("_em"),
        F.col("_t").rlike(URL_RE).alias("_ur"),
        F.col("_t").rlike(r"\b\d{3}[-.]\d{3}[-.]\d{4}\b").alias("_ph"),
        F.col("_t").rlike(r"\b(\d{1,3}\.){3}\d{1,3}\b").alias("_ip"))
    c = lambda x: F.sum(F.col(x).cast("long"))  # noqa: E731
    return (flags.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 c("_em").alias("n_email"),
                 c("_ur").alias("n_url"),
                 c("_ph").alias("n_phone"),
                 c("_ip").alias("n_ip"),
                 F.sum((F.col("_em") | F.col("_ur") | F.col("_ph")
                        | F.col("_ip")).cast("long")).alias("_any"))
            .select("source", "n_docs", "n_email", "n_url",
                    "n_phone", "n_ip",
                    F.expr("_any * 1000000L DIV n_docs").cast("long")
                    .alias("any_pii_e6")))


QUERIES["pii_audit_matrix"] = pii_audit_matrix


def dup_cluster_source_purity(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source SYNDICATION detection (C165) — over the
    session-memoized Jaccard CC graph, how many distinct sources
    each multi-doc near-dup cluster spans: pure clusters (1 source)
    are internal re-posts the per-source dedup already handles;
    multi-source clusters are mirrors/wire-copy — the content you
    must dedup GLOBALLY, and the reason per-source sharding of a
    dedup pipeline silently under-deletes.  Reports the (cluster
    size × n_sources) histogram plus the doc volume in each cell.
    Costs one join + two hash-aggs beyond the shared CC graph."""
    docs = load(spark, sf, "documents")["documents"]
    cc = _jaccard_cc(spark, docs, sf)
    labeled = (docs.select("doc_id", "source")
               .join(cc.withColumnRenamed("node", "doc_id"),
                     "doc_id", "left")
               .select("source",
                       F.coalesce("cluster_id", "doc_id")
                       .alias("cluster_id")))
    per_cl = labeled.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.countDistinct("source").alias("n_sources"))
    return (per_cl.filter(F.col("cluster_size") >= 2)
            .groupBy("cluster_size", "n_sources")
            .agg(F.count("*").alias("n_clusters"))
            .select(F.col("cluster_size").cast("long"),
                    F.col("n_sources").cast("long"),
                    F.col("n_clusters").cast("long"),
                    (F.col("cluster_size") * F.col("n_clusters"))
                    .cast("long").alias("n_docs")))


QUERIES["dup_cluster_source_purity"] = dup_cluster_source_purity


def embedding_matryoshka_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Truncated-dimension retrieval calibration
    (S.matryoshka_recall): recall@5 of prefix-dim brute cosine top-k
    (dims 8/16/32) against the full 64-dim top-k over the standard
    20-query set — how short a serving prefix survives before
    retrieval quality collapses.  Integer outputs only; cosines are
    left-associative folds matching the oracle bit-for-bit."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    return S.matryoshka_recall(emb, "vec_id", "embedding",
                               dims=(8, 16, 32), k=5, n_queries=20)


QUERIES["doc_chunk"] = doc_chunk
QUERIES["release_diff"] = release_diff
QUERIES["source_divergence_matrix"] = source_divergence_matrix
QUERIES["cluster_size_histogram"] = cluster_size_histogram
QUERIES["embedding_matryoshka_eval"] = embedding_matryoshka_eval


ORACLES["doc_chunk"] = f"""
    WITH ws AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(LEAST(16, len(words) - i * 12) AS BIGINT) AS n_tokens,
           array_to_string(words[i * 12 + 1 : i * 12 + 16], ' ')
             AS chunk_text
    FROM ws, UNNEST(range(0, ((len(words) - 1) // 12) + 1)) AS t(i)
    WHERE len(words) > 0
"""

ORACLES["release_diff"] = """
    WITH old AS (
      SELECT doc_id, md5(text) AS ho FROM documents
    ), new_base AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                      ELSE text END) AS hn
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 10000000 AS doc_id, md5(text) AS hn
      FROM documents WHERE doc_id % 19 = 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.ho IS NULL THEN 'added'
                WHEN n.hn IS NULL THEN 'removed'
                WHEN o.ho = n.hn THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old o FULL OUTER JOIN new_base n ON o.doc_id = n.doc_id
"""

ORACLES["source_divergence_matrix"] = f"""
    WITH w AS (
      SELECT source AS src, UNNEST({_WORDS}) AS wd FROM documents
    ), cnt AS (
      SELECT src, wd, COUNT(*) AS cnt FROM w GROUP BY src, wd
    ), tot AS (
      SELECT src, CAST(SUM(cnt) AS BIGINT) AS n_tok FROM cnt GROUP BY src
    ), sides AS (
      SELECT c.src, wd, cnt, n_tok FROM cnt c JOIN tot USING (src)
    ), pairwise AS (
      SELECT a.src AS source_a, b.src AS source_b,
             a.cnt AS ca, a.n_tok AS na, b.cnt AS cb, b.n_tok AS nb,
             (a.cnt::DOUBLE / a.n_tok::DOUBLE) AS p,
             (b.cnt::DOUBLE / b.n_tok::DOUBLE) AS q
      FROM sides a JOIN sides b USING (wd)
      WHERE a.src < b.src
    ), shared AS (
      SELECT source_a, source_b,
             COUNT(*) AS sw,
             CAST(SUM(CAST(FLOOR(500000.0 *
                 (p * LN(2.0 * p / (p + q)) + q * LN(2.0 * q / (p + q)))
                 + 0.5) AS BIGINT)) AS BIGINT) AS t_e6,
             CAST(SUM(ca) AS BIGINT) AS sa, CAST(SUM(cb) AS BIGINT) AS sb
      FROM pairwise GROUP BY source_a, source_b
    ), allpairs AS (
      SELECT a.src AS source_a, b.src AS source_b,
             a.n_tok AS na, b.n_tok AS nb
      FROM tot a JOIN tot b ON a.src < b.src
    )
    SELECT source_a, source_b,
           CAST(COALESCE(sw, 0) AS BIGINT) AS shared_words,
           CAST(COALESCE(t_e6, 0) + CAST(FLOOR(346573.59027997265 *
               (((na - COALESCE(sa, 0)) / na)
                + ((nb - COALESCE(sb, 0)) / nb)) + 0.5) AS BIGINT)
             AS BIGINT) AS js_e6
    FROM allpairs LEFT JOIN shared USING (source_a, source_b)
"""

ORACLES["cluster_size_histogram"] = f"""
    WITH cl AS ({ORACLES["dedup_clusters"]}),
    fl AS (
      SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cl USING (doc_id)
    ), sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM fl
      GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
"""


# lazy: the edit-pair oracle it composes over is defined further down
def _tve_oracle() -> str:
    return """
    WITH ed AS ({ED}),
    j AS (
      SELECT ed.sim_e6,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4)
               AS cos
      FROM ed
      JOIN embeddings a ON a.vec_id = ed.id_a
      JOIN embeddings b ON b.vec_id = ed.id_b
    )
    SELECT CAST(LEAST(sim_e6 // 200000, 4) AS BIGINT) AS edit_bin,
           CAST(LEAST(GREATEST(FLOOR((cos + 1.0) * 5.0), 0), 9)
                AS BIGINT) AS cos_bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM j GROUP BY edit_bin, cos_bin
""".replace("{ED}", ORACLES["edit_distance_pairs"])


ORACLES["text_vs_embedding_consistency"] = _tve_oracle


ORACLES["sample_mix_chi2"] = """
    WITH t AS (
      SELECT source,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                             1, 8)) AS BIGINT) % 100 < 10
                  THEN 1 ELSE 0 END AS s
      FROM documents
    ), per AS (
      SELECT source, COUNT(*) AS n_full, SUM(s) AS n_samp
      FROM t GROUP BY source
    ), tot AS (
      SELECT SUM(n_full) AS nn, SUM(n_samp) AS mm FROM per
    )
    SELECT source, CAST(n_full AS BIGINT) AS n_full,
           CAST(n_samp AS BIGINT) AS n_samp,
           CAST(n_full * 1000000 // nn AS BIGINT) AS share_full_e6,
           CAST(n_samp * 1000000 // greatest(mm, 1) AS BIGINT)
             AS share_samp_e6,
           CAST(ABS(n_samp * 1000000 // greatest(mm, 1)
                    - n_full * 1000000 // nn) AS BIGINT) AS drift_e6,
           CAST((n_samp * nn - n_full * mm) * (n_samp * nn - n_full * mm)
                * 1000000 // (nn * n_full * greatest(mm, 1)) AS BIGINT)
             AS chi2_term_e6
    FROM per, tot
"""


ORACLES["pii_audit_matrix"] = r"""
    WITH t AS (
      SELECT source,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' contact bob@example.com or https://x.io/a'
                  ELSE text END AS tx
      FROM documents
    ), f AS (
      SELECT source,
             regexp_matches(tx,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS em,
             regexp_matches(tx, 'https?://[^\s]+') AS ur,
             regexp_matches(tx, '\b\d{3}[-.]\d{3}[-.]\d{4}\b') AS ph,
             regexp_matches(tx, '\b(\d{1,3}\.){3}\d{1,3}\b') AS ip
      FROM t
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN em THEN 1 ELSE 0 END) AS BIGINT)
             AS n_email,
           CAST(SUM(CASE WHEN ur THEN 1 ELSE 0 END) AS BIGINT)
             AS n_url,
           CAST(SUM(CASE WHEN ph THEN 1 ELSE 0 END) AS BIGINT)
             AS n_phone,
           CAST(SUM(CASE WHEN ip THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ip,
           CAST(SUM(CASE WHEN em OR ur OR ph OR ip THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS any_pii_e6
    FROM f GROUP BY source
"""


ORACLES["dup_cluster_source_purity"] = f"""
    WITH cl AS ({ORACLES["dedup_clusters"]}),
    fl AS (
      SELECT d.source,
             COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN cl USING (doc_id)
    ), per_cl AS (
      SELECT cluster_id, COUNT(*) AS cluster_size,
             COUNT(DISTINCT source) AS n_sources
      FROM fl GROUP BY cluster_id
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM per_cl WHERE cluster_size >= 2
    GROUP BY cluster_size, n_sources
"""


def _matryoshka_oracle(dims=(8, 16, 32), full: int = 64, k: int = 5,
                       n_queries: int = 20) -> str:
    """DuckDB twin of matryoshka_recall: prefix dots/norms as explicit
    left-associative term sums (the _lsh_ann_oracle idiom) per dim,
    ranking ties by neighbor id, pure integer recall output."""

    def pdot(d):
        return " + ".join(
            f"(c.v[{i + 1}] * q.v[{i + 1}])" for i in range(d))

    def psq(v, d):
        return " + ".join(
            f"({v}[{i + 1}] * {v}[{i + 1}])" for i in range(d))

    cases_cos = " ".join(
        f"WHEN {d} THEN ({pdot(d)}) / (SQRT({psq('q.v', d)}) * "
        f"SQRT({psq('c.v', d)}))"
        for d in list(dims) + [full])
    dim_rows = ", ".join(f"({d})" for d in [0] + sorted(dims))

    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, d.dim,
             CASE (CASE d.dim WHEN 0 THEN {full} ELSE d.dim END)
               {cases_cos} END AS cos
      FROM e c
      JOIN e q ON q.vec_id < {n_queries} AND q.vec_id <> c.vec_id
      CROSS JOIN (VALUES {dim_rows}) d(dim)
    ), ranked AS (
      SELECT dim, query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY dim, query_id
                                ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ), top AS (
      SELECT dim, query_id, neighbor_id FROM ranked WHERE rk <= {k}
    ), hits AS (
      SELECT t.dim, COUNT(*) AS hit
      FROM top t JOIN (SELECT query_id, neighbor_id FROM top
                       WHERE dim = 0) f
        USING (query_id, neighbor_id)
      WHERE t.dim <> 0 GROUP BY t.dim
    ), base AS (
      SELECT dim, COUNT(*) AS n FROM top WHERE dim <> 0 GROUP BY dim
    )
    SELECT CAST(b.dim AS BIGINT) AS dim, CAST(b.n AS BIGINT) AS n_top,
           CAST(COALESCE(h.hit, 0) AS BIGINT) AS n_overlap,
           CAST((COALESCE(h.hit, 0) * 1000000) // b.n AS BIGINT)
             AS recall_e6
    FROM base b LEFT JOIN hits h ON b.dim = h.dim
    """


ORACLES["embedding_matryoshka_eval"] = _matryoshka_oracle()


# --- round 8 additions, second batch (C119-C121) --------------------

def chunk_pack_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed loader pipeline chunk → pack (C.doc_chunk feeding
    T.pack_sequences): documents split into overlapping 16-token
    chunks (stride 12), then the chunk stream packed into fixed
    128-token training sequences in global (doc, chunk) order — the
    end-to-end path a pretraining loader actually runs.  The pack
    order rides a synthetic cid = doc_id·1e6 + chunk_idx (test ids
    are small; a petabyte run would key the same two-pass prefix sum
    by the (doc_id, chunk_idx) composite instead).  Every chunk has
    ≥1 token so the packer drops nothing."""
    docs = load(spark, sf, "documents")["documents"]
    chunks = C.doc_chunk(docs, "doc_id", "text", chunk=16, stride=12)
    toks = chunks.select(
        (F.col("doc_id") * 1_000_000 + F.col("chunk_idx")).alias("cid"),
        F.col("n_tokens").alias("tok"))
    packed = T.pack_sequences(toks, "cid", "tok", seq_len=128)
    return packed.select(
        F.expr("cid DIV 1000000").alias("doc_id"),
        (F.col("cid") % 1_000_000).cast("long").alias("chunk_idx"),
        "tok", "first_seq", "last_seq", "seq_offset", "n_seqs")


def bigram_cond_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source bigram conditional entropy H(w2|w1) in exact integer
    micro-nats (T.bigram_cond_entropy) — predictability of the next
    word given the previous one: template text collapses toward 0,
    natural prose sits mid-range.  Corpus-health family with
    zipf_fit / heaps_fit / doc_entropy."""
    docs = load(spark, sf, "documents")["documents"]
    return T.bigram_cond_entropy(docs, "doc_id", "text", "source")


def embedding_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension embedding moments (S.embedding_dim_stats): dead
    dims, mean shift, clipped ranges — the QA pass before any index
    build.  Every statistic is an exact integer (elements quantized
    once to e6 fixed point, integer sums)."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    return S.embedding_dim_stats(emb, "vec_id", "embedding")


QUERIES["chunk_pack_pipeline"] = chunk_pack_pipeline
QUERIES["bigram_cond_entropy"] = bigram_cond_entropy
QUERIES["embedding_dim_stats"] = embedding_dim_stats


ORACLES["chunk_pack_pipeline"] = f"""
    WITH ws AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
    ), ch AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             CAST(LEAST(16, len(words) - i * 12) AS BIGINT) AS tok
      FROM ws, UNNEST(range(0, ((len(words) - 1) // 12) + 1)) AS t(i)
      WHERE len(words) > 0
    ), t AS (
      SELECT doc_id * 1000000 + chunk_idx AS cid, doc_id, chunk_idx,
             tok
      FROM ch
    ), c AS (
      SELECT cid, doc_id, chunk_idx, tok,
             COALESCE(SUM(tok) OVER (
               ORDER BY cid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM t
    )
    SELECT doc_id, chunk_idx, tok,
           CAST(cum // 128 AS BIGINT) AS first_seq,
           CAST((cum + tok - 1) // 128 AS BIGINT) AS last_seq,
           CAST(cum % 128 AS BIGINT) AS seq_offset,
           CAST((cum + tok - 1) // 128 - cum // 128 + 1 AS BIGINT)
             AS n_seqs
    FROM c
"""

ORACLES["bigram_cond_entropy"] = f"""
    WITH w AS (
      SELECT source AS src, {_WORDS} AS words FROM documents
    ), b AS (
      SELECT src, words[i] AS w1, words[i + 1] AS w2
      FROM w, UNNEST(range(1, len(words))) AS t(i)
      WHERE len(words) >= 2
    ), c12 AS (
      SELECT src, w1, w2, COUNT(*) AS c12 FROM b GROUP BY src, w1, w2
    ), per1 AS (
      SELECT src, w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(SUM(CAST(FLOOR(1000000.0 * c12 * LN(c12) + 0.5)
                           AS BIGINT)) AS BIGINT) AS t12
      FROM c12 GROUP BY src, w1
    ), per_src AS (
      SELECT src, CAST(SUM(c1) AS BIGINT) AS n_bigrams,
             CAST(COUNT(*) AS BIGINT) AS vocab_w1,
             CAST(SUM(CAST(FLOOR(1000000.0 * c1 * LN(c1) + 0.5)
                           AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(t12) AS BIGINT) AS s12
      FROM per1 GROUP BY src
    )
    SELECT src AS source, n_bigrams, vocab_w1,
           CAST((s1 - s12) // n_bigrams AS BIGINT) AS h_cond_e6
    FROM per_src
"""

# Both Spark's DIV and DuckDB's // truncate toward zero (verified:
# SELECT -7 // 2 = -3 in DuckDB), so they agree on negative
# numerators; the CASE below spells the truncation out so the
# intended semantics survive edits regardless of engine defaults.
ORACLES["embedding_dim_stats"] = """
    WITH x AS (
      SELECT i AS dim,
             CAST(FLOOR(embedding[i]::DOUBLE * 1000000.0 + 0.5)
                  AS BIGINT) AS e
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), agg AS (
      SELECT CAST(dim AS BIGINT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(e) AS BIGINT) AS s,
             CAST(MIN(e) AS BIGINT) AS min_e6,
             CAST(MAX(e) AS BIGINT) AS max_e6,
             CAST(SUM(e * e) AS BIGINT) AS ssq_e12
      FROM x GROUP BY dim
    )
    SELECT dim, n,
           CAST(CASE WHEN s >= 0 THEN s // n
                     ELSE -((-s) // n) END AS BIGINT) AS mean_e6,
           min_e6, max_e6, ssq_e12
    FROM agg
"""


def dedup_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Jaccard threshold-sensitivity curve (D.jaccard_threshold_sweep)
    — pairs and touched docs per candidate threshold from ONE
    df-pruned postings join; the exact-similarity twin of
    minhash_band_sweep, and the report you read before committing a
    corpus-wide dedup threshold."""
    docs = load(spark, sf, "documents")["documents"]
    return D.jaccard_threshold_sweep(
        docs, "doc_id", "text",
        pair_counts=_pair_counts(spark, docs, sf))


QUERIES["dedup_threshold_sweep"] = dedup_threshold_sweep

ORACLES["dedup_threshold_sweep"] = """
    WITH d AS (
      SELECT doc_id AS doc, list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM (SELECT doc_id, list_filter(string_split(text, ' '),
                                       w -> w <> '') AS words
            FROM documents)
    ), sh AS (
      SELECT doc, UNNEST(shs) AS sh FROM d
    ), dfc AS (
      SELECT sh FROM (SELECT sh, COUNT(*) AS cnt FROM sh GROUP BY sh)
      WHERE cnt <= 50
    ), pruned AS (
      SELECT doc, s.sh FROM sh s JOIN dfc USING (sh)
    ), cand AS (
      SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
      FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc < b.doc
    ), jac AS (
      SELECT id_a, id_b,
             (len(list_intersect(a.shs, b.shs)) * 1000000)
               // (len(a.shs) + len(b.shs)
                   - len(list_intersect(a.shs, b.shs))) AS jac_e6
      FROM cand c JOIN d a ON a.doc = c.id_a JOIN d b ON b.doc = c.id_b
    ), th AS (
      SELECT * FROM (VALUES (50000), (100000), (200000), (400000),
                            (600000), (800000)) t(threshold_e6)
    ), hits AS (
      SELECT threshold_e6, id_a, id_b FROM jac JOIN th
        ON jac_e6 >= threshold_e6
    ), np AS (
      SELECT threshold_e6, COUNT(*) AS n_pairs FROM hits
      GROUP BY threshold_e6
    ), nd AS (
      SELECT threshold_e6, COUNT(*) AS n_docs FROM (
        SELECT DISTINCT threshold_e6, doc FROM (
          SELECT threshold_e6, id_a AS doc FROM hits
          UNION ALL
          SELECT threshold_e6, id_b AS doc FROM hits))
      GROUP BY threshold_e6
    )
    SELECT CAST(th.threshold_e6 AS BIGINT) AS threshold_e6,
           CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
    FROM th LEFT JOIN np USING (threshold_e6)
    LEFT JOIN nd USING (threshold_e6)
"""


def multimodal_silence(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed silence detection over REAL decoded PCM16 audio
    (M.wav_silence_report): 20-sample frames, silent when the integer
    Σ|s| is below mean·window — the VAD/trimming precursor of an
    audio training pipeline, with every output an exact integer.
    Extends the C30 wav family from whole-clip stats to per-window
    analysis."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id",
        (F.lit(100) + F.col("doc_id") % 50).cast("int").alias("n"),
        F.col("doc_id").alias("seed"))
    blobs = M.encode_wav(spec, "doc_id", "n", "seed", rate=8000)
    return M.wav_silence_report(blobs)


QUERIES["multimodal_silence"] = multimodal_silence

# closed-form twin of the deterministic PCM16 signal
# s_i = (seed·7 + i·13) % 65536 − 32768 with seed = doc_id: per-window
# integer |s| sums compared against mean_abs·window = 8192·20
ORACLES["multimodal_silence"] = """
    WITH w AS (
      SELECT doc_id,
             (100 + doc_id % 50) // 20 AS nw,
             list_transform(
               range(0, (100 + doc_id % 50) // 20),
               wi -> list_sum(list_transform(
                 range(wi * 20, wi * 20 + 20),
                 i -> ABS((doc_id * 7 + i * 13) % 65536 - 32768)))) AS sums,
             list_max(list_transform(
               range(0, 100 + doc_id % 50),
               i -> ABS((doc_id * 7 + i * 13) % 65536 - 32768))) AS mx
      FROM documents
    )
    SELECT doc_id,
           CAST(nw AS BIGINT) AS n_windows,
           CAST(len(list_filter(sums, s -> s < 163840)) AS BIGINT)
             AS n_silent,
           CAST(len(list_filter(sums, s -> s < 163840)) * 1000000 // nw
                AS BIGINT) AS silent_e6,
           CAST(mx AS BIGINT) AS max_abs
    FROM w
"""


def multimodal_zcr(spark: SparkSession, sf: str) -> DataFrame:
    """Zero-crossing-rate report over REAL decoded PCM16 audio
    (M.wav_zcr_report): a crossing is a strict sign-bit flip between
    adjacent samples, so n_crossings and zcr_e6 are exact integers —
    the voiced/unvoiced (tone-vs-noise) discriminator next to C123's
    energy-based silence report.  Same decode path, same Arrow batch
    shape; the whole parse→numpy→count pipeline is verified because
    the oracle recomputes every sign bit from the (seed, i) sample
    law in closed form."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id",
        (F.lit(100) + F.col("doc_id") % 50).cast("int").alias("n"),
        F.col("doc_id").alias("seed"))
    blobs = M.encode_wav(spec, "doc_id", "n", "seed", rate=8000)
    return M.wav_zcr_report(blobs)


QUERIES["multimodal_zcr"] = multimodal_zcr

# closed-form twin: sign bit of s_i = (doc_id*7 + i*13) % 65536 − 32768;
# crossings compare adjacent sign bits (DuckDB lists are 1-indexed)
ORACLES["multimodal_zcr"] = """
    WITH s AS (
      SELECT doc_id, (100 + doc_id % 50) AS n,
             list_transform(
               range(0, 100 + doc_id % 50),
               i -> CASE WHEN (doc_id * 7 + i * 13) % 65536 - 32768 < 0
                         THEN 1 ELSE 0 END) AS neg
      FROM documents
    ), c AS (
      SELECT doc_id, n,
             len(list_filter(range(0, n - 1),
                             i -> neg[i + 1] != neg[i + 2])) AS nc
      FROM s
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(nc AS BIGINT) AS n_crossings,
           CAST(nc * 1000000 // (n - 1) AS BIGINT) AS zcr_e6
    FROM c
"""

# deterministic markup wrapper shared by the html_strip query and its
# oracle: script + style blocks, nested tags, and all six entities
_HTML_PRE = ('<html><head><style>p { color: red; }</style></head>'
             '<body><h1 class="title">Doc ')
_HTML_MID = '</h1><p>'
_HTML_SCRIPT = '</p><script type="text/javascript">var id = '
_HTML_POST = (';</script><div class="footer">&lt;auto&gt; &amp; '
              '&quot;mirrored&quot;&nbsp;&#39;n&#39;</div></body></html>')


def html_strip(spark: SparkSession, sf: str) -> DataFrame:
    """Markup removal (T.strip_markup) — the WET-extraction step a
    web-crawl pipeline runs before any quality gate: each document is
    wrapped in a deterministic HTML shell (style block, heading,
    sentence-split <p> paragraphs, a script block, and all six core
    entities), then stripped back to text.  Returns the cleaned text
    plus the markup-overhead character count; the oracle replays the
    identical RE2-safe regex/entity chain in SQL, so the whole
    strip path is engine-verified."""
    docs = load(spark, sf, "documents")["documents"]
    html = F.concat(
        F.lit(_HTML_PRE), F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.replace(F.col("text"), F.lit(". "), F.lit(".</p> <p>")),
        F.lit(_HTML_SCRIPT), F.col("doc_id").cast("string"),
        F.lit(_HTML_POST))
    clean = T.strip_markup(html)
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        (F.length(html) - F.length(clean)).cast("long")
        .alias("n_markup_chars"))


QUERIES["html_strip"] = html_strip

ORACLES["html_strip"] = r"""
    WITH h AS (
      SELECT doc_id,
             '__PRE__' || CAST(doc_id AS VARCHAR) || '__MID__'
               || replace(text, '. ', '.</p> <p>')
               || '__SCRIPT__' || CAST(doc_id AS VARCHAR) || '__POST__'
               AS html
      FROM documents
    ), s AS (
      SELECT doc_id, html,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(regexp_replace(regexp_replace(html,
                   '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                   '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
               '\s+', ' ', 'g')) AS clean
      FROM h
    )
    SELECT doc_id, clean AS clean_text,
           CAST(length(html) - length(clean) AS BIGINT) AS n_markup_chars
    FROM s
""".replace("__PRE__", _HTML_PRE).replace("__MID__", _HTML_MID) \
   .replace("__SCRIPT__", _HTML_SCRIPT.replace("'", "''")) \
   .replace("__POST__", _HTML_POST.replace("'", "''"))


def quality_gate_ablation(spark: SparkSession, sf: str) -> DataFrame:
    """Gate ABLATION report over the C72 pipeline's six gates: for
    each gate, how many (non-benchmark) docs fail it when evaluated
    INDEPENDENTLY, and how many fail ONLY it — the marginal value
    that tells you which gates earn their compute and which are
    redundant with the rest of the stack.  (C72 reports the ordered
    first-failing verdict; this evaluates every gate on every doc.)

    Consumes the same SESSION-MEMOIZED per-doc signal frame as C72
    (_gate_signals) — the signals are deterministic md5/integer-LM
    functions of the corpus, so the share cannot change values (both
    keys re-verified against their unchanged oracles), and it removes
    the full second gate recomputation this query used to pay (12.3 s
    of the r10 sweep; the oracle is still derived from C72's verified
    oracle by swapping only the final SELECT).  Scale shape: C72's
    gate passes amortized once per session, plus one 6-way explode of
    a per-doc struct and a 6-row aggregate."""
    out = _gate_signals(spark, sf).filter(F.col("doc_id") % 97 != 0)
    b = lambda c: c.cast("int")
    flags = out.select(
        "doc_id",
        b(F.coalesce("_rep_keep", F.lit(0)) == 0).alias("f_repetition"),
        b(F.col("_ent").isNull() | (F.col("_ent") < 1.0)).alias("f_entropy"),
        b(~F.coalesce("_blk_keep", F.lit(True))).alias("f_blocklist"),
        b(F.coalesce(F.col("_ppl") == "tail", F.lit(False)))
        .alias("f_perplexity"),
        b(F.coalesce("_hits", F.lit(0)) > 0).alias("f_contaminated"),
        b(F.col("_keep_id") != F.col("doc_id")).alias("f_exact_dup"))
    gates = ["repetition", "entropy", "blocklist", "perplexity",
             "contaminated", "exact_dup"]
    nf = sum(F.col(f"f_{g}") for g in gates)
    ex = flags.select(
        nf.alias("_nf"),
        F.explode(F.array(*[
            F.struct(F.lit(g).alias("_g"),
                     F.col(f"f_{g}").alias("_f")) for g in gates]))
        .alias("_e"))
    return (ex.groupBy(F.col("_e._g").alias("gate"))
            .agg(F.sum("_e._f").cast("long").alias("n_fail"),
                 F.sum(((F.col("_e._f") == 1) & (F.col("_nf") == 1))
                       .cast("long")).cast("long")
                 .alias("n_unique_fail")))


QUERIES["quality_gate_ablation"] = quality_gate_ablation


def _ablation_oracle() -> str:
    """C72's verified oracle with ONLY the final SELECT swapped: the
    gate CTEs are byte-identical, so this oracle inherits the
    pipeline oracle's verification surface."""
    qp = ORACLES["corpus_quality_pipeline"]
    ctes = qp[:qp.rindex("SELECT dd.doc_id,")]
    return ctes + """SELECT gate,
           CAST(SUM(f) AS BIGINT) AS n_fail,
           CAST(SUM(CASE WHEN f = 1 AND nf = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unique_fail
    FROM (
      SELECT u.gate, u.f,
             f_repetition + f_entropy + f_blocklist + f_perplexity
               + f_contaminated + f_exact_dup AS nf
      FROM (
        SELECT dd.doc_id,
               CASE WHEN COALESCE(rep_keep, 0) = 0 THEN 1 ELSE 0 END
                 AS f_repetition,
               CASE WHEN ent IS NULL OR ent < 1.0 THEN 1 ELSE 0 END
                 AS f_entropy,
               CASE WHEN NOT COALESCE(bkeep, TRUE) THEN 1 ELSE 0 END
                 AS f_blocklist,
               CASE WHEN (CASE WHEN lm.n_bigrams = 0 THEN 'unscored'
                               WHEN lm.avg_logprob >= b[2] THEN 'head'
                               WHEN lm.avg_logprob >= b[1] THEN 'middle'
                               ELSE 'tail' END) = 'tail'
                    THEN 1 ELSE 0 END AS f_perplexity,
               CASE WHEN COALESCE(hits, 0) > 0 THEN 1 ELSE 0 END
                 AS f_contaminated,
               CASE WHEN keep_id <> dd.doc_id THEN 1 ELSE 0 END
                 AS f_exact_dup
        FROM documents dd
        LEFT JOIN grep USING (doc_id)
        LEFT JOIN eent USING (doc_id)
        LEFT JOIN blk USING (doc_id)
        LEFT JOIN lm USING (doc_id)
        LEFT JOIN chit USING (doc_id)
        LEFT JOIN ddoc USING (doc_id), th
        WHERE dd.doc_id % 97 <> 0
      ) fl, UNNEST([
        {'gate': 'repetition',   'f': fl.f_repetition},
        {'gate': 'entropy',      'f': fl.f_entropy},
        {'gate': 'blocklist',    'f': fl.f_blocklist},
        {'gate': 'perplexity',   'f': fl.f_perplexity},
        {'gate': 'contaminated', 'f': fl.f_contaminated},
        {'gate': 'exact_dup',    'f': fl.f_exact_dup}]) AS t(u)
    ) GROUP BY gate
    """


ORACLES["quality_gate_ablation"] = _ablation_oracle


# ---------------------------------------------------------------- r8b


def chunk_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-granular exact-duplicate report (C.chunk_dup_report):
    non-overlapping 12-token chunks, a chunk instance is duplicated
    when its md5 appears ≥2 times corpus-wide; per doc the chunk
    count, duplicated count and exact-ppm duplicated fraction — the
    boilerplate signal (shared headers/licenses) that doc-level
    exact dedup never sees.  Empty docs emit no chunks (doc_chunk
    contract) and are absent."""
    docs = load(spark, sf, "documents")["documents"]
    return C.chunk_dup_report(docs, "doc_id", "text", chunk=12)


QUERIES["chunk_dedup"] = chunk_dedup

ORACLES["chunk_dedup"] = f"""
    WITH ws AS (
      SELECT doc_id, {_WORDS} AS words FROM documents
    ), ch AS (
      SELECT doc_id,
             md5(array_to_string(words[i * 12 + 1 : i * 12 + 12], ' '))
               AS h
      FROM ws, UNNEST(range(0, ((len(words) - 1) // 12) + 1)) AS t(i)
      WHERE len(words) > 0
    ), cnt AS (
      SELECT h, COUNT(*) AS c FROM ch GROUP BY h
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 1000000
                  // COUNT(*) AS BIGINT) AS dup_e6
    FROM ch JOIN cnt USING (h)
    GROUP BY doc_id
"""


def release_token_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-level drift between two releases: the Jensen-Shannon
    divergence of the old vs new unigram distributions in exact
    integer micro-nats — the release-QA twin of release_diff (which
    counts CHANGED DOCS; this measures how much the LANGUAGE moved —
    a tiny js over many changed docs is formatting churn; a large js
    over few docs is a content-mix shift worth a retrain decision).
    Reuses the source_divergence_matrix kernel with the two releases
    tagged as the 'source' axis; the simulated next release follows
    release_diff's deterministic law (drop %17, edit %13 with ' v2',
    re-add %19 under new ids)."""
    docs = load(spark, sf, "documents")["documents"]
    new_base = docs.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"))
    added = docs.filter(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    tagged = (docs.select("doc_id", "text", F.lit("old").alias("rel"))
              .unionByName(new_base.unionByName(added)
                           .select("doc_id", "text",
                                   F.lit("new").alias("rel"))))
    out = T.source_divergence_matrix(tagged, "doc_id", "text", "rel")
    return out.select(F.col("source_a").alias("release_a"),
                      F.col("source_b").alias("release_b"),
                      "shared_words", "js_e6")


QUERIES["release_token_drift"] = release_token_drift

ORACLES["release_token_drift"] = f"""
    WITH rel AS (
      SELECT 'old' AS src, text FROM documents
      UNION ALL
      SELECT 'new' AS src,
             CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT 'new' AS src, text FROM documents WHERE doc_id % 19 = 0
    ), w AS (
      SELECT src, UNNEST({_WORDS}) AS wd FROM rel
    ), cnt AS (
      SELECT src, wd, COUNT(*) AS cnt FROM w GROUP BY src, wd
    ), tot AS (
      SELECT src, CAST(SUM(cnt) AS BIGINT) AS n_tok FROM cnt GROUP BY src
    ), sides AS (
      SELECT c.src, wd, cnt, n_tok FROM cnt c JOIN tot USING (src)
    ), pairwise AS (
      SELECT a.src AS source_a, b.src AS source_b,
             a.cnt AS ca, a.n_tok AS na, b.cnt AS cb, b.n_tok AS nb,
             (a.cnt::DOUBLE / a.n_tok::DOUBLE) AS p,
             (b.cnt::DOUBLE / b.n_tok::DOUBLE) AS q
      FROM sides a JOIN sides b USING (wd)
      WHERE a.src < b.src
    ), shared AS (
      SELECT source_a, source_b,
             COUNT(*) AS sw,
             CAST(SUM(CAST(FLOOR(500000.0 *
                 (p * LN(2.0 * p / (p + q)) + q * LN(2.0 * q / (p + q)))
                 + 0.5) AS BIGINT)) AS BIGINT) AS t_e6,
             CAST(SUM(ca) AS BIGINT) AS sa, CAST(SUM(cb) AS BIGINT) AS sb
      FROM pairwise GROUP BY source_a, source_b
    ), allpairs AS (
      SELECT a.src AS source_a, b.src AS source_b,
             a.n_tok AS na, b.n_tok AS nb
      FROM tot a JOIN tot b ON a.src < b.src
    )
    SELECT source_a AS release_a, source_b AS release_b,
           CAST(COALESCE(sw, 0) AS BIGINT) AS shared_words,
           CAST(COALESCE(t_e6, 0) + CAST(FLOOR(346573.59027997265 *
               (((na - COALESCE(sa, 0)) / na)
                + ((nb - COALESCE(sb, 0)) / nb)) + 0.5) AS BIGINT)
             AS BIGINT) AS js_e6
    FROM allpairs LEFT JOIN shared USING (source_a, source_b)
"""


def lang_id_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier evaluation of the lang_id heuristic against the
    labeled ``lang`` column: per labeled language, tp/fp/fn and
    precision/recall/F1 in exact integer ppm — the metric sheet you
    read before trusting the heuristic as a corpus filter (lang_audit
    C68 gives the raw confusion counts; this is the derived eval).
    One corpus scan (pure-Column predictor) + one (lang, pred)
    hash-agg; everything after is a languages-sized frame.  F1 is
    computed from the ppm integers (2·p·r DIV (p+r)) so both engines
    truncate identically; a never-predicted language reports
    precision 0, not NULL."""
    docs = load(spark, sf, "documents")["documents"]
    per = (docs.select("lang", T.lang_id(F.col("text")).alias("pred"))
           .groupBy("lang", "pred").agg(F.count("*").alias("n")))
    langs = per.select(F.col("lang")).distinct()
    tp = (per.filter(F.col("lang") == F.col("pred"))
          .select("lang", F.col("n").alias("tp")))
    fp = (per.filter(F.col("lang") != F.col("pred"))
          .groupBy(F.col("pred").alias("lang"))
          .agg(F.sum("n").alias("fp")))
    fn = (per.filter(F.col("lang") != F.col("pred"))
          .groupBy("lang").agg(F.sum("n").alias("fn")))
    j = (langs.join(tp, "lang", "left").join(fp, "lang", "left")
         .join(fn, "lang", "left")
         .select("lang",
                 F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
                 F.coalesce("fp", F.lit(0)).cast("long").alias("fp"),
                 F.coalesce("fn", F.lit(0)).cast("long").alias("fn")))
    prec = F.expr("CASE WHEN tp + fp = 0 THEN 0 "
                  "ELSE tp * 1000000 DIV (tp + fp) END")
    rec = F.expr("CASE WHEN tp + fn = 0 THEN 0 "
                 "ELSE tp * 1000000 DIV (tp + fn) END")
    out = j.select("lang", "tp", "fp", "fn",
                   prec.cast("long").alias("prec_e6"),
                   rec.cast("long").alias("rec_e6"))
    return out.select(
        "*",
        F.expr("CASE WHEN prec_e6 + rec_e6 = 0 THEN 0 "
               "ELSE 2 * prec_e6 * rec_e6 DIV (prec_e6 + rec_e6) END")
        .cast("long").alias("f1_e6"))


QUERIES["lang_id_eval"] = lang_id_eval

ORACLES["lang_id_eval"] = f"""
    WITH pred AS (
      SELECT lang,
             CASE
               WHEN {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['de'])}
                AND {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['es'])}
                AND {_sw_hits(_SW['en'])} >= {_sw_hits(_SW['fr'])} THEN 'en'
               WHEN {_sw_hits(_SW['de'])} >= {_sw_hits(_SW['es'])}
                AND {_sw_hits(_SW['de'])} >= {_sw_hits(_SW['fr'])} THEN 'de'
               WHEN {_sw_hits(_SW['es'])} >= {_sw_hits(_SW['fr'])} THEN 'es'
               ELSE 'fr'
             END AS p
      FROM documents
    ), per AS (
      SELECT lang, p, COUNT(*) AS n FROM pred GROUP BY lang, p
    ), base AS (
      SELECT l.lang,
             COALESCE(tp.tp, 0) AS tp,
             COALESCE(fp.fp, 0) AS fp,
             COALESCE(fn.fn, 0) AS fn
      FROM (SELECT DISTINCT lang FROM per) l
      LEFT JOIN (SELECT lang, n AS tp FROM per WHERE lang = p) tp
        USING (lang)
      LEFT JOIN (SELECT p AS lang, SUM(n) AS fp FROM per
                 WHERE lang <> p GROUP BY p) fp USING (lang)
      LEFT JOIN (SELECT lang, SUM(n) AS fn FROM per
                 WHERE lang <> p GROUP BY lang) fn USING (lang)
    ), m AS (
      SELECT lang, tp, fp, fn,
             CASE WHEN tp + fp = 0 THEN 0
                  ELSE tp * 1000000 // (tp + fp) END AS prec_e6,
             CASE WHEN tp + fn = 0 THEN 0
                  ELSE tp * 1000000 // (tp + fn) END AS rec_e6
      FROM base
    )
    SELECT lang, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(prec_e6 AS BIGINT) AS prec_e6,
           CAST(rec_e6 AS BIGINT) AS rec_e6,
           CAST(CASE WHEN prec_e6 + rec_e6 = 0 THEN 0
                     ELSE 2 * prec_e6 * rec_e6 // (prec_e6 + rec_e6)
                END AS BIGINT) AS f1_e6
    FROM m
"""


def quality_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Calibration curve of the heuristic quality score (C8) against
    a cheap proxy label (n_chars >= 300, the NB classifier's label):
    per score-decile bucket, doc count and proxy-positive rate in
    exact integer ppm — the monotonicity check you read before using
    the score as a corpus filter threshold (a well-calibrated score
    has pos_rate rising with bucket; a flat curve means the score is
    noise for this corpus).  One scan (pure-Column score) + one
    10-row hash-agg; bucket = min(floor(q·10), 9) on the SAME
    rounded double both engines already hash-agree on (C8)."""
    docs = load(spark, sf, "documents")["documents"]
    b = docs.select(
        F.least(F.floor(T.quality_score(F.col("text")) * 10),
                F.lit(9)).cast("long").alias("bucket"),
        (F.col("n_chars") >= 300).cast("long").alias("pos"))
    return (b.groupBy("bucket")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("pos").cast("long").alias("n_pos"))
            .select("bucket", "n_docs", "n_pos",
                    F.expr("n_pos * 1000000 DIV n_docs")
                    .cast("long").alias("pos_rate_e6")))


QUERIES["quality_calibration"] = quality_calibration

ORACLES["quality_calibration"] = f"""
    WITH q AS (
      SELECT ROUND(
               0.5 * LEAST(n_words / 64.0, 1.0)
             + 0.25 * LEAST(sw / GREATEST(n_words, 1.0) * 4, 1.0)
             + 0.25 * (1 - LEAST(punct / GREATEST(n_chars_d, 1.0) * 4,
                                 1.0)), 4) AS q,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS pos
      FROM (
        SELECT doc_id, n_chars,
               CAST(len({_WORDS}) AS DOUBLE) AS n_words,
               CAST(length(text) AS DOUBLE) AS n_chars_d,
               CAST(len(regexp_extract_all(text, '[^\\w\\s]'))
                 AS DOUBLE) AS punct,
               CAST({_sw_hits(_SW['en'])} AS DOUBLE) AS sw
        FROM documents
      )
    )
    SELECT CAST(LEAST(FLOOR(q * 10), 9) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_e6
    FROM q GROUP BY 1
"""


def release_quality_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-COMPOSITION drift between releases: per score-decile
    bucket (C128's law on C8's rounded score), old- vs new-release
    doc counts, each release's bucket share in exact integer ppm, and
    the share delta — the release gate that catches a quality-mix
    regression (e.g. a scraper change flooding low buckets) that
    release_diff's changed-doc count and release_token_drift's
    vocabulary JSD both miss.  The simulated next release follows
    release_diff's deterministic law (drop %17, edit %13 with ' v2',
    re-add %19 under new ids).

    Scale shape: one scan per release side (pure-Column score) + a
    10-row hash-agg + a broadcast one-row totals join — nothing
    grows beyond the bucket count."""
    docs = load(spark, sf, "documents")["documents"]
    new_rel = docs.filter(F.col("doc_id") % 17 != 0).select(
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text")).unionByName(
        docs.filter(F.col("doc_id") % 19 == 0).select("text"))
    bucket = F.least(F.floor(T.quality_score(F.col("text")) * 10),
                     F.lit(9)).cast("long").alias("bucket")
    tagged = (docs.select(bucket, F.lit(1).alias("is_old"),
                          F.lit(0).alias("is_new"))
              .unionByName(new_rel.select(bucket, F.lit(0).alias("is_old"),
                                          F.lit(1).alias("is_new"))))
    per = tagged.groupBy("bucket").agg(
        F.sum("is_old").cast("long").alias("n_old"),
        F.sum("is_new").cast("long").alias("n_new"))
    totals = per.agg(F.sum("n_old").alias("_to"),
                     F.sum("n_new").alias("_tn"))
    return (per.crossJoin(F.broadcast(totals))
            .select("bucket", "n_old", "n_new",
                    F.expr("n_old * 1000000 DIV _to").cast("long")
                    .alias("share_old_e6"),
                    F.expr("n_new * 1000000 DIV _tn").cast("long")
                    .alias("share_new_e6"),
                    (F.expr("n_new * 1000000 DIV _tn")
                     - F.expr("n_old * 1000000 DIV _to")).cast("long")
                    .alias("delta_e6")))


QUERIES["release_quality_drift"] = release_quality_drift

ORACLES["release_quality_drift"] = f"""
    WITH rel AS (
      SELECT 1 AS is_old, 0 AS is_new, text FROM documents
      UNION ALL
      SELECT 0, 1,
             CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT 0, 1, text FROM documents WHERE doc_id % 19 = 0
    ), q AS (
      SELECT is_old, is_new,
             LEAST(FLOOR(ROUND(
               0.5 * LEAST(n_words / 64.0, 1.0)
             + 0.25 * LEAST(sw / GREATEST(n_words, 1.0) * 4, 1.0)
             + 0.25 * (1 - LEAST(punct / GREATEST(n_chars_d, 1.0) * 4,
                                 1.0)), 4) * 10), 9) AS bucket
      FROM (
        SELECT is_old, is_new,
               CAST(len({_WORDS}) AS DOUBLE) AS n_words,
               CAST(length(text) AS DOUBLE) AS n_chars_d,
               CAST(len(regexp_extract_all(text, '[^\\w\\s]'))
                 AS DOUBLE) AS punct,
               CAST({_sw_hits(_SW['en'])} AS DOUBLE) AS sw
        FROM rel
      )
    ), per AS (
      SELECT CAST(bucket AS BIGINT) AS bucket,
             CAST(SUM(is_old) AS BIGINT) AS n_old,
             CAST(SUM(is_new) AS BIGINT) AS n_new
      FROM q GROUP BY 1
    ), tot AS (
      SELECT SUM(n_old) AS t_old, SUM(n_new) AS t_new FROM per
    )
    SELECT bucket, n_old, n_new,
           CAST(n_old * 1000000 // t_old AS BIGINT) AS share_old_e6,
           CAST(n_new * 1000000 // t_new AS BIGINT) AS share_new_e6,
           CAST(n_new * 1000000 // t_new - n_old * 1000000 // t_old
                AS BIGINT) AS delta_e6
    FROM per, tot
"""


def multimodal_frame_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-level near-duplicate report over REAL decoded frame
    streams (M.frame_dhash): each document becomes a concatenated P6
    stream of 2 + doc_id%4 quad-textured 9x8 frames whose seed law
    (doc_id + j) % 3 plants repeated frames (the static-scene
    analog); per stream, frame count vs distinct perceptual dHashes —
    the dedup that collapses loops/stills before frames reach a
    vision encoder.  The whole decode→resize→hash path is verified:
    the oracle recomputes every frame's 63-bit hash in closed form
    from the (seed, index) pixel law (w=9/h=8 makes the floor resize
    the identity map, so the SQL stays readable)."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id", (F.lit(2) + F.col("doc_id") % 4).cast("int").alias("nf"))
    blobs = M.encode_ppm_stream_quad(spec, "doc_id", "nf",
                                     width=9, height=8, seed_mod=3)
    fh = M.frame_dhash(blobs)
    return (fh.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_frames"),
                 F.countDistinct("dhash").cast("long").alias("n_distinct"))
            .select("doc_id", "n_frames", "n_distinct",
                    (F.col("n_frames") - F.col("n_distinct"))
                    .cast("long").alias("n_dup_frames")))


QUERIES["multimodal_frame_dedup"] = multimodal_frame_dedup

ORACLES["multimodal_frame_dedup"] = """
    WITH f AS (
      SELECT doc_id, j, (doc_id + j) % 3 AS seed
      FROM documents, (SELECT UNNEST(range(0, 6)) AS j)
      WHERE j < 2 + doc_id % 4
    ), idx AS (
      -- w=9, h=8, grid=8: resize is identity, pixel (r,c) sits at
      -- flat index r*9+c; bit k compares columns k%8 and k%8+1 of
      -- row k//8 under the quad law ((i+seed)^2) % 256
      SELECT doc_id, j, k,
             (k // 8) * 9 + (k % 8) + seed AS a
      FROM f, UNNEST(range(0, 63)) AS t(k)
    ), hashed AS (
      SELECT doc_id, j,
             CAST(SUM(CASE WHEN (a * a) % 256 > ((a + 1) * (a + 1)) % 256
                           THEN (CAST(1 AS BIGINT) << k)
                           ELSE 0 END) AS BIGINT) AS dhash
      FROM idx GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(DISTINCT dhash) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT dhash) AS BIGINT)
             AS n_dup_frames
    FROM hashed GROUP BY doc_id
"""


def cosine_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space dedup threshold curve
    (S.cosine_threshold_sweep): pairs + touched vectors per cosine
    threshold from ONE LSH-banded scored pass — the semantic twin of
    dedup_threshold_sweep (C122), read before committing a
    corpus-wide SemDeDup threshold."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    # the lowest sweep threshold (0.3) IS the corpus-standard mine
    # dedup_embedding_cosine returns — ride the session memo instead
    # of re-running the banded join + exact verify (guide §2.4)
    return S.cosine_threshold_sweep(emb, "vec_id", "embedding",
                                    base=_cos_pairs_lsh(spark, sf),
                                    base_threshold=_COS_PAIRS_THRESHOLD)


QUERIES["cosine_threshold_sweep"] = cosine_threshold_sweep


def _cosine_sweep_oracle() -> str:
    pairs = _c12_oracle(threshold=0.3)
    return f"""
    WITH pairs AS ({pairs}),
    th AS (
      SELECT * FROM (VALUES (3000), (5000), (7000), (8000), (9000),
                            (9500)) t(threshold_e4)
    ), hits AS (
      SELECT threshold_e4, id_a, id_b FROM pairs JOIN th
        ON cos > threshold_e4 / 10000.0
    ), np AS (
      SELECT threshold_e4, COUNT(*) AS n_pairs FROM hits
      GROUP BY threshold_e4
    ), nd AS (
      SELECT threshold_e4, COUNT(*) AS n_docs FROM (
        SELECT DISTINCT threshold_e4, d FROM (
          SELECT threshold_e4, id_a AS d FROM hits
          UNION ALL
          SELECT threshold_e4, id_b AS d FROM hits))
      GROUP BY threshold_e4
    )
    SELECT CAST(th.threshold_e4 AS BIGINT) AS threshold_e4,
           CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
    FROM th LEFT JOIN np USING (threshold_e4)
    LEFT JOIN nd USING (threshold_e4)
    """


ORACLES["cosine_threshold_sweep"] = _cosine_sweep_oracle


# -- round 9 additions (C135-C138) -----------------------------------

def boilerplate_strip(spark: SparkSession, sf: str) -> DataFrame:
    """SOURCE-relative boilerplate-line report (T.boilerplate_by_
    source) — the CCNet/domain-level cleanup that line_dedup's global
    min_df rule can't express: a footer repeated across 4% of ONE
    source's docs is boilerplate even if corpus-wide it is rare.
    Docs reshaped into deterministic 10-word lines (the line_dedup
    reshaping); rule boiler(line, src) iff df·1e6 >= 40000·n_docs(src)
    AND df >= 2, all integers.  Scan-stage line explode keyed by md5,
    one per-(source, line) hash-agg, sources-sized broadcast — linear
    in lines at any corpus size."""
    docs = load(spark, sf, "documents")["documents"]
    w = F.split(F.trim(F.col("text")), r"\s+")
    n_lines = F.greatest(F.ceil(F.size(w) / 10.0).cast("int"), F.lit(1))
    reshaped = docs.select(
        "doc_id", "source",
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_lines - 1),
                        lambda i: F.array_join(
                            F.slice(w, i * 10 + 1, 10), " ")),
            "\n").alias("text"))
    return T.boilerplate_by_source(reshaped, "doc_id", "text", "source",
                                   ratio_e6=40_000, min_df=2)


QUERIES["boilerplate_strip"] = boilerplate_strip

ORACLES["boilerplate_strip"] = f"""
    WITH d AS (
      SELECT doc_id, source, {_WORDS} AS words FROM documents
    ), resh AS (
      SELECT doc_id, source, list_transform(
        range(0, greatest(CAST(ceil(len(words) / 10.0) AS INT), 1)),
        i -> array_to_string(words[i*10+1:i*10+10], ' ')) AS lines
      FROM d
    ), ln AS (
      SELECT doc_id, source, md5(line) AS h
      FROM resh, UNNEST(lines) AS t(line) WHERE line <> ''
    ), dfc AS (
      SELECT source, h, COUNT(DISTINCT doc_id) AS df
      FROM ln GROUP BY source, h
    ), nsrc AS (
      SELECT source, COUNT(*) AS n FROM d GROUP BY source
    ), boiler AS (
      SELECT source, h FROM dfc JOIN nsrc USING (source)
      WHERE df * 1000000 >= 40000 * n AND df >= 2
    ), per_doc AS (
      SELECT l.doc_id, COUNT(*) AS n_lines,
             SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
      FROM ln l LEFT JOIN boiler b USING (source, h)
      GROUP BY l.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
           CAST(CASE WHEN COALESCE(p.n_lines, 0) = 0 THEN 1000000
                ELSE (p.n_lines - p.n_boiler) * 1000000 // p.n_lines
                END AS BIGINT) AS keep_ratio_e6
    FROM d LEFT JOIN per_doc p USING (doc_id)
"""


def logreg_quality_train(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed logistic regression (T.logreg_train): 8 rounds of
    full-batch quantized-gradient descent where each round is ONE
    map-side-combined aggregation (gradient contributions integerized
    to micro-units, so the reduce is an exact integer sum and the
    whole training trajectory replays bit-identically in SQL — the
    QSGD/1-bit-SGD gradient-compression idea used for determinism
    instead of bandwidth).  Features are the quality_score family
    (bias, length, punctuation, distinct-ratio); weak label
    lang = 'en'.  Output: the four learned weights plus the exact
    z >= 0 training accuracy.  Scale: each iteration is a single scan
    + 4-long aggregate, model state is 4 doubles broadcast as
    literals — the linear-classifier trainer at any corpus size."""
    docs = load(spark, sf, "documents")["documents"]
    ws, n, acc_e6 = T.logreg_train(docs, "doc_id", "text",
                                   F.col("lang") == "en")
    rows = [("bias", ws[0]), ("x_len", ws[1]), ("x_punct", ws[2]),
            ("x_distinct", ws[3]), ("_train_acc", acc_e6 / 1e6)]
    return spark.createDataFrame(rows, "feature string, weight double")


QUERIES["logreg_quality_train"] = logreg_quality_train


def _logreg_oracle() -> str:
    z = "(((a*x0 + b*x1) + c*x2) + e*x3)"
    grad = ", ".join(
        f"SUM(FLOOR(1e6 * (1/(1 + EXP(-{z})) - y) * x{k} + 0.5)) AS g{k}"
        for k in range(4))
    ctes = ["w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c, 0.0 AS e)"]
    for i in range(1, 9):
        ctes.append(f"g{i} AS (SELECT {grad} FROM d, w{i - 1})")
        ctes.append(
            f"w{i} AS (SELECT a - (1.0*g0)/(1e6*n) AS a, "
            f"b - (1.0*g1)/(1e6*n) AS b, c - (1.0*g2)/(1e6*n) AS c, "
            f"e - (1.0*g3)/(1e6*n) AS e FROM w{i - 1}, g{i}, n)")
    return f"""
    WITH d AS (
      SELECT 1.0 AS x0,
             LEAST(len(ws) / 64.0, 1.0) AS x1,
             LEAST(punct / GREATEST(chars, 1.0) * 4, 1.0) AS x2,
             len(list_distinct(ws))
               / GREATEST(CAST(len(ws) AS DOUBLE), 1.0) AS x3,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM (SELECT lang, {{words}} AS ws,
                   CAST(length(text) AS DOUBLE) AS chars,
                   CAST(len(regexp_extract_all(text, '[^\\w\\s]'))
                        AS DOUBLE) AS punct
            FROM documents)
    ), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                    COUNT(*) AS n_int FROM d),
    {', '.join(ctes)},
    acc AS (
      SELECT SUM(CASE WHEN ({z} >= 0) = (y = 1.0)
                 THEN 1 ELSE 0 END) AS hits
      FROM d, w8
    )
    SELECT 'bias' AS feature, a AS weight FROM w8
    UNION ALL SELECT 'x_len', b FROM w8
    UNION ALL SELECT 'x_punct', c FROM w8
    UNION ALL SELECT 'x_distinct', e FROM w8
    UNION ALL SELECT '_train_acc',
      CAST(hits * 1000000 // n_int AS DOUBLE) / 1e6 FROM acc, n
    """.replace("{words}", _WORDS)


ORACLES["logreg_quality_train"] = _logreg_oracle()


def video_shot_boundaries(spark: SparkSession, sf: str) -> DataFrame:
    """Shot-boundary (cut) detection over REAL decoded frame streams:
    each document becomes a 9x8 quad-textured P6 stream of
    4 + doc_id%5 frames with shot_len=2 (M.encode_ppm_stream_quad's
    seed held for 2 consecutive frames — the static-shot analog);
    boundaries are frames whose perceptual dHash differs from the
    previous frame's.  The detection signal is the SAME frame_dhash
    kernel C129 certifies, consumed through a per-stream lag — shots
    collapse to (n_frames, n_shots) per video, the sampling unit a
    frame pipeline keys on.  Per-doc window is bounded by the frame
    count (≤ 8), never corpus-wide; decode is Arrow-batched."""
    from pyspark.sql import Window
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id", (F.lit(4) + F.col("doc_id") % 5).cast("int").alias("nf"))
    blobs = M.encode_ppm_stream_quad(spec, "doc_id", "nf",
                                     width=9, height=8, seed_mod=5,
                                     shot_len=2)
    fh = M.frame_dhash(blobs)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    b = fh.withColumn("_prev", F.lag("dhash").over(w))
    return (b.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_frames"),
                 (F.lit(1) + F.sum(
                     (F.col("_prev").isNotNull()
                      & (F.col("dhash") != F.col("_prev"))).cast("long")))
                 .cast("long").alias("n_shots")))


QUERIES["video_shot_boundaries"] = video_shot_boundaries

ORACLES["video_shot_boundaries"] = """
    WITH f AS (
      SELECT doc_id, j, (doc_id + j // 2) % 5 AS seed
      FROM documents, (SELECT UNNEST(range(0, 9)) AS j)
      WHERE j < 4 + doc_id % 5
    ), idx AS (
      -- w=9, h=8, grid=8: resize is identity; bit k compares columns
      -- k%8 and k%8+1 of row k//8 under the quad law ((i+seed)^2)%256
      SELECT doc_id, j, k,
             (k // 8) * 9 + (k % 8) + seed AS a
      FROM f, UNNEST(range(0, 63)) AS t(k)
    ), hashed AS (
      SELECT doc_id, j,
             CAST(SUM(CASE WHEN (a * a) % 256 > ((a + 1) * (a + 1)) % 256
                           THEN (CAST(1 AS BIGINT) << k)
                           ELSE 0 END) AS BIGINT) AS dhash
      FROM idx GROUP BY doc_id, j
    ), lagged AS (
      SELECT doc_id, dhash,
             LAG(dhash) OVER (PARTITION BY doc_id ORDER BY j) AS prev
      FROM hashed
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND dhash <> prev
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_shots
    FROM lagged GROUP BY doc_id
"""


def image_wht_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Frequency-domain perceptual image dedup (M.image_wht_hash):
    8x8 quad-textured P6 images with seed doc_id % 57, hashed by the
    sign pattern of their 2-D Walsh-Hadamard coefficients — the pHash
    family with an integer-exact transform, complementary to C71's
    spatial-gradient dHash.  Same-seed images collide exactly; keep
    the min doc_id per hash group.  The oracle recomputes all 63 sign
    bits per DISTINCT seed in closed form (57 seeds x 64 coefficients
    x 64 pixels) and joins docs on the seed — decode, identity
    resize, transform and packing all replayed."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id", F.lit(8).alias("w8"), F.lit(8).alias("h8"),
        (F.col("doc_id") % 57).cast("int").alias("seed"))
    blobs = M.encode_ppm_quad(spec, "doc_id", "w8", "h8", "seed")
    hashed = M.image_wht_hash(blobs)
    from pyspark.sql import Window
    w = Window.partitionBy("wht_hash")
    return hashed.select(
        "doc_id", "wht_hash",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep"))


QUERIES["image_wht_dedup"] = image_wht_dedup

ORACLES["image_wht_dedup"] = """
    WITH seeds AS (
      SELECT DISTINCT doc_id % 57 AS seed FROM documents
    ), coef AS (
      -- WHT(u,v) = sum_{r,c} pix(r,c) * (-1)^(pc(r&u)+pc(c&v)),
      -- pix from the quad law ((r*8+c+seed)^2) % 256 (8x8: identity
      -- resize, flat index r*8+c)
      SELECT seed, u, v,
             SUM(((r * 8 + c + seed) * (r * 8 + c + seed)) % 256
                 * CASE WHEN (bit_count(CAST(r AS BIGINT) & u)
                              + bit_count(CAST(c AS BIGINT) & v)) % 2 = 0
                        THEN 1 ELSE -1 END) AS x
      FROM seeds,
           UNNEST(range(0, 8)) t1(u), UNNEST(range(0, 8)) t2(v),
           UNNEST(range(0, 8)) t3(r), UNNEST(range(0, 8)) t4(c)
      GROUP BY seed, u, v
    ), hashes AS (
      SELECT seed,
             CAST(SUM(CASE WHEN x > 0
                           THEN CAST(1 AS BIGINT) << (u * 8 + v - 1)
                           ELSE 0 END) AS BIGINT) AS wht_hash
      FROM coef WHERE u * 8 + v >= 1 GROUP BY seed
    )
    SELECT d.doc_id, h.wht_hash,
           d.doc_id = MIN(d.doc_id) OVER (PARTITION BY h.wht_hash) AS keep
    FROM documents d JOIN hashes h ON d.doc_id % 57 = h.seed
"""


def weighted_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Multiset (weighted) Jaccard refinement of the certified
    candidate pair set (D.weighted_jaccard_pairs): exact integer
    wj_e6 = Σmin·1e6 DIV Σmax on word-count vectors for every pair
    ngram_jaccard_pairs (C4) reports — the repeat-rate-aware score
    Broder set resemblance saturates on.  Candidates never re-mined;
    word counts one hash-agg reused by both join sides."""
    docs = load(spark, sf, "documents")["documents"]
    return D.weighted_jaccard_pairs(docs, "doc_id", "text", n=3,
                                    threshold=0.05, max_df=50,
                                    pair_counts=_pair_counts(spark, docs,
                                                             sf))


QUERIES["weighted_jaccard_pairs"] = weighted_jaccard_pairs

ORACLES["weighted_jaccard_pairs"] = f"""
    WITH pairs AS (
      SELECT id_a, id_b FROM ({ORACLES["ngram_jaccard_pairs"]})
    ), wc AS (
      SELECT doc_id AS doc, w, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST({_WORDS}) AS w FROM documents)
      GROUP BY doc, w
    ), tots AS (
      SELECT doc, SUM(c) AS tot FROM wc GROUP BY doc
    ), smin AS (
      SELECT p.id_a, p.id_b, SUM(LEAST(a.c, b.c)) AS smin
      FROM pairs p
      JOIN wc a ON a.doc = p.id_a
      JOIN wc b ON b.doc = p.id_b AND b.w = a.w
      GROUP BY p.id_a, p.id_b
    )
    SELECT p.id_a, p.id_b,
           CAST(COALESCE(s.smin, 0) * 1000000
                // (ta.tot + tb.tot - COALESCE(s.smin, 0)) AS BIGINT)
             AS wj_e6
    FROM pairs p
    LEFT JOIN smin s USING (id_a, id_b)
    JOIN tots ta ON ta.doc = p.id_a
    JOIN tots tb ON tb.doc = p.id_b
"""


def doc_lang_confidence(spark: SparkSession, sf: str) -> DataFrame:
    """lang_id plus its abstention signal (T.lang_confidence): winning
    language, top stopword vote count, and the exact integer margin
    over the runner-up — margin 0 marks ties the fixed order broke.
    Pure scan-stage Columns, zero shuffle at any scale."""
    docs = load(spark, sf, "documents")["documents"]
    return T.lang_confidence(docs, "doc_id", "text")


QUERIES["doc_lang_confidence"] = doc_lang_confidence

ORACLES["doc_lang_confidence"] = f"""
    WITH v AS (
      SELECT doc_id,
             CAST({_sw_hits(_SW['en'])} AS BIGINT) AS s_en,
             CAST({_sw_hits(_SW['de'])} AS BIGINT) AS s_de,
             CAST({_sw_hits(_SW['es'])} AS BIGINT) AS s_es,
             CAST({_sw_hits(_SW['fr'])} AS BIGINT) AS s_fr
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr'
           END AS lang,
           list_sort([s_en, s_de, s_es, s_fr])[4] AS top_votes,
           list_sort([s_en, s_de, s_es, s_fr])[4]
             - list_sort([s_en, s_de, s_es, s_fr])[3] AS margin
    FROM v
"""


def dedup_savings_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-SAVINGS report for the production fuzzy-dedup
    pipeline: joins the session-memoized keep frame (C82's minhash →
    LSH → CC → keep-the-longest verdicts, certified) with whitespace
    token counts and aggregates what dedup actually buys per source —
    docs dropped, tokens dropped, exact savings_e6 — the number a
    data lead reads before paying for a corpus-wide dedup at 100 TB.
    One token scan + the memoized verdicts + a sources-sized agg."""
    docs = load(spark, sf, "documents")["documents"]
    keep = _keep_frame(spark, sf)
    toks = docs.select(
        "doc_id", "source",
        F.size(F.filter(F.split(F.col("text"), r"\s+"),
                        lambda w: w != "")).cast("long").alias("_tk"))
    j = toks.join(
        keep.select("doc_id",
                    (F.col("doc_id") == F.col("keep_id")).alias("_k")),
        "doc_id")
    return (j.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum((~F.col("_k")).cast("long")).cast("long")
                 .alias("n_dropped"),
                 F.sum("_tk").cast("long").alias("tokens_total"),
                 F.sum(F.when(F.col("_k"), F.col("_tk")).otherwise(0))
                 .cast("long").alias("tokens_kept"))
            .withColumn("savings_e6", F.expr(
                "(tokens_total - tokens_kept) * 1000000L "
                "DIV greatest(tokens_total, 1L)").cast("long")))


QUERIES["dedup_savings_report"] = dedup_savings_report

ORACLES["dedup_savings_report"] = f"""
    WITH keepf AS (
      SELECT doc_id, keep_id FROM ({_minhash_keep_oracle()})
    ), toks AS (
      SELECT doc_id, source, CAST(len({_WORDS}) AS BIGINT) AS tk
      FROM documents
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN k.keep_id <> t.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(t.tk) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN k.keep_id = t.doc_id THEN t.tk ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           CAST((SUM(t.tk) - SUM(CASE WHEN k.keep_id = t.doc_id
                                 THEN t.tk ELSE 0 END)) * 1000000
                // GREATEST(SUM(t.tk), 1) AS BIGINT) AS savings_e6
    FROM toks t JOIN keepf k USING (doc_id)
    GROUP BY t.source
"""


def char_ngram_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """textcat-style char-TRIGRAM language ID (Cavnar & Trenkle 1994
    n-gram profiles) — the classifier family real lang-ID tools
    (fastText/CLD) build on, complementary to C7's stopword votes:
    per labeled language, the top-20 char trigrams by corpus count
    (ties by trigram asc — exact deterministic profile); each doc
    votes |doc's trigram set ∩ profile(L)| and takes the argmax
    (ties → lang asc).  Returns (doc_id, pred_lang, votes, correct).
    Scale shape: one scan-stage trigram explode, a langs-sized
    profile agg broadcast back, one per-(doc, lang) count and a
    4-language-bounded argmax struct — linear in characters."""
    from pyspark.sql import Window
    docs = load(spark, sf, "documents")["documents"]
    # r14 (guide §4.1, §2.4): the trigram explode was one interpreted
    # substring lambda per character, it fed both the profile agg and
    # the per-doc distinct (computed twice per run), and the distinct
    # was a full exchange of the occurrence stream.  One Arrow map
    # emits per-doc DISTINCT grams with occurrence counts
    # (character-based slicing ≡ F.substring): corpus counts are
    # SUM(_n) ≡ COUNT(*) over occurrences, the per-doc vote rows are
    # already distinct, and the checkpoint materializes the one
    # kernel pass for both consumers.
    tri = (T.char_trigrams(docs, "doc_id", "text", "lang")
           .localCheckpoint(eager=False))
    # r15 (guide §3.1, verdict ask #6): the profile ranking shuffled
    # EVERY (lang, gram) count to |langs| window partitions, and the
    # per-doc argmax was a second row_number window over the votes.
    # The profile is parameter-bounded (|langs| × top-20 ≤ 80 rows),
    # so COLLECT it once (the ANN query-set precedent) and rebuild it
    # as a literal broadcast table; the argmax becomes a langs-bounded
    # conditional pivot + struct-min in the scan stage — votes desc,
    # plang asc is exactly min over struct(-votes, plang), and a doc
    # whose every pivot column is 0 had no votes row before, i.e.
    # 'unknown' (a 0-vote lang can never tie a >0 winner, so tie
    # semantics are unchanged).  The returned plan loses both windows
    # and the per-doc agg gains map-side partial aggregation.
    prof_rows = (tri.groupBy("lang", "g").agg(F.sum("_n").alias("c"))
                 .withColumn("rn", F.row_number().over(
                     Window.partitionBy("lang")
                     .orderBy(F.col("c").desc(), F.col("g"))))
                 .filter(F.col("rn") <= 20)
                 .select(F.col("lang").alias("plang"), "g")
                 .collect())
    langs = sorted({r["plang"] for r in prof_rows})
    base = docs.select("doc_id", "lang")
    if not prof_rows:      # degenerate corpus: nothing ever votes
        return base.select(
            "doc_id", F.lit("unknown").alias("pred_lang"),
            F.lit(0).cast("long").alias("votes"),
            (F.lit("unknown") == F.col("lang")).alias("correct"))
    prof = spark.createDataFrame([(r["plang"], r["g"])
                                  for r in prof_rows],
                                 "plang string, g string")
    hits = (tri.select("doc_id", "g").join(F.broadcast(prof), "g")
            .groupBy("doc_id")
            .agg(*[F.sum(F.when(F.col("plang") == L, 1).otherwise(0))
                   .alias(f"_v{i}") for i, L in enumerate(langs)]))
    best = F.array_min(F.array(*[
        F.struct((-F.col(f"_v{i}")).alias("nv"),
                 F.lit(L).alias("pl"),
                 F.col(f"_v{i}").alias("v"))
        for i, L in enumerate(langs)]))
    per_doc = hits.select(
        "doc_id",
        F.when(best["v"] > 0, best["pl"]).otherwise("unknown")
        .alias("plang"),
        F.when(best["v"] > 0, best["v"]).otherwise(0).alias("votes"))
    return (base.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("plang"), F.lit("unknown"))
                    .alias("pred_lang"),
                    F.coalesce(F.col("votes"), F.lit(0)).cast("long")
                    .alias("votes"),
                    (F.coalesce(F.col("plang"), F.lit("unknown"))
                     == F.col("lang")).alias("correct")))


QUERIES["char_ngram_lang_id"] = char_ngram_lang_id

ORACLES["char_ngram_lang_id"] = """
    WITH tri AS (
      SELECT doc_id, lang, substr(text, i, 3) AS g
      FROM documents,
           UNNEST(range(1, greatest(length(text) - 2, 1) + 1)) AS t(i)
      WHERE length(substr(text, i, 3)) = 3
    ), prof AS (
      SELECT lang AS plang, g FROM (
        SELECT lang, g, ROW_NUMBER() OVER (
          PARTITION BY lang ORDER BY COUNT(*) DESC, g) AS rn
        FROM tri GROUP BY lang, g
      ) WHERE rn <= 20
    ), dg AS (
      SELECT DISTINCT doc_id, g FROM tri
    ), votes AS (
      SELECT d.doc_id, p.plang, COUNT(*) AS votes
      FROM dg d JOIN prof p USING (g)
      GROUP BY d.doc_id, p.plang
    ), best AS (
      SELECT doc_id, plang, votes FROM (
        SELECT doc_id, plang, votes, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY votes DESC, plang) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT d.doc_id,
           COALESCE(b.plang, 'unknown') AS pred_lang,
           CAST(COALESCE(b.votes, 0) AS BIGINT) AS votes,
           COALESCE(b.plang, 'unknown') = d.lang AS correct
    FROM documents d LEFT JOIN best b USING (doc_id)
"""


def image_wht_near_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """NEAR-duplicate image pairs over the WHT perceptual hashes
    (D.hash_near_pairs on C138's fingerprints): banded hamming
    blocking with max_hamming = bands-1, so the pigeonhole guarantee
    makes the banded equi-join COMPLETE — the oracle is therefore the
    plain all-pairs hamming ≤ 7 over the closed-form per-seed hashes,
    and the driver verifies recall, not just precision (the C3
    simhash discipline applied to images).  Same-seed images sit at
    hamming 0; cross-seed survivors are the true near-texture pairs."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id", F.lit(8).alias("w8"), F.lit(8).alias("h8"),
        (F.col("doc_id") % 57).cast("int").alias("seed"))
    hashed = M.image_wht_hash(
        M.encode_ppm_quad(spec, "doc_id", "w8", "h8", "seed"))
    return D.hash_near_pairs(hashed, "doc_id", "wht_hash",
                             max_hamming=7, bands=8)


QUERIES["image_wht_near_pairs"] = image_wht_near_pairs

ORACLES["image_wht_near_pairs"] = """
    WITH seeds AS (
      SELECT DISTINCT doc_id % 57 AS seed FROM documents
    ), coef AS (
      SELECT seed, u, v,
             SUM(((r * 8 + c + seed) * (r * 8 + c + seed)) % 256
                 * CASE WHEN (bit_count(CAST(r AS BIGINT) & u)
                              + bit_count(CAST(c AS BIGINT) & v)) % 2 = 0
                        THEN 1 ELSE -1 END) AS x
      FROM seeds,
           UNNEST(range(0, 8)) t1(u), UNNEST(range(0, 8)) t2(v),
           UNNEST(range(0, 8)) t3(r), UNNEST(range(0, 8)) t4(c)
      GROUP BY seed, u, v
    ), hashes AS (
      SELECT seed,
             CAST(SUM(CASE WHEN x > 0
                           THEN CAST(1 AS BIGINT) << (u * 8 + v - 1)
                           ELSE 0 END) AS BIGINT) AS wht_hash
      FROM coef WHERE u * 8 + v >= 1 GROUP BY seed
    ), hd AS (
      SELECT d.doc_id, h.wht_hash
      FROM documents d JOIN hashes h ON d.doc_id % 57 = h.seed
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.wht_hash, b.wht_hash)) AS BIGINT)
             AS hamming
    FROM hd a JOIN hd b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.wht_hash, b.wht_hash)) <= 7
"""


def lm_heldout_eval(spark: SparkSession, sf: str) -> DataFrame:
    """HELD-OUT language-model evaluation — the eval half doc_lm_score
    (C36) deliberately skips (it scores the corpus under a model
    trained on ITSELF): train the Laplace bigram LM on doc_id % 7 != 0,
    score the held-out ~14% per source, with the unseen-transition law
    a held-out eval forces — p = (c+1)/(c_prev + V) where both counts
    may be 0 (prev unseen in train ⇒ p = 1/V).  Micro-nat
    integerization per distinct transition, exact integer per-source
    mean.  The number that tells you whether a source is DRIFTING from
    the corpus the model knows — per source: (n_docs, n_bigrams,
    mean_lp_e6)."""
    docs = load(spark, sf, "documents")["documents"]
    train = docs.filter(F.col("doc_id") % 7 != 0)
    test = docs.filter(F.col("doc_id") % 7 == 0)
    scored = T.lm_heldout_logprob(train, test, "doc_id", "text")
    per_doc = scored.join(test.select("doc_id", "source"), "doc_id")
    return (per_doc.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_bigrams").cast("long").alias("n_bigrams"),
                 F.expr("sum(logprob_e6) DIV greatest(sum(n_bigrams), 1L)")
                 .cast("long").alias("mean_lp_e6")))


QUERIES["lm_heldout_eval"] = lm_heldout_eval

ORACLES["lm_heldout_eval"] = f"""
    WITH tr AS (
      SELECT doc_id, i, words[i] AS prev, words[i + 1] AS wrd
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents
            WHERE doc_id % 7 <> 0),
           UNNEST(range(1, greatest(len(words), 1))) AS t(i)
      WHERE len(words) >= 2
    ), te AS (
      SELECT doc_id, i, words[i] AS prev, words[i + 1] AS wrd
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents
            WHERE doc_id % 7 = 0),
           UNNEST(range(1, greatest(len(words), 1))) AS t(i)
      WHERE len(words) >= 2
    ), cpw AS (
      SELECT prev, wrd, COUNT(*) AS cpw FROM tr GROUP BY prev, wrd
    ), cp AS (
      SELECT prev, SUM(cpw) AS cp FROM cpw GROUP BY prev
    ), vocab AS (
      SELECT COUNT(DISTINCT w) AS v
      FROM (SELECT UNNEST({_WORDS}) AS w FROM documents
            WHERE doc_id % 7 <> 0)
    ), te_tr AS (
      SELECT doc_id, prev, wrd, COUNT(*) AS cnt
      FROM te GROUP BY doc_id, prev, wrd
    ), lp AS (
      SELECT t.prev, t.wrd,
             CAST(FLOOR(1e6 * ln((COALESCE(c.cpw, 0) + 1)
                                 / (COALESCE(p.cp, 0) + v.v)) + 0.5)
                  AS BIGINT) AS lp_e6
      FROM (SELECT DISTINCT prev, wrd FROM te_tr) t
      LEFT JOIN cpw c USING (prev, wrd)
      LEFT JOIN cp p USING (prev)
      CROSS JOIN vocab v
    ), per_doc AS (
      SELECT t.doc_id,
             SUM(t.cnt * l.lp_e6) AS logprob_e6,
             SUM(t.cnt) AS n_bigrams
      FROM te_tr t JOIN lp l USING (prev, wrd)
      GROUP BY t.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(p.n_bigrams, 0)) AS BIGINT) AS n_bigrams,
           CAST(SUM(COALESCE(p.logprob_e6, 0))
                // GREATEST(SUM(COALESCE(p.n_bigrams, 0)), 1)
                AS BIGINT) AS mean_lp_e6
    FROM (SELECT doc_id, source FROM documents WHERE doc_id % 7 = 0) d
    LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.source
"""


def lm_backoff_score(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc trigram stupid-backoff scores on the held-out split
    (T.lm_stupid_backoff, Brants et al. 2007): train on doc_id%7 != 0,
    score the held-out docs — the longest-observed-context branch
    structure (trigram → α·bigram → α²·Laplace-OOV-floor) replayed
    branch-for-branch by the oracle's CASE.  The deeper-context twin
    of C36's smoothed bigram and C145's held-out eval."""
    docs = load(spark, sf, "documents")["documents"]
    train = docs.filter(F.col("doc_id") % 7 != 0)
    test = docs.filter(F.col("doc_id") % 7 == 0)
    return T.lm_stupid_backoff(train, test, "doc_id", "text")


QUERIES["lm_backoff_score"] = lm_backoff_score

ORACLES["lm_backoff_score"] = f"""
    WITH trw AS (
      SELECT doc_id, CAST(i AS BIGINT) AS p, words[i] AS w
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents
            WHERE doc_id % 7 <> 0),
           UNNEST(range(1, len(words) + 1)) AS t(i)
    ), trtri AS (
      SELECT doc_id, words[i] AS w1, words[i + 1] AS w2,
             words[i + 2] AS w3
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents
            WHERE doc_id % 7 <> 0),
           UNNEST(range(1, greatest(len(words) - 1, 1))) AS t(i)
      WHERE len(words) >= 3
    ), tetri AS (
      SELECT doc_id, words[i] AS w1, words[i + 1] AS w2,
             words[i + 2] AS w3
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents
            WHERE doc_id % 7 = 0),
           UNNEST(range(1, greatest(len(words) - 1, 1))) AS t(i)
      WHERE len(words) >= 3
    ), trbig AS (
      SELECT words[i] AS a, words[i + 1] AS b
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents
            WHERE doc_id % 7 <> 0),
           UNNEST(range(1, greatest(len(words), 1))) AS t(i)
      WHERE len(words) >= 2
    ), c3 AS (
      SELECT w1, w2, w3, COUNT(*) AS c3 FROM trtri GROUP BY w1, w2, w3
    ), c2 AS (
      SELECT a, b, COUNT(*) AS c2 FROM trbig GROUP BY a, b
    ), c1 AS (
      SELECT w, COUNT(*) AS c1 FROM trw GROUP BY w
    ), tot AS (
      SELECT COUNT(*) AS nn, COUNT(DISTINCT w) AS v FROM trw
    ), te_tr AS (
      SELECT doc_id, w1, w2, w3, COUNT(*) AS cnt
      FROM tetri GROUP BY doc_id, w1, w2, w3
    ), lp AS (
      SELECT t.w1, t.w2, t.w3,
             CAST(FLOOR(1e6 * ln(
               CASE WHEN COALESCE(g.c3, 0) > 0
                      THEN g.c3 / b12.c2
                    WHEN COALESCE(b23.c2, 0) > 0
                      THEN CAST(0.4 AS DOUBLE) * b23.c2 / u2.c1
                    ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                         * (COALESCE(u3.c1, 0) + 1)
                         / (tot.nn + tot.v)
               END) + 0.5) AS BIGINT) AS ls_e6
      FROM (SELECT DISTINCT w1, w2, w3 FROM te_tr) t
      LEFT JOIN c3 g USING (w1, w2, w3)
      LEFT JOIN c2 b12 ON b12.a = t.w1 AND b12.b = t.w2
      LEFT JOIN c2 b23 ON b23.a = t.w2 AND b23.b = t.w3
      LEFT JOIN c1 u2 ON u2.w = t.w2
      LEFT JOIN c1 u3 ON u3.w = t.w3
      CROSS JOIN tot
    ), per_doc AS (
      SELECT t.doc_id,
             SUM(t.cnt * l.ls_e6) AS logscore_e6,
             SUM(t.cnt) AS n_trigrams
      FROM te_tr t JOIN lp l USING (w1, w2, w3)
      GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           CAST(COALESCE(p.logscore_e6, 0) AS BIGINT) AS logscore_e6,
           CAST(COALESCE(p.logscore_e6, 0)
                // GREATEST(COALESCE(p.n_trigrams, 0), 1)
                AS BIGINT) AS mean_e6
    FROM (SELECT doc_id FROM documents WHERE doc_id % 7 = 0) d
    LEFT JOIN per_doc p USING (doc_id)
"""

# ---- URL curation (C148-C150) --------------------------------------

from goka_spark.functions import urls as U


def url_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization (C148, functions/urls.py) — the first
    dedup any crawl corpus runs: per doc a deterministic synthetic
    messy URL (uppercase hosts, default ports, utm_*/fbclid tracking
    params, fragments, trailing slashes; three consecutive doc_ids
    share one logical page) and its canonical form + host.  Pure
    scan-stage regex/array Columns — ZERO shuffle, zero UDF
    (plan-asserted) — and the oracle replays the identical RE2-safe
    chain in SQL, so the canonicalizer itself is engine-verified."""
    docs = load(spark, sf, "documents")["documents"]
    url = U.synthetic_url(F.col("doc_id"))
    return docs.select(
        "doc_id", url.alias("url"),
        U.canonical_url(url).alias("url_canonical"),
        U.canonical_host(url).alias("host"))


def url_domain_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain crawl dedup report (C149): docs per canonical host,
    distinct canonical URLs, and the URL-level duplicate count their
    difference implies — the table that decides which domains get
    content-hash dedup at all (a host whose URLs are already unique
    skips it).  One hash-agg over the scan-stage canonicalizer."""
    urls = url_normalize(spark, sf)
    return (urls.groupBy("host")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.countDistinct("url_canonical").cast("long")
                 .alias("n_unique"),
                 (F.count("*") - F.countDistinct("url_canonical"))
                 .cast("long").alias("n_dup")))


def host_cap_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap (C150) — the anti-domination rule
    every crawl mix applies (no single host may flood the corpus):
    keep at most 8 docs per canonical host, chosen by the
    deterministic (md5(doc_id), doc_id) order so the sample is
    reproducible and unbiased by doc_id locality.  One host-keyed
    row_number window (the B7 top-k-per-group shape — per-host state
    is the cap, never the host's full history... the sort is
    per-partition and hot hosts stay bounded by the window's
    partial-ordering spill, the standard cap shape at scale)."""
    from pyspark.sql import Window

    urls = url_normalize(spark, sf)
    w = Window.partitionBy("host").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (urls
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= 8)
            .select("doc_id", "host", "rk"))


QUERIES["url_normalize"] = url_normalize
QUERIES["url_domain_stats"] = url_domain_stats
QUERIES["host_cap_sample"] = host_cap_sample

_URL_CTE = f"""
    WITH u AS (
      SELECT doc_id, {U.SYNTH_URL_SQL} AS url
      FROM documents
    ), n AS (
      SELECT doc_id, url,
             {U.canon_sql('url')} AS url_canonical,
             {U.host_sql('url')} AS host
      FROM u
    )
"""

ORACLES["url_normalize"] = _URL_CTE + """
    SELECT doc_id, url, url_canonical, host FROM n
"""

ORACLES["url_domain_stats"] = _URL_CTE + """
    SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url_canonical) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT url_canonical) AS BIGINT)
             AS n_dup
    FROM n GROUP BY host
"""

ORACLES["host_cap_sample"] = _URL_CTE + """
    SELECT doc_id, host, rk FROM (
      SELECT doc_id, host,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS rk
      FROM n
    ) WHERE rk <= 8
"""


def dedup_url_keep(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-URL dedup KEEP list (C151) — the decision layer over
    C148: per canonical URL keep exactly one doc (lowest doc_id — the
    first-crawled convention) and emit a verdict for every doc, the
    same keep/drop contract as dedup_minhash_keep so downstream
    pipelines swap URL-level and content-level dedup freely.  One
    url_canonical-keyed row_number window — single exchange; at
    100 TB this is the cheap pre-filter that runs BEFORE any content
    hash (a third of a crawl disappears here)."""
    from pyspark.sql import Window

    urls = url_normalize(spark, sf)
    w = Window.partitionBy("url_canonical").orderBy("doc_id")
    return (urls
            .withColumn("keep", (F.row_number().over(w) == 1))
            .select("doc_id", "url_canonical", "keep"))


QUERIES["dedup_url_keep"] = dedup_url_keep

ORACLES["dedup_url_keep"] = _URL_CTE + """
    SELECT doc_id, url_canonical,
           ROW_NUMBER() OVER (PARTITION BY url_canonical
                              ORDER BY doc_id) = 1 AS keep
    FROM n
"""


def stickiness_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Sketched stickiness (C152) — the 100 TB face of B57: exact
    DAU (cheap) beside a trailing-30-day MAU estimated from the
    engine-portable HLL kernel (C75's md5 registers).  The scale
    design: ONE register agg per day (≤ m=256 integers), registers
    exploded onto the ≤30 days they influence and MAX-merged — per
    day the trailing-window state is 30·m integers regardless of
    user count, where B57's exact form shuffles every (user, day)
    pair.  Registers and the harmonic-sum estimate reproduce
    bit-identically in DuckDB, so unlike Spark's builtin sketch this
    approximate op is still hash-verified."""
    ev = load(spark, sf, "events")["events"]
    ev2 = ev.select(F.to_date("ts").alias("dt"), "user_id")
    days = ev2.select("dt").distinct()
    dau = (ev2.distinct().groupBy("dt")
           .agg(F.count("*").cast("long").alias("dau")))
    regs = D.hll_registers(ev2, ["dt"], "user_id")
    contrib = (regs.select(
        F.explode(F.sequence(F.col("dt"), F.date_add("dt", 29)))
        .alias("md"), "reg", "r")
        .join(days.select(F.col("dt").alias("md")), "md"))
    merged = contrib.groupBy("md", "reg").agg(F.max("r").alias("r"))
    mau = D.hll_estimate(merged, ["md"])
    return (dau.join(mau, dau["dt"] == mau["md"])
            .select(F.date_format("dt", "yyyy-MM-dd").alias("day"),
                    "dau", F.col("hll_est").alias("mau_hll")))


QUERIES["stickiness_hll"] = stickiness_hll

ORACLES["stickiness_hll"] = """
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (
      SELECT DISTINCT d FROM ud
    ), dau AS (
      SELECT d, COUNT(*) AS dau FROM ud GROUP BY d
    ), h AS (
      SELECT d, md5(CAST(user_id AS VARCHAR)) AS hx FROM ud
    ), rv AS (
      SELECT d,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) AS reg,
             CASE WHEN CAST(('0x' || substr(hx, 3, 12)) AS BIGINT) > 0
                  THEN 49 - length(bin(
                         CAST(('0x' || substr(hx, 3, 12)) AS BIGINT)))
                  ELSE 49 END AS val
      FROM h
    ), regs AS (
      SELECT d, reg, MAX(val) AS r FROM rv GROUP BY d, reg
    ), contrib AS (
      SELECT dd.d AS md, rg.reg, rg.r
      FROM regs rg JOIN days dd ON rg.d BETWEEN dd.d - 29 AND dd.d
    ), merged AS (
      SELECT md, reg, MAX(r) AS r FROM contrib GROUP BY md, reg
    ), per AS (
      SELECT md,
             CAST(SUM(CAST(1 AS BIGINT) << (49 - r))
                  + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 49)
                  AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 49 AS DOUBLE)
               AS s,
             CAST(256 - COUNT(*) AS DOUBLE) AS zeros
      FROM merged GROUP BY md
    ), est AS (
      SELECT md,
             CASE WHEN (0.7213 / (1 + 1.079/256)) * 256 * 256 / s
                       <= 2.5 * 256 AND zeros > 0
                  THEN ROUND(256.0 * ln(256.0 / zeros), 4)
                  ELSE ROUND((0.7213 / (1 + 1.079/256)) * 256 * 256 / s,
                             4)
             END AS mau_hll
      FROM per
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day,
           CAST(dau.dau AS BIGINT) AS dau, est.mau_hll
    FROM dau JOIN est ON est.md = dau.d
"""


def host_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-DOMAIN quality table (C153) — the crawl-prioritization
    join of the URL layer (C148's canonical host) with the certified
    C8 quality kernel: docs per host, mean quality (integerized at
    the kernel's native e4 rounding, mean as exact BIGINT DIV), and
    the low-quality count (< 0.5) — the table that decides which
    domains get re-crawled, capped, or dropped.  ONE scan computes
    both host and score (the host is doc_id-derived), one hash-agg;
    the oracle nests the certified quality SQL unchanged."""
    docs = load(spark, sf, "documents")["documents"]
    from goka_spark.functions import urls as _U

    host = _U.canonical_host(_U.synthetic_url(F.col("doc_id")))
    q_e4 = F.round(T.quality_score(F.col("text")) * 10000).cast("long")
    return (docs.select(host.alias("host"), q_e4.alias("_q"))
            .groupBy("host")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.expr("SUM(_q) DIV COUNT(*)").cast("long")
                 .alias("mean_q_e4"),
                 F.sum(F.when(F.col("_q") < 5000, 1).otherwise(0))
                 .cast("long").alias("n_low")))


QUERIES["host_quality_report"] = host_quality_report

ORACLES["host_quality_report"] = f"""
    WITH uu AS (
      SELECT doc_id, {U.SYNTH_URL_SQL} AS url FROM documents
    ), nn AS (
      SELECT doc_id, {U.host_sql('url')} AS host FROM uu
    ), qq AS (
      {ORACLES["doc_quality_score"]}
    ), jj AS (
      SELECT nn.host,
             CAST(ROUND(qq.quality * 10000) AS BIGINT) AS q_e4
      FROM nn JOIN qq USING (doc_id)
    )
    SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(q_e4) // COUNT(*) AS BIGINT) AS mean_q_e4,
           CAST(SUM(CASE WHEN q_e4 < 5000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low
    FROM jj GROUP BY host
"""


def dedup_funnel_report(spark: SparkSession, sf: str) -> DataFrame:
    """Staged dedup FUNNEL (C154) — how many docs survive each
    dedup stage, in the order a production pipeline runs them
    (cheapest first): raw → canonical-URL keep (C151) → exact
    content keep (md5, lowest doc_id) ON THE URL SURVIVORS.  The
    ordering matters: content dedup only pays for docs the URL
    stage could not collapse, which is exactly the cost argument
    for running the URL stage first.  Two window stages on
    different keys + three 1-row counts; survivors of each stage
    feed the next, so the numbers compose (monotone non-increasing,
    pinned by the oracle)."""
    from pyspark.sql import Window

    urls = url_normalize(spark, sf)
    docs = load(spark, sf, "documents")["documents"]
    wu = Window.partitionBy("url_canonical").orderBy("doc_id")
    url_keep = (urls.withColumn("_rn", F.row_number().over(wu))
                .filter(F.col("_rn") == 1).select("doc_id"))
    surv = docs.join(url_keep, "doc_id")
    wx = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    exact_keep = (surv.withColumn("_rn", F.row_number().over(wx))
                  .filter(F.col("_rn") == 1).select("doc_id"))
    raw_n = docs.agg(F.count("*").alias("n")) \
        .select(F.lit("raw").alias("stage"), F.col("n"))
    url_n = url_keep.agg(F.count("*").alias("n")) \
        .select(F.lit("url").alias("stage"), F.col("n"))
    ex_n = exact_keep.agg(F.count("*").alias("n")) \
        .select(F.lit("url+exact").alias("stage"), F.col("n"))
    return (raw_n.unionByName(url_n).unionByName(ex_n)
            .select("stage", F.col("n").cast("long").alias("n_docs")))


QUERIES["dedup_funnel_report"] = dedup_funnel_report

ORACLES["dedup_funnel_report"] = _URL_CTE + """
    , uk AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY url_canonical
                                          ORDER BY doc_id) AS rn
        FROM n) WHERE rn = 1
    ), ek AS (
      SELECT d.doc_id FROM (
        SELECT d.doc_id, ROW_NUMBER() OVER (PARTITION BY md5(d.text)
                                            ORDER BY d.doc_id) AS rn
        FROM documents d JOIN uk USING (doc_id)) d WHERE rn = 1
    )
    SELECT 'raw' AS stage,
           CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
    UNION ALL
    SELECT 'url', CAST(COUNT(*) AS BIGINT) FROM uk
    UNION ALL
    SELECT 'url+exact', CAST(COUNT(*) AS BIGINT) FROM ek
"""


def source_domain_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Domain DIVERSITY per source (C155) — is a source dominated by
    a handful of sites?  Inverse-Simpson effective domain count over
    each source's host distribution, in exact integers: with n_i
    docs on host i and N total, simpson_e6 = Σn_i²·1e6 DIV N² (the
    collision probability) and eff_domains_e2 = N²·100 DIV Σn_i²
    (the number of equally-loaded domains that would look like
    this).  The crawl-mix health number beside C149's per-host dup
    stats.  Two hash-aggs on the scan-stage host column."""
    docs = load(spark, sf, "documents")["documents"]
    from goka_spark.functions import urls as _U

    host = _U.canonical_host(_U.synthetic_url(F.col("doc_id")))
    per_host = (docs.select("source", host.alias("host"))
                .groupBy("source", "host")
                .agg(F.count("*").alias("n")))
    return (per_host.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_hosts"),
                 F.sum("n").alias("_N"),
                 F.sum(F.col("n") * F.col("n")).alias("_s2"))
            .select("source", "n_hosts",
                    F.col("_N").cast("long").alias("n_docs"),
                    F.expr("_s2 * 1000000L DIV (_N * _N)").cast("long")
                    .alias("simpson_e6"),
                    F.expr("_N * _N * 100L DIV _s2").cast("long")
                    .alias("eff_domains_e2")))


QUERIES["source_domain_diversity"] = source_domain_diversity

ORACLES["source_domain_diversity"] = f"""
    WITH uu AS (
      SELECT doc_id, source, {U.SYNTH_URL_SQL} AS url FROM documents
    ), nn AS (
      SELECT source, {U.host_sql('url')} AS host FROM uu
    ), ph AS (
      SELECT source, host, COUNT(*) AS n FROM nn GROUP BY source, host
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_hosts,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(n * n) * 1000000 // (SUM(n) * SUM(n)) AS BIGINT)
             AS simpson_e6,
           CAST(SUM(n) * SUM(n) * 100 // SUM(n * n) AS BIGINT)
             AS eff_domains_e2
    FROM ph GROUP BY source
"""


def token_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Token BURSTINESS (C156) — the variance-to-mean ratio of each
    top token's per-doc count (Church & Gale's burstiness): function
    words spread evenly (VMR ≈ 1, Poisson), content words clump
    (VMR ≫ 1) — the corpus-linguistics diagnostic behind stopword
    lists and keyword weighting.  Exact integers: over ALL N docs
    (absent docs count 0, which only the N in the formula sees),
    vmr_e6 = (N·Σc² − (Σc)²)·1e6 DIV (N·Σc).  Top-20 tokens by the
    deterministic (df DESC, token ASC) order; one postings hash-agg
    + a token-sized agg + a one-row broadcast N."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    tok = (docs.select("doc_id", F.explode(words).alias("w"))
           .groupBy("doc_id", "w").agg(F.count("*").alias("c")))
    stats = (tok.groupBy("w")
             .agg(F.count("*").alias("df"),
                  F.sum("c").alias("s"),
                  F.sum(F.col("c") * F.col("c")).alias("s2")))
    from pyspark.sql import Window as _W

    rk = _W.orderBy(F.desc("df"), F.asc("w"))
    top = (stats.withColumn("_rn", F.row_number().over(rk))
           .filter(F.col("_rn") <= 20))
    n_docs = docs.agg(F.count("*").alias("_N"))
    return (top.crossJoin(F.broadcast(n_docs))
            .select(F.col("w").alias("token"),
                    F.col("df").cast("long"),
                    F.col("s").cast("long").alias("occurrences"),
                    F.expr("(_N * s2 - s * s) * 1000000L DIV (_N * s)")
                    .cast("long").alias("vmr_e6")))


QUERIES["token_burstiness"] = token_burstiness

ORACLES["token_burstiness"] = f"""
    WITH tok AS (
      SELECT doc_id, w, COUNT(*) AS c FROM (
        SELECT doc_id, UNNEST({_WORDS}) AS w FROM documents
      ) GROUP BY doc_id, w
    ), stats AS (
      SELECT w, COUNT(*) AS df, SUM(c) AS s, SUM(c * c) AS s2
      FROM tok GROUP BY w
    ), top AS (
      SELECT w, df, s, s2,
             ROW_NUMBER() OVER (ORDER BY df DESC, w) AS rn
      FROM stats
    ), nd AS (SELECT COUNT(*) AS n FROM documents)
    SELECT w AS token, CAST(df AS BIGINT) AS df,
           CAST(s AS BIGINT) AS occurrences,
           CAST((n * s2 - s * s) * 1000000 // (n * s) AS BIGINT)
             AS vmr_e6
    FROM top, nd WHERE rn <= 20
"""


def vocab_coverage_curve(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary COVERAGE curve (C157) — what share of corpus
    tokens the top-k vocabulary covers, at k ∈ {100, 1000, 10000}:
    the tokenizer-budget curve beside C64's fixed-vocab OOV check
    and C65's Zipf slope (Zipf predicts its shape; this measures
    it).  Exact integers: unigram counts ordered by the
    deterministic (count DESC, word ASC) total order, cumulative
    sums over the types-sized vocab table (types ≪ corpus — the
    standard vocab-window discipline), share_e6 = covered·1e6 DIV
    total."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    uni = (docs.select(F.explode(words).alias("w"))
           .groupBy("w").agg(F.count("*").alias("c")))
    from pyspark.sql import Window as _W

    rk = _W.orderBy(F.desc("c"), F.asc("w"))
    run = rk.rowsBetween(_W.unboundedPreceding, 0)
    tot = _W.partitionBy()
    staged = (uni.withColumn("_rn", F.row_number().over(rk))
              .withColumn("_cum", F.sum("c").over(run))
              .withColumn("_tot", F.sum("c").over(tot))
              .withColumn("_n", F.count("*").over(tot)))
    ks = F.explode(F.array(F.lit(100), F.lit(1000), F.lit(10000))) \
        .alias("k")
    return (staged.select("_rn", "_cum", "_tot", "_n", ks)
            .filter(F.col("_rn") == F.least(F.col("k"), F.col("_n")))
            .select(F.col("k").cast("long"),
                    F.col("_rn").cast("long").alias("n_types_used"),
                    F.col("_cum").cast("long").alias("tokens_covered"),
                    F.expr("_cum * 1000000L DIV _tot").cast("long")
                    .alias("share_e6")))


QUERIES["vocab_coverage_curve"] = vocab_coverage_curve

ORACLES["vocab_coverage_curve"] = f"""
    WITH uni AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT UNNEST({_WORDS}) AS w FROM documents
      ) GROUP BY w
    ), staged AS (
      SELECT w, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rn,
             SUM(c) OVER (ORDER BY c DESC, w
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER () AS tot,
             COUNT(*) OVER () AS n
      FROM uni
    ), ks AS (SELECT UNNEST([100, 1000, 10000]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(rn AS BIGINT) AS n_types_used,
           CAST(cum AS BIGINT) AS tokens_covered,
           CAST(cum * 1000000 // tot AS BIGINT) AS share_e6
    FROM staged, ks WHERE rn = LEAST(k, n)
"""


# ---------------------------------------------------------------------
# r12 additions — the freeze-lift batch (r11 verdict ask #2)
# ---------------------------------------------------------------------

#: the shared paragraph frame: documents reshaped into deterministic
#: 12-word paragraphs (the synthetic corpus carries no newlines — the
#: line_dedup precedent), each normalized the CCNet way (lowercase,
#: strip non-alphanumerics, collapse whitespace) and md5-hashed.
#: Pure scan-stage reshape + one hash-agg for the corpus frequency.
_PARA_WIDTH = 12


def _paragraph_frame(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, *extra, pos, para, h): positional paragraphs +
    normalized md5.  ``extra_cols`` ride the explode (r15: carrying
    ``source`` here is free scan-stage projection and saves consumers
    a corpus-wide doc_id join — guide §2.3 "project early").  Scale
    shape: explode is linear in corpus words; the frequency consumer
    adds one (h)-keyed hash-agg — the exact shape CCNet runs at crawl
    scale (Wenzek et al. 2020)."""
    w = _PARA_WIDTH
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    npar = F.greatest((F.size(words) + (w - 1)).cast("long") / w,
                      F.lit(1)).cast("long")
    paras = F.transform(
        F.sequence(F.lit(0), npar - 1),
        lambda i: F.array_join(F.slice(words, i * w + 1, w), " "))
    ex = docs.select("doc_id", *extra_cols, F.posexplode(paras))
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("col")), "[^a-z0-9 ]", ""),
        " +", " "))
    return ex.select(
        "doc_id", *extra_cols, F.col("pos").cast("long").alias("pos"),
        F.col("col").alias("para"), F.md5(norm).alias("h"))


_PARA_SQL = f"""
    d AS (SELECT doc_id, {_WORDS} AS ws FROM documents),
    d2 AS (
      SELECT doc_id, ws,
             greatest((len(ws) + {_PARA_WIDTH - 1}) // {_PARA_WIDTH},
                      1) AS npar
      FROM d
    ), paras AS (
      SELECT doc_id,
             UNNEST(range(0, npar)) AS pos,
             UNNEST(list_transform(range(0, npar), i ->
               array_to_string(
                 ws[i * {_PARA_WIDTH} + 1 : i * {_PARA_WIDTH}
                    + {_PARA_WIDTH}], ' '))) AS para
      FROM d2
    ), ph AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, para,
             md5(trim(regexp_replace(regexp_replace(lower(para),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
      FROM paras
    ), pf AS (
      SELECT h, COUNT(*) AS freq, MIN(doc_id) AS first_doc
      FROM ph GROUP BY h
    )
"""


def ccnet_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style PARAGRAPH-level duplication profile (C181, Wenzek
    et al. 2020 §3.1): normalized-paragraph md5 hashes counted
    corpus-wide; per doc, how many of its paragraphs are corpus
    duplicates (freq ≥ 2) and how many are FOREIGN duplicates (a
    lower doc_id owns the hash — the instance CCNet's first-occurrence
    rule would drop).  Complements doc-level dedup_exact and
    line_dedup: this is the sub-document granularity the CCNet crawl
    pipeline actually dedups at.  Exact integers; share_e6 = dup·1e6
    DIV n_paragraphs.  One explode + one (h) hash-agg + a broadcast-
    sized join back — linear in corpus paragraphs at any scale."""
    docs = load(spark, sf, "documents")["documents"]
    ph = _paragraph_frame(docs)
    pf = ph.groupBy("h").agg(F.count("*").alias("freq"),
                             F.min("doc_id").alias("first_doc"))
    j = ph.join(pf, "h")
    return (j.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_paragraphs"),
                 F.sum((F.col("freq") >= 2).cast("long"))
                 .cast("long").alias("n_dup_paragraphs"),
                 F.sum(((F.col("freq") >= 2)
                        & (F.col("doc_id") != F.col("first_doc")))
                       .cast("long"))
                 .cast("long").alias("n_foreign_dup"))
            .select("doc_id", "n_paragraphs", "n_dup_paragraphs",
                    "n_foreign_dup",
                    F.expr("n_dup_paragraphs * 1000000L"
                           " DIV n_paragraphs").cast("long")
                    .alias("dup_share_e6")))


QUERIES["ccnet_paragraph_dedup"] = ccnet_paragraph_dedup

ORACLES["ccnet_paragraph_dedup"] = f"""
    WITH {_PARA_SQL}
    SELECT ph.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN pf.freq >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_paragraphs,
           CAST(SUM(CASE WHEN pf.freq >= 2
                         AND ph.doc_id <> pf.first_doc
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign_dup,
           CAST(SUM(CASE WHEN pf.freq >= 2 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS dup_share_e6
    FROM ph JOIN pf USING (h)
    GROUP BY ph.doc_id
"""


def paragraph_prune_text(spark: SparkSession, sf: str) -> DataFrame:
    """The CCNet paragraph-prune TRANSFORM (C182): each paragraph
    instance is kept iff its normalized hash is corpus-unique OR this
    doc is the hash's first (lowest doc_id) owner — exactly one copy
    of every duplicated paragraph survives corpus-wide.  Emits the
    rebuilt document (kept paragraphs in original order) as an md5
    plus kept/removed counts, so the whole reconstructed corpus is
    hash-verified without shipping megabytes of text through the
    compare.  Rebuild is a per-doc sort_array(collect_list(struct)) —
    partition-local, no global sort."""
    docs = load(spark, sf, "documents")["documents"]
    # r15 (guide §2.4): one repartition("h") feeds both the frequency
    # agg and the join probe side — ReuseExchange replaces the second
    # corpus explode + exchange of the old plan.
    ph = _paragraph_frame(docs).repartition("h")
    pf = ph.groupBy("h").agg(F.count("*").alias("freq"),
                             F.min("doc_id").alias("first_doc"))
    keep = (F.col("freq") == 1) | (F.col("doc_id") == F.col("first_doc"))
    j = ph.join(pf, "h").withColumn("_k", keep)
    kept_paras = F.transform(
        F.array_sort(F.collect_list(
            F.when(F.col("_k"), F.struct("pos", "para")))),
        lambda s: s["para"])
    return (j.groupBy("doc_id")
            .agg(F.count("*").alias("_n"),
                 F.sum(F.col("_k").cast("long")).alias("_kept"),
                 F.md5(F.array_join(kept_paras, " ")).alias("pruned_md5"))
            .select("doc_id", F.col("_kept").cast("long").alias("n_kept"),
                    (F.col("_n") - F.col("_kept")).cast("long")
                    .alias("n_removed"), "pruned_md5"))


QUERIES["paragraph_prune_text"] = paragraph_prune_text

ORACLES["paragraph_prune_text"] = f"""
    WITH {_PARA_SQL},
    k AS (
      SELECT ph.doc_id, ph.pos, ph.para,
             (pf.freq = 1 OR ph.doc_id = pf.first_doc) AS keep
      FROM ph JOIN pf USING (h)
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           md5(coalesce(string_agg(CASE WHEN keep THEN para END,
                                   ' ' ORDER BY pos), ''))
             AS pruned_md5
    FROM k GROUP BY doc_id
"""


def winnow_split_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """SUBSTRING-level cross-split leak detector (C183, r11 verdict
    ask 2b): the MOSS winnowing guarantee (any shared ≥ w+k−1-word
    run yields an identical selected fingerprint) applied across the
    deterministic train/eval boundary (train = doc_id % 10 < 8) —
    the reference-free complement of split_contamination_audit
    (doc-level) and decontaminate_spans (needs a benchmark list).
    Per contaminated eval doc: how many train docs share ≥2
    fingerprints, and the total/max shared counts.  Reuses the
    session (k=3, w=4) winnow keys memo; the pair mining is the
    certified inverted-index equi-join — never all-pairs."""
    docs = load(spark, sf, "documents")["documents"]
    pairs = D.winnow_overlap_pairs(docs, "doc_id", "text",
                                   keys=_winnow_kf(spark, docs, sf))
    is_eval_a = (F.col("id_a") % 10) >= 8
    is_eval_b = (F.col("id_b") % 10) >= 8
    cross = pairs.filter(is_eval_a != is_eval_b)
    ev = F.when(is_eval_a, F.col("id_a")).otherwise(F.col("id_b"))
    return (cross.select(ev.alias("eval_doc_id"), "shared_fp")
            .groupBy("eval_doc_id")
            .agg(F.count("*").cast("long").alias("n_train_partners"),
                 F.sum("shared_fp").cast("long").alias("total_shared_fp"),
                 F.max("shared_fp").cast("long").alias("max_shared_fp")))


QUERIES["winnow_split_contamination"] = winnow_split_contamination

ORACLES["winnow_split_contamination"] = f"""
    WITH cand AS ({ORACLES["winnow_overlap_pairs"]})
    SELECT CASE WHEN id_a % 10 >= 8 THEN id_a ELSE id_b END
             AS eval_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_train_partners,
           CAST(SUM(shared_fp) AS BIGINT) AS total_shared_fp,
           CAST(MAX(shared_fp) AS BIGINT) AS max_shared_fp
    FROM cand
    WHERE (id_a % 10 >= 8) <> (id_b % 10 >= 8)
    GROUP BY 1
"""


def domain_quality_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-DOMAIN quality drift between releases (C184, r11 verdict
    ask 2c): host_quality_report's certified (host × e4-integerized
    C8 quality) kernel split by the deterministic release half
    (doc_id parity — the release_diff convention), emitting each
    host's per-release doc counts, mean quality, and the drift —
    the table a crawl owner reads to catch a domain going bad
    between snapshots.  ONE scan (host and quality are both
    row-local), one hash-agg with conditional sums — no join between
    the halves."""
    docs = load(spark, sf, "documents")["documents"]
    from goka_spark.functions import urls as _U

    host = _U.canonical_host(_U.synthetic_url(F.col("doc_id")))
    q_e4 = F.round(T.quality_score(F.col("text")) * 10000).cast("long")
    rel = (F.col("doc_id") % 2).cast("long")
    g = (docs.select(host.alias("host"), q_e4.alias("_q"),
                     rel.alias("_r"))
         .groupBy("host")
         .agg(F.sum(F.when(F.col("_r") == 0, 1).otherwise(0))
              .alias("n_a"),
              F.sum(F.when(F.col("_r") == 1, 1).otherwise(0))
              .alias("n_b"),
              F.sum(F.when(F.col("_r") == 0, F.col("_q"))
                    .otherwise(0)).alias("_qa"),
              F.sum(F.when(F.col("_r") == 1, F.col("_q"))
                    .otherwise(0)).alias("_qb")))
    return (g.filter((F.col("n_a") >= 1) & (F.col("n_b") >= 1))
            .select("host", F.col("n_a").cast("long"),
                    F.col("n_b").cast("long"),
                    F.expr("_qa DIV n_a").cast("long")
                    .alias("mean_q_e4_a"),
                    F.expr("_qb DIV n_b").cast("long")
                    .alias("mean_q_e4_b"),
                    F.expr("_qb DIV n_b - _qa DIV n_a").cast("long")
                    .alias("drift_e4")))


QUERIES["domain_quality_drift"] = domain_quality_drift

ORACLES["domain_quality_drift"] = f"""
    WITH uu AS (
      SELECT doc_id, {U.SYNTH_URL_SQL} AS url FROM documents
    ), nn AS (
      SELECT doc_id, {U.host_sql('url')} AS host FROM uu
    ), qq AS (
      {ORACLES["doc_quality_score"]}
    ), jj AS (
      SELECT nn.host, doc_id % 2 AS rel,
             CAST(ROUND(qq.quality * 10000) AS BIGINT) AS q_e4
      FROM nn JOIN qq USING (doc_id)
    ), g AS (
      SELECT host,
             SUM(CASE WHEN rel = 0 THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS n_b,
             SUM(CASE WHEN rel = 0 THEN q_e4 ELSE 0 END) AS qa,
             SUM(CASE WHEN rel = 1 THEN q_e4 ELSE 0 END) AS qb
      FROM jj GROUP BY host
    )
    SELECT host, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(qa // n_a AS BIGINT) AS mean_q_e4_a,
           CAST(qb // n_b AS BIGINT) AS mean_q_e4_b,
           CAST(qb // n_b - qa // n_a AS BIGINT) AS drift_e4
    FROM g WHERE n_a >= 1 AND n_b >= 1
"""


def msttr_lexical_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Mean-Segmental Type-Token Ratio (C185) — the length-robust
    lexical-diversity measure (Johnson 1944; the fix for raw TTR's
    length bias that MTLD/vocd descend from): tokens cut into
    consecutive 25-token segments (trailing partial dropped), each
    segment's distinct-type count averaged.  Degenerate/templated
    text scores low even when the doc is long — complements
    doc_entropy (distribution) and doc_repetition (n-gram).  Exact
    integers: msttr_e6 = Σ distinct · 1e6 DIV (n_segments·25).
    Pure scan-stage array algebra — ZERO shuffle at any corpus
    size."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    nseg = (F.size(words) / 25).cast("long")
    base = docs.select("doc_id", words.alias("_ws"),
                       nseg.alias("_n")).filter(F.col("_n") >= 1)
    seg_distinct = F.transform(
        F.sequence(F.lit(0), F.col("_n") - 1),
        lambda i: F.size(F.array_distinct(
            F.slice(F.col("_ws"), i * 25 + 1, 25))).cast("long"))
    tot = F.aggregate(seg_distinct, F.lit(0).cast("long"),
                      lambda acc, x: acc + x)
    return base.select(
        "doc_id", F.col("_n").cast("long").alias("n_segments"),
        tot.alias("n_types_sum")).select(
        "doc_id", "n_segments", "n_types_sum",
        F.expr("n_types_sum * 1000000L DIV (n_segments * 25)")
        .alias("msttr_e6"))


QUERIES["msttr_lexical_diversity"] = msttr_lexical_diversity

ORACLES["msttr_lexical_diversity"] = f"""
    WITH d AS (
      SELECT doc_id, {_WORDS} AS ws,
             len({_WORDS}) // 25 AS n FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_sum(list_transform(range(0, n), i ->
               len(list_distinct(ws[i * 25 + 1 : i * 25 + 25]))))
               AS tot
      FROM d WHERE n >= 1
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_segments,
           CAST(tot AS BIGINT) AS n_types_sum,
           CAST(tot * 1000000 // (n * 25) AS BIGINT) AS msttr_e6
    FROM s
"""


def doc_lang_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Mixed-language detection (C186) — the CCNet/fastText practice
    of running lang-id per PARAGRAPH, not per doc, because crawled
    pages interleave languages and a doc-level vote hides it: docs
    reshaped into 10-word sentences (the line_dedup convention), the
    certified C7 stopword-vote heuristic applied to each, and the
    disagreement share vs the doc-level vote reported.  High
    mix_share = boilerplate/nav chrome or true code-switching —
    either way a filter signal doc-level lang-id misses.  One
    explode + per-doc hash-agg; votes are row-local Columns."""
    docs = load(spark, sf, "documents")["documents"]
    # r14 (guide §4.1): the explode + per-sentence interpreted
    # stopword-vote CaseWhen ran once per 10-word sentence; one Arrow
    # map computes every per-doc signal (see doc_lang_mix_signals'
    # exactness notes) — the query becomes map-only + row-local
    # integer arithmetic, no shuffle at all.
    return (T.doc_lang_mix_signals(docs, "doc_id", "text")
            .select("doc_id", "doc_lang", "n_sentences", "n_disagree",
                    F.expr("n_disagree * 1000000L DIV n_sentences")
                    .cast("long").alias("mix_share_e6")))


QUERIES["doc_lang_mix"] = doc_lang_mix


def _sent_vote(ws_expr: str) -> str:
    """The C7 stopword vote over an arbitrary words-list SQL expr."""
    def hits(lang_list: str) -> str:
        return f"len(list_filter({ws_expr}, w -> w IN ({lang_list})))"

    return f"""CASE
        WHEN {hits(_SW['en'])} >= {hits(_SW['de'])}
         AND {hits(_SW['en'])} >= {hits(_SW['es'])}
         AND {hits(_SW['en'])} >= {hits(_SW['fr'])} THEN 'en'
        WHEN {hits(_SW['de'])} >= {hits(_SW['es'])}
         AND {hits(_SW['de'])} >= {hits(_SW['fr'])} THEN 'de'
        WHEN {hits(_SW['es'])} >= {hits(_SW['fr'])} THEN 'es'
        ELSE 'fr' END"""


ORACLES["doc_lang_mix"] = f"""
    WITH d AS (
      SELECT doc_id, {_WORDS} AS ws,
             {_sent_vote(_WORDS)} AS doc_lang
      FROM documents
    ), d2 AS (
      SELECT doc_id, ws, doc_lang,
             greatest((len(ws) + 9) // 10, 1) AS nsent FROM d
    ), s AS (
      SELECT doc_id, doc_lang,
             UNNEST(list_transform(range(0, nsent), i ->
               array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')))
               AS sent
      FROM d2
    ), v AS (
      SELECT doc_id, doc_lang,
             {_sent_vote("list_filter(string_split(sent, ' '), w -> w <> '')")}
               AS sent_lang
      FROM s
    )
    SELECT doc_id, MAX(doc_lang) AS doc_lang,
           CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(CASE WHEN sent_lang <> doc_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_disagree,
           CAST(SUM(CASE WHEN sent_lang <> doc_lang THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS mix_share_e6
    FROM v GROUP BY doc_id
"""


def corpus_stopword_profile(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-DERIVED stopword coverage (C187) — instead of the fixed
    C7/C8 lists, the corpus's own top-30 words by document frequency
    (df DESC, word ASC — the Luhn/Zipf head) become the stopword
    list, and each source's token-level coverage is reported: natural
    prose runs high, keyword-stuffed or templated sources low.  The
    df ranking is the corpus-specific calibration fixed-list quality
    gates (C8, C26) can't see.  One postings hash-agg for df, a
    top-30 TakeOrdered (never a global sort), one broadcast
    membership join + per-source agg."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    tok = docs.select("doc_id", "source", F.explode(words).alias("w"))
    df_ = (tok.select("doc_id", "w").distinct()
           .groupBy("w").agg(F.count("*").alias("df")))
    from pyspark.sql import Window as _W

    rk = _W.orderBy(F.desc("df"), F.asc("w"))
    stop = (df_.withColumn("_rn", F.row_number().over(rk))
            .filter(F.col("_rn") <= 30).select("w", F.lit(1).alias("_s")))
    j = tok.join(F.broadcast(stop), "w", "left")
    return (j.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.sum(F.coalesce("_s", F.lit(0))).cast("long")
                 .alias("n_stop_tokens"),
                 F.count_distinct(F.when(F.col("_s") == 1, F.col("w")))
                 .cast("long").alias("n_stop_types"))
            .select("source", "n_tokens", "n_stop_tokens", "n_stop_types",
                    F.expr("n_stop_tokens * 1000000L DIV n_tokens")
                    .cast("long").alias("stop_share_e6")))


QUERIES["corpus_stopword_profile"] = corpus_stopword_profile

ORACLES["corpus_stopword_profile"] = f"""
    WITH tok AS (
      SELECT doc_id, source, UNNEST({_WORDS}) AS w FROM documents
    ), df AS (
      SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY w
    ), stop AS (
      SELECT w FROM (
        SELECT w, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS rn
        FROM df
      ) WHERE rn <= 30
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN stop.w IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stop_tokens,
           CAST(COUNT(DISTINCT CASE WHEN stop.w IS NOT NULL
                                    THEN tok.w END) AS BIGINT)
             AS n_stop_types,
           CAST(SUM(CASE WHEN stop.w IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS stop_share_e6
    FROM tok LEFT JOIN stop ON tok.w = stop.w
    GROUP BY source
"""


_NUMERIC_RE = r"[0-9]+([.,][0-9]+)*"


def numeric_token_profile(spark: SparkSession, sf: str) -> DataFrame:
    """NUMERIC-token density per source (C188) — the share of tokens
    that are bare numbers (tables, logs, price lists, serialized
    data): a high-precision boilerplate/structured-noise signal the
    Gopher rules bundle into symbol ratios but never isolate.  Per
    source: token totals, numeric share, and how many docs exceed
    the 20% heavy-numeric gate (the doc-level filter a curation
    pipeline would apply).  Per-doc counts are row-local array
    algebra; one per-source hash-agg — no explode, no join."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    is_num = lambda w: w.rlike(f"^{_NUMERIC_RE}$")  # noqa: E731
    n_tok = F.size(words).cast("long")
    n_num = F.size(F.filter(words, is_num)).cast("long")
    base = docs.select("source", n_tok.alias("_t"), n_num.alias("_n"))
    heavy = (F.col("_n") * 5 > F.col("_t")).cast("long")  # >20%
    return (base.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("_t").cast("long").alias("n_tokens"),
                 F.sum("_n").cast("long").alias("n_numeric"),
                 F.sum(heavy).cast("long").alias("n_heavy_docs"))
            .select("source", "n_docs", "n_tokens", "n_numeric",
                    F.expr("n_numeric * 1000000L"
                           " DIV greatest(n_tokens, 1L)").cast("long")
                    .alias("numeric_share_e6"), "n_heavy_docs"))


QUERIES["numeric_token_profile"] = numeric_token_profile

ORACLES["numeric_token_profile"] = f"""
    WITH d AS (
      SELECT source,
             len({_WORDS}) AS t,
             len(list_filter({_WORDS}, w ->
               regexp_full_match(w, '{_NUMERIC_RE}'))) AS n
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS n_tokens,
           CAST(SUM(n) AS BIGINT) AS n_numeric,
           CAST(SUM(n) * 1000000 // greatest(SUM(t), 1) AS BIGINT)
             AS numeric_share_e6,
           CAST(SUM(CASE WHEN n * 5 > t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_heavy_docs
    FROM d GROUP BY source
"""


def source_minhash_sim(spark: SparkSession, sf: str) -> DataFrame:
    """SOURCE-level MinHash similarity matrix (C189) — C56's exact
    source-overlap numbers at sketch cost: each source's signature is
    the element-wise MIN of its docs' 16-perm md5 signatures (minhash
    algebra: the union's signature), pairs scored by matching perms.
    At 100 TB the exact (source, gram) projection C56 scans is the
    expensive half; this reads the session signature memo and touches
    sources·perms rows — the scale path, with C56/C190 as its exact
    calibration twins.  Hash-verified: the md5 signature replays
    bit-identically in SQL (the C19 oracle machinery)."""
    docs = load(spark, sf, "documents")["documents"]
    sigs = _minhash_sigs(spark, docs, sf, num_perm=16, base_hash="md5")
    src = docs.select("doc_id", "source")
    ex = (sigs.join(src, "doc_id")
          .select("source", F.posexplode("minhash")))
    ssig = (ex.groupBy("source", "pos")
            .agg(F.min("col").alias("sig")))
    a, b = ssig.alias("a"), ssig.alias("b")
    return (a.join(b, "pos")
            .filter(F.col("a.source") < F.col("b.source"))
            .groupBy(F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b"))
            .agg(F.sum((F.col("a.sig") == F.col("b.sig")).cast("long"))
                 .cast("long").alias("n_perm_match"))
            .select("source_a", "source_b", "n_perm_match",
                    F.expr("n_perm_match * 1000000L DIV 16")
                    .cast("long").alias("jaccard_est_e6")))


QUERIES["source_minhash_sim"] = source_minhash_sim


def _source_minhash_oracle() -> str:
    sig = _minhash_oracle(16)
    return f"""
    WITH s AS ({sig}),
    ss AS (
      SELECT d.source, s.perm, MIN(s.sig) AS sig
      FROM s JOIN documents d USING (doc_id)
      GROUP BY d.source, s.perm
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)
                AS BIGINT) AS n_perm_match,
           CAST(SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)
                * 1000000 // 16 AS BIGINT) AS jaccard_est_e6
    FROM ss a JOIN ss b ON a.perm = b.perm AND a.source < b.source
    GROUP BY a.source, b.source
    """


ORACLES["source_minhash_sim"] = _source_minhash_oracle


def vocab_jaccard_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise source VOCABULARY Jaccard (C190) — word-TYPE overlap
    between sources: the lexical-identity complement of C116's
    distributional divergence (two sources can share every type yet
    diverge in frequency, or vice versa) and the exact calibration
    twin of C189's shingle sketch.  Scale shape: the distinct
    (source, word) projection is types-sized (≪ tokens); the word
    self-join emits ≤ sources²/2 rows per word; sizes broadcast."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    tv = (docs.select("source", F.explode(words).alias("w"))
          .distinct())
    sizes = tv.groupBy("source").agg(F.count("*").alias("n_types"))
    a, b = tv.alias("a"), tv.alias("b")
    inter = (a.join(b, "w")
             .filter(F.col("a.source") < F.col("b.source"))
             .groupBy(F.col("a.source").alias("source_a"),
                      F.col("b.source").alias("source_b"))
             .agg(F.count("*").cast("long").alias("n_common")))
    sa = sizes.select(F.col("source").alias("source_a"),
                      F.col("n_types").alias("n_types_a"))
    sb = sizes.select(F.col("source").alias("source_b"),
                      F.col("n_types").alias("n_types_b"))
    return (inter.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select("source_a", "source_b",
                    F.col("n_types_a").cast("long"),
                    F.col("n_types_b").cast("long"), "n_common",
                    F.expr("n_common * 1000000L DIV"
                           " (n_types_a + n_types_b - n_common)")
                    .cast("long").alias("jaccard_e6")))


QUERIES["vocab_jaccard_sources"] = vocab_jaccard_sources

ORACLES["vocab_jaccard_sources"] = f"""
    WITH tv AS (
      SELECT DISTINCT source, UNNEST({_WORDS}) AS w FROM documents
    ), sizes AS (
      SELECT source, COUNT(*) AS n_types FROM tv GROUP BY source
    ), inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common
      FROM tv a JOIN tv b ON a.w = b.w AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           CAST(sa.n_types AS BIGINT) AS n_types_a,
           CAST(sb.n_types AS BIGINT) AS n_types_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000000
                // (sa.n_types + sb.n_types - n_common) AS BIGINT)
             AS jaccard_e6
    FROM inter
    JOIN sizes sa ON sa.source = inter.source_a
    JOIN sizes sb ON sb.source = inter.source_b
"""


#: signed truncating division shared by the centroid queries — both
#: engines truncate toward zero, the CASE spells it out (the
#: embedding_dim_stats convention).
def _sdiv(num: str, den: str) -> str:
    return (f"CASE WHEN {num} >= 0 THEN {num} DIV {den}"
            f" ELSE -((-({num})) DIV {den}) END")


def _sdiv_sql(num: str, den: str) -> str:
    return (f"CASE WHEN {num} >= 0 THEN {num} // {den}"
            f" ELSE -((-({num})) // {den}) END")


def _label_centroids(emb: DataFrame) -> DataFrame:
    """(label, pos, n_l, m): per-label centroid in e3 fixed point —
    elements quantized ONCE (floor(x·1e3 + 0.5)), exact integer sums,
    mean by signed truncating division.  e3 keeps every downstream
    squared-distance sum far inside BIGINT (diffs ≤ ~4e3, ·64 dims
    ·1e6 scaling < 2^60)."""
    ex = emb.select("label", F.posexplode("embedding"))
    e = F.floor(F.col("col").cast("double") * 1000 + 0.5).cast("long")
    lab = (ex.select("label", "pos", e.alias("_e"))
           .groupBy("label", "pos")
           .agg(F.count("*").alias("n_l"), F.sum("_e").alias("_s")))
    return lab.select("label", "pos", "n_l",
                      F.expr(_sdiv("_s", "n_l")).cast("long").alias("m"))


_CENT_SQL = f"""
    ex AS (
      SELECT label, i - 1 AS pos,
             CAST(FLOOR(embedding[i]::DOUBLE * 1000.0 + 0.5)
                  AS BIGINT) AS e
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), lab AS (
      SELECT label, pos, COUNT(*) AS n_l, SUM(e) AS s
      FROM ex GROUP BY label, pos
    ), cent AS (
      SELECT label, pos, n_l,
             CAST({_sdiv_sql('s', 'n_l')} AS BIGINT) AS m
      FROM lab
    )
"""


def embedding_centroid_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-LABEL centroid shift from the corpus mean (C191) — the
    embedding-space mix monitor: a label whose centroid sits far from
    the global centroid dominates contrastive sampling and skews ANN
    training-set construction; tracked per release it catches encoder
    drift per class.  Everything exact integers in e3 fixed point
    (see _label_centroids); shift2_e6 = Σ_d (m_l,d − m_d)², the
    squared distance in micro-units².  Scale: one explode + two
    hash-aggs + a dims-sized broadcast join — label count ≪ corpus."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    cent = _label_centroids(emb)
    glob = (cent.groupBy("pos")
            .agg(F.sum(F.col("m") * F.col("n_l")).alias("_sm"),
                 F.sum("n_l").alias("_n")))
    g = glob.select("pos", F.expr(_sdiv("_sm", "_n")).cast("long")
                    .alias("gm"))
    j = cent.join(F.broadcast(g), "pos")
    d = F.col("m") - F.col("gm")
    return (j.groupBy("label")
            .agg(F.max("n_l").cast("long").alias("n_vecs"),
                 F.sum(d * d).cast("long").alias("shift2_e6"),
                 F.sum(F.col("m") * F.col("m")).cast("long")
                 .alias("centroid_norm2_e6"))
            .select(F.col("label").cast("long"), "n_vecs",
                    "shift2_e6", "centroid_norm2_e6"))


QUERIES["embedding_centroid_shift"] = embedding_centroid_shift

ORACLES["embedding_centroid_shift"] = f"""
    WITH {_CENT_SQL},
    gsum AS (
      SELECT pos, SUM(m * n_l) AS sm, SUM(n_l) AS n FROM cent
      GROUP BY pos
    ), g AS (
      SELECT pos, CAST({_sdiv_sql('sm', 'n')} AS BIGINT) AS gm
      FROM gsum
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(MAX(n_l) AS BIGINT) AS n_vecs,
           CAST(SUM((m - gm) * (m - gm)) AS BIGINT) AS shift2_e6,
           CAST(SUM(m * m) AS BIGINT) AS centroid_norm2_e6
    FROM cent JOIN g USING (pos)
    GROUP BY label
"""


def embedding_label_silhouette(spark: SparkSession, sf: str) -> DataFrame:
    """Label-level SILHOUETTE (C192, squared-distance form) — the
    clustering-QA number for the GROUND-TRUTH labels (C134 audits the
    learned IVF cells; this audits the labels those cells are judged
    against): per vector, a = dist² to its own label centroid, b =
    min dist² to any other label's centroid, s_e6 = (b−a)·1e6 DIV
    max(a, b, 1); per label, the exact-integer mean and the count of
    misplaced vectors (b < a).  Scale: centroids are a labels×dims
    broadcast; the per-vector pass is one scan × n_labels — the
    standard silhouette shape, no vector self-join."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    cent = _label_centroids(emb)
    ex = emb.select("vec_id", "label", F.posexplode("embedding"))
    e = F.floor(F.col("col").cast("double") * 1000 + 0.5).cast("long")
    ev = ex.select("vec_id", "label", "pos", e.alias("e"))
    c = cent.select(F.col("label").alias("clabel"), "pos", "m")
    d = F.col("e") - F.col("m")
    per = (ev.join(F.broadcast(c), "pos")
           .groupBy("vec_id", "label", "clabel")
           .agg(F.sum(d * d).alias("d2")))
    vec = (per.groupBy("vec_id", "label")
           .agg(F.max(F.when(F.col("clabel") == F.col("label"),
                             F.col("d2"))).alias("a"),
                F.min(F.when(F.col("clabel") != F.col("label"),
                             F.col("d2"))).alias("b")))
    s_e6 = F.expr("(b - a) * 1000000L DIV greatest(b, a, 1L)")
    return (vec.select("label", s_e6.alias("_s"),
                       (F.col("b") < F.col("a")).cast("long")
                       .alias("_mis"))
            .groupBy("label")
            .agg(F.count("*").cast("long").alias("n_vecs"),
                 F.expr(_sdiv("SUM(_s)", "COUNT(*)")).cast("long")
                 .alias("mean_silhouette_e6"),
                 F.sum("_mis").cast("long").alias("n_misplaced"))
            .select(F.col("label").cast("long"), "n_vecs",
                    "mean_silhouette_e6", "n_misplaced"))


QUERIES["embedding_label_silhouette"] = embedding_label_silhouette

ORACLES["embedding_label_silhouette"] = f"""
    WITH {_CENT_SQL},
    ev AS (
      SELECT vec_id, label, i - 1 AS pos,
             CAST(FLOOR(embedding[i]::DOUBLE * 1000.0 + 0.5)
                  AS BIGINT) AS e
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), per AS (
      SELECT ev.vec_id, ev.label, cent.label AS clabel,
             SUM((ev.e - cent.m) * (ev.e - cent.m)) AS d2
      FROM ev JOIN cent ON ev.pos = cent.pos
      GROUP BY ev.vec_id, ev.label, cent.label
    ), vec AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN d2 END) AS a,
             MIN(CASE WHEN clabel <> label THEN d2 END) AS b
      FROM per GROUP BY vec_id, label
    ), s AS (
      SELECT label,
             CAST((b - a) * 1000000 // greatest(b, a, 1) AS BIGINT)
               AS s_e6,
             CASE WHEN b < a THEN 1 ELSE 0 END AS mis
      FROM vec
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST({_sdiv_sql('SUM(s_e6)', 'COUNT(*)')} AS BIGINT)
             AS mean_silhouette_e6,
           CAST(SUM(mis) AS BIGINT) AS n_misplaced
    FROM s GROUP BY label
"""


_GATES = ["repetition", "entropy", "blocklist", "perplexity",
          "contaminated", "exact_dup"]


def quality_gate_venn(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise gate-overlap VENN matrix (C193) — C124 reports each
    gate's marginal value (fails-only-it); this reports the full
    pairwise structure: for every gate pair, docs failing both, each
    alone, and the failure-set Jaccard — the redundancy map that says
    WHICH gate a candidate-for-removal overlaps with (ablation says
    only that it overlaps with something).  Same session-memoized
    per-doc signal frame and predicates as C72/C124; one 15-way
    struct explode + one hash-agg."""
    out = _gate_signals(spark, sf).filter(F.col("doc_id") % 97 != 0)
    b = lambda c: c.cast("int")  # noqa: E731
    flags = out.select(
        "doc_id",
        b(F.coalesce("_rep_keep", F.lit(0)) == 0).alias("f_repetition"),
        b(F.col("_ent").isNull() | (F.col("_ent") < 1.0))
        .alias("f_entropy"),
        b(~F.coalesce("_blk_keep", F.lit(True))).alias("f_blocklist"),
        b(F.coalesce(F.col("_ppl") == "tail", F.lit(False)))
        .alias("f_perplexity"),
        b(F.coalesce("_hits", F.lit(0)) > 0).alias("f_contaminated"),
        b(F.col("_keep_id") != F.col("doc_id")).alias("f_exact_dup"))
    pairs = [(g1, g2) for i, g1 in enumerate(_GATES)
             for g2 in _GATES[i + 1:]]
    ex = flags.select(F.explode(F.array(*[
        F.struct(F.lit(g1).alias("_g1"), F.lit(g2).alias("_g2"),
                 F.col(f"f_{g1}").alias("_fa"),
                 F.col(f"f_{g2}").alias("_fb"))
        for g1, g2 in pairs])).alias("_e"))
    fa, fb = F.col("_e._fa"), F.col("_e._fb")
    return (ex.groupBy(F.col("_e._g1").alias("gate_a"),
                       F.col("_e._g2").alias("gate_b"))
            .agg(F.sum(fa * fb).cast("long").alias("n_both"),
                 F.sum(fa * (1 - fb)).cast("long").alias("n_a_only"),
                 F.sum((1 - fa) * fb).cast("long").alias("n_b_only"))
            .select("gate_a", "gate_b", "n_both", "n_a_only",
                    "n_b_only",
                    F.expr("n_both * 1000000L DIV"
                           " greatest(n_both + n_a_only + n_b_only,"
                           " 1L)").cast("long").alias("jaccard_e6")))


QUERIES["quality_gate_venn"] = quality_gate_venn


def _gate_venn_oracle() -> str:
    """C124's oracle-derivation trick: C72's verified gate CTEs,
    byte-identical, with only the final SELECT swapped for the
    pairwise aggregation."""
    qp = ORACLES["corpus_quality_pipeline"]
    ctes = qp[:qp.rindex("SELECT dd.doc_id,")]
    pair_items = ", ".join(
        "{'ga': '%s', 'gb': '%s', 'fa': fl.f_%s, 'fb': fl.f_%s}"
        % (g1, g2, g1, g2)
        for i, g1 in enumerate(_GATES) for g2 in _GATES[i + 1:])
    return ctes + f"""SELECT ga AS gate_a, gb AS gate_b,
           CAST(SUM(fa * fb) AS BIGINT) AS n_both,
           CAST(SUM(fa * (1 - fb)) AS BIGINT) AS n_a_only,
           CAST(SUM((1 - fa) * fb) AS BIGINT) AS n_b_only,
           CAST(SUM(fa * fb) * 1000000
                // greatest(SUM(fa * fb) + SUM(fa * (1 - fb))
                            + SUM((1 - fa) * fb), 1) AS BIGINT)
             AS jaccard_e6
    FROM (
      SELECT u.ga, u.gb, u.fa, u.fb
      FROM (
        SELECT dd.doc_id,
               CASE WHEN COALESCE(rep_keep, 0) = 0 THEN 1 ELSE 0 END
                 AS f_repetition,
               CASE WHEN ent IS NULL OR ent < 1.0 THEN 1 ELSE 0 END
                 AS f_entropy,
               CASE WHEN NOT COALESCE(bkeep, TRUE) THEN 1 ELSE 0 END
                 AS f_blocklist,
               CASE WHEN (CASE WHEN lm.n_bigrams = 0 THEN 'unscored'
                               WHEN lm.avg_logprob >= b[2] THEN 'head'
                               WHEN lm.avg_logprob >= b[1] THEN 'middle'
                               ELSE 'tail' END) = 'tail'
                    THEN 1 ELSE 0 END AS f_perplexity,
               CASE WHEN COALESCE(hits, 0) > 0 THEN 1 ELSE 0 END
                 AS f_contaminated,
               CASE WHEN keep_id <> dd.doc_id THEN 1 ELSE 0 END
                 AS f_exact_dup
        FROM documents dd
        LEFT JOIN grep USING (doc_id)
        LEFT JOIN eent USING (doc_id)
        LEFT JOIN blk USING (doc_id)
        LEFT JOIN lm USING (doc_id)
        LEFT JOIN chit USING (doc_id)
        LEFT JOIN ddoc USING (doc_id), th
        WHERE dd.doc_id % 97 <> 0
      ) fl, UNNEST([{pair_items}]) AS t(u)
    ) GROUP BY ga, gb
    """


ORACLES["quality_gate_venn"] = _gate_venn_oracle


def paragraph_dedup_savings(spark: SparkSession, sf: str) -> DataFrame:
    """Per-SOURCE savings from the CCNet paragraph prune (C194) —
    the report a curation owner reads before enabling C182: tokens
    before, paragraph instances removed, tokens removed, and the
    exact-integer savings share per source (boilerplate-heavy
    sources dominate).  Same shared paragraph frame + keep rule as
    C181/C182; one conditional hash-agg keyed by source."""
    docs = load(spark, sf, "documents")["documents"]
    # r15 (guide §2.3/§2.4): source rides the explode (no corpus-wide
    # doc_id join), and both arms of the h-join hang off ONE
    # repartition("h") subtree so the exchange is planned once and
    # reused — the old plan instantiated the paragraph explode twice
    # and shuffled the instances a second time for the source join.
    phs = _paragraph_frame(docs, "source").repartition("h")
    pf = phs.groupBy("h").agg(F.count("*").alias("freq"),
                              F.min("doc_id").alias("first_doc"))
    keep = (F.col("freq") == 1) | (F.col("doc_id") == F.col("first_doc"))
    ptok = F.size(F.filter(F.split(F.col("para"), " "),
                           lambda x: x != "")).cast("long")
    j = (phs.join(pf, "h")
         .select("source", keep.alias("_k"), ptok.alias("_t")))
    return (j.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_paragraphs"),
                 F.sum((~F.col("_k")).cast("long")).cast("long")
                 .alias("n_removed"),
                 F.sum("_t").cast("long").alias("tokens_before"),
                 F.sum(F.when(~F.col("_k"), F.col("_t"))
                       .otherwise(0)).cast("long")
                 .alias("tokens_removed"))
            .select("source", "n_paragraphs", "n_removed",
                    "tokens_before", "tokens_removed",
                    F.expr("tokens_removed * 1000000L"
                           " DIV greatest(tokens_before, 1L)")
                    .cast("long").alias("savings_e6")))


QUERIES["paragraph_dedup_savings"] = paragraph_dedup_savings

ORACLES["paragraph_dedup_savings"] = f"""
    WITH {_PARA_SQL},
    k AS (
      SELECT ph.doc_id, ph.para,
             (pf.freq = 1 OR ph.doc_id = pf.first_doc) AS keep,
             len(list_filter(string_split(ph.para, ' '),
                             w -> w <> '')) AS t
      FROM ph JOIN pf USING (h)
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(t) AS BIGINT) AS tokens_before,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE t END) AS BIGINT)
             AS tokens_removed,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE t END) * 1000000
                // greatest(SUM(t), 1) AS BIGINT) AS savings_e6
    FROM k JOIN documents d USING (doc_id)
    GROUP BY d.source
"""


def paragraph_position_bias(spark: SparkSession, sf: str) -> DataFrame:
    """WHERE duplicated paragraphs live (C195) — head/middle/tail
    terciles of each doc: crawl boilerplate (nav chrome, footers,
    cookie banners) concentrates at document EDGES, so a strong
    edge bias says trim-by-position before hash-dedup; a flat
    profile says the duplication is content-level.  Same paragraph
    frame; bucket = least(pos·3 DIV npar, 2) with npar from the
    doc's own paragraph count — pure integer algebra, one hash-agg."""
    docs = load(spark, sf, "documents")["documents"]
    # r15 (guide §2.4): the per-doc paragraph count is the SIZE of the
    # doc's own explode — it never needed a groupBy(doc_id) + join
    # back; computing it as a scan-stage column kills that exchange
    # pair, and the h-join's two arms share one repartition("h")
    # exchange (ReuseExchange) instead of exploding the corpus twice.
    w_ = _PARA_WIDTH
    words_ = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    np_col = F.greatest((F.size(words_) + (w_ - 1)).cast("long") / w_,
                        F.lit(1)).cast("long")
    ph = (_paragraph_frame(docs.withColumn("_np", np_col), "_np")
          .repartition("h"))
    pf = ph.groupBy("h").agg(F.count("*").alias("freq"))
    j = ph.join(pf, "h")
    bucket = F.least(F.col("pos") * 3 / F.col("_np"),
                     F.lit(2)).cast("long")
    return (j.select(bucket.alias("tercile"),
                     (F.col("freq") >= 2).cast("long").alias("_d"))
            .groupBy("tercile")
            .agg(F.count("*").cast("long").alias("n_paragraphs"),
                 F.sum("_d").cast("long").alias("n_dup"))
            .select("tercile", "n_paragraphs", "n_dup",
                    F.expr("n_dup * 1000000L DIV n_paragraphs")
                    .cast("long").alias("dup_share_e6")))


QUERIES["paragraph_position_bias"] = paragraph_position_bias

ORACLES["paragraph_position_bias"] = f"""
    WITH {_PARA_SQL},
    np AS (
      SELECT doc_id, COUNT(*) AS np FROM ph GROUP BY doc_id
    ), j AS (
      SELECT LEAST(ph.pos * 3 // np.np, 2) AS tercile,
             CASE WHEN pf.freq >= 2 THEN 1 ELSE 0 END AS d
      FROM ph JOIN pf USING (h) JOIN np USING (doc_id)
    )
    SELECT CAST(tercile AS BIGINT) AS tercile,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(d) AS BIGINT) AS n_dup,
           CAST(SUM(d) * 1000000 // COUNT(*) AS BIGINT)
             AS dup_share_e6
    FROM j GROUP BY tercile
"""


def knn_label_consistency(spark: SparkSession, sf: str) -> DataFrame:
    """kNN LABEL consistency (C196) — the third leg of the label-QA
    stool (C191 centroid shift, C192 silhouette): each vector's
    cell-local top-5 neighbors (C60's graph, read from the persisted
    index) vote on its label; per label, how often the majority vote
    agrees with the stored label — low agreement marks labels the
    embedding geometry contradicts (mislabeled data or a collapsed
    class).  Majority = (count DESC, label ASC) — deterministic;
    vectors alone in their cell have no neighbors and are excluded
    (the C60 contract).  Graph join + two hash-aggs + one window
    over neighbor-vote groups (bounded by k)."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    idx = _ann_index(spark, sf, emb)
    g = A.knn_graph(idx, k=5)
    nl = emb.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("label").alias("nl"))
    votes = (g.join(nl, "neighbor_id")
             .groupBy("vec_id", "nl").agg(F.count("*").alias("c")))
    from pyspark.sql import Window as _W

    w = _W.partitionBy("vec_id").orderBy(F.desc("c"), F.asc("nl"))
    top = (votes.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == 1).select("vec_id", "nl"))
    own = emb.select("vec_id", "label")
    j = top.join(own, "vec_id")
    agree = (F.col("nl") == F.col("label")).cast("long")
    return (j.groupBy("label")
            .agg(F.count("*").cast("long").alias("n_vecs"),
                 F.sum(agree).cast("long").alias("n_agree"))
            .select(F.col("label").cast("long"), "n_vecs", "n_agree",
                    F.expr("n_agree * 1000000L DIV n_vecs")
                    .cast("long").alias("agree_share_e6")))


QUERIES["knn_label_consistency"] = knn_label_consistency


def _knn_label_oracle() -> str:
    g = _knn_graph_oracle()
    return f"""
    WITH g AS ({g}), votes AS (
      SELECT g.vec_id, e.label AS nl, COUNT(*) AS c
      FROM g JOIN embeddings e ON g.neighbor_id = e.vec_id
      GROUP BY g.vec_id, e.label
    ), top AS (
      SELECT vec_id, nl FROM (
        SELECT vec_id, nl,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, nl) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT CAST(e.label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN top.nl = e.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           CAST(SUM(CASE WHEN top.nl = e.label THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS agree_share_e6
    FROM top JOIN embeddings e USING (vec_id)
    GROUP BY e.label
    """


ORACLES["knn_label_consistency"] = _knn_label_oracle


# =====================================================================
# ---- round 13: sub-document curation, part 2 ------------------------
# =====================================================================


def source_paragraph_savings(spark: SparkSession, sf: str) -> DataFrame:
    """Per-SOURCE paragraph-dedup savings forecast (C197) — C142's
    dedup-savings report re-run at the CCNet paragraph granularity:
    for each source, how many paragraph INSTANCES a corpus-wide
    first-occurrence prune (C182's keep rule) would remove from THIS
    source, the exact characters saved, and how much of the source's
    duplication is cross-source (hashes whose first owner lives in a
    different source — removable only by a corpus-wide pass, not a
    per-source one).  This is the number a curation owner reads
    before ordering the prune: which sources shrink, by how much, and
    whether per-source sharding would forfeit the savings.  Keep =
    corpus-unique hash OR first (min doc_id, then min pos) instance;
    chars counted on the RAW paragraph text.  One explode + two
    hash-aggs + a broadcast-sized hash join — linear in corpus
    paragraphs (reference parity: storage/ compaction accounting,
    goka's view of what a table rewrite reclaims)."""
    docs = load(spark, sf, "documents")["documents"]
    # r15 (guide §2.3/§2.4): ``source`` now rides the paragraph
    # explode, so the two corpus-wide doc_id joins are gone; the
    # first-owner source is folded into the per-hash aggregate as
    # min(struct(doc_id, source)) — struct order (doc_id asc, source
    # asc) makes its source field exactly "MIN(source) among the
    # first_doc instances", the old first_src pass; and both sides of
    # the remaining h-join hang off the SAME repartition("h")
    # subtree, so the exchange is planned once and reused (the
    # dup_ngram_coverage discipline).  The old plan instantiated the
    # paragraph explode four times; this one, once.
    phs = _paragraph_frame(docs, "source").repartition("h")
    pf = phs.groupBy("h").agg(
        F.count("*").alias("freq"),
        F.min(F.col("doc_id") * 1_000_000 + F.col("pos")).alias("_first"),
        F.min(F.struct("doc_id", "source")).getField("source")
        .alias("_fsrc"))
    j2 = (phs.join(pf, "h")
          .withColumn("_keep",
                      (F.col("freq") == 1)
                      | (F.col("doc_id") * 1_000_000 + F.col("pos")
                         == F.col("_first"))))
    return (j2.groupBy("source")
            .agg(F.count("*").cast("long").alias("n_paragraphs"),
                 F.sum((~F.col("_keep")).cast("long")).cast("long")
                 .alias("n_removed"),
                 F.sum(F.length("para")).cast("long")
                 .alias("chars_total"),
                 F.sum(F.when(~F.col("_keep"), F.length("para"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("chars_removed"),
                 F.sum(((F.col("freq") >= 2)
                        & (F.col("_fsrc") != F.col("source")))
                       .cast("long")).cast("long")
                 .alias("n_foreign_dup_inst"))
            .select("source", "n_paragraphs", "n_removed",
                    "chars_total", "chars_removed",
                    F.expr("chars_removed * 1000000L"
                           " DIV greatest(chars_total, 1L)").cast("long")
                    .alias("savings_e6"),
                    "n_foreign_dup_inst"))


QUERIES["source_paragraph_savings"] = source_paragraph_savings

ORACLES["source_paragraph_savings"] = f"""
    WITH {_PARA_SQL},
    pf2 AS (
      SELECT h, COUNT(*) AS freq, MIN(doc_id) AS first_doc,
             MIN(doc_id * 1000000 + pos) AS first_ip
      FROM ph GROUP BY h
    ), fs AS (
      SELECT ph.h, MIN(d.source) AS fsrc
      FROM ph JOIN pf2 ON ph.h = pf2.h AND ph.doc_id = pf2.first_doc
      JOIN documents d ON ph.doc_id = d.doc_id
      GROUP BY ph.h
    ), j AS (
      SELECT d.source, ph.para, pf2.freq,
             (pf2.freq = 1 OR ph.doc_id * 1000000 + ph.pos
                              = pf2.first_ip) AS keep,
             fs.fsrc
      FROM ph JOIN pf2 ON ph.h = pf2.h
      JOIN fs ON ph.h = fs.h
      JOIN documents d ON ph.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(len(para)) AS BIGINT) AS chars_total,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE len(para) END)
                AS BIGINT) AS chars_removed,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE len(para) END) * 1000000
                // greatest(SUM(len(para)), 1) AS BIGINT) AS savings_e6,
           CAST(SUM(CASE WHEN freq >= 2 AND fsrc <> source
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_foreign_dup_inst
    FROM j GROUP BY source
"""


def paragraph_template_detect(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document TEMPLATE detection (C198) — the boilerplate
    classifier that tells NAV CHROME from quoted content: a
    normalized paragraph hash repeated across ≥ 3 distinct documents
    is a template CANDIDATE; whether its instances sit at a stable
    in-doc position separates page furniture (headers/footers/cookie
    banners — position-locked) from organically re-quoted content
    (position-free).  C195 answers "where do dups sit" per tercile;
    this answers it per HASH, the unit a strip-list is built from.
    Per candidate: distinct docs, instances, distinct positions,
    modal position (max count, ties → min pos) and its share,
    is_positional at ≥ 80%.  Output is bounded by the duplicated-
    hash vocabulary (≪ corpus); one explode + two hash-aggs + a
    bounded per-hash window (rows per hash = its distinct
    positions)."""
    docs = load(spark, sf, "documents")["documents"]
    # r15 (guide §2.4): every downstream key — the (h, pos) modal agg,
    # its window, the per-h stats agg and the final h-join — clusters
    # by h, so ONE repartition("h") up front satisfies all of their
    # distribution requirements (hash(h) clusters (h, pos) too) and
    # the two arms reuse the same exchange; the old plan exploded the
    # corpus twice and shuffled three more times.
    ph = _paragraph_frame(docs).repartition("h")
    byp = (ph.groupBy("h", "pos")
           .agg(F.count("*").alias("_c")))
    from pyspark.sql import Window as W
    wm = W.partitionBy("h").orderBy(F.desc("_c"), F.asc("pos"))
    modal = (byp.withColumn("_rn", F.row_number().over(wm))
             .filter(F.col("_rn") == 1)
             .select("h", F.col("pos").alias("modal_pos"),
                     F.col("_c").alias("_modal_c")))
    stats = (ph.groupBy("h")
             .agg(F.count_distinct("doc_id").alias("n_docs"),
                  F.count("*").alias("n_inst"),
                  F.count_distinct("pos").alias("n_pos")))
    return (stats.filter(F.col("n_docs") >= 3)
            .join(modal, "h")
            .select("h", F.col("n_docs").cast("long"),
                    F.col("n_inst").cast("long"),
                    F.col("n_pos").cast("long").alias("n_distinct_pos"),
                    F.col("modal_pos").cast("long"),
                    F.expr("_modal_c * 1000000L DIV n_inst").cast("long")
                    .alias("modal_share_e6"))
            .withColumn("is_positional",
                        F.col("modal_share_e6") >= 800_000))


QUERIES["paragraph_template_detect"] = paragraph_template_detect

ORACLES["paragraph_template_detect"] = f"""
    WITH {_PARA_SQL},
    byp AS (
      SELECT h, pos, COUNT(*) AS c FROM ph GROUP BY h, pos
    ), modal AS (
      SELECT h, pos AS modal_pos, c AS modal_c FROM (
        SELECT h, pos, c,
               ROW_NUMBER() OVER (PARTITION BY h
                                  ORDER BY c DESC, pos) AS rn
        FROM byp
      ) WHERE rn = 1
    ), stats AS (
      SELECT h, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_inst,
             COUNT(DISTINCT pos) AS n_pos
      FROM ph GROUP BY h
    )
    SELECT stats.h,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_inst AS BIGINT) AS n_inst,
           CAST(n_pos AS BIGINT) AS n_distinct_pos,
           CAST(modal_pos AS BIGINT) AS modal_pos,
           CAST(modal_c * 1000000 // n_inst AS BIGINT)
             AS modal_share_e6,
           (modal_c * 1000000 // n_inst >= 800000) AS is_positional
    FROM stats JOIN modal USING (h)
    WHERE n_docs >= 3
"""


def doc_prefix_dup_partners(spark: SparkSession, sf: str) -> DataFrame:
    """Shared document-PREFIX audit (C199) — the crawl-QA probe for
    mirrored heads: same title block, same license preamble, same
    generator stanza.  Whole-doc dedup misses them when the tails
    diverge, and paragraph hashing (fixed 12-word windows) only
    catches width-aligned repeats — this keys on the first w
    NORMALIZED words at w ∈ 8/16/32, so a doc family sharing only
    its opening is surfaced with the prefix depth it shares.  Emits
    only docs WITH a partner (output is duplicated-prefix-sized, not
    corpus-sized): (doc, width) → partner count, the group's first
    doc, is_canonical.  Docs shorter than w skip that width (their
    whole-doc repeats are C6/C181's job).  Scale: 3 scan-stage
    prefix hashes + one (w, hash) hash-agg + a join back — no
    windows, no pairs, linear at any corpus size."""
    docs = load(spark, sf, "documents")["documents"]
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
        " +", " "))
    words = F.filter(F.split(norm, " "), lambda x: x != "")
    base = docs.select("doc_id", words.alias("_ws"),
                       F.size(words).alias("_n"))
    # r15: the three widths were three union arms, and the join back
    # re-ran all three — the double regexp normalization executed 6×
    # per doc.  One scan pass emits every admissible width through a
    # bounded explode, and the compact (doc, width, md5) frame is
    # pinned so the group agg and the join-back read it instead of
    # re-deriving it (§2.4; same rows, same hashes).
    widths = F.array(*[F.lit(w) for w in (8, 16, 32)])
    per_w = F.transform(
        F.filter(widths, lambda w: F.col("_n") >= w),
        lambda w: F.struct(
            w.cast("long").alias("width"),
            F.md5(F.array_join(F.slice("_ws", F.lit(1), w), " "))
            .alias("_ph")))
    rows = (base.select("doc_id", F.explode(per_w).alias("_wp"))
            .select("doc_id", F.col("_wp.width").alias("width"),
                    F.col("_wp._ph").alias("_ph"))
            .localCheckpoint(eager=False))
    grp = (rows.groupBy("width", "_ph")
           .agg(F.count("*").alias("_c"),
                F.min("doc_id").alias("first_doc")))
    return (rows.join(grp, ["width", "_ph"])
            .filter(F.col("_c") >= 2)
            .select("doc_id", "width",
                    (F.col("_c") - 1).cast("long").alias("n_partners"),
                    F.col("first_doc").cast("long"),
                    (F.col("doc_id") == F.col("first_doc"))
                    .alias("is_canonical")))


QUERIES["doc_prefix_dup_partners"] = doc_prefix_dup_partners

_NORM_WS = ("list_filter(string_split(trim(regexp_replace("
            "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
            " ' +', ' ', 'g')), ' '), w -> w <> '')")

ORACLES["doc_prefix_dup_partners"] = f"""
    WITH b AS (
      SELECT doc_id, {_NORM_WS} AS ws FROM documents
    ), r AS (
      SELECT doc_id, CAST(w AS BIGINT) AS width,
             md5(array_to_string(ws[1:w], ' ')) AS ph2
      FROM b, (SELECT UNNEST([8, 16, 32]) AS w)
      WHERE len(ws) >= w
    ), g AS (
      SELECT width, ph2, COUNT(*) AS c, MIN(doc_id) AS first_doc
      FROM r GROUP BY width, ph2
    )
    SELECT r.doc_id, r.width,
           CAST(g.c - 1 AS BIGINT) AS n_partners,
           CAST(g.first_doc AS BIGINT) AS first_doc,
           (r.doc_id = g.first_doc) AS is_canonical
    FROM r JOIN g USING (width, ph2)
    WHERE g.c >= 2
"""


def longest_shared_run_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT longest shared word-run per near-dup pair (C200) — the
    quantitative complement of winnowing's binary verdict: C111 says
    two docs share ≥ 2 fingerprints, C158 says their edit distance;
    this says the LENGTH of the longest literally-shared substring —
    the number a span-remove policy (C148) keys its min-span
    threshold on, and the suffix-automaton question answered at
    shuffle-join cost.  Method: over the winnow-candidate pairs
    (never all-pairs), join both docs' POSITIONAL 3-gram md5 frames
    on gram equality; shared runs of length L ≥ k yield exactly
    L−k+1 matches on one (pos_a − pos_b) diagonal, so the classic
    gaps-and-islands count per diagonal recovers L = run + k − 1
    exactly (capped by the shorter doc for the sub-k-gram edge).
    Per pair: longest_run_words + total positional matches.  Scale:
    candidate mining is the certified winnow equi-join; the gram
    joins fan out only candidate docs; islands windows are bounded
    per (pair, diagonal) by doc length — no global sort anywhere."""
    from pyspark.sql import Window as W
    docs = load(spark, sf, "documents")["documents"]
    cand = D.winnow_overlap_pairs(docs, "doc_id", "text",
                                  keys=_winnow_kf(spark, docs, sf))
    # r14 (guide §4.1, §2.4): the positional 3-gram md5 frame was an
    # interpreted transform/slice/posexplode chain, and as BOTH sides
    # of the gram self-join below it computed TWICE per run.  One
    # Arrow kernel builds it (same single-space split + filter, same
    # " "-joined grams, same lowercase md5 hex, same 0-based
    # posexplode positions, NULL text → one (_L=-1, _p=0, _gh=NULL)
    # row), and the localCheckpoint materializes it once for both
    # join sides.
    import hashlib as _hl

    import pandas as _pd

    def _pg_kernel(batches):
        for pdf in batches:
            od, ol, op, oh = [], [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    od.append(did)
                    ol.append(-1)
                    op.append(0)
                    oh.append(None)
                    continue
                ws = [x for x in text.split(" ") if x]
                ng = max(len(ws) - 2, 1)
                for i in range(ng):
                    od.append(did)
                    ol.append(len(ws))
                    op.append(i)
                    oh.append(_hl.md5(" ".join(ws[i:i + 3])
                                      .encode("utf-8")).hexdigest())
            if od:
                yield _pd.DataFrame(
                    {"doc_id": od, "_L": ol, "_p": op, "_gh": oh})

    pg = (D._fan_out(docs.select("doc_id", "text"))
          .mapInPandas(_pg_kernel,
                       "doc_id long, _L int, _p int, _gh string")
          .localCheckpoint(eager=False))
    a = pg.select(F.col("doc_id").alias("id_a"),
                  F.col("_L").alias("_la"), F.col("_p").alias("_pa"),
                  "_gh")
    b = pg.select(F.col("doc_id").alias("_idb"),
                  F.col("_L").alias("_lb"), F.col("_p").alias("_pb"),
                  F.col("_gh").alias("_ghb"))
    m = (cand.select("id_a", "id_b")
         .join(a, "id_a")
         .join(b, (F.col("id_b") == F.col("_idb"))
               & (F.col("_gh") == F.col("_ghb")))
         .select("id_a", "id_b", "_pa",
                 (F.col("_pa") - F.col("_pb")).alias("_diag"),
                 F.least("_la", "_lb").alias("_cap")))
    wrn = W.partitionBy("id_a", "id_b", "_diag").orderBy("_pa")
    isl = m.withColumn("_grp", F.col("_pa") - F.row_number().over(wrn))
    runs = (isl.groupBy("id_a", "id_b", "_cap", "_diag", "_grp")
            .agg(F.count("*").alias("_run")))
    return (runs.groupBy("id_a", "id_b")
            .agg(F.max(F.least(F.col("_run") + 2, F.col("_cap")))
                 .cast("long").alias("longest_run_words"),
                 F.sum("_run").cast("long").alias("n_hits")))


QUERIES["longest_shared_run_pairs"] = longest_shared_run_pairs

ORACLES["longest_shared_run_pairs"] = f"""
    WITH cand AS ({ORACLES["winnow_overlap_pairs"]}),
    b2 AS (
      SELECT doc_id, {_WORDS} AS ws FROM documents
    ), pg AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS L, i AS pos,
             md5(array_to_string(ws[i:i+2], ' ')) AS gh
      FROM b2, UNNEST(range(1, greatest(len(ws) - 2, 1) + 1)) AS t(i)
    ), m AS (
      SELECT c.id_a, c.id_b, a.pos AS pa, a.pos - b.pos AS diag,
             least(a.L, b.L) AS cap
      FROM cand c
      JOIN pg a ON a.doc_id = c.id_a
      JOIN pg b ON b.doc_id = c.id_b AND b.gh = a.gh
    ), isl AS (
      SELECT id_a, id_b, cap, diag,
             pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                     ORDER BY pa) AS grp
      FROM m
    ), runs AS (
      SELECT id_a, id_b, cap, COUNT(*) AS run
      FROM isl GROUP BY id_a, id_b, cap, diag, grp
    )
    SELECT id_a, id_b,
           CAST(MAX(LEAST(run + 2, cap)) AS BIGINT)
             AS longest_run_words,
           CAST(SUM(run) AS BIGINT) AS n_hits
    FROM runs GROUP BY id_a, id_b
"""


#: distinct-paragraph reps + 16-perm md5 signatures — the shared
#: expensive half of C201 (pair mining) and C206 (the keep verdict):
#: one explode + one (h) agg + the signature hash-agg per session.
@artifact("documents")
def _paragraph_sigs(spark: SparkSession, sf: str):
    docs = load(spark, sf, "documents")["documents"]
    ph = _paragraph_frame(docs)
    reps = ph.groupBy("h").agg(F.count("*").alias("n_inst"),
                               F.min("para").alias("_rep"))
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("_rep")), "[^a-z0-9 ]", ""),
        " +", " "))
    pdocs = reps.select("h", "n_inst", norm.alias("_nt"))
    sigs = D.minhash_signatures(pdocs, "h", "_nt", num_perm=16,
                                base_hash="md5")
    return (pdocs.select("h", "n_inst").localCheckpoint(eager=False),
            sigs.localCheckpoint(eager=False))


def paragraph_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level NEAR-dup candidates at sketch cost (C201) —
    the CCNet production shape one level below C19's doc MinHash:
    exact paragraph dedup (C181) only merges byte-identical
    normalized windows, so boilerplate with injected dates/ids and
    boundary-shifted repeats survive it.  Here every DISTINCT
    normalized paragraph (the hash already collapses exact copies)
    gets a 16-perm md5 MinHash over its 3-word shingles, banded
    4×4; colliding-band pairs are scored by matched perms, with each
    side's corpus instance count attached — merging a pair saves
    n_inst_a + n_inst_b − 1 instances.  Sketch cost at 100 TB: the
    signature pass is one hash-agg over distinct paragraphs (≪
    instances), banding is an equi-join, never all-pairs.
    Hash-verified end-to-end: the md5 signature law is the certified
    C19 oracle machinery, re-keyed from doc_id to paragraph hash."""
    reps, sigs = _paragraph_sigs(spark, sf)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("-", F.transform(
                     F.slice("minhash", b * 4 + 1, 4),
                     lambda x: x.cast("string"))).alias("bkey"))
        for b in range(4)])
    bk = (sigs.select("h", F.explode(bands).alias("bb"))
          .select("h", "bb.band", "bb.bkey"))
    a, b = bk.alias("a"), bk.alias("b")
    pairs = (a.join(b, ["band", "bkey"])
             .filter(F.col("a.h") < F.col("b.h"))
             .select(F.col("a.h").alias("h_a"),
                     F.col("b.h").alias("h_b"))
             .distinct())
    sa = sigs.select(F.col("h").alias("h_a"),
                     F.col("minhash").alias("_ma"))
    sb = sigs.select(F.col("h").alias("h_b"),
                     F.col("minhash").alias("_mb"))
    mt = F.aggregate(
        F.zip_with("_ma", "_mb",
                   lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    ia = reps.select(F.col("h").alias("h_a"),
                     F.col("n_inst").alias("n_inst_a"))
    ib = reps.select(F.col("h").alias("h_b"),
                     F.col("n_inst").alias("n_inst_b"))
    return (pairs.join(sa, "h_a").join(sb, "h_b")
            .select("h_a", "h_b", mt.alias("n_perm_match"))
            .join(ia, "h_a").join(ib, "h_b")
            .select("h_a", "h_b",
                    F.col("n_perm_match").cast("long"),
                    (F.col("n_perm_match") * 62500).cast("long")
                    .alias("est_e6"),
                    F.col("n_inst_a").cast("long"),
                    F.col("n_inst_b").cast("long")))


QUERIES["paragraph_minhash_pairs"] = paragraph_minhash_pairs


def _paragraph_minhash_oracle() -> str:
    from goka_spark.functions.dedup import MERSENNE, _perm_params
    rows = ", ".join(f"({j}, {a}, {b})"
                     for j, (a, b) in enumerate(_perm_params(16)))
    return f"""
    WITH {_PARA_SQL},
    reps AS (
      SELECT h, COUNT(*) AS n_inst, MIN(para) AS rep
      FROM ph GROUP BY h
    ), rn2 AS (
      SELECT h, n_inst,
             list_filter(string_split(trim(regexp_replace(
               regexp_replace(lower(rep), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')), ' '), w -> w <> '') AS ws
      FROM reps
    ), sh2 AS (
      SELECT h, UNNEST(list_distinct(list_transform(
               range(1, greatest(len(ws) - 2, 1) + 1),
               i -> array_to_string(ws[i:i+2], ' ')))) AS s
      FROM rn2
    ), hh AS (
      SELECT h, CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)
                & 2147483647 AS h32
      FROM sh2
    ), params(perm, pa, pb) AS (VALUES {rows}),
    sig AS (
      SELECT h, CAST(perm AS INTEGER) AS perm,
             MIN((pa * h32 + pb) % {MERSENNE}) AS sig
      FROM hh CROSS JOIN params GROUP BY h, perm
    ), bk AS (
      SELECT h, perm // 4 AS band,
             string_agg(CAST(sig AS VARCHAR), '-' ORDER BY perm)
               AS bkey
      FROM sig GROUP BY h, perm // 4
    ), pairs AS (
      SELECT DISTINCT a.h AS h_a, b.h AS h_b
      FROM bk a JOIN bk b
        ON a.band = b.band AND a.bkey = b.bkey AND a.h < b.h
    ), sc AS (
      SELECT p.h_a, p.h_b,
             SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS mt
      FROM pairs p
      JOIN sig sa ON sa.h = p.h_a
      JOIN sig sb ON sb.h = p.h_b AND sb.perm = sa.perm
      GROUP BY p.h_a, p.h_b
    )
    SELECT sc.h_a, sc.h_b,
           CAST(mt AS BIGINT) AS n_perm_match,
           CAST(mt * 62500 AS BIGINT) AS est_e6,
           CAST(ra.n_inst AS BIGINT) AS n_inst_a,
           CAST(rb.n_inst AS BIGINT) AS n_inst_b
    FROM sc
    JOIN reps ra ON ra.h = sc.h_a
    JOIN reps rb ON rb.h = sc.h_b
    """


ORACLES["paragraph_minhash_pairs"] = _paragraph_minhash_oracle()


def wav_spectral_tilt(spark: SparkSession, sf: str) -> DataFrame:
    """Audio spectral-TILT + transient gate (C202,
    M.wav_diff_report) — the frequency-content leg the
    silence/ZCR/headroom trio (C123/C131/C172) lacks: tilt_e6 =
    Σ(Δs)²·10⁶ // (4·Σs²), the difference-filter energy ratio
    (Kedem 1986 — the ZCR-family spectral-centroid estimator, equal
    to sin²(πf/f_s) for a pure tone), and n_transients, the count of
    one-sample jumps past half the int16 range — waveform
    discontinuities (clicks/pops/splices) no energy gate sees.
    Exact integers end to end: NO float DFT, so the oracle replays
    decode→diff→moments in closed form from the PCM sample law
    ((seed·7 + i·13) % 65536 − 32768), where the sawtooth's wrap
    positions — and hence each clip's transient count — genuinely
    vary with the (seed, length) phase.  Arrow-batched decode; one
    scan-stage map, zero shuffle."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id",
        (F.lit(500) + (F.col("doc_id") % 13) * 400).cast("int")
        .alias("n"),
        F.col("doc_id").alias("seed"))
    blobs = M.encode_wav(spec, "doc_id", "n", "seed", rate=8000)
    return (M.wav_diff_report(blobs)
            .withColumn("is_clicky", F.col("n_transients") > 0))


QUERIES["wav_spectral_tilt"] = wav_spectral_tilt

ORACLES["wav_spectral_tilt"] = """
    WITH s AS (
      SELECT doc_id, (500 + (doc_id % 13) * 400) AS n,
             list_transform(range(0, 500 + (doc_id % 13) * 400),
               i -> (doc_id * 7 + i * 13) % 65536 - 32768) AS smp
      FROM documents
    ), q AS (
      SELECT doc_id, n,
             list_aggregate(list_transform(smp, x -> x * x), 'sum')
               AS et,
             list_aggregate(list_transform(range(1, n),
               i -> (smp[i + 1] - smp[i]) * (smp[i + 1] - smp[i])),
               'sum') AS ed,
             len(list_filter(range(1, n),
               i -> abs(smp[i + 1] - smp[i]) > 32768)) AS nt
      FROM s
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(et AS BIGINT) AS e_total,
           CAST(ed AS BIGINT) AS e_diff,
           CAST(ed * 1000000 // greatest(4 * et, 1) AS BIGINT)
             AS tilt_e6,
           CAST(nt AS BIGINT) AS n_transients,
           (nt > 0) AS is_clicky
    FROM q
"""


def image_entropy_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Image gray-HISTOGRAM entropy gate (C203,
    M.image_value_counts) — the multimodal twin of C7's text-entropy
    floor, completing the image-QA pair with C171's contrast gate
    (variance sees spread; entropy sees POSTERIZATION — a two-tone
    logo can have huge variance yet ~ln 2 information): per image,
    distinct gray values, the micro-nat Σc·ln c term (exact int, the
    doc_entropy float discipline — Spark F.log and DuckDB ln on
    IDENTICAL integer counts), and the all-integer low-info verdict
    H < 1 nat ⟺ nlnn_e6 − clnc_e6 < 10⁶·N.  The flat 1×1 branch
    (doc_id % 251 == 0, C171's convention) keeps the gate's true arm
    exercised.  Decode is Arrow-batched; the ≤ 256-row-per-image
    histogram aggregates map-side — linear at any corpus size."""
    docs = load(spark, sf, "documents")["documents"]
    flat = (F.col("doc_id") % 251 == 0)
    dims = docs.select(
        "doc_id",
        F.when(flat, F.lit(1)).otherwise(F.lit(6) + F.col("doc_id") % 19)
        .cast("int").alias("w"),
        F.when(flat, F.lit(1)).otherwise(F.lit(5) + F.col("doc_id") % 11)
        .cast("int").alias("h"),
        F.col("doc_id").alias("seed"))
    blobs = M.encode_ppm_quad(dims, "doc_id", "w", "h", "seed")
    vc = M.image_value_counts(blobs)
    term = F.floor(1e6 * F.col("cnt") * F.log(F.col("cnt")) + 0.5) \
        .cast("long")
    agg = (vc.groupBy("doc_id")
           .agg(F.sum("cnt").cast("long").alias("n_pixels"),
                F.count("*").cast("long").alias("n_distinct_vals"),
                F.sum(term).cast("long").alias("clnc_e6")))
    nlnn = F.floor(1e6 * F.col("n_pixels")
                   * F.log(F.col("n_pixels")) + 0.5).cast("long")
    return (agg.withColumn("nlnn_e6", nlnn)
            .withColumn("is_lowinfo",
                        F.col("nlnn_e6") - F.col("clnc_e6")
                        < F.lit(1_000_000) * F.col("n_pixels")))


QUERIES["image_entropy_gate"] = image_entropy_gate

ORACLES["image_entropy_gate"] = """
    WITH px AS (
      SELECT doc_id,
             CASE WHEN doc_id % 251 = 0 THEN 1
                  ELSE (6 + doc_id % 19) * (5 + doc_id % 11) END AS n,
             doc_id AS seed
      FROM documents
    ), v AS (
      SELECT doc_id, n,
             UNNEST(list_transform(range(0, n),
               i -> ((i + seed) * (i + seed)) % 256)) AS val
      FROM px
    ), c AS (
      SELECT doc_id, n, val, COUNT(*) AS cnt
      FROM v GROUP BY doc_id, n, val
    ), agg AS (
      SELECT doc_id, n, COUNT(*) AS nd,
             SUM(CAST(floor(1e6 * cnt * ln(cnt) + 0.5) AS BIGINT))
               AS clnc
      FROM c GROUP BY doc_id, n
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_pixels,
           CAST(nd AS BIGINT) AS n_distinct_vals,
           CAST(clnc AS BIGINT) AS clnc_e6,
           CAST(floor(1e6 * n * ln(n) + 0.5) AS BIGINT) AS nlnn_e6,
           (floor(1e6 * n * ln(n) + 0.5) - clnc < 1000000 * n)
             AS is_lowinfo
    FROM agg
"""


def video_motion_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-frame MOTION profile (C204, M.frame_sad) — the
    quantitative complement of C139's binary cut detector: per
    stream, frame transitions, STATIC transitions (SAD = 0 —
    repeated frames a sampler skips; C132's dedup target), total
    absolute pixel difference, and motion_e2 = sad·100 DIV
    (transitions·pixels) — mean per-pixel motion in centi-gray.  A
    frame pipeline keys its sampling rate on exactly this (static
    lecture video vs sports).  Same 9×8 quad stream law as C139
    (shot_len=2, seed_mod=5), so shots make the static arm real;
    all-integer off real concatenated-P6 parses; the oracle replays
    the ((i+seed)²)%256 pixel law per transition in closed form.
    Arrow-batched decode; zero shuffle."""
    docs = load(spark, sf, "documents")["documents"]
    spec = docs.select(
        "doc_id", (F.lit(4) + F.col("doc_id") % 5).cast("int").alias("nf"))
    blobs = M.encode_ppm_stream_quad(spec, "doc_id", "nf",
                                     width=9, height=8, seed_mod=5,
                                     shot_len=2)
    return (M.frame_sad(blobs)
            .withColumn("motion_e2",
                        F.expr("sad_total * 100 DIV"
                               " greatest(n_transitions * 72, 1L)")
                        .cast("long")))


QUERIES["video_motion_profile"] = video_motion_profile

ORACLES["video_motion_profile"] = """
    WITH f AS (
      SELECT doc_id, (4 + doc_id % 5) AS nf
      FROM documents
    ), tr AS (
      SELECT doc_id, nf, j,
             (doc_id + j // 2) % 5 AS sa,
             (doc_id + (j + 1) // 2) % 5 AS sb
      FROM f, UNNEST(range(0, 8)) AS t(j)
      WHERE j < nf - 1
    ), sad AS (
      SELECT doc_id, nf, j,
             list_aggregate(list_transform(range(0, 72),
               i -> abs(((i + sa) * (i + sa)) % 256
                        - ((i + sb) * (i + sb)) % 256)), 'sum') AS s
      FROM tr
    )
    SELECT doc_id,
           CAST(ANY_VALUE(nf) AS BIGINT) AS n_frames,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_static,
           CAST(SUM(s) AS BIGINT) AS sad_total,
           CAST(SUM(s) * 100 // greatest(COUNT(*) * 72, 1)
                AS BIGINT) AS motion_e2
    FROM sad GROUP BY doc_id
"""


def hll_merge_sources(spark: SparkSession, sf: str) -> DataFrame:
    """HLL register-MERGE proof over source vocabularies (C205) —
    the property a 100 TB rollup architecture rests on, demonstrated
    and hash-verified end to end: each source's 256 md5-derived
    vocabulary registers (C75's engine-portable law) roll up to the
    corpus estimate by cell-wise MAX — NO re-scan of the corpus —
    and the merged estimate equals what a from-scratch corpus build
    would produce, because max-merge of registers IS the registers
    of the union (exact algebra, not approximation).  One row per
    source (exact vocab + its estimate) plus the __ALL__ row (exact
    corpus vocab + the MERGED-register estimate).  Beside it, the
    sum of per-source exacts — the naive double-counting number the
    merge exists to avoid.  Shape: one token explode + two bounded
    hash-aggs (≤ 256 rows per source); the merge agg touches
    sources·256 rows at any corpus size."""
    docs = load(spark, sf, "documents")["documents"]
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    tok = docs.select("source", F.explode(words).alias("w"))
    regs = D.hll_registers(tok, ["source"], "w")
    est_src = D.hll_estimate(regs, ["source"])
    exact_src = (tok.groupBy("source")
                 .agg(F.count_distinct("w").alias("exact_vocab")))
    per = exact_src.join(est_src, "source")
    merged_regs = (regs.groupBy("reg").agg(F.max("r").alias("r"))
                   .withColumn("source", F.lit("__ALL__")))
    est_all = D.hll_estimate(merged_regs, ["source"])
    exact_all = (tok.agg(F.count_distinct("w").alias("exact_vocab"))
                 .withColumn("source", F.lit("__ALL__")))
    allrow = exact_all.join(est_all, "source")
    return (per.unionByName(allrow)
            .select("source", F.col("exact_vocab").cast("long"),
                    "hll_est"))


QUERIES["hll_merge_sources"] = hll_merge_sources

ORACLES["hll_merge_sources"] = f"""
    WITH tok AS (
      SELECT source, UNNEST(ws) AS w
      FROM (SELECT source, {_WORDS} AS ws FROM documents)
    ), h AS (
      SELECT source, md5(w) AS hx FROM tok
    ), rv AS (
      SELECT source,
             CAST(('0x' || substr(hx, 1, 2)) AS BIGINT) AS reg,
             CASE WHEN CAST(('0x' || substr(hx, 3, 12)) AS BIGINT) > 0
                  THEN 49 - length(bin(
                         CAST(('0x' || substr(hx, 3, 12)) AS BIGINT)))
                  ELSE 49 END AS val
      FROM h
    ), regs AS (
      SELECT source, reg, MAX(val) AS r FROM rv GROUP BY source, reg
    ), mregs AS (
      SELECT '__ALL__' AS source, reg, MAX(r) AS r
      FROM regs GROUP BY reg
    ), allregs AS (
      SELECT * FROM regs UNION ALL SELECT * FROM mregs
    ), per AS (
      SELECT source,
             CAST(SUM(CAST(1 AS BIGINT) << (49 - r))
                  + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 49)
                  AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 49 AS DOUBLE)
               AS s,
             CAST(256 - COUNT(*) AS DOUBLE) AS zeros
      FROM allregs GROUP BY source
    ), est AS (
      SELECT source,
             CASE WHEN (0.7213 / (1 + 1.079/256)) * 256 * 256 / s
                       <= 2.5 * 256 AND zeros > 0
                  THEN ROUND(256.0 * ln(256.0 / zeros), 4)
                  ELSE ROUND((0.7213 / (1 + 1.079/256)) * 256 * 256 / s, 4)
             END AS hll_est
      FROM per
    ), ex AS (
      SELECT source, COUNT(DISTINCT w) AS exact_vocab FROM tok
      GROUP BY source
      UNION ALL
      SELECT '__ALL__', COUNT(DISTINCT w) FROM tok
    )
    SELECT ex.source, CAST(ex.exact_vocab AS BIGINT) AS exact_vocab,
           est.hll_est
    FROM ex JOIN est USING (source)
"""


def paragraph_minhash_keep(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph near-dup KEEP verdict (C206) — the production
    completion of C201's pair mining, the C23 (doc-level
    dedup_minhash_keep) pipeline one granularity down: banded
    candidate pairs over distinct normalized paragraphs → connected
    components (pointer-jumping, cluster id = min member hash) →
    keep the MOST-INSTANCED variant per cluster (ties → min hash) —
    the canonical-boilerplate-variant policy (the highest-frequency
    wording of a cookie banner is the one to keep, its long-tail
    mutations the ones to strip).  Emits only CLUSTERED paragraphs
    (output bounded by the near-dup vocabulary): hash, cluster,
    keep hash, instance count, kept flag, and instances removed if
    the strip list is applied.  Scale: signatures from the session
    memo (one hash-agg over distinct paragraphs); CC runs on the
    banded pair graph only — the O(log diameter) pointer-jumping
    loop, all data distributed."""
    return (_para_keep_frame(spark, sf)
            .select("h", "cluster_id", "keep_h",
                    F.col("n_inst").cast("long"),
                    (F.col("h") == F.col("keep_h")).alias("kept"))
            .withColumn("inst_removed",
                        F.when(F.col("kept"), F.lit(0))
                        .otherwise(F.col("n_inst")).cast("long")))


QUERIES["paragraph_minhash_keep"] = paragraph_minhash_keep


#: the paragraph keep frame (h, cluster_id, n_inst, keep_h) — the
#: banded pair mine + pointer-jumping CC + per-cluster keep window
#: that BOTH paragraph_minhash_keep and paragraph_strip_list replay
#: in full (the _keep_frame/_jaccard_cc discipline one granularity
#: down).  Pure function of the paragraph signatures.
@artifact("documents")
def _para_keep_frame(spark: SparkSession, sf: str) -> DataFrame:
    reps, sigs = _paragraph_sigs(spark, sf)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("-", F.transform(
                     F.slice("minhash", b * 4 + 1, 4),
                     lambda x: x.cast("string"))).alias("bkey"))
        for b in range(4)])
    bk = (sigs.select("h", F.explode(bands).alias("bb"))
          .select("h", "bb.band", "bb.bkey"))
    a, b = bk.alias("a"), bk.alias("b")
    pairs = (a.join(b, ["band", "bkey"])
             .filter(F.col("a.h") < F.col("b.h"))
             .select(F.col("a.h").alias("id_a"),
                     F.col("b.h").alias("id_b"))
             .distinct())
    cc = D.connected_components(pairs)
    mem = (cc.select(F.col("node").alias("h"), "cluster_id")
           .join(reps, "h"))
    from pyspark.sql import Window as W
    wk = W.partitionBy("cluster_id").orderBy(F.desc("n_inst"),
                                             F.asc("h"))
    keep = (mem.withColumn("_rn", F.row_number().over(wk))
            .filter(F.col("_rn") == 1)
            .select("cluster_id", F.col("h").alias("keep_h")))
    return mem.join(keep, "cluster_id").localCheckpoint(eager=False)


def _paragraph_keep_oracle() -> str:
    pairs = _paragraph_minhash_oracle()
    return f"""
    WITH RECURSIVE pr AS ({pairs}),
    edges AS (
      SELECT h_a AS a, h_b AS b FROM pr
      UNION SELECT h_b, h_a FROM pr
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node, node AS label FROM nodes
      UNION
      SELECT e.a AS node, r.label
      FROM edges e JOIN reach r ON e.b = r.node
    ),
    cl AS (
      SELECT node AS h, MIN(label) AS cluster_id
      FROM reach GROUP BY node
    ),
    inst AS (
      SELECT h_a AS h, n_inst_a AS n_inst FROM pr
      UNION SELECT h_b, n_inst_b FROM pr
    ),
    mem AS (
      SELECT cl.h, cl.cluster_id, inst.n_inst
      FROM cl JOIN (SELECT h, MAX(n_inst) AS n_inst
                    FROM inst GROUP BY h) inst USING (h)
    ),
    best AS (
      SELECT cluster_id, h AS keep_h,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_inst DESC, h) AS rn
      FROM mem
    )
    SELECT m.h, m.cluster_id, b.keep_h,
           CAST(m.n_inst AS BIGINT) AS n_inst,
           (m.h = b.keep_h) AS kept,
           CAST(CASE WHEN m.h = b.keep_h THEN 0 ELSE m.n_inst END
                AS BIGINT) AS inst_removed
    FROM mem m JOIN best b
      ON b.cluster_id = m.cluster_id AND b.rn = 1
    """


ORACLES["paragraph_minhash_keep"] = _paragraph_keep_oracle()


def hll_register_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """HLL register-count CALIBRATION sweep (C207) — the C100/C178
    measured-sweep discipline applied to the cardinality sketch: the
    SAME md5 register law at m ∈ {16, 256, 4096} registers (1/2/3
    hex chars of index; 48-bit tail), estimating global distinct
    users, beside the exact count and the relative error — the table
    a monitoring owner reads before sizing per-key sketch state
    (goka's group-table values): 16 registers = 2⁴ bytes/key but
    ~26% σ, 4096 = ~1.6% σ at 4 KB/key, and the m=4096 arm lands in
    the LINEAR-COUNTING regime at test scale so both estimator
    branches are exercised and verified.  All arms share
    C75's asymptotic-alpha formula (0.7213/(1+1.079/m), applied
    uniformly — NOT Flajolet's small-m constants — so both engines
    compute one law).  err_share = ROUND(|est/exact − 1|, 4):
    deterministic double algebra on identical inputs (est is already
    rounded to 4 dp, exact is an integer).  Three bounded hash-aggs
    (≤ m rows each) over one scan."""
    ev = load(spark, sf, "events")["events"]
    hx = F.md5(F.col("user_id").cast("string"))
    arms = []
    for k, m in ((1, 16), (2, 256), (3, 4096)):
        reg = F.conv(F.substring(hx, 1, k), 16, 10).cast("int")
        x = F.conv(F.substring(hx, k + 1, 12), 16, 10).cast("long")
        val = F.when(x > 0, F.lit(49) - F.length(F.bin(x))) \
            .otherwise(F.lit(49)).cast("int")
        regs = (ev.select(F.lit(m).cast("long").alias("m"),
                          reg.alias("reg"), val.alias("val"))
                .groupBy("m", "reg").agg(F.max("val").alias("r")))
        arms.append(D.hll_estimate(regs, ["m"], m=m))
    est = arms[0].unionByName(arms[1]).unionByName(arms[2])
    exact = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    return (est.crossJoin(F.broadcast(exact))
            .select("m", F.col("exact_distinct").cast("long"),
                    "hll_est",
                    F.round(F.abs(F.col("hll_est")
                                  / F.col("exact_distinct") - 1), 4)
                    .alias("err_share")))


QUERIES["hll_register_sweep"] = hll_register_sweep


def _hll_sweep_oracle() -> str:
    arms = []
    for k, m in ((1, 16), (2, 256), (3, 4096)):
        alpha = f"(0.7213 / (1 + 1.079/{m}))"
        arms.append(f"""
      SELECT {m} AS m,
             CASE WHEN {alpha} * {m} * {m} / s <= 2.5 * {m}
                       AND zeros > 0
                  THEN ROUND({m} * 1.0 * ln({m} * 1.0 / zeros), 4)
                  ELSE ROUND({alpha} * {m} * {m} / s, 4)
             END AS hll_est
      FROM (
        SELECT CAST(SUM(CAST(1 AS BIGINT) << (49 - r))
                    + ({m} - COUNT(*)) * (CAST(1 AS BIGINT) << 49)
                    AS DOUBLE) / CAST(CAST(1 AS BIGINT) << 49 AS DOUBLE)
                 AS s,
               CAST({m} - COUNT(*) AS DOUBLE) AS zeros
        FROM (
          SELECT reg, MAX(val) AS r FROM (
            SELECT CAST(('0x' || substr(hx, 1, {k})) AS BIGINT) AS reg,
                   CASE WHEN CAST(('0x' || substr(hx, {k + 1}, 12))
                             AS BIGINT) > 0
                        THEN 49 - length(bin(
                               CAST(('0x' || substr(hx, {k + 1}, 12))
                                    AS BIGINT)))
                        ELSE 49 END AS val
            FROM (SELECT md5(CAST(user_id AS VARCHAR)) AS hx
                  FROM events)
          ) GROUP BY reg
        )
      )""")
    u = " UNION ALL ".join(arms)
    return f"""
    WITH est AS ({u}),
    ex AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct
           FROM events)
    SELECT CAST(est.m AS BIGINT) AS m,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
           est.hll_est,
           ROUND(ABS(est.hll_est / ex.exact_distinct - 1), 4)
             AS err_share
    FROM est, ex
    """


ORACLES["hll_register_sweep"] = _hll_sweep_oracle()


def cms_width_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min WIDTH calibration sweep (C208) — C207's sizing
    table for the frequency sketch: the SAME md5 row-hash law at
    width ∈ {128, 1024, 8192} buckets (depth 4), point-queried on
    the exact top-20 trigrams (C76's deterministic total order), per
    width: how many of the 20 heavy hitters come back EXACT and the
    total overestimate mass — the collision-vs-memory trade a
    monitoring owner reads before sizing per-topic sketch state
    (128 buckets = 2 KB but heavy collision at corpus gram
    cardinality; 8192 = 128 KB and exact here).  est ≥ true always
    (the CMS guarantee, already property-tested); every counter is
    exact-integer state replayed bit-identically by the oracle.
    Three (row, bucket) hash-aggs over ONE shared posting scan +
    20-row broadcast probes."""
    docs = load(spark, sf, "documents")["documents"]
    postings = _sh_postings(spark, docs, sf)
    top = D.common_ngrams(docs, "doc_id", "text", n=3, k=20, min_df=2,
                          postings=postings,
                          dfc=_sh_dfc(spark, docs, sf))
    # ONE pass over the gram stream for all three widths: every
    # width's bucket is h % w of the SAME per-row md5 hash, so the
    # stream collapses once into a vocab-sized (row, h) frequency
    # frame and each width's sketch is a cheap re-agg of it — at
    # 100 TB this is 1× the gram-stream IO instead of 3× (the same
    # argument that moved cms_sketch itself off the depth-way union).
    hh = (postings.select(F.explode(F.array(*[
        F.struct(F.lit(r).alias("row"),
                 F.conv(F.substring(
                     F.md5(F.concat(F.lit(f"r{r}:"), F.col("sh"))),
                     1, 8), 16, 10).cast("long").alias("h"))
        for r in range(4)])).alias("_rh"))
        .groupBy(F.col("_rh.row").alias("row"),
                 F.col("_rh.h").alias("h"))
        .agg(F.count("*").alias("cnt")))
    arms = []
    for w in (128, 1024, 8192):
        sk = (hh.groupBy("row", (F.col("h") % w).alias("bucket"))
              .agg(F.sum("cnt").alias("cnt")))
        est = D.cms_estimate(sk, top.select(F.col("ngram").alias("sh")),
                             "sh", depth=4, width=w)
        arms.append(
            top.join(est.select(F.col("sh").alias("ngram"), "cms_est"),
                     "ngram")
            .agg(F.lit(w).cast("long").alias("width"),
                 F.count("*").cast("long").alias("n_queries"),
                 F.sum((F.col("cms_est") == F.col("df")).cast("long"))
                 .cast("long").alias("n_exact"),
                 F.sum(F.col("cms_est") - F.col("df")).cast("long")
                 .alias("overest_total")))
    return arms[0].unionByName(arms[1]).unionByName(arms[2])


QUERIES["cms_width_sweep"] = cms_width_sweep


def _cms_sweep_oracle() -> str:
    arms = []
    for w in (128, 1024, 8192):
        arms.append(f"""
      SELECT CAST({w} AS BIGINT) AS width,
             CAST(COUNT(*) AS BIGINT) AS n_queries,
             CAST(SUM(CASE WHEN e.cms_est = t.df THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_exact,
             CAST(SUM(e.cms_est - t.df) AS BIGINT) AS overest_total
      FROM top t JOIN (
        SELECT ngram, MIN(COALESCE(c, 0)) AS cms_est
        FROM (SELECT t2.ngram, q.r,
                     CAST('0x' || substr(md5('r' || q.r || ':'
                          || t2.ngram), 1, 8) AS BIGINT) % {w} AS b
              FROM top t2
              CROSS JOIN (SELECT UNNEST(range(0, 4)) AS r) q) x
        LEFT JOIN (
          SELECT r, CAST('0x' || substr(md5('r' || r || ':' || sh),
                         1, 8) AS BIGINT) % {w} AS b, COUNT(*) AS c
          FROM sh CROSS JOIN (SELECT UNNEST(range(0, 4)) AS r)
          GROUP BY r, b
        ) cms ON cms.r = x.r AND cms.b = x.b
        GROUP BY ngram
      ) e ON e.ngram = t.ngram""")
    u = " UNION ALL ".join(arms)
    return f"""
    WITH d AS (
      SELECT doc_id AS doc, list_distinct(list_transform(
               range(1, greatest(len(words) - 2, 1) + 1),
               i -> array_to_string(words[i:i+2], ' '))) AS shs
      FROM (SELECT doc_id, {_WORDS} AS words FROM documents)
      WHERE len(words) >= 1
    ), sh AS (
      SELECT doc, UNNEST(shs) AS sh FROM d
    ), dfc AS (
      SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh
    ), top AS (
      SELECT sh AS ngram, df FROM (
        SELECT sh, df, ROW_NUMBER() OVER (ORDER BY df DESC, sh) AS rn
        FROM dfc WHERE df >= 2) WHERE rn <= 20
    )
    {u}
    """


ORACLES["cms_width_sweep"] = _cms_sweep_oracle()


def pq_code_utilization(spark: SparkSession, sf: str) -> DataFrame:
    """PQ codebook UTILIZATION audit (C209) — the FAISS-discipline
    health check on the persisted index's quantizers, completing the
    serving-QA family (C87 ivf_balance_report audits the CELL lists;
    this audits the PQ side): per subspace, how many of the 16
    codebook entries the corpus actually uses, the DEAD entries
    (wasted quantization capacity — a sign the codebook was trained
    on unrepresentative data or the subspace collapsed), the hottest
    code's count, and balance_e6 = max·ksub·1e6 DIV n (1e6 =
    perfectly uniform; ≫1e6 = a few codes carry everything and ADC
    distances lose resolution).  Reads the PERSISTED codes table
    (one scan of m-int rows, never the raw vectors); two bounded
    hash-aggs (≤ m·ksub cells).  Hash-verified: the oracle replays
    normalize→argmin encoding against the same codebook literals the
    C64/C65 oracles certify."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    idx = _ann_index(spark, sf, emb)
    ex = idx.codes().select(F.posexplode("codes").alias("subspace", "c"))
    per = ex.groupBy("subspace", "c").agg(F.count("*").alias("_n"))
    return (per.groupBy("subspace")
            .agg(F.count("*").cast("long").alias("n_used_codes"),
                 F.max("_n").alias("_mx"), F.sum("_n").alias("_tot"))
            .select(F.col("subspace").cast("long"),
                    "n_used_codes",
                    (F.lit(16) - F.col("n_used_codes")).cast("long")
                    .alias("n_dead_codes"),
                    F.col("_mx").cast("long").alias("max_code_count"),
                    F.expr("_mx * 16 * 1000000L DIV _tot").cast("long")
                    .alias("balance_e6")))


QUERIES["pq_code_utilization"] = pq_code_utilization


def _pq_util_oracle() -> str:
    coded, _ = _pq_coded_ctes(64)
    return f"""
    WITH {_cv_ctes(64)}, {coded},
    ex AS (
      SELECT UNNEST(code) AS c, UNNEST(range(0, 8)) AS subspace
      FROM coded
    ), per AS (
      SELECT subspace, c, COUNT(*) AS n FROM ex GROUP BY subspace, c
    )
    SELECT CAST(subspace AS BIGINT) AS subspace,
           CAST(COUNT(*) AS BIGINT) AS n_used_codes,
           CAST(16 - COUNT(*) AS BIGINT) AS n_dead_codes,
           CAST(MAX(n) AS BIGINT) AS max_code_count,
           CAST(MAX(n) * 16 * 1000000 // SUM(n) AS BIGINT)
             AS balance_e6
    FROM per GROUP BY subspace
    """


ORACLES["pq_code_utilization"] = _pq_util_oracle


# --------------------------------------------------------------------------
# r14 additions
# --------------------------------------------------------------------------


def truncation_loss_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Context-length TRUNCATION loss sweep (C210) — the sequencing
    sibling of C85/C77: before picking a max sequence length, how
    much of the corpus a hard truncation at L ∈ {64, 128, 256}
    whitespace tokens would discard (docs touched, tokens lost =
    Σ max(0, tok − L), loss share) — the table that decides whether
    the pipeline needs C114's chunking or can afford plain
    truncation.  One scan computes every doc's token count ONCE;
    the three arms are columns of a single aggregate, unpivoted with
    stack — the B93/C208 shared-frame sweep discipline.  Exact
    integers throughout."""
    docs = load(spark, sf, "documents")["documents"]
    toks = docs.select(
        T.ws_token_count(F.col("text")).cast("long").alias("_tok"))
    arms = []
    for L in (64, 128, 256):
        lost = F.when(F.col("_tok") > L, F.col("_tok") - L).otherwise(0)
        arms += [
            F.sum((F.col("_tok") > L).cast("long")).alias(f"_d{L}"),
            F.sum(lost).alias(f"_l{L}")]
    agg = toks.agg(F.count("*").alias("_n"),
                   F.sum("_tok").alias("_t"), *arms)
    return (agg.selectExpr(
        "stack(3, 64L, _n, _t, _d64, _l64,"
        " 128L, _n, _t, _d128, _l128,"
        " 256L, _n, _t, _d256, _l256)"
        " AS (max_len, n_docs, tokens_total, n_truncated, tokens_lost)")
        .select("max_len", F.col("n_docs").cast("long"),
                F.col("tokens_total").cast("long"),
                F.col("n_truncated").cast("long"),
                F.col("tokens_lost").cast("long"),
                F.expr("tokens_lost * 1000000L DIV tokens_total")
                .cast("long").alias("loss_share_e6")))


QUERIES["truncation_loss_sweep"] = truncation_loss_sweep

ORACLES["truncation_loss_sweep"] = f"""
    WITH t AS (
      SELECT len({_WORDS}) AS tok FROM documents
    ), a AS (
      SELECT COUNT(*) AS n, SUM(tok) AS tt,
             SUM(CASE WHEN tok > 64 THEN 1 ELSE 0 END) AS d64,
             SUM(CASE WHEN tok > 64 THEN tok - 64 ELSE 0 END) AS l64,
             SUM(CASE WHEN tok > 128 THEN 1 ELSE 0 END) AS d128,
             SUM(CASE WHEN tok > 128 THEN tok - 128 ELSE 0 END) AS l128,
             SUM(CASE WHEN tok > 256 THEN 1 ELSE 0 END) AS d256,
             SUM(CASE WHEN tok > 256 THEN tok - 256 ELSE 0 END) AS l256
      FROM t
    )
    SELECT CAST(max_len AS BIGINT) AS max_len,
           CAST(n AS BIGINT) AS n_docs,
           CAST(tt AS BIGINT) AS tokens_total,
           CAST(d AS BIGINT) AS n_truncated,
           CAST(l AS BIGINT) AS tokens_lost,
           CAST(l * 1000000 // tt AS BIGINT) AS loss_share_e6
    FROM (
      SELECT 64 AS max_len, n, tt, d64 AS d, l64 AS l FROM a
      UNION ALL SELECT 128, n, tt, d128, l128 FROM a
      UNION ALL SELECT 256, n, tt, d256, l256 FROM a
    )
"""


def paragraph_strip_list(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph STRIP-LIST export (C211) — the single actionable
    artifact the r13 sub-document layer was built toward: one row per
    (doc, pos) paragraph instance the curation pipeline should
    remove, with its reason.  Composes the two verdict tables:
    C198's positional templates (page furniture — is_positional
    candidates strip EVERYWHERE) and C206's near-dup keep policy
    (non-canonical variants of a clustered paragraph strip, the
    most-instanced variant survives).  Precedence template >
    near_dup when a hash carries both verdicts, so downstream
    accounting never double-counts.  Scale: both verdict frames are
    bounded by the duplicated-paragraph vocabulary (≪ corpus) and
    broadcast onto the instance frame — adding the strip list to a
    100 TB pipeline costs one map-side join over the paragraphs it
    already explodes."""
    docs = load(spark, sf, "documents")["documents"]
    inst = _paragraph_frame(docs).select("doc_id", "pos", "h")
    tpl = (paragraph_template_detect(spark, sf)
           .filter(F.col("is_positional"))
           .select("h", F.lit(True).alias("_tpl")))
    nd = (paragraph_minhash_keep(spark, sf)
          .filter(~F.col("kept"))
          .select("h", F.lit(True).alias("_nd")))
    return (inst
            .join(F.broadcast(tpl), "h", "left")
            .join(F.broadcast(nd), "h", "left")
            .filter(F.col("_tpl").isNotNull() | F.col("_nd").isNotNull())
            .select("doc_id", F.col("pos").cast("long"), "h",
                    F.when(F.col("_tpl").isNotNull(), F.lit("template"))
                    .otherwise(F.lit("near_dup")).alias("reason")))


QUERIES["paragraph_strip_list"] = paragraph_strip_list


def _paragraph_strip_oracle() -> str:
    tpl = ORACLES["paragraph_template_detect"]
    kp = ORACLES["paragraph_minhash_keep"]
    return f"""
    WITH {_PARA_SQL},
    tpl AS (SELECT h FROM ({tpl}) WHERE is_positional),
    nd AS (SELECT h FROM ({kp}) WHERE NOT kept)
    SELECT ph.doc_id, ph.pos, ph.h,
           CASE WHEN tpl.h IS NOT NULL THEN 'template'
                ELSE 'near_dup' END AS reason
    FROM ph
    LEFT JOIN tpl ON ph.h = tpl.h
    LEFT JOIN nd ON ph.h = nd.h
    WHERE tpl.h IS NOT NULL OR nd.h IS NOT NULL
    """


ORACLES["paragraph_strip_list"] = _paragraph_strip_oracle


def kmv_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """KMV (k-minimum-values) sketch estimate of cross-source gram
    overlap (C212) — the sketch that makes C56's exact overlap matrix
    runnable at 100 TB, completing the sketch-calibration family
    (C75/C205 HLL for distinct counts, C73/C208 CMS for frequencies,
    this for SET RESEMBLANCE): per source, the k = 128 smallest
    md5-h32 values of its distinct 3-gram set (Bar-Yossef et al.
    2002; Beyer et al. 2007); per source pair, the k smallest of the
    merged sketch give θ = the k-th value, union_est =
    (k−1)·2³¹ DIV θ, and the share of those k present in BOTH
    sketches estimates Jaccard — beside the EXACT jaccard (the C56
    self-join law) and the absolute error, so the table certifies
    the sketch against truth at test SF the way every sweep in the
    calibration discipline does.  Scale: the k-smallest pass is
    two-phase (per-partition local top-k windows on bounded
    partition slices, then a global rank over the ≤ k·n_partitions
    survivors — never a per-source single-task sort of the full
    vocabulary); everything after operates on sources²·k rows.  The
    exact arm is the one corpus-scale self-join — at 100 TB a user
    runs the sketch columns alone."""
    from pyspark.sql import Window as W

    K = 128
    docs = load(spark, sf, "documents")["documents"]
    sg = _source_grams(spark, docs, sf)
    h32 = (F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10)
           .cast("long").bitwiseAND(F.lit(2147483647)))
    hv = sg.select("source", h32.alias("hv")).distinct()
    hvp = hv.withColumn("_pid", F.spark_partition_id())
    wl = W.partitionBy("_pid", "source").orderBy("hv")
    loc = (hvp.withColumn("_rk", F.row_number().over(wl))
           .filter(F.col("_rk") <= K).select("source", "hv"))
    wg = W.partitionBy("source").orderBy("hv")
    topk = (loc.withColumn("_rk", F.row_number().over(wg))
            .filter(F.col("_rk") <= K).select("source", "hv"))
    srcs = topk.select("source").distinct()
    prs = (srcs.select(F.col("source").alias("source_a"))
           .crossJoin(srcs.select(F.col("source").alias("source_b")))
           .filter(F.col("source_a") < F.col("source_b")))
    ta = (prs.join(topk.withColumnRenamed("source", "source_a"),
                   "source_a")
          .select("source_a", "source_b", "hv",
                  F.lit(1).alias("_a"), F.lit(0).alias("_b")))
    tb = (prs.join(topk.withColumnRenamed("source", "source_b"),
                   "source_b")
          .select("source_a", "source_b", "hv",
                  F.lit(0).alias("_a"), F.lit(1).alias("_b")))
    u = (ta.unionByName(tb)
         .groupBy("source_a", "source_b", "hv")
         .agg(F.max("_a").alias("_ina"), F.max("_b").alias("_inb")))
    wp = W.partitionBy("source_a", "source_b").orderBy("hv")
    merged = (u.withColumn("_rk", F.row_number().over(wp))
              .filter(F.col("_rk") <= K))
    est = (merged.groupBy("source_a", "source_b")
           .agg(F.count("*").cast("long").alias("k_union"),
                F.max("hv").cast("long").alias("kth_hv"),
                F.sum(F.col("_ina") * F.col("_inb")).cast("long")
                .alias("matched")))
    sizes = sg.groupBy("source").agg(F.count("*").alias("_sz"))
    a = sg.select(F.col("source").alias("source_a"), "sh")
    b = sg.select(F.col("source").alias("source_b"), "sh")
    exact = (a.join(b, "sh")
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count("*").alias("_shared"))
             .join(sizes.select(F.col("source").alias("source_a"),
                                F.col("_sz").alias("_sa")), "source_a")
             .join(sizes.select(F.col("source").alias("source_b"),
                                F.col("_sz").alias("_sb")), "source_b")
             .select("source_a", "source_b",
                     F.expr("_shared * 1000000L DIV "
                            "(_sa + _sb - _shared)")
                     .alias("_je")))
    return (est.join(exact, ["source_a", "source_b"], "left")
            .select("source_a", "source_b", "k_union", "kth_hv",
                    F.expr("CASE WHEN k_union < 128 THEN k_union "
                           "ELSE (128 - 1) * 2147483648L DIV kth_hv "
                           "END").cast("long").alias("union_est"),
                    "matched",
                    F.expr("matched * 1000000L DIV k_union")
                    .cast("long").alias("jaccard_kmv_e6"),
                    F.coalesce("_je", F.lit(0)).cast("long")
                    .alias("jaccard_exact_e6"),
                    F.abs(F.expr("matched * 1000000L DIV k_union")
                          - F.coalesce("_je", F.lit(0))).cast("long")
                    .alias("abs_err_e6")))


QUERIES["kmv_source_overlap"] = kmv_source_overlap

ORACLES["kmv_source_overlap"] = f"""
    WITH sg AS (
      SELECT DISTINCT source, sh FROM (
        SELECT source, UNNEST(list_distinct(list_transform(
                 range(1, greatest(len(words) - 2, 1) + 1),
                 i -> array_to_string(words[i:i+2], ' ')))) AS sh
        FROM (SELECT source, {_WORDS} AS words FROM documents))
    ), hv AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)
               & 2147483647 AS hv
      FROM sg
    ), topk AS (
      SELECT source, hv FROM (
        SELECT source, hv,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv)
                 AS rk
        FROM hv
      ) WHERE rk <= 128
    ), prs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM topk) a,
           (SELECT DISTINCT source FROM topk) b
      WHERE a.source < b.source
    ), u AS (
      SELECT source_a, source_b, hv,
             MAX(ina) AS ina, MAX(inb) AS inb
      FROM (
        SELECT prs.source_a, prs.source_b, t.hv, 1 AS ina, 0 AS inb
        FROM prs JOIN topk t ON t.source = prs.source_a
        UNION ALL
        SELECT prs.source_a, prs.source_b, t.hv, 0, 1
        FROM prs JOIN topk t ON t.source = prs.source_b
      ) GROUP BY source_a, source_b, hv
    ), merged AS (
      SELECT source_a, source_b, hv, ina, inb FROM (
        SELECT source_a, source_b, hv, ina, inb,
               ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                  ORDER BY hv) AS rk
        FROM u
      ) WHERE rk <= 128
    ), est AS (
      SELECT source_a, source_b,
             COUNT(*) AS k_union, MAX(hv) AS kth_hv,
             SUM(ina * inb) AS matched
      FROM merged GROUP BY source_a, source_b
    ), sz AS (
      SELECT source, COUNT(*) AS s FROM sg GROUP BY source
    ), exact AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS shared
      FROM sg a JOIN sg b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    ), ej AS (
      SELECT source_a, source_b,
             shared * 1000000 // (za.s + zb.s - shared) AS je
      FROM exact
      JOIN sz za ON za.source = exact.source_a
      JOIN sz zb ON zb.source = exact.source_b
    )
    SELECT est.source_a, est.source_b,
           CAST(k_union AS BIGINT) AS k_union,
           CAST(kth_hv AS BIGINT) AS kth_hv,
           CAST(CASE WHEN k_union < 128 THEN k_union
                ELSE (128 - 1) * 2147483648 // kth_hv END AS BIGINT)
             AS union_est,
           CAST(matched AS BIGINT) AS matched,
           CAST(matched * 1000000 // k_union AS BIGINT)
             AS jaccard_kmv_e6,
           CAST(COALESCE(je, 0) AS BIGINT) AS jaccard_exact_e6,
           CAST(ABS(matched * 1000000 // k_union - COALESCE(je, 0))
                AS BIGINT) AS abs_err_e6
    FROM est LEFT JOIN ej
      ON est.source_a = ej.source_a AND est.source_b = ej.source_b
"""


def bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 relevance TOP-K (C213) — the retrieval scorer beside
    C25's TF-IDF keyword extraction: score every document against a
    fixed query {spark, join, window} with Okapi BM25 (k1 = 1.2,
    b = 0.75, the Lucene plus-one idf ln((N+1)/(df+0.5)) so idf
    stays positive on this small-vocabulary synthetic corpus) and
    return the global top 10 — the kernel of corpus search, nearest
    in spirit to what a curation owner runs to spot-check topical
    coverage.  Exactness discipline: the tf saturation ratio is kept
    as ONE division of two exactly-representable int64 products
    (tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) multiplied through by
    10·T with avgdl = T/N: 22·tf·T / (10·T·tf + 3·T + 9·dl·N)), idf
    is a difference of ln over integer arguments (the doc_entropy
    float discipline), each (doc, term) score integerized ONCE to
    e6, and the per-doc sum is exact.  The global top-10 is
    two-phase (per-partition local rank then a rank over the ≤
    10·n_partitions survivors) — never a single-task sort of the
    corpus.  Shape: one token explode, two tiny broadcast frames
    (per-term df, the one-row (N, T) totals), one per-doc agg."""
    from pyspark.sql import Window as W

    TERMS = ["spark", "join", "window"]
    docs = load(spark, sf, "documents")["documents"]
    base = docs.select(
        "doc_id", T.ws_token_count(F.col("text")).cast("long").alias("dl"))
    tot = base.agg(F.count("*").alias("_N"), F.sum("dl").alias("_T"))
    words = (docs.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("_w"))
        .filter(F.col("_w").isin(TERMS)))
    tf = (words.groupBy("doc_id", F.col("_w").alias("term"))
          .agg(F.count("*").alias("tf")))
    dft = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(dft), "term")
              .join(base, "doc_id")
              .crossJoin(F.broadcast(tot)))
    ratio = ((F.lit(22) * F.col("tf") * F.col("_T")).cast("double")
             / (F.lit(10) * F.col("_T") * F.col("tf")
                + F.lit(3) * F.col("_T")
                + F.lit(9) * F.col("dl") * F.col("_N")).cast("double"))
    idf = (F.log(F.lit(2) * F.col("_N") + F.lit(2))
           - F.log(F.lit(2) * F.col("df") + F.lit(1)))
    t_e6 = F.floor(F.lit(1e6) * ratio * idf + F.lit(0.5)).cast("long")
    per_doc = (scored.groupBy("doc_id")
               .agg(F.sum(t_e6).alias("score_e6"),
                    F.count("*").cast("long").alias("n_terms"),
                    F.max("dl").alias("dl")))
    pid = per_doc.withColumn("_pid", F.spark_partition_id())
    wl = W.partitionBy("_pid").orderBy(F.desc("score_e6"),
                                       F.asc("doc_id"))
    loc = (pid.withColumn("_rk", F.row_number().over(wl))
           .filter(F.col("_rk") <= 10)
           .select("doc_id", "score_e6", "n_terms", "dl"))
    wg = W.orderBy(F.desc("score_e6"), F.asc("doc_id"))
    return (loc.withColumn("rank",
                           F.row_number().over(wg).cast("long"))
            .filter(F.col("rank") <= 10)
            .select("rank", "doc_id", F.col("score_e6").cast("long"),
                    "n_terms", F.col("dl").cast("long")))


QUERIES["bm25_topk"] = bm25_topk

ORACLES["bm25_topk"] = f"""
    WITH base AS (
      SELECT doc_id, CAST(len({_WORDS}) AS BIGINT) AS dl
      FROM documents
    ), tot AS (
      SELECT COUNT(*) AS n, SUM(dl) AS t FROM base
    ), w AS (
      SELECT doc_id, UNNEST({_WORDS}) AS wrd FROM documents
    ), tf AS (
      SELECT doc_id, wrd AS term, COUNT(*) AS tf FROM w
      WHERE wrd IN ('spark', 'join', 'window')
      GROUP BY 1, 2
    ), dft AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), sc AS (
      SELECT tf.doc_id,
             SUM(CAST(FLOOR(1e6
               * (CAST(22 * tf * t AS DOUBLE)
                  / CAST(10 * t * tf + 3 * t + 9 * dl * n AS DOUBLE))
               * (ln(2 * n + 2) - ln(2 * df + 1))
               + 0.5) AS BIGINT)) AS score_e6,
             CAST(COUNT(*) AS BIGINT) AS n_terms,
             MAX(dl) AS dl
      FROM tf
      JOIN dft USING (term)
      JOIN base USING (doc_id)
      CROSS JOIN tot
      GROUP BY tf.doc_id
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id,
           CAST(score_e6 AS BIGINT) AS score_e6, n_terms,
           CAST(dl AS BIGINT) AS dl
    FROM (
      SELECT doc_id, score_e6, n_terms, dl,
             ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id)
               AS rank
      FROM sc
    ) WHERE rank <= 10
"""


def image_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-dup dedup via DCT perceptual hash (C214) — the
    frequency-domain completion of the perceptual trio (C71 dHash =
    gradient signs, C138 WHT = ±1 basis, this = the true cosine
    basis the production pHash uses): REAL P6 decode → 16×16 floor
    resize → fixed-point integer 2-D DCT-II (M.image_phash, the
    int64 ``_PHASH_COS`` table baked verbatim into the oracle) →
    63 above-block-mean bits over the low-frequency 8×8 block →
    exact-match grouping (keep = min doc_id).  Same quad-texture
    law and planted doc_id%50 duplicate groups as C71, so the two
    hashes are directly comparable on identical pixels.  Scale:
    Arrow-batched scan-stage map (two int64 matmuls per image),
    one bounded window over the fingerprint."""
    from pyspark.sql import Window

    docs = load(spark, sf, "documents")["documents"]
    rep = F.col("doc_id") % 50
    dims = docs.select(
        "doc_id",
        (F.lit(4) + rep % 13).cast("int").alias("w"),
        (F.lit(3) + rep % 7).cast("int").alias("h"),
        rep.alias("seed"))
    blobs = M.encode_ppm_quad(dims, "doc_id", "w", "h", "seed")
    hashes = M.image_phash(blobs)
    w = Window.partitionBy("phash")
    return hashes.select(
        "doc_id", "phash",
        F.min("doc_id").over(w).alias("keep_id"),
        F.count("*").over(w).alias("dup_cnt"))


QUERIES["image_phash_dedup"] = image_phash_dedup


def _phash_oracle() -> str:
    from goka_spark.functions.multimodal import _PHASH_COS
    rows = ", ".join(
        f"({x}, {u}, {c})"
        for x, row in enumerate(_PHASH_COS) for u, c in enumerate(row))
    return f"""
    WITH p AS (
      SELECT doc_id,
             4 + (doc_id % 50) % 13 AS w,
             3 + (doc_id % 50) % 7 AS h,
             doc_id % 50 AS seed
      FROM documents
    ), ctab(i, u, c) AS (VALUES {rows}),
    px AS (
      SELECT doc_id, y, x,
             ((((y * h) // 16) * w + ((x * w) // 16) + seed)
              * (((y * h) // 16) * w + ((x * w) // 16) + seed))
             % 256 AS g
      FROM p, UNNEST(range(0, 16)) AS ty(y),
              UNNEST(range(0, 16)) AS tx(x)
    ), t1 AS (
      SELECT px.doc_id, ctab.u AS u, px.x AS x,
             SUM(ctab.c * px.g) AS t
      FROM px JOIN ctab ON ctab.i = px.y
      GROUP BY px.doc_id, ctab.u, px.x
    ), coef AS (
      SELECT t1.doc_id, t1.u AS u, ctab.u AS v,
             SUM(t1.t * ctab.c) AS cf
      FROM t1 JOIN ctab ON ctab.i = t1.x
      GROUP BY t1.doc_id, t1.u, ctab.u
    ), nz AS (
      SELECT doc_id, u * 8 + v - 1 AS k, cf
      FROM coef WHERE NOT (u = 0 AND v = 0)
    ), s AS (
      SELECT doc_id, SUM(cf) AS tot FROM nz GROUP BY doc_id
    ), hashed AS (
      SELECT nz.doc_id,
             CAST(SUM(CASE WHEN 63 * cf > tot
                           THEN (CAST(1 AS BIGINT) << k)
                           ELSE 0 END) AS BIGINT) AS phash
      FROM nz JOIN s ON nz.doc_id = s.doc_id
      GROUP BY nz.doc_id
    )
    SELECT doc_id, phash,
           MIN(doc_id) OVER (PARTITION BY phash) AS keep_id,
           COUNT(*) OVER (PARTITION BY phash) AS dup_cnt
    FROM hashed
    """


ORACLES["image_phash_dedup"] = _phash_oracle


def minhash_perm_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash PERMUTATION-COUNT sweep (C215) — the sweep axis the
    calibration family hadn't covered (C100 sweeps bands at fixed
    perms, C95 measures error at the fixed production 16): at
    num_perm ∈ {8, 16, 32}, the corpus-measured estimator quality
    over the deterministic adjacent pairing — mean and max absolute
    error, the share of pairs off by more than 5 points, and the
    signed bias — the three-row table that answers "how many
    permutations before LSH verdicts are trustworthy" with measured
    numbers instead of the 1/√p textbook bound.  Each arm reuses the
    session signature memo at its perm count and the C95 kernel
    (D.minhash_est_error, md5 base hash — every number
    engine-recomputable); the summaries are plain aggregates (no
    windows, no quantile frames).  Scale: three signature hash-aggs
    over distinct docs + three id-adjacent equi-joins — at 100 TB
    run on a hash-sampled slice, as C95 documents."""
    docs = load(spark, sf, "documents")["documents"]
    arms = []
    for p in (8, 16, 32):
        fr = D.minhash_est_error(
            docs, "doc_id", "text", num_perm=p,
            sigs=_minhash_sigs(spark, docs, sf, num_perm=p,
                               base_hash="md5"),
            exact=_adj_exact(spark, docs, sf))
        arms.append(fr.agg(
            F.lit(p).cast("long").alias("num_perm"),
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("SUM(abs_err_e6) DIV COUNT(*)").cast("long")
            .alias("mean_abs_err_e6"),
            F.max("abs_err_e6").cast("long").alias("max_abs_err_e6"),
            F.expr("SUM(CASE WHEN abs_err_e6 > 50000 THEN 1 ELSE 0 "
                   "END) * 1000000 DIV COUNT(*)").cast("long")
            .alias("share_gt5pp_e6"),
            F.expr("SUM(est_e6 - exact_e6) DIV COUNT(*)").cast("long")
            .alias("mean_signed_err_e6")))
    return arms[0].unionByName(arms[1]).unionByName(arms[2])


QUERIES["minhash_perm_sweep"] = minhash_perm_sweep


def _minhash_perm_sweep_oracle() -> str:
    arms = []
    for p in (8, 16, 32):
        err = _minhash_err_oracle(p)
        arms.append(f"""
      SELECT CAST({p} AS BIGINT) AS num_perm,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(abs_err_e6) // COUNT(*) AS BIGINT)
               AS mean_abs_err_e6,
             CAST(MAX(abs_err_e6) AS BIGINT) AS max_abs_err_e6,
             CAST(SUM(CASE WHEN abs_err_e6 > 50000 THEN 1 ELSE 0
                  END) * 1000000 // COUNT(*) AS BIGINT)
               AS share_gt5pp_e6,
             CAST(SUM(est_e6 - exact_e6) // COUNT(*) AS BIGINT)
               AS mean_signed_err_e6
      FROM ({err})""")
    return " UNION ALL ".join(arms)


ORACLES["minhash_perm_sweep"] = _minhash_perm_sweep_oracle


def pq_distortion_report(spark: SparkSession, sf: str) -> DataFrame:
    """PQ quantization DISTORTION audit (C216) — the third leg of
    the PQ-health family (C176 measures recall loss end-to-end, C209
    audits codebook utilization, this measures the RAW reconstruction
    error ADC distances are built on): per subspace, the mean and
    worst ‖x_sub − codebook[code]‖² over the unit-normalized corpus
    — the number that says WHICH subspace's codebook collapsed
    before recall ever drops.  Float-parity discipline: the engine
    replays the oracle's exact arithmetic — the same left-assoc norm
    fold as _cv_ctes, codebook constants embedded as
    shortest-roundtrip strings CAST to DOUBLE on BOTH sides (bare
    decimal literals would parse as DECIMAL in DuckDB and drift by
    ulps), per-(vector, subspace) min distance integerized ONCE to
    e9, then exact integer aggregates — so even the float tail is
    hash-identical.  Scale: one scan of the embeddings, all
    arithmetic scan-stage codegen (no UDF), one subspace-keyed
    hash-agg over an (m × vectors) stack."""
    emb = load(spark, sf, "embeddings")["embeddings"]
    idx = _ann_index(spark, sf, emb)
    books = idx.books.tolist()
    # r14 (guide §4.1/§4.2): the per-vector normalize + m·ksub·dsub
    # squared-diff mins were ONE literal expression tree of 1 024
    # terms — the generated projection overflowed janino's method
    # limit (ERROR CodeGenerator) and the scan ran INTERPRETED.  One
    # Arrow map replays the identical left-assoc double arithmetic
    # (see pq_distortion_d9's exactness notes); the exact-integer
    # subspace aggregate below is unchanged.
    e9 = A.pq_distortion_d9(emb, "embedding", books)
    return (e9.groupBy("subspace")
            .agg(F.count("*").cast("long").alias("n_vecs"),
                 F.expr("SUM(d9) DIV COUNT(*)").cast("long")
                 .alias("mean_distortion_e9"),
                 F.max("d9").cast("long").alias("max_distortion_e9"))
            .select(F.col("subspace").cast("long"), "n_vecs",
                    "mean_distortion_e9", "max_distortion_e9"))


QUERIES["pq_distortion_report"] = pq_distortion_report


def _pq_distortion_oracle() -> str:
    books = _ivf_local_books(_ivf_oracle_sf(), 8, 16)
    dim, m, ksub = 64, 8, 16
    dsub = dim // m

    def lit(x: float) -> str:
        return f"CAST('{x!r}' AS DOUBLE)"

    def dist_list(j: int) -> str:
        return ", ".join(
            " + ".join(
                f"((v[{j * dsub + d + 1}] - {lit(books[j][c][d])})"
                f" * (v[{j * dsub + d + 1}] - {lit(books[j][c][d])}))"
                for d in range(dsub))
            for c in range(ksub))

    mins = ", ".join(
        f"list_aggregate([{dist_list(j)}], 'min') AS md{j}"
        for j in range(m))
    arms = " UNION ALL ".join(
        f"SELECT {j} AS subspace, md{j} AS md FROM mins"
        for j in range(m))
    return f"""
    WITH {_cv_ctes(dim)},
    mins AS (SELECT vec_id, {mins} FROM cv),
    stacked AS ({arms}),
    e9 AS (
      SELECT subspace,
             CAST(FLOOR(1e9 * md + 0.5) AS BIGINT) AS d9
      FROM stacked
    )
    SELECT CAST(subspace AS BIGINT) AS subspace,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d9) // COUNT(*) AS BIGINT)
             AS mean_distortion_e9,
           CAST(MAX(d9) AS BIGINT) AS max_distortion_e9
    FROM e9 GROUP BY subspace
    """


ORACLES["pq_distortion_report"] = _pq_distortion_oracle
