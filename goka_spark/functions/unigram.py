"""Unigram-LM tokenizer — the SentencePiece-family twin of the BPE
trainer (functions/bpe.py).

Unigram subword modeling (Kudo 2018, "Subword Regularization", §3.2):
score every candidate piece by a unigram language model and segment
each word with the minimum-cost (Viterbi) path.  This implementation
is the HARD-EM variant chosen for engine portability: piece costs are
exact integers (micro-nats, ``floor(1e6·ln(total/count) + 0.5)``) and
the Viterbi tie-break is total — (cost, n_pieces, piece sequence) —
so the trained vocabulary and every segmentation are a pure function
of the word-frequency dict, recomputable bit-identically in pure
Python or any engine.

Training follows BPE: at 100 TB the corpus is huge but the
distinct-word dict is vocabulary-sized, so

  train     = ONE word-dict collect through Arrow (bounded by
              ``bpe.MAX_DICT_WORDS``, else ValueError), then
              :func:`train_py` on the driver: substring seed and
              n_iters × (Viterbi E-step, usage M-step, prune) with no
              Spark job per EM iteration
  tokenize  = Viterbi over the DICT under broadcast integer costs
              (Arrow-batched pandas UDF), then ONE broadcast
              word→tokens join over the corpus

Reference parity: goka's codec interface (codec.go:1) turns values
into wire symbols; the unigram model is the second codec family next
to BPE, sharing its word-dict plumbing.
"""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf type hints must resolve

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goka_spark.functions.bpe import collect_word_dict, word_dict

#: default hyperparameters — small enough for bench, the shapes are
#: what scale: none of these ever multiplies the corpus
MAX_PIECE_LEN = 6
SEED_SIZE = 512
VOCAB_TARGET = 64
N_ITERS = 3


# ------------------------------------------------------------ python
# The driver-side trainer and Viterbi; the oracle re-trains with the
# same functions.

def _cost_e6(count: int, total: int) -> int:
    """Integer micro-nat cost: floor(1e6·ln(total/count) + 0.5)."""
    return int(math.floor(1e6 * math.log(total / count) + 0.5))


def piece_costs(pieces: dict) -> dict:
    """{piece: count} → {piece: integer cost} under one shared
    normalizer (the current vocab's total count)."""
    total = sum(pieces.values())
    return {p: _cost_e6(c, total) for p, c in pieces.items()}


def viterbi_py(word: str, costs: dict,
               max_len: int = MAX_PIECE_LEN) -> list:
    """Minimum-cost segmentation with the TOTAL tie-break
    (cost, n_pieces, piece tuple) — deterministic in any engine.
    Single-char pieces are always in ``costs`` (training never prunes
    them), so every word is segmentable."""
    n = len(word)
    best = [None] * (n + 1)
    best[0] = (0, 0, ())
    for j in range(1, n + 1):
        cand = None
        for i in range(max(0, j - max_len), j):
            if best[i] is None:
                continue
            p = word[i:j]
            c = costs.get(p)
            if c is None:
                continue
            state = (best[i][0] + c, best[i][1] + 1, best[i][2] + (p,))
            if cand is None or state < cand:
                cand = state
        best[j] = cand
    if best[n] is None:  # unreachable when all chars are in costs
        raise ValueError(f"word {word!r} not segmentable")
    return list(best[n][2])


def seed_py(word_freq: dict, max_len: int = MAX_PIECE_LEN,
            seed_size: int = SEED_SIZE) -> dict:
    """Seed vocabulary: every single character, plus the top
    ``seed_size`` multi-char substrings by (occurrence-weighted count
    DESC, piece ASC).  Occurrences are ALL start positions
    (overlapping counted), weighted by word frequency."""
    counts: dict = {}
    for w, f in word_freq.items():
        for i in range(len(w)):
            for L in range(1, min(max_len, len(w) - i) + 1):
                p = w[i:i + L]
                counts[p] = counts.get(p, 0) + f
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(((p, c) for p, c in counts.items() if len(p) > 1),
                   key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    out = dict(chars)
    out.update(multi)
    return out


def train_py(word_freq: dict, vocab_target: int = VOCAB_TARGET,
             seed_size: int = SEED_SIZE, n_iters: int = N_ITERS,
             max_len: int = MAX_PIECE_LEN) -> dict:
    """Reference trainer: seed → n_iters × (Viterbi E-step over the
    dict, usage M-step, prune to chars + top ``vocab_target`` multi).
    Returns the final {piece: count} (chars floor at count 1 so their
    cost stays finite — coverage is never lost)."""
    pieces = seed_py(word_freq, max_len, seed_size)
    for _ in range(n_iters):
        costs = piece_costs(pieces)
        usage: dict = {}
        for w, f in word_freq.items():
            for p in viterbi_py(w, costs, max_len):
                usage[p] = usage.get(p, 0) + f
        chars = {p: max(usage.get(p, 0), 1)
                 for p in pieces if len(p) == 1}
        multi = sorted(((p, c) for p, c in usage.items() if len(p) > 1),
                       key=lambda kv: (-kv[1], kv[0]))[:vocab_target]
        pieces = dict(chars)
        pieces.update(multi)
    return pieces


# ------------------------------------------------------------- spark

def unigram_train(df: DataFrame, id_col: str, text_col: str,
                  vocab_target: int = VOCAB_TARGET,
                  seed_size: int = SEED_SIZE, n_iters: int = N_ITERS,
                  max_len: int = MAX_PIECE_LEN) -> dict:
    """Train on the corpus word dict (one bounded collect, see
    ``bpe.collect_word_dict``) with :func:`train_py`; returns the final
    {piece: count}."""
    return train_py(collect_word_dict(df, text_col), vocab_target,
                    seed_size, n_iters, max_len)


def _segment(wd: DataFrame, pieces: dict, max_len: int) -> DataFrame:
    """(word, freq, tokens): Viterbi over the word DICT under the
    broadcast integer cost table — Arrow-batched, exact integer DP,
    the same ``viterbi_py`` the oracle runs."""
    from pyspark.sql.functions import pandas_udf

    costs = piece_costs(pieces)

    @pandas_udf("array<string>")
    def seg(words: pd.Series) -> pd.Series:
        return words.map(lambda w: viterbi_py(w, costs, max_len))

    return wd.select("word", "freq", seg("word").alias("tokens"))


def unigram_word_tokens(df: DataFrame, id_col: str, text_col: str,
                        pieces: dict,
                        max_len: int = MAX_PIECE_LEN) -> DataFrame:
    """(word, freq, n_tokens, tokens) for every distinct corpus word
    under the trained vocabulary."""
    wd = word_dict(df, text_col)
    return (_segment(wd, pieces, max_len)
            .select("word", "freq",
                    F.size("tokens").cast("long").alias("n_tokens"),
                    "tokens"))


def unigram_token_count(df: DataFrame, id_col: str, text_col: str,
                        pieces: dict) -> DataFrame:
    """Per-document token count under the trained unigram model: the
    vocabulary-sized word→n_tokens table broadcasts onto one corpus
    postings pass (``bpe_token_count``'s plan with the other codec)."""
    wt = unigram_word_tokens(df, id_col, text_col, pieces) \
        .select("word", "n_tokens")
    tok = (df.select(F.col(id_col).alias("doc"),
                     F.explode(F.split(F.col(text_col), r"\s+"))
                     .alias("word"))
           .filter(F.col("word") != ""))
    per = (tok.join(F.broadcast(wt), "word")
           .groupBy("doc").agg(F.sum("n_tokens").alias("uni_tokens"),
                               F.count("*").alias("n_words")))
    return (df.select(F.col(id_col).alias("doc")).join(per, "doc", "left")
            .select(F.col("doc").alias(id_col),
                    F.coalesce("n_words", F.lit(0)).cast("long")
                    .alias("n_words"),
                    F.coalesce("uni_tokens", F.lit(0)).cast("long")
                    .alias("uni_tokens")))


def unigram_encode(df: DataFrame, id_col: str, text_col: str,
                   pieces: dict) -> DataFrame:
    """Each document's full subword sequence: ``(id, n_tokens,
    token_str)`` with tokens space-joined in document order (subwords
    never contain spaces).  Broadcast word→tokens join + per-doc
    ordered rebuild bounded by document length."""
    wt = unigram_word_tokens(df, id_col, text_col, pieces) \
        .select("word", "tokens")
    tok = (df.select(F.col(id_col).alias("doc"),
                     F.posexplode(F.split(F.col(text_col), r"\s+"))
                     .alias("pos", "word"))
           .filter(F.col("word") != ""))
    per = (tok.join(F.broadcast(wt), "word")
           .groupBy("doc")
           .agg(F.flatten(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("pos", "tokens"))),
                        lambda s: s["tokens"])).alias("_toks")))
    return (df.select(F.col(id_col).alias("doc")).join(per, "doc", "left")
            .select(F.col("doc").alias(id_col),
                    F.coalesce(F.size("_toks"), F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce(F.array_join("_toks", " "), F.lit(""))
                    .alias("token_str")))
