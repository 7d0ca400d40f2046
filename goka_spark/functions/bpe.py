"""Distributed BPE — subword vocabulary training and tokenization.

Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation
of Rare Words with Subword Units"): start from characters, repeatedly
merge the most frequent adjacent symbol pair.  The classic trainer
operates on the WORD-FREQUENCY dictionary, not the corpus — the
insight that makes it distributable: at 100 TB the corpus is huge but
the distinct-word dict is vocabulary-sized (one hash-agg away), and
every training round is

    one pair-count aggregate over the dict  (weighted by word freq,
                                             map-side combinable)
  + one TakeOrdered(1) under a TOTAL order  (count DESC, pair ASC —
                                             ties break identically
                                             in any engine)
  + one JVM array-fold applying the merge   (no Python in the loop)

so the driver only ever holds the k-row merges list, never the dict.
Lineage is localCheckpoint-truncated every few rounds (the connected-
components discipline — k rounds would otherwise stack k plans).

Determinism contract (the recomputable-quantizer idiom applied to an
iterative algorithm): the trained merges are a pure function of the
word-frequency table and the tie order, so an oracle re-trains
bit-identical merges in pure Python and verifies tokenization via a
literal word→tokens table — the registry query is fully
hash-verified despite BPE being a loop, not a query.

Reference parity: goka's codec interface turns values into wire
symbols (codec.go:1); BPE is the codec of the LLM-data world.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: end-of-word marker (standard BPE; keeps merges from crossing words)
EOW = "</w>"


# ------------------------------------------------------------ python
# Pure-Python twins — the oracle re-trains with these; property tests
# pin the Spark path against them on random corpora.

def merge_word(syms: list, a: str, b: str) -> list:
    """Apply one merge left-to-right greedily (the BPE contract)."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_py(word_freq: dict, n_merges: int) -> list:
    """Reference trainer over a {word: freq} dict."""
    vocab = {w: list(w) + [EOW] for w in word_freq}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, syms in vocab.items():
            f = word_freq[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if best[1] < 2:
            break  # nothing repeats: further merges are noise
        a, b = best[0]
        merges.append((a, b))
        vocab = {w: merge_word(s, a, b) for w, s in vocab.items()}
    return merges


def encode_word(word: str, merges: list) -> list:
    syms = list(word) + [EOW]
    for a, b in merges:
        syms = merge_word(syms, a, b)
    return syms


# ------------------------------------------------------------- spark

def _char_syms(word_col) -> "F.Column":
    """word → array of single chars + the end-of-word marker."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: F.substring(word_col, i, 1))
    return F.concat(chars, F.array(F.lit(EOW)))


def _apply_merge(syms, a: str, b: str) -> "F.Column":
    """JVM array fold replaying ``merge_word``: state is
    (out, pending); pending==a meeting b merges, else flushes."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"))

    def step(acc, s):
        merged = acc["pend"].isNotNull() & (acc["pend"] == a) & (s == b)
        flush = F.when(acc["pend"].isNotNull(),
                       F.concat(acc["out"], F.array(acc["pend"]))) \
            .otherwise(acc["out"])
        return F.struct(
            F.when(merged,
                   F.concat(acc["out"], F.array(F.lit(a + b))))
            .otherwise(flush).alias("out"),
            F.when(merged, F.lit(None).cast("string"))
            .otherwise(s).alias("pend"))

    def finish(acc):
        return F.when(acc["pend"].isNotNull(),
                      F.concat(acc["out"], F.array(acc["pend"]))) \
            .otherwise(acc["out"])

    return F.aggregate(syms, init, step, finish)


def word_dict(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the corpus — one explode + hash-agg."""
    return (df.select(F.explode(F.split(F.col(text_col), r"\s+"))
                      .alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word").agg(F.count("*").alias("freq")))


def bpe_train(df: DataFrame, id_col: str, text_col: str,
              n_merges: int = 24) -> list:
    """Train ``n_merges`` BPE merges distributed; returns the ordered
    merges list (the only thing that ever reaches the driver).  Stops
    early when no adjacent pair repeats (weighted count < 2)."""
    wd = word_dict(df, text_col)
    vocab = wd.select("word", "freq",
                      _char_syms(F.col("word")).alias("syms"))
    vocab = vocab.localCheckpoint()
    merges = []
    for r in range(n_merges):
        pairs = (vocab.select(
            "freq",
            F.explode(F.transform(
                F.sequence(F.lit(1),
                           F.greatest(F.size("syms") - 1, F.lit(1))),
                lambda i: F.struct(
                    F.try_element_at("syms", i).alias("a"),
                    F.try_element_at("syms", i + 1).alias("b"))))
            .alias("p"))
            .filter(F.col("p.b").isNotNull())
            .groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt")))
        top = (pairs.orderBy(F.col("cnt").desc(),
                             F.col("a").asc(), F.col("b").asc())
               .limit(1).collect())
        if not top or top[0]["cnt"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab = vocab.select(
            "word", "freq", _apply_merge(F.col("syms"), a, b).alias("syms"))
        if (r + 1) % 4 == 0:
            vocab = vocab.localCheckpoint()  # truncate k-deep lineage
    return merges


def bpe_train_grouped(dfs: list, id_col: str, text_col: str,
                      n_merges: int = 24) -> list:
    """Train one classic BPE merge table PER INPUT FRAME with a single
    pair-count job per round — merge-identical to calling
    :func:`bpe_train` on each frame separately (pair counts are
    grouped by the frame index, so each group's weighted argmax, tie
    order and early-stop rule see exactly the rows its own training
    would).  Collapses k independent driver loops (k × n_merges
    count-and-collect jobs) into one loop (n_merges jobs whose rows
    carry a group tag) — the per-round job is the same vocab-dict
    aggregate, just k small groups wide (guide §2.4/§5: the driver
    round-trips, not the data volume, were the bill).  No frames,
    no tables: ``[]`` returns ``[]``."""
    from pyspark.sql import Window

    if not dfs:
        return []
    parts = [word_dict(df, text_col).select(
        F.lit(i).alias("_grp"), "word", "freq",
        _char_syms(F.col("word")).alias("syms"))
        for i, df in enumerate(dfs)]
    vocab = parts[0]
    for p in parts[1:]:
        vocab = vocab.unionByName(p)
    vocab = vocab.localCheckpoint()
    merges: list = [[] for _ in dfs]
    active = set(range(len(dfs)))
    win = Window.partitionBy("_grp").orderBy(
        F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
    for r in range(n_merges):
        pairs = (vocab.select(
            "_grp", "freq",
            F.explode(F.transform(
                F.sequence(F.lit(1),
                           F.greatest(F.size("syms") - 1, F.lit(1))),
                lambda i: F.struct(
                    F.try_element_at("syms", i).alias("a"),
                    F.try_element_at("syms", i + 1).alias("b"))))
            .alias("p"))
            .filter(F.col("p.b").isNotNull())
            .groupBy("_grp", "p.a", "p.b")
            .agg(F.sum("freq").alias("cnt")))
        tops = {row["_grp"]: row
                for row in pairs.withColumn(
                    "_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1).collect()}
        round_merges = {}
        for g in sorted(active):
            row = tops.get(g)
            if row is None or row["cnt"] < 2:
                continue  # this group's training has converged
            merges[g].append((row["a"], row["b"]))
            round_merges[g] = (row["a"], row["b"])
        active = set(round_merges)
        if not active:
            break
        expr = F.col("syms")
        for g, (a, b) in round_merges.items():
            expr = F.when(F.col("_grp") == g,
                          _apply_merge(F.col("syms"), a, b)) \
                .otherwise(expr)
        vocab = vocab.select("_grp", "word", "freq", expr.alias("syms"))
        if (r + 1) % 4 == 0:
            vocab = vocab.localCheckpoint()  # truncate k-deep lineage
    return merges


def bpe_word_tokens(df: DataFrame, id_col: str, text_col: str,
                    merges: list) -> DataFrame:
    """(word, n_tokens, tokens) for every distinct corpus word under
    the trained merges — the tokenizer's working table, applied as ONE
    Arrow-batched map over the vocabulary-sized dict (never the
    corpus).  Each word is encoded with :func:`encode_word`, the exact
    pure-Python twin the oracle itself re-trains with (and that the
    property tests pin against the JVM fold), so tokens are
    bit-identical to the former chained `_apply_merge` folds — which
    paid one plan node per merge plus a localCheckpoint barrier every
    4 merges (12 eager materialization jobs for the 48-merge scale
    mode).  The merges list is driver-held and vocabulary training
    already guarantees it is small (k rows), so it rides the task
    closure."""
    mg = [(a, b) for a, b in merges]

    def enc(batches):
        import pandas as pd
        for pdf in batches:
            words = pdf["word"].tolist()
            toks = [encode_word(w, mg) for w in words]
            yield pd.DataFrame({
                "word": words,
                "freq": pdf["freq"].tolist(),
                "n_tokens": [len(t) for t in toks],
                "tokens": toks,
            })

    return word_dict(df, text_col).mapInPandas(
        enc, "word string, freq long, n_tokens long, tokens array<string>")


def bpe_token_count(df: DataFrame, id_col: str, text_col: str,
                    merges: list) -> DataFrame:
    """Per-document token count under the trained BPE: the per-WORD
    counts broadcast back onto one corpus postings pass (the corpus
    is never re-tokenized symbol-by-symbol; at 100 TB the only big
    job is the postings scan + per-doc sum)."""
    wt = bpe_word_tokens(df, id_col, text_col, merges) \
        .select("word", "n_tokens")
    tok = (df.select(F.col(id_col).alias("doc"),
                     F.explode(F.split(F.col(text_col), r"\s+"))
                     .alias("word"))
           .filter(F.col("word") != ""))
    per = (tok.join(F.broadcast(wt), "word")
           .groupBy("doc").agg(F.sum("n_tokens").alias("bpe_tokens"),
                               F.count("*").alias("n_words")))
    return (df.select(F.col(id_col).alias("doc")).join(per, "doc", "left")
            .select(F.col("doc").alias(id_col),
                    F.coalesce("n_words", F.lit(0)).cast("long")
                    .alias("n_words"),
                    F.coalesce("bpe_tokens", F.lit(0)).cast("long")
                    .alias("bpe_tokens")))


def bpe_encode(df: DataFrame, id_col: str, text_col: str,
               merges: list) -> DataFrame:
    """The tokenizer's actual OUTPUT: each document's full subword
    sequence under the trained merges, as ``(id, n_tokens,
    token_str)`` with tokens space-joined in document order (the
    string form keeps the driver's value-hash simple; split on ' '
    to recover the sequence — subwords never contain spaces).

    Plan: the per-WORD token table (vocabulary-sized, JVM folds)
    broadcasts onto one corpus postings pass; each doc rebuilds by
    sorting its (pos, tokens) pairs and flattening — bounded by
    document length, never a global window.  At 100 TB the only big
    job is the postings scan + per-doc agg."""
    wt = bpe_word_tokens(df, id_col, text_col, merges) \
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


# ----------------------------------------------------- batched train
# The scale mode (r7): classic BPE is one Spark job per merge — a
# 32k-vocab tokenizer would be ~30k sequential driver round-trips.
# Batched training accepts up to ``batch`` SYMBOL-DISJOINT pairs per
# count round (the SentencePiece-style acceleration): if two pairs
# share no symbol and neither equals the other's merged output, then
# applying one cannot create or destroy adjacencies of the other, so
# every accepted pair's count is exactly what a classic re-count
# would have produced.  The batched merges list can still differ from
# the classic ORDER (a classic round may pick a pair the batch round
# created, e.g. ("ab","c") right after ("a","b")) — so the classic
# loop stays the default and the batched trainer is the documented
# scale mode, with its own pure-Python twin for the recomputable
# oracle.  ``batch=1`` degenerates to the classic algorithm exactly
# (property-tested).

def _select_disjoint(cands, limit: int):
    """Greedy accept pairs in (cnt DESC, a, b) order while their
    symbols + merged outputs stay pairwise disjoint.  Pure function —
    shared verbatim by the Spark trainer and the Python twin."""
    used, accepted = set(), []
    for a, b, cnt in cands:
        if len(accepted) >= limit:
            break
        if cnt < 2:
            break  # nothing below this repeats: candidates are sorted
        if a in used or b in used or (a + b) in used:
            continue  # interacts with an accepted pair; next round
        accepted.append((a, b))
        used |= {a, b, a + b}
    return accepted


def train_batched_py(word_freq: dict, n_merges: int,
                     batch: int = 8) -> list:
    """Pure-Python twin of ``bpe_train_batched`` (the oracle
    re-trainer)."""
    vocab = {w: list(w) + [EOW] for w in word_freq}
    merges = []
    while len(merges) < n_merges:
        counts = {}
        for w, syms in vocab.items():
            f = word_freq[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        cands = [(a, b, c) for (a, b), c in sorted(
            counts.items(), key=lambda kv: (-kv[1], kv[0]))]
        # the bounded candidate window is part of the algorithm: the
        # Spark side collects only the top 4*batch rows, so the twin
        # must truncate identically or greedy depth could diverge
        cands = cands[:max(4 * batch, 8)]
        accepted = _select_disjoint(
            cands, min(batch, n_merges - len(merges)))
        if not accepted:
            break
        for a, b in accepted:
            vocab = {w: merge_word(s, a, b) for w, s in vocab.items()}
        merges.extend(accepted)
    return merges


def bpe_train_batched(df: DataFrame, id_col: str, text_col: str,
                      n_merges: int = 256, batch: int = 8) -> list:
    """Train up to ``n_merges`` merges in ~n_merges/batch driver
    rounds: each round is ONE weighted pair-count job, one bounded
    collect of the top candidates (4·batch rows — candidate list,
    never the dict), a driver-side disjoint greedy, and one chained
    JVM fold applying the whole batch to the vocabulary.  State on
    the driver stays the merges list."""
    wd = word_dict(df, text_col)
    vocab = wd.select("word", "freq",
                      _char_syms(F.col("word")).alias("syms"))
    vocab = vocab.localCheckpoint()
    merges = []
    while len(merges) < n_merges:
        pairs = (vocab.select(
            "freq",
            F.explode(F.transform(
                F.sequence(F.lit(1),
                           F.greatest(F.size("syms") - 1, F.lit(1))),
                lambda i: F.struct(
                    F.try_element_at("syms", i).alias("a"),
                    F.try_element_at("syms", i + 1).alias("b"))))
            .alias("p"))
            .filter(F.col("p.b").isNotNull())
            .groupBy("p.a", "p.b").agg(F.sum("freq").alias("cnt")))
        cands = [(r["a"], r["b"], r["cnt"]) for r in
                 pairs.orderBy(F.col("cnt").desc(),
                               F.col("a").asc(), F.col("b").asc())
                 .limit(max(4 * batch, 8)).collect()]
        accepted = _select_disjoint(
            cands, min(batch, n_merges - len(merges)))
        if not accepted:
            break
        col = F.col("syms")
        for a, b in accepted:
            col = _apply_merge(col, a, b)
        vocab = vocab.select("word", "freq", col.alias("syms")) \
            .localCheckpoint()  # one job per ROUND, lineage truncated
        merges.extend(accepted)
    return merges
