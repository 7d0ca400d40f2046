"""Property tests for the round-6 operators: random corpora,
independent pure-Python references.

- gopher_repetition: every fraction column vs a brute-force reference
  (top-gram count*chars, positional dup coverage, line dup stats).
- nb_classify: score_e6 vs a pure-Python Naive-Bayes with the same
  md5 buckets and micro-nat integerization, bit for bit.
- vocab_coverage: OOV counts vs a reference vocab built under the
  same (count DESC, word ASC) total order.
- shuffle_order: exact permutation reference from sorted md5 keys.
"""

import hashlib
import math
import time

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from goka_spark.functions import corpus as C
from goka_spark.functions import text as T

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=14),
    min_size=1, max_size=8)


@pytest.fixture(scope="module")
def _spark():
    from goka_spark.session import get_session

    return get_session("props_r6")


def _docs(spark, corpus):
    return spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(corpus)],
        "doc_id long, text string")


# ------------------------------------------------- gopher_repetition

def _rep_reference(ws, top_ns=(2, 3), dup_ns=(2, 3)):
    """Pure-Python Gopher repetition fractions for one doc."""
    chars = sum(len(w) for w in ws)
    out = {"chars": chars}
    for n in sorted(set(top_ns) | set(dup_ns)):
        grams = {}
        for i in range(len(ws) - n + 1):
            g = " ".join(ws[i:i + n])
            grams.setdefault(g, []).append(i)
        if n in top_ns:
            if grams:
                # (count DESC, gram ASC) argmax, value = cnt * gram chars
                best = sorted(grams.items(),
                              key=lambda kv: (-len(kv[1]), kv[0]))[0]
                gch = len(best[0]) - (n - 1)
                out[f"top{n}"] = (len(best[1]) * gch * 1_000_000) // max(
                    chars, 1)
            else:
                out[f"top{n}"] = 0
        if n in dup_ns:
            cov = set()
            for g, ps in grams.items():
                if len(ps) >= 2:
                    for p in ps:
                        cov.update(range(p, p + n))
            cch = sum(len(ws[i]) for i in cov)
            out[f"dup{n}"] = (cch * 1_000_000) // max(chars, 1)
    return out


@given(corpus=corpus_strategy)
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_gopher_repetition_matches_reference(corpus, _spark):
    got = {r["doc_id"]: r for r in T.gopher_repetition(
        _docs(_spark, corpus), "doc_id", "text",
        top_ns=(2, 3), dup_ns=(2, 3)).collect()}
    for i, ws in enumerate(corpus):
        ws = [w for w in ws if w]
        ref = _rep_reference(ws)
        if not ws:
            assert i not in got  # no tokens -> no totals row
            continue
        r = got[i]
        assert r["chars"] == ref["chars"]
        for n in (2, 3):
            assert r[f"top{n}_frac_e6"] == ref[f"top{n}"], (i, n)
            assert r[f"dup{n}_frac_e6"] == ref[f"dup{n}"], (i, n)


# ------------------------------------------------------- nb_classify

def _md5_bucket(s, mod=1024):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod


def _nb_reference(corpus, labels, train_ids, n_buckets=1024):
    """Pure-Python NB scores with md5 buckets + micro-nat floors."""
    feats = {}
    for i, ws in enumerate(corpus):
        b = {}
        # bigrams follow shingle_postings: a doc shorter than n yields
        # its single all-words shingle (so a 1-word doc's "bigram" is
        # the word itself); an empty doc yields none
        if len(ws) >= 2:
            bi = [" ".join(ws[j:j + 2]) for j in range(len(ws) - 1)]
        elif ws:
            bi = [" ".join(ws)]
        else:
            bi = []
        grams = list(ws) + bi
        for g in grams:
            k = _md5_bucket(g, n_buckets)
            b[k] = b.get(k, 0) + 1
        feats[i] = b
    cp, cn = {}, {}
    for i in train_ids:
        tgt = cp if labels[i] else cn
        for k, c in feats[i].items():
            tgt[k] = tgt.get(k, 0) + c
    p_tot, n_tot = sum(cp.values()), sum(cn.values())
    n_pos = sum(1 for i in train_ids if labels[i])
    n_train = len(train_ids)
    prior = math.floor(1e6 * (math.log((n_pos + 1) / (n_train + 2))
                              - math.log((n_train - n_pos + 1)
                                         / (n_train + 2))) + 0.5)
    lo = {}
    all_buckets = set()
    for b in feats.values():
        all_buckets.update(b)
    for k in all_buckets:
        lo[k] = math.floor(
            1e6 * (math.log((cp.get(k, 0) + 1) / (p_tot + n_buckets))
                   - math.log((cn.get(k, 0) + 1) / (n_tot + n_buckets)))
            + 0.5)
    return {i: prior + sum(c * lo[k] for k, c in feats[i].items())
            for i in feats}


@given(corpus=st.lists(st.lists(st.sampled_from(WORDS),
                                min_size=1, max_size=10),
                       min_size=4, max_size=8),
       labels=st.lists(st.booleans(), min_size=8, max_size=8))
@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_nb_classify_matches_reference(corpus, labels, _spark):
    labels = labels[:len(corpus)]
    train_ids = [i for i in range(len(corpus)) if i % 2 == 0]
    df = _spark.createDataFrame(
        [(i, " ".join(ws), bool(labels[i]))
         for i, ws in enumerate(corpus)],
        "doc_id long, text string, y boolean")
    got = {r["doc_id"]: r["score_e6"] for r in T.nb_classify(
        df, "doc_id", "text", label=F.col("y").cast("int") == 1,
        train_pred=F.col("doc") % 2 == 0).collect()}
    ref = _nb_reference(corpus, labels, train_ids)
    for i in ref:
        assert got[i] == ref[i], i


# ---------------------------------------------------- vocab_coverage

@given(corpus=corpus_strategy, vsize=st.integers(min_value=1, max_value=4))
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_vocab_coverage_matches_reference(corpus, vsize, _spark):
    freq = {}
    for ws in corpus:
        for w in ws:
            freq[w] = freq.get(w, 0) + 1
    vocab = set(w for w, _ in sorted(
        freq.items(), key=lambda kv: (-kv[1], kv[0]))[:vsize])
    got = {r["doc_id"]: r for r in T.vocab_coverage(
        _docs(_spark, corpus), "doc_id", "text",
        vocab_size=vsize).collect()}
    for i, ws in enumerate(corpus):
        r = got[i]
        assert r["n_tokens"] == len(ws)
        assert r["oov_tokens"] == sum(1 for w in ws if w not in vocab)


# ----------------------------------------------------- shuffle_order

@given(ids=st.lists(st.integers(min_value=0, max_value=10 ** 6),
                    min_size=1, max_size=30, unique=True),
       n_shards=st.integers(min_value=1, max_value=5))
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_shuffle_matches_reference(ids, n_shards, _spark):
    df = _spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: (r["shard"], r["pos"]) for r in
           C.shuffle_order(df, "doc_id", n_shards).collect()}
    keys = {i: hashlib.md5(f"{i}shuffle-v1".encode()).hexdigest()
            for i in ids}
    by_shard = {}
    for i in ids:
        s = int(keys[i][:8], 16) % n_shards
        by_shard.setdefault(s, []).append(i)
    for s, members in by_shard.items():
        for pos, i in enumerate(
                sorted(members, key=lambda x: (keys[x], x)), start=1):
            assert got[i] == (s, pos), i


# --------------------------------------------------------------- bpe

@given(corpus=st.lists(
    st.lists(st.sampled_from(["low", "lower", "lowest", "new", "newer",
                              "wide", "widest", "a", "ab"]),
             min_size=1, max_size=10),
    min_size=1, max_size=6),
    n_merges=st.integers(min_value=1, max_value=12))
@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_matches_reference(corpus, n_merges, _spark):
    """Distributed training == pure-Python training, merge for merge,
    and per-doc token counts == reference encode."""
    from goka_spark.functions import bpe as B

    df = _docs(_spark, corpus)
    wf = {}
    for ws in corpus:
        for w in ws:
            wf[w] = wf.get(w, 0) + 1
    m_spark = B.bpe_train(df, "doc_id", "text", n_merges=n_merges)
    m_py = B.train_py(wf, n_merges)
    assert m_spark == m_py
    got = {r["doc_id"]: r["bpe_tokens"] for r in
           B.bpe_token_count(df, "doc_id", "text", m_spark).collect()}
    for i, ws in enumerate(corpus):
        ref = sum(len(B.encode_word(w, m_py)) for w in ws)
        assert got[i] == ref, i


def test_bpe_early_stop_when_nothing_repeats(_spark):
    from goka_spark.functions import bpe as B

    df = _spark.createDataFrame([(0, "ab cd ef")],
                                "doc_id long, text string")
    # every adjacent pair is unique (freq 1) -> zero merges
    assert B.bpe_train(df, "doc_id", "text", n_merges=8) == []


def test_bpe_merge_fold_is_greedy_left_to_right():
    """'aaa' under merge (a,a) -> [aa, a, </w>], never [a, aa]."""
    from goka_spark.functions import bpe as B

    assert B.merge_word(list("aaa") + [B.EOW], "a", "a") == \
        ["aa", "a", B.EOW]


@given(wf=st.dictionaries(
    st.one_of(st.text(alphabet="abc", min_size=1, max_size=7),
              st.sampled_from(["a", "b", "aaaa", "aaaaa", "abab",
                               "ababab", "abcabc"])),
    st.integers(min_value=1, max_value=4), max_size=8),
    n_merges=st.integers(min_value=0, max_value=14))
@example(wf={}, n_merges=4)
@example(wf={"aaaa": 2, "abab": 2, "a": 3}, n_merges=0)
@example(wf={"aaaa": 2, "abab": 2, "a": 3, "b": 1}, n_merges=8)
@settings(max_examples=300, deadline=None, derandomize=True)
def test_train_incremental_equals_train_py(wf, n_merges):
    """The incremental pair counter == the re-count-every-round
    reference, merge for merge: overlapping repeats, count ties
    (a ASC, then b ASC), single-character words, early stop."""
    from goka_spark.functions import bpe as B

    assert B.train_incremental(wf, n_merges) == B.train_py(wf, n_merges)


def _trainer(name):
    from goka_spark.functions import bpe as B
    from goka_spark.functions import unigram as U

    return {
        "bpe_train": lambda df, n: B.bpe_train(
            df, "doc_id", "text", n_merges=n),
        "bpe_train_batched": lambda df, n: B.bpe_train_batched(
            df, "doc_id", "text", n_merges=n, batch=4),
        "unigram_train": lambda df, n: U.unigram_train(
            df, "doc_id", "text", n_iters=n),
    }[name]


TRAINERS = ["bpe_train", "bpe_train_batched", "unigram_train"]


@pytest.mark.parametrize("name", TRAINERS)
def test_trainer_refuses_word_dict_over_bound(name, _spark, monkeypatch):
    """A word dict over MAX_DICT_WORDS raises ValueError after
    collecting MAX_DICT_WORDS + 1 rows, never the whole dict; a dict
    at the bound trains."""
    from goka_spark.functions import bpe as B

    df = _docs(_spark, [[f"w{i}" for i in range(10)] * 2])
    frame = type(df)  # the classic DataFrame overrides the base class
    collected, real = [], frame.toArrow

    def spy(self):
        t = real(self)
        collected.append(t.num_rows)
        return t

    def no_collect(self, *a, **k):
        raise AssertionError("trainer collected rows outside toArrow")

    monkeypatch.setattr(frame, "toArrow", spy)
    monkeypatch.setattr(frame, "collect", no_collect)
    monkeypatch.setattr(frame, "toPandas", no_collect)
    monkeypatch.setattr(B, "MAX_DICT_WORDS", 3)
    with pytest.raises(ValueError, match="more than 3 distinct words"):
        _trainer(name)(df, 2)
    assert collected == [4]
    monkeypatch.setattr(B, "MAX_DICT_WORDS", 10)
    _trainer(name)(df, 2)
    assert collected == [4, 10]


def _jobs_in_group(sc, group):
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", TRAINERS)
def test_trainer_jobs_do_not_grow_with_rounds(name, _spark):
    """Training runs no Spark job per merge round (EM iteration for
    unigram): 2 and 16 rounds start the same number of jobs."""
    sc = _spark.sparkContext
    words = ["lower", "lowest", "newer", "newest", "wider", "widest",
             "low", "new"]
    df = _docs(_spark, [words] * 3 + [["slowest", "renewed", "widen"]])
    try:
        for n in (2, 16):
            sc.setJobGroup(f"{name}-{n}", f"{n} rounds")
            out = _trainer(name)(df, n)
            if name != "unigram_train":
                assert len(out) == n  # no early stop: n real rounds
        # status events arrive in order: once this job shows, any job
        # the trainers ran would show too
        sc.setJobGroup(f"{name}-sentinel", "sentinel")
        _spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while _jobs_in_group(sc, f"{name}-sentinel") == 0 \
            and time.time() < deadline:
        time.sleep(0.05)
    n2 = _jobs_in_group(sc, f"{name}-2")
    assert n2 >= 1
    assert _jobs_in_group(sc, f"{name}-16") == n2


@given(corpus=st.lists(
    st.lists(st.sampled_from(["low", "lower", "new", "wide", "a"]),
             min_size=1, max_size=8),
    min_size=1, max_size=5))
@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_encode_matches_reference(corpus, _spark):
    """Per-doc token sequences == reference encode, in order."""
    from goka_spark.functions import bpe as B

    df = _docs(_spark, corpus)
    wf = {}
    for ws in corpus:
        for w in ws:
            wf[w] = wf.get(w, 0) + 1
    merges = B.train_py(wf, 8)
    got = {r["doc_id"]: r["token_str"] for r in
           B.bpe_encode(df, "doc_id", "text", merges).collect()}
    for i, ws in enumerate(corpus):
        ref = " ".join(" ".join(B.encode_word(w, merges)) for w in ws)
        assert got[i] == ref, i


@given(corpus=st.lists(
    st.lists(st.sampled_from(["low", "lower", "lowest", "new", "newer",
                              "wide", "widest", "a", "ab"]),
             min_size=1, max_size=10),
    min_size=1, max_size=6),
    n_merges=st.integers(min_value=1, max_value=12),
    batch=st.integers(min_value=1, max_value=4))
@settings(max_examples=6, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_train_batched_matches_twin(corpus, n_merges, batch, _spark):
    """r7 scale mode: the batched trainer == its pure-Python twin,
    merge for merge (the recomputable-oracle contract), on random
    corpora across batch sizes."""
    from goka_spark.functions import bpe as B

    df = _docs(_spark, corpus)
    wf = {}
    for ws in corpus:
        for w in ws:
            wf[w] = wf.get(w, 0) + 1
    m_spark = B.bpe_train_batched(df, "doc_id", "text",
                                  n_merges=n_merges, batch=batch)
    m_py = B.train_batched_py(wf, n_merges, batch=batch)
    assert m_spark == m_py
    # encoding under batched merges still matches reference encode
    got = {r["doc_id"]: r["bpe_tokens"] for r in
           B.bpe_token_count(df, "doc_id", "text", m_spark).collect()}
    for i, ws in enumerate(corpus):
        ref = sum(len(B.encode_word(w, m_py)) for w in ws)
        assert got[i] == ref, i


@given(corpus=st.lists(
    st.lists(st.sampled_from(["low", "lower", "new", "wide", "a"]),
             min_size=1, max_size=8),
    min_size=1, max_size=5),
    n_merges=st.integers(min_value=1, max_value=10))
@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bpe_batched_batch1_equals_classic(corpus, n_merges, _spark):
    """batch=1 degenerates to the classic algorithm exactly — one
    top pair per count round — so the scale mode is a strict
    generalization (Python twins only; the Spark parity is covered
    by the twin tests on both sides)."""
    from goka_spark.functions import bpe as B

    wf = {}
    for ws in corpus:
        for w in ws:
            wf[w] = wf.get(w, 0) + 1
    assert B.train_batched_py(wf, n_merges, batch=1) == \
        B.train_py(wf, n_merges)


def test_bpe_batched_round_count(_spark):
    """256 merges on a rich corpus train in far fewer count rounds
    than merges: each round accepts up to ``batch`` disjoint pairs
    (the verdict's n_merges/m driver-round target).  Measured by
    counting pair-count jobs via the twin's round structure."""
    from goka_spark.functions import bpe as B

    # synthetic word dict rich enough for many disjoint merges
    words = {}
    import itertools
    for i, (a, b) in enumerate(itertools.product("abcdefgh", "ijklmnop")):
        words[a + b + "qz"[i % 2]] = 5 + (i % 7)
    rounds = 0
    orig = B._select_disjoint

    def counting(cands, limit):
        nonlocal rounds
        rounds += 1
        return orig(cands, limit)

    B._select_disjoint = counting
    try:
        merges = B.train_batched_py(words, 48, batch=8)
    finally:
        B._select_disjoint = orig
    assert len(merges) >= 24
    assert rounds <= len(merges)  # strictly fewer rounds than merges
    assert rounds <= (len(merges) + 7) // 8 + 6  # ~n/m + skip slack
