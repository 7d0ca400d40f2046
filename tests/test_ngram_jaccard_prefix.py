"""``ngram_jaccard_prefix`` (functions/dedup.py) against brute-force
exact Jaccard.

The function prunes candidates three ways before it verifies: the
prefix filter, the length filter and the PPJoin positional filter,
then counts |A∩B| with ``array_intersect``.  Every filter is meant to
be lossless, so on any corpus the output must equal the pairs whose
exact Jaccard reaches the threshold.  The corpus places pairs exactly
at the threshold (including the length filter's edge, min size =
t × max size), just above and just below it, plus random documents
over a small vocabulary whose shared words are hot enough to fall
outside most prefixes.
"""

import random
from fractions import Fraction
from itertools import combinations

import pytest

from goka_spark.functions.dedup import ngram_jaccard_prefix

THRESHOLD = 0.6


def _words(tag: str, k: int) -> list[str]:
    return [f"{tag}{i}" for i in range(k)]


def _placed_pairs() -> list[tuple[list[str], list[str]]]:
    """(a, b) word lists with a chosen overlap; each pair has its own
    words so pairs do not overlap each other."""
    out = []
    for tag, (size_a, size_b, shared) in {
        "eqa": (8, 8, 6),        # 6/10  = 0.6 exactly
        "eqb": (6, 10, 6),       # 6/10, sizes 6 and 10: length edge
        "eqc": (4, 4, 3),        # 3/5   = 0.6 exactly, tiny sets
        "upa": (10, 11, 8),      # 8/13  = 0.615
        "upb": (9, 9, 7),        # 7/11  = 0.636
        "dna": (13, 14, 10),     # 10/17 = 0.588
        "dnb": (5, 9, 5),        # 5/9   = 0.556, length filter prunes
        "dnc": (7, 7, 5),        # 5/9   = 0.556
    }.items():
        common = _words(tag + "s", shared)
        out.append((common + _words(tag + "a", size_a - shared),
                    common + _words(tag + "b", size_b - shared)))
    return out


def _corpus() -> list[str]:
    docs = [" ".join(ws) for pair in _placed_pairs() for ws in pair]
    rng = random.Random(11)
    vocab = _words("v", 14)
    for _ in range(40):
        docs.append(" ".join(rng.sample(vocab, rng.randrange(4, 12))))
    return docs


def _bruteforce(docs: list[str]) -> dict[tuple[int, int], Fraction]:
    sets = [set(d.split()) for d in docs]
    out = {}
    for i, j in combinations(range(len(docs)), 2):
        jac = Fraction(len(sets[i] & sets[j]), len(sets[i] | sets[j]))
        if jac >= Fraction(THRESHOLD).limit_denominator():
            out[(i, j)] = jac
    return out


def test_prefix_filter_matches_bruteforce_jaccard(spark):
    docs = _corpus()
    want = _bruteforce(docs)
    placed = {(2 * k, 2 * k + 1) for k in range(5)}      # eq* and up*
    assert placed <= set(want)
    assert not {(2 * k, 2 * k + 1) for k in range(5, 8)} & set(want)
    df = spark.createDataFrame(list(enumerate(docs)), "id long, text string")
    got = {(r.id_a, r.id_b): r.jaccard for r in
           ngram_jaccard_prefix(df, "id", "text", n=1,
                                threshold=THRESHOLD).collect()}
    assert set(got) == set(want)
    for pair, jac in want.items():
        assert got[pair] == pytest.approx(float(jac), abs=1e-4)
