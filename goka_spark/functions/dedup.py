"""Deduplication — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the whole point of these designs):
- exact: one hash-aggregate on md5(text) — map-side partial agg.
- MinHash/LSH: signatures are nested JVM array expressions over the
  shingle array (no Python); candidate pairs come from a *bucket
  equi-join* on (band, band_hash) — never an O(n²) cross join.
- SimHash: per-bit majority vote via 64 conditional sums in ONE
  hash-aggregate pass (explode words → groupBy doc).
- n-gram Jaccard: inverted-index self-join on shingle, then
  |A∩B| / (|A|+|B|-|A∩B|) — the classic similarity-join plan.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Universal-hash modulus for minhash permutations: the first prime
# ABOVE the 2^31 hash universe (2^31 + 11).  p must sit just above the
# universe with a, b drawn from the FULL [0, p) range — the previous
# constants (p = 2^61-1, a,b < 2^31) made a*h+b almost never wrap p,
# leaving the map nearly linear in h: any shingle with a small base
# hash won the min for EVERY permutation, so one unlucky shingle
# zeroed the signature agreement of a J=0.8 pair (observed: 2/32
# matches where ~26 are expected).  With p ≈ 2^31, a*h+b < 2^62.5
# stays 64-bit-exact AND (a*x+b) mod p is a genuine pairwise-
# independent family over the universe.
HASH_P = 2147483659
MERSENNE = HASH_P  # historical name, kept for the oracle builders


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles, joined by single spaces."""
    from goka_spark.functions.text import words

    w = words(text)
    k = F.greatest(F.size(w) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(w, i + 1, n), " "),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts by md5; keep the smallest id as canonical."""
    return (
        df.select(F.col(id_col), F.md5(F.encode(F.col(text_col), "UTF-8")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_cnt"))
    )


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """(a, b) over the FULL [1, p) / [0, p) ranges — see HASH_P."""
    rng = random.Random(seed)
    return [(rng.randrange(1, HASH_P), rng.randrange(0, HASH_P))
            for _ in range(num_perm)]


def shingle_postings(df: DataFrame, id_col: str, text_col: str,
                     n: int = 3, distinct: bool = True,
                     positions: bool = False) -> DataFrame:
    """Distinct ``(doc, sh)`` word-shingle postings, pure codegen.
    ``positions=True`` instead returns every occurrence with its
    1-based start-word rank ``(doc, pos, sh)`` — the input for span
    extraction (``dup_span_extract``).

    Shape (r14): shingle assembly is a pure per-document function, so
    it runs as ONE Arrow-batched map in the scan stage — the pre-r14
    pure-SQL path paid a doc-keyed Exchange + Sort for the window
    ``lead`` assembly on EVERY consumer (similarity joins, coverage,
    novelty, spans, blooms…).  Tokenization spells out the Java-regex
    ``\\s`` class so splits match ``F.split`` bit-for-bit; shingles
    are the same space-joined strings, so every downstream join/agg
    and the DuckDB oracles see identical values.  Docs shorter than
    ``n`` words yield their single all-words shingle (the concat_ws-
    skips-NULL-leads semantics); docs with NO words yield no
    postings.  ``distinct=True`` dedupes inside the kernel (all of a
    doc's rows sit in one batch), so the distinct frame needs no
    dropDuplicates exchange at all; ``distinct=False`` emits every
    occurrence (the PMI / repetition counters consume those);
    ``positions=True`` emits the 1-based start rank per occurrence.
    The internal fan-out replaces the callers' explicit ``_fan_out``:
    a single-file scan would otherwise run the kernel on one core.
    """
    import re as _re

    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    schema = (f"doc {id_type}, pos int, sh string" if positions
              else f"doc {id_type}, sh string")
    ws_pat = "[ \\t\\n\\x0b\\f\\r]+"

    def _kernel(batches):
        ws_re = _re.compile(ws_pat)
        for pdf in batches:
            out_doc, out_pos, out_sh = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws_re.split(text or "") if w]
                if not words:
                    continue
                k = max(len(words) - (n - 1), 1)
                if positions:
                    for p in range(k):
                        out_doc.append(did)
                        out_pos.append(p + 1)
                        out_sh.append(" ".join(words[p:p + n]))
                elif distinct:
                    seen = set()
                    for p in range(k):
                        sh = " ".join(words[p:p + n])
                        if sh not in seen:
                            seen.add(sh)
                            out_doc.append(did)
                            out_sh.append(sh)
                else:
                    for p in range(k):
                        out_doc.append(did)
                        out_sh.append(" ".join(words[p:p + n]))
            if out_doc:
                if positions:
                    yield pd.DataFrame({"doc": out_doc, "pos": out_pos,
                                        "sh": out_sh})
                else:
                    yield pd.DataFrame({"doc": out_doc, "sh": out_sh})

    return (_fan_out(df.select(id_col, text_col))
            .mapInPandas(_kernel, schema))


def shingle_sets(df: DataFrame, id_col: str, text_col: str,
                 n: int = 3) -> DataFrame:
    """Per-document DISTINCT shingle ARRAY ``(id, _shs)`` in
    first-occurrence order — the array-valued twin of
    :func:`shingle_postings` for consumers that need whole sets per
    row (exact-Jaccard calibration), replacing the interpreted
    ``array_distinct(all_shingles(...))`` lambda chain with one
    Arrow-batched map.  Bit-compatible with that expression: same
    Java-regex whitespace split, same space-joined shingles, same
    first-occurrence distinct order, and wordless documents yield
    ``[""]`` (the ``all_shingles`` k>=1 slice contract)."""
    import re as _re

    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    ws_pat = "[ \\t\\n\\x0b\\f\\r]+"

    def _kernel(batches):
        ws_re = _re.compile(ws_pat)
        for pdf in batches:
            ids, arrs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws_re.split(text or "") if w]
                if not words:
                    ids.append(did)
                    arrs.append([""])
                    continue
                k = max(len(words) - (n - 1), 1)
                seen, out = set(), []
                for p in range(k):
                    s = " ".join(words[p:p + n])
                    if s not in seen:
                        seen.add(s)
                        out.append(s)
                ids.append(did)
                arrs.append(out)
            yield pd.DataFrame({id_col: ids, "_shs": arrs})

    return (_fan_out(df.select(id_col, text_col))
            .mapInPandas(_kernel, f"{id_col} {id_type}, _shs array<string>"))


def _fan_out(df: DataFrame) -> DataFrame:
    """Shingle construction uses interpreted lambda exprs — make sure
    it fans out across cores even when the source is few small files
    (a single-file parquet scan is a 1-partition stage).  inputFiles()
    is a metadata call; df.rdd would materialize the plan."""
    sc = df.sparkSession.sparkContext
    try:
        few_inputs = len(df.inputFiles()) < sc.defaultParallelism
    except Exception:
        few_inputs = False
    return df.repartition(sc.defaultParallelism) if few_inputs else df


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 32, shingle: int = 3,
                       base_hash: str = "xxhash64") -> DataFrame:
    """MinHash signature per document, one Arrow-batched map pass.

    h32 = hash(shingle) & (2^31-1); sig_j = min_s (a_j*h32+b_j) mod M.
    Products stay < 2^62, no overflow.  ``base_hash`` picks the
    shingle hash: ``xxhash64`` (fast, JVM-only — production default)
    or ``md5`` (first 8 hex chars as an integer — bit-identical in
    DuckDB via CAST('0x'||substr(md5(s),1,8) AS BIGINT), which makes
    the whole signature oracle-verifiable)."""
    params = _perm_params(num_perm)

    # r14 shape: the signature is a pure per-document function, so it
    # computes in ONE Arrow-batched map inside the scan stage — no
    # shingle explode, no num_perm-wide min-agg exchange.  Hash
    # parity is exact: the md5 path hashes the same UTF-8 bytes via
    # hashlib; the xxhash64 path embeds the pure-Python XXH64
    # (pickled by value with the kernel — the reference
    # tests/test_xxh_sql.py pins against Spark's xxhash64 itself),
    # and the permutation algebra runs in int64 numpy
    # (a·h+b < 2^62.5, exact).  Per-doc mins over the DISTINCT
    # shingle set are aggregation-order-free, so signatures are
    # bit-identical to the old explode+min-agg plan and the
    # XXH64-in-SQL oracles still hash-match.
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    A = np.array([a for a, _ in params], dtype=np.int64).reshape(-1, 1)
    B = np.array([b for _, b in params], dtype=np.int64).reshape(-1, 1)
    P = HASH_P
    id_type = dict(df.dtypes)[id_col]
    schema = f"`{id_col}` {id_type}, minhash array<bigint>"
    ws_pat = "[ \\t\\n\\x0b\\f\\r]+"
    use_md5 = base_hash == "md5"
    n = shingle

    # pure-Python XXH64 (== Spark's xxhash64 over UTF-8 bytes; the
    # constants and step order are pinned by tests/test_xxh_sql.py)
    _P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, \
        0x165667B19E3779F9
    _P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
    _MM = (1 << 64) - 1

    def _xxh64(data: bytes, seed: int = 42) -> int:
        def rotl(x, r):
            return ((x << r) | (x >> (64 - r))) & _MM

        def rnd(acc, lane):
            return (rotl((acc + lane * _P2) & _MM, 31) * _P1) & _MM

        nb, i = len(data), 0
        if nb >= 32:
            a = [(seed + _P1 + _P2) & _MM, (seed + _P2) & _MM,
                 seed & _MM, (seed - _P1) & _MM]
            while i + 32 <= nb:
                for k in range(4):
                    a[k] = rnd(a[k],
                               int.from_bytes(data[i:i + 8], "little"))
                    i += 8
            h = (rotl(a[0], 1) + rotl(a[1], 7) + rotl(a[2], 12)
                 + rotl(a[3], 18)) & _MM
            for k in range(4):
                h = ((h ^ rnd(0, a[k])) * _P1 + _P4) & _MM
        else:
            h = (seed + _P5) & _MM
        h = (h + nb) & _MM
        while i + 8 <= nb:
            h = (rotl(h ^ rnd(0, int.from_bytes(data[i:i + 8],
                                                "little")),
                      27) * _P1 + _P4) & _MM
            i += 8
        if i + 4 <= nb:
            h = (rotl(h ^ ((int.from_bytes(data[i:i + 4], "little")
                            * _P1) & _MM), 23) * _P2 + _P3) & _MM
            i += 4
        while i < nb:
            h = (rotl(h ^ ((data[i] * _P5) & _MM), 11) * _P1) & _MM
            i += 1
        h ^= h >> 33
        h = (h * _P2) & _MM
        h ^= h >> 29
        h = (h * _P3) & _MM
        return h ^ (h >> 32)

    def _kernel(batches):
        ws_re = _re.compile(ws_pat)
        md5 = hashlib.md5
        for pdf in batches:
            ids, sigs = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in ws_re.split(text or "") if w]
                k = max(len(words) - (n - 1), 1)
                # word_shingles semantics: a no-word doc yields its
                # single empty-string shingle
                shs = {" ".join(words[p:p + n]) for p in range(k)}
                if use_md5:
                    hs = [int(md5(s.encode("utf-8")).hexdigest()[:8],
                              16) & 0x7FFFFFFF for s in shs]
                else:
                    hs = [_xxh64(s.encode("utf-8")) & 0x7FFFFFFF
                          for s in shs]
                H = np.array(hs, dtype=np.int64)
                sig = ((A * H + B) % P).min(axis=1)
                ids.append(did)
                sigs.append(sig.tolist())
            if ids:
                yield pd.DataFrame({id_col: ids, "minhash": sigs})

    return (_fan_out(df.select(id_col, text_col))
            .mapInPandas(_kernel, schema))


def lsh_bands(sigs: DataFrame, id_col: str, bands: int = 8,
              rows_per_band: int = 4) -> DataFrame:
    """Band the signature: (band_idx, band_hash) per doc — the LSH key."""
    pairs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(F.slice("minhash", b * rows_per_band + 1, rows_per_band))
             .alias("band_hash"),
        )
        for b in range(bands)
    ])
    return sigs.select(F.col(id_col), F.explode(pairs).alias("bb")).select(
        id_col, "bb.band", "bb.band_hash")


def lsh_candidate_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """Bucket equi-join on (band, band_hash) → distinct candidate pairs."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_perm: int = 32, bands: "int | str" = 8,
                      threshold: "float | None" = None,
                      sigs: "DataFrame | None" = None) -> DataFrame:
    """``bands='auto'`` plans (bands, rows) from ``threshold`` via
    :func:`optimal_bands` — the S-curve midpoint lands on the target
    Jaccard similarity instead of a hand-picked banding.  ``sigs``
    injects a pre-built :func:`minhash_signatures` frame (same
    ``num_perm``, same corpus) so multi-consumer sessions hash the
    corpus once — the signature build is the expensive half."""
    if bands == "auto":
        if threshold is None:
            raise ValueError("bands='auto' needs a threshold")
        bands, _ = optimal_bands(threshold, num_perm)
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_perm)
    banded = lsh_bands(sigs, id_col, bands, num_perm // bands)
    return lsh_candidate_pairs(banded, id_col)


def simhash(df: DataFrame, id_col: str, text_col: str,
            base_hash: str = "xxhash64") -> DataFrame:
    """SimHash per document in one explode + one hash-aggregate.

    ``base_hash='xxhash64'`` → 63 bits (fast, production default);
    ``base_hash='md5'`` → 60 bits from the first 15 hex chars of md5,
    bit-identical in DuckDB (oracle-verifiable; both stay positive
    longs)."""
    from goka_spark.functions.text import words

    if base_hash == "md5":
        nbits = 60
        h = F.conv(F.substring(F.md5(F.encode(F.col("_w"), "UTF-8")), 1, 15),
                   16, 10).cast("long")
    else:
        nbits = 63  # 63 bits → result stays a positive long
        h = F.xxhash64("_w")
    ex = _fan_out(df).select(
        F.col(id_col),
        F.explode(words(F.col(text_col))).alias("_w"),
    ).withColumn("_h", h)
    votes = [
        F.sum(F.when(F.col("_h").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1))
         .alias(f"_b{j}")
        for j in range(nbits)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    sim = None
    for j in range(nbits):
        bit = F.when(F.col(f"_b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select(F.col(id_col), sim.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 7, bands: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash with banded blocking: split the 63-bit
    hash into ``bands`` chunks and equi-join on (band_idx, chunk) —
    by pigeonhole, any pair within hamming ≤ bands-1 shares at least
    one intact band, so ``max_hamming <= bands-1`` has NO false
    negatives.  Exact hamming verified inside blocks.

    The (id, simhash) frame is pinned before the self-join — same
    rationale as ``hash_near_pairs``: when the planner broadcasts one
    arm, ReuseExchange cannot collapse the two subtrees and the
    explode + 63-vote aggregate would run twice."""
    s = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    width = 63 // bands + 1
    chunks = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * width).bitwiseAND(
                F.lit((1 << width) - 1)).alias("chunk"),
        )
        for b in range(bands)
    ])
    blocked = s.select(id_col, "simhash", F.explode(chunks).alias("bb")) \
               .select(id_col, "simhash", "bb.band", "bb.chunk")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, on=["band", "chunk"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def auto_max_df(postings: DataFrame, budget: int = 32,
                probe_cap: int = 100_000,
                dfc: "DataFrame | None" = None) -> int:
    """Pick the stop-shingle cutoff from the data under an explicit
    WORK BUDGET: the largest ``c`` such that the inverted-index
    self-join work for shingles with df <= c,

        sum_{df<=c} df^2 * n(df)  <=  budget * P,

    where ``P`` is the total posting count.  Candidate-generation cost
    is then <= ``budget`` x postings — linear in the corpus BY
    CONSTRUCTION at any scale, while the cutoff itself adapts to the
    actual df distribution (a boilerplate-heavy corpus lowers ``c``, a
    clean one prunes nothing).  This replaces a hand-tuned constant
    ``max_df`` whose recall/work trade silently shifts as the corpus
    grows (VERDICT r3 item 4).

    Driver cost: one aggregate producing the (df, count) histogram —
    at most ``probe_cap`` small rows collected (dfs above the cap
    could never fit a sane budget, so they are counted into P but
    never candidates).  All arithmetic is exact integer math so a SQL
    twin reproduces the same ``c`` bit-for-bit.

    ``dfc``: an already-built per-shingle document-frequency frame
    ``(sh, _df)`` over the SAME postings (the session-memo contract
    of ``_ngram_pair_counts``); the histogram and the total posting
    count are both exact aggregates of it — P = Σ_sh df(sh) — so the
    cutoff is the identical integer either way, without the second
    full postings pass.
    """
    if dfc is None:
        dfc = postings.groupBy("sh").agg(F.count("*").alias("_df"))
    hist = (dfc.groupBy("_df").agg(F.count("*").alias("_n"))
            .filter(F.col("_df") <= probe_cap)
            .select(F.col("_df").cast("long"), F.col("_n").cast("long"))
            .collect())
    total = dfc.agg(F.sum("_df")).collect()[0][0] or 0
    cum, c = 0, 1
    for row in sorted(hist, key=lambda r: r._df):
        cum += row._df * row._df * row._n
        if cum > budget * total:
            break
        c = row._df
    return c


def _ngram_pair_counts(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, max_df: "int | str | None" = None,
                       budget: int = 32,
                       postings: "DataFrame | None" = None,
                       dfc: "DataFrame | None" = None,
                       sizes: "DataFrame | None" = None,
                       track_min_df: bool = False) -> DataFrame:
    """Shared candidate-generation + intersection core for the n-gram
    set-similarity self-joins: df-pruned inverted-index join, exact
    intersection counts on the COMPLETE shingle sets.  Returns one row
    per candidate pair — ``(id_a, id_b, _shared, _sz_a, _sz_b)`` with
    ``id_a < id_b`` — from which Jaccard (symmetric) and containment
    (asymmetric) are one arithmetic projection each.

    ``track_min_df`` appends ``_min_df`` = min df over the pair's
    SHARED COLD shingles, which makes ONE mine at cutoff ``C`` serve
    every cutoff ``c <= C`` losslessly: the pair set at cutoff c is
    exactly ``filter(_min_df <= c)`` of the cutoff-C mine (a pair
    survives cutoff c iff it shares a shingle with df <= c, and for
    c <= C that shingle is cold here too), while the VALUES are
    cutoff-independent (``_shared`` is the full |A ∩ B| under any
    cutoff — cold count + hot correction always sum to it).  Proven
    by tests/test_pair_counts_unified.py.  Requires a numeric
    ``max_df``.
    """
    # One posting list (doc, shingle), hash-partitioned by shingle.
    # The explicit repartition is load-bearing: FOUR consumers below
    # (join a-side, join b-side, df counts, doc sizes) have identical
    # plans up to this exchange, so Catalyst's ReuseExchange
    # materializes the postings ONCE and every consumer reads the
    # shuffle output (measured 4× recompute of the shingle stage at
    # sf0.1 without it).  It also pre-positions both join sides.
    # The per-doc distinct happens inside the shingle kernel (a doc's
    # rows share a batch), so no dropDuplicates exchange is needed.
    # ``postings``: an already-built (and typically checkpointed)
    # frame with this exact shape — the session-memo contract one
    # level down from ``pair_counts``.
    sh = postings if postings is not None else \
        (shingle_postings(df, id_col, text_col, n)
         .repartition("sh"))
    # shingles are distinct per doc, so count(*) == document freq /
    # per-doc shingle-set size.  ``dfc``/``sizes``: already-built
    # (and typically checkpointed) copies of exactly these two
    # aggregates over the same postings — pure functions of the
    # postings frame, so every downstream value is unchanged.
    if sizes is None:
        sizes = sh.groupBy("doc").agg(F.count("*").alias("_sz"))

    if max_df == "auto":
        # the histogram is a SEPARATE action before the main query, so
        # materialize the postings across the two jobs — shingle
        # construction dominates the ngram cost and must not run twice.
        # localCheckpoint, NOT persist(): persist registers in the
        # CacheManager until an explicit unpersist, and this frame
        # never escapes to the caller — blocks would accumulate across
        # calls in a long-lived session (driver correctness sweep,
        # bench).  Checkpoint blocks release via the ContextCleaner
        # when the frame is GC'd.  (At cluster scale: reliable
        # checkpoint / DISK_ONLY to survive executor loss.)  A
        # caller-supplied ``postings`` frame is already materialized —
        # don't re-checkpoint it.
        if postings is None:
            sh = sh.localCheckpoint(eager=False)
        max_df = auto_max_df(sh, budget=budget, dfc=dfc)
    if max_df is None:
        if track_min_df:
            raise ValueError("track_min_df requires a numeric max_df")
        # no pruning: every shingle is "cold", no hot correction needed
        cold, doc_hot = sh, None
    else:
        # Hot shingles (df > max_df) leave candidate generation but
        # must still count toward the intersection of surviving pairs:
        # carry each doc's (small) hot-shingle set for an exact
        # correction — |A∩B| = cold_shared + |hotA ∩ hotB|.
        if dfc is None:
            dfc = sh.groupBy("sh").agg(F.count("*").alias("_df"))
        cold_keys = dfc.filter(F.col("_df") <= max_df)
        # keep _df on the cold stream only when the caller tracks it —
        # it is 8 extra bytes per self-join row otherwise
        cold = sh.join(cold_keys if track_min_df
                       else cold_keys.select("sh"), "sh")
        hot = sh.join(F.broadcast(
            dfc.filter(F.col("_df") > max_df).select("sh")), "sh")
        doc_hot = hot.groupBy("doc").agg(F.collect_set("sh").alias("_hot"))

    # inverted-index self-join on cold shingles; the pair COUNT is the
    # cold intersection size — one partial+final hash-agg, never a
    # distinct over the exploded pair stream, and no shingle arrays
    # ride the shuffle.
    a, b = cold.alias("a"), cold.alias("b")
    aggs = [F.count("*").alias("_cold_shared")]
    if track_min_df:
        # a._df == b._df for every joined row (same shingle), so one
        # side's min is THE min shared-cold df of the pair
        aggs.append(F.min(F.col("a._df")).alias("_min_df"))
    pairs = (
        a.join(b, on="sh")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(*aggs)
    )
    pairs = (
        pairs
        .join(sizes.select(F.col("doc").alias("id_a"),
                           F.col("_sz").alias("_sz_a")), "id_a")
        .join(sizes.select(F.col("doc").alias("id_b"),
                           F.col("_sz").alias("_sz_b")), "id_b")
    )
    if doc_hot is None:
        shared = F.col("_cold_shared")
    else:
        pairs = (
            pairs
            .join(doc_hot.select(F.col("doc").alias("id_a"),
                                 F.col("_hot").alias("_hot_a")),
                  "id_a", "left")
            .join(doc_hot.select(F.col("doc").alias("id_b"),
                                 F.col("_hot").alias("_hot_b")),
                  "id_b", "left")
        )
        shared = F.col("_cold_shared") + F.when(
            F.col("_hot_a").isNotNull() & F.col("_hot_b").isNotNull(),
            F.size(F.array_intersect("_hot_a", "_hot_b"))).otherwise(0)
    out = ["id_a", "id_b", shared.alias("_shared"), "_sz_a", "_sz_b"]
    if track_min_df:
        out.append("_min_df")
    return pairs.select(*out)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.05,
                        max_df: "int | str | None" = None,
                        budget: int = 32,
                        pair_counts: "DataFrame | None" = None,
                        postings: "DataFrame | None" = None,
                        dfc: "DataFrame | None" = None,
                        sizes: "DataFrame | None" = None
                        ) -> DataFrame:
    """Similarity self-join via a document-frequency-pruned inverted
    index, exact Jaccard on the full shingle sets.

    Scale discipline: a shingle appearing in *f* documents contributes
    f² rows to the inverted-index self-join — at corpus scale hot
    "stop shingles" dominate the join quadratically.  ``max_df`` drops
    them from CANDIDATE GENERATION only (classic stop-shingle /
    prefix-filter pruning); the Jaccard each surviving pair gets is
    still computed on the COMPLETE shingle sets via ``array_intersect``
    so pruning affects recall (pairs sharing only ultra-common
    shingles), never the reported similarity value.

    ``max_df="auto"`` derives the cutoff from the corpus's own df
    histogram under a work budget linear in postings — see
    :func:`auto_max_df`.  Costs one extra postings pass (the
    histogram aggregate), the same contract as AQE runtime stats.
    """
    # pair_counts: an already-mined _ngram_pair_counts frame for the
    # SAME (df, n, max_df, budget) — lets sessions share the one
    # expensive candidate pass across consumers (pairs / threshold
    # sweep / CC graph); the projection below is identical either way.
    # postings: the session-shared (doc, sh) frame one level down,
    # forwarded to the miner.
    pairs = pair_counts if pair_counts is not None else \
        _ngram_pair_counts(df, id_col, text_col, n, max_df, budget,
                           postings=postings, dfc=dfc, sizes=sizes)
    return (
        pairs
        .withColumn("jaccard", F.round(
            F.col("_shared")
            / (F.col("_sz_a") + F.col("_sz_b") - F.col("_shared")), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(df: DataFrame, id_col: str, text_col: str,
                            n: int = 3, threshold: float = 0.5,
                            max_df: "int | str | None" = None,
                            budget: int = 32,
                            pair_counts: "DataFrame | None" = None
                            ) -> DataFrame:
    """ASYMMETRIC near-duplicate pairs by n-gram set containment
    (Broder 1997's resemblance/containment pair): ``cont_a`` =
    |A∩B| / |A| — the fraction of doc A's shingles also in B — and
    symmetrically ``cont_b``.  A pair survives when EITHER direction
    clears ``threshold``.

    This is the doc-inside-doc detector Jaccard structurally misses:
    a short document quoted whole inside a much longer one scores
    Jaccard ≈ |A|/|B| (→ 0 as B grows) but containment(A→B) = 1.0 —
    the boilerplate-inclusion / quotation / page-wrapper shape that
    dominates web-crawl duplication.  Same df-pruned inverted-index
    candidate join as :func:`ngram_jaccard_pairs` (containment ≥
    Jaccard for every pair, so any candidate recall bound proven for
    the Jaccard join holds a fortiori here); the denominators are
    per-doc set sizes already carried by the shared core.

    ``pair_counts``: an already-mined ``_ngram_pair_counts`` frame for
    the SAME (df, n, max_df, budget) — the session-memo contract of
    :func:`ngram_jaccard_pairs`; the containment projection below is
    identical either way.
    """
    pairs = pair_counts if pair_counts is not None else \
        _ngram_pair_counts(df, id_col, text_col, n, max_df, budget)
    return (
        pairs
        .withColumn("cont_a", F.round(F.col("_shared") / F.col("_sz_a"), 4))
        .withColumn("cont_b", F.round(F.col("_shared") / F.col("_sz_b"), 4))
        .filter(F.greatest("cont_a", "cont_b") >= threshold)
        .select("id_a", "id_b", "cont_a", "cont_b")
    )


def ngram_jaccard_prefix(df: DataFrame, id_col: str, text_col: str,
                         n: int = 3, threshold: float = 0.6,
                         postings: "DataFrame | None" = None,
                         dfc: "DataFrame | None" = None) -> DataFrame:
    """High-threshold similarity self-join via LOSSLESS prefix
    filtering (AllPairs/PPJoin discipline), exact Jaccard output.

    ``ngram_jaccard_pairs``'s ``max_df`` stop-shingle pruning keeps
    the inverted index linear but trades recall: pairs sharing only
    hot shingles are lost.  At high thresholds the classic prefix
    filter needs no such trade.  Order each document's shingles by
    (global df, shingle) ascending and keep only the first
    ``sz - ceil(t*sz) + 1``; two documents with Jaccard >= t MUST
    share a prefix shingle (pigeonhole on the suffix), so joining
    prefixes only generates a complete candidate set — and because
    prefixes are each document's RAREST shingles, hot shingles
    almost never enter the join, killing the f^2 blow-up without
    dropping a single qualifying pair.  A length filter
    (min_sz >= t * max_sz, necessary for J >= t) prunes further
    before the exact intersection count.

    Scale shape: postings exchanged ONCE on the shingle (ReuseExchange
    feeds the df-count aggregate and both verify probes), one window
    pass per doc for ranks/sizes, an equi-join on prefix shingles
    (~(1-t) of postings, rare ones), then exact |A∩B| via two
    candidate equi-joins — every join keyed, no cross product, linear
    in postings for a fixed threshold.

    ``postings``, when given, must be DISTINCT ``(doc, sh)`` rows, as
    :func:`shingle_postings` returns by default (``distinct=True``).
    The verify counts |A∩B| as ``size(array_intersect)``, which
    dedupes, while prefix ranks and set sizes count every row, so a
    ``distinct=False`` frame would change the result silently.
    """
    eps = 1e-9  # keep ceil(t*sz) from rounding UP on float noise —
    #             a too-small ceil only lengthens the prefix (safe)
    # ``postings``: the session-shared (doc, sh) frame — same contract
    # as _ngram_pair_counts; built fresh (ReuseExchange across the
    # four consumers below) when absent.
    sh = postings if postings is not None else \
        (shingle_postings(df, id_col, text_col, n)
         .repartition("sh"))
    # ``dfc``: the session-shared (sh, _df) frame — a pure aggregate
    # of the same postings, so ranks/prefixes are unchanged.
    if dfc is None:
        dfc = sh.groupBy("sh").agg(F.count("*").alias("_df"))
    by_doc = Window.partitionBy("doc")
    ranked = (sh.join(dfc, "sh")
              .select("doc", "sh",
                      F.row_number().over(by_doc.orderBy("_df", "sh"))
                       .alias("_rk"),
                      F.count("*").over(by_doc).alias("_sz")))
    # NOTE (r15): pinning this frame with a localCheckpoint was tried
    # and measured 33% SLOWER at sf0.1 (3.5s vs 2.65s best-of-4) —
    # AQE already reuses the ranked/window stage across the self-join
    # arms at runtime, so the pin only added a materialization pass.
    prefix = ranked.filter(
        F.col("_rk") <= F.col("_sz")
        - F.ceil(F.lit(threshold) * F.col("_sz") - eps) + 1)
    a = prefix.select(F.col("doc").alias("id_a"), "sh",
                      F.col("_sz").alias("_sz_a"),
                      F.col("_rk").alias("_rk_a"))
    b = prefix.select(F.col("doc").alias("id_b"), "sh",
                      F.col("_sz").alias("_sz_b"),
                      F.col("_rk").alias("_rk_b"))
    # PPJoin positional filter (r15, lossless): a shared prefix
    # shingle at ranks (rk_a, rk_b) bounds the true overlap by
    # min(rk_a, rk_b) + min(sz_a - rk_a, sz_b - rk_b) — at most
    # min(rk)-1 shared shingles can precede it in the common (df, sh)
    # order, itself, and at most min(sz - rk) after it.  J >= t needs
    # overlap >= t/(1+t)·(sz_a+sz_b), and a qualifying pair satisfies
    # the bound on EVERY shared row (it upper-bounds the one true
    # overlap), so row-filtering before the pair dedup drops only
    # pairs that cannot reach the threshold.  eps loosens the bound
    # (safe direction).  Measured: candidate pairs 193k -> 13k and
    # the verify-join stage cost drops with them.
    ub = (F.least("_rk_a", "_rk_b")
          + F.least(F.col("_sz_a") - F.col("_rk_a"),
                    F.col("_sz_b") - F.col("_rk_b")))
    req = (F.lit(threshold) / F.lit(1.0 + threshold)
           * (F.col("_sz_a") + F.col("_sz_b")))
    cand = (a.join(b, "sh")
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.least("_sz_a", "_sz_b")
                       >= F.lit(threshold)
                       * F.greatest("_sz_a", "_sz_b") - eps)
                    & (ub >= req - eps))
            .select("id_a", "id_b", "_sz_a", "_sz_b")
            .dropDuplicates(["id_a", "id_b"]))
    # Exact |A∩B| by joining each candidate with BOTH documents'
    # whole (distinct) shingle arrays and intersecting elementwise —
    # the verify shape of the published parallel set-similarity join
    # (Vernica, Carey & Li, SIGMOD'10): two id-keyed joins moving one
    # array per side replace the former postings re-explode (every
    # candidate × its left doc's whole posting list shuffled, then a
    # (id_b, sh) join + count agg — measured 4.0 s of this query's
    # 3.2 s at sf0.1, |cand| × avg-set-size rows).  Row-identical:
    # postings are distinct (doc, sh), so size(array_intersect) IS
    # the old join-count, and every candidate shares its prefix
    # shingle (intersection >= 1), so no pair vanishes.
    sets = sh.groupBy("doc").agg(F.collect_list("sh").alias("_shs"))
    inter = (cand
             .join(sets.select(F.col("doc").alias("id_a"),
                               F.col("_shs").alias("_sa")), "id_a")
             .join(sets.select(F.col("doc").alias("id_b"),
                               F.col("_shs").alias("_sb")), "id_b")
             .select("id_a", "id_b", "_sz_a", "_sz_b",
                     F.size(F.array_intersect("_sa", "_sb"))
                     .alias("_inter")))
    return (inter
            .withColumn("jaccard", F.round(
                F.col("_inter")
                / (F.col("_sz_a") + F.col("_sz_b") - F.col("_inter")),
                4))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def dup_ngram_coverage(df: DataFrame, id_col: str, text_col: str,
                       n: int = 5, min_df: int = 2,
                       sh: "DataFrame | None" = None,
                       dfc: "DataFrame | None" = None) -> DataFrame:
    """Per-document duplicated-n-gram coverage — the corpus-level
    repetition signal behind substring-dedup pipelines (cf. "dedup
    training data" practice): for each document, what fraction of its
    distinct word n-grams also appears in at least ``min_df`` - 1
    OTHER documents.  High coverage → boilerplate / template /
    near-copy; the per-doc twin of ``ngram_jaccard_pairs``'s pair
    mining, usable as a filter threshold without mining pairs at all.

    Scale shape: one codegen postings explode, ONE exchange on the
    shingle (reused by the df-count aggregate and the postings side of
    the join — same ReuseExchange discipline as ngram_jaccard_pairs),
    document-frequency via count over distinct postings, then a
    per-doc aggregate.  Linear in postings; no self-join, no pair
    blow-up — this is the cheap signal you compute on all 100 TB,
    reserving pair mining for the flagged tail."""
    # ``sh``/``dfc``: session-shared distinct postings and their df
    # aggregate (the llmdata._sh_postings artifact — the span family's
    # positioned _pos_postings artifact deduped on (doc, sh) is
    # value-identical to the distinct kernel output); built fresh when
    # absent so the function stays standalone.
    if sh is None:
        sh = (shingle_postings(df, id_col, text_col, n)
              .repartition("sh"))
    if dfc is None:
        dfc = sh.groupBy("sh").agg(F.count("*").alias("_df"))
    return (
        sh.join(dfc, "sh")
        .groupBy("doc")
        .agg(F.count("*").alias("n_grams"),
             F.sum(F.when(F.col("_df") >= min_df, 1).otherwise(0))
              .alias("dup_grams"))
        .select(F.col("doc").alias(id_col),
                "n_grams",
                F.col("dup_grams").cast("long").alias("dup_grams"),
                F.round(F.col("dup_grams") / F.col("n_grams"), 4)
                 .alias("dup_frac"))
    )


def dup_span_extract(df: DataFrame, id_col: str, text_col: str,
                     n: int = 5, min_df: int = 2,
                     pos_sh: "DataFrame | None" = None,
                     dfc: "DataFrame | None" = None) -> DataFrame:
    """Maximal duplicated-substring SPANS per document — the "which
    words to cut" operator behind substring-level dedup (cf. the
    dedup-training-data practice of removing repeated substrings, the
    span-level refinement of ``dup_ngram_coverage``'s scalar signal).

    A word position is *covered* when some n-gram starting at it
    appears in >= ``min_df`` documents; overlapping/adjacent covered
    ranges ``[pos, pos+n-1]`` merge into maximal spans
    (gaps-and-islands over the position sequence).  Output one row per
    span: ``(doc_id, span_start, span_end, dup_grams)`` in 1-based
    word ranks — integer-exact end to end, so the DuckDB oracle
    hash-matches with no float hazard.

    Scale shape: positioned postings (codegen, one per occurrence),
    document frequency from the DISTINCT postings (one hash-agg on the
    same exchange), an equi-join back on the shingle, then per-doc
    windows whose partitions are bounded by document length — linear
    in postings, no self-join."""
    # ``pos_sh``/``dfc``: session-shared positioned postings and their
    # per-shingle df aggregate (the llmdata._pos_postings / _pos_dfc
    # artifacts) — built fresh when absent so the function stays
    # standalone.
    if pos_sh is None:
        pos_sh = shingle_postings(df, id_col, text_col, n,
                                  positions=True).repartition("sh")
    if dfc is None:
        dfc = (pos_sh.dropDuplicates(["doc", "sh"])
               .groupBy("sh").agg(F.count("*").alias("_df")))
    dup = (pos_sh.join(dfc.filter(F.col("_df") >= min_df), "sh")
           .select("doc", "pos"))
    w = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + (n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)) + 1, 1) \
        .otherwise(0)
    islands = (dup.withColumn("_brk", brk)
               .withColumn("_island", F.sum("_brk").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    return (islands.groupBy("doc", "_island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + (n - 1)).alias("span_end"),
                 F.count("*").alias("dup_grams"))
            .select(F.col("doc").alias(id_col),
                    F.col("span_start").cast("long"),
                    F.col("span_end").cast("long"),
                    F.col("dup_grams").cast("long")))


def minhash_containment_est(df: DataFrame, id_col: str, text_col: str,
                            num_perm: int = 32, shingle: int = 3,
                            bands: int = 8, threshold: float = 0.2,
                            base_hash: str = "xxhash64",
                            sigs: "DataFrame | None" = None,
                            sizes: "DataFrame | None" = None) -> DataFrame:
    """ESTIMATED asymmetric containment at signature scale — the
    100 TB path beside :func:`ngram_containment_pairs`'s exact
    postings join: candidates from an LSH band equi-join, then the
    MinHash Jaccard estimate Ĵ = agreement/num_perm converted to a
    containment estimate via the inclusion–exclusion identity

        |A∩B| = J/(1+J) · (|A|+|B|)   ⇒   Ĉ_A = |A∩B|̂ / |A|,

    (only the exact per-doc set SIZES are needed, one count per doc —
    never the sets).  Work is signatures (linear) + the band-bucket
    join; no shingle ever rides a pair row.

    The band key is the signature SLICE itself (array equality), not
    its hash — bit-identical candidate sets across engines, which
    with the XXH64-in-SQL base hash makes the whole estimator
    hash-verifiable end to end.
    """
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    r = num_perm // bands
    # ``sigs``/``sizes``: session-shared signature and set-size frames
    # (the llmdata._minhash_sigs / _sh_sizes artifacts) — built fresh
    # when absent so the function stays standalone.
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_perm,
                                  shingle, base_hash)
    if sizes is None:
        sizes = shingle_postings(df, id_col, text_col, shingle) \
            .groupBy("doc").agg(F.count("*").alias("_sz"))
    banded = sigs.select(
        F.col(id_col), "minhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.slice("minhash", b * r + 1, r).alias("bk"))
            for b in range(bands)])).alias("bb")
    ).select(id_col, "minhash", "bb.band", "bb.bk")
    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col("minhash").alias("_ma"), "band", "bk")
    b = banded.select(F.col(id_col).alias("id_b"),
                      F.col("minhash").alias("_mb"), "band", "bk")
    cand = (a.join(b, ["band", "bk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    agree = F.aggregate(
        F.zip_with("_ma", "_mb",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, x: acc + x)
    jhat = F.col("_agree") / F.lit(num_perm)
    shared = jhat / (jhat + 1) * (F.col("_sz_a") + F.col("_sz_b"))
    return (
        cand.withColumn("_agree", agree)
        .join(sizes.select(F.col("doc").alias("id_a"),
                           F.col("_sz").alias("_sz_a")), "id_a")
        .join(sizes.select(F.col("doc").alias("id_b"),
                           F.col("_sz").alias("_sz_b")), "id_b")
        .withColumn("cont_a_est", F.round(shared / F.col("_sz_a"), 4))
        .withColumn("cont_b_est", F.round(shared / F.col("_sz_b"), 4))
        .filter(F.greatest("cont_a_est", "cont_b_est") >= threshold)
        .select("id_a", "id_b", "cont_a_est", "cont_b_est")
    )


def decontaminate_spans(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str, text_col: str,
                        n: int = 5) -> DataFrame:
    """Span-level decontamination REPORT: the maximal word ranges of
    each corpus document that overlap a benchmark n-gram — what
    decontamination audits publish (WHERE the leak is, not just that
    one exists) and what surgical span-removal consumes, the
    benchmark-vs-corpus twin of :func:`dup_span_extract`.

    A position is contaminated when the n-gram starting at it occurs
    anywhere in the benchmark; overlapping/adjacent covered ranges
    ``[pos, pos+n-1]`` merge gaps-and-islands into maximal spans.
    One row per span: ``(id, span_start, span_end, bench_grams)``,
    1-based word ranks, integer-exact end to end.

    Scale shape: the benchmark shingle set BROADCASTS (eval suites
    are MBs vs TBs of corpus), corpus positions are one codegen
    shingle explode + broadcast equi-join, span merging is a per-doc
    window bounded by document length — linear in corpus postings,
    the only shuffle is the per-doc window exchange."""
    bench_sh = (benchmark
                .select(F.explode(word_shingles(F.col(text_col), n))
                        .alias("sh"))
                .distinct())
    hits = (shingle_postings(corpus, id_col, text_col, n, positions=True)
            .join(F.broadcast(bench_sh), "sh")
            .select("doc", "pos"))
    w = Window.partitionBy("doc").orderBy("pos")
    prev_end = F.max(F.col("pos") + (n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(F.col("pos") > F.coalesce(prev_end, F.lit(-1)) + 1, 1) \
        .otherwise(0)
    islands = (hits.withColumn("_brk", brk)
               .withColumn("_island", F.sum("_brk").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    return (islands.groupBy("doc", "_island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + (n - 1)).alias("span_end"),
                 F.count("*").alias("bench_grams"))
            .select(F.col("doc").alias(id_col),
                    F.col("span_start").cast("long"),
                    F.col("span_end").cast("long"),
                    F.col("bench_grams").cast("long")))


def remove_spans(df: DataFrame, spans: DataFrame, id_col: str,
                 text_col: str, start_col: str = "span_start",
                 end_col: str = "span_end") -> DataFrame:
    """SURGICAL span removal — the consumer of the span reports
    (:func:`dup_span_extract`, :func:`decontaminate_spans`): drop the
    words inside each doc's spans and rebuild the text, instead of
    dropping whole documents (the substring-dedup practice of cutting
    repeated/contaminated passages while keeping the document).

    Returns every input doc as ``(id, clean_text, removed_words)``;
    docs with no spans pass through (whitespace-normalized — output
    text is always the single-space join of kept words), docs whose
    every word is covered come back empty with the count to prove it.

    Scale shape: spans explode to covered positions (bounded by total
    corpus words — spans are disjoint per doc by construction), one
    anti-join on (doc, position), one per-doc ordered rebuild via
    collect_list + array_sort (bounded by document length, the
    line_dedup idiom — never a global window).  Integer-exact words
    and counts, so the oracle hash-matches end to end."""
    from pyspark.sql.window import Window

    covered = spans.select(
        F.col(id_col).alias("doc"),
        F.explode(F.sequence(F.col(start_col), F.col(end_col)))
         .alias("pos")).distinct()
    win = Window.partitionBy("doc").orderBy("_p")
    words = (df.select(F.col(id_col).alias("doc"),
                       F.posexplode(F.split(F.col(text_col), r"\s+"))
                        .alias("_p", "_w"))
             .filter(F.col("_w") != "")
             .withColumn("pos", F.row_number().over(win)))
    kept = words.join(covered, ["doc", "pos"], "left_anti")
    rebuilt = (kept.groupBy("doc")
               .agg(F.concat_ws(" ", F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("pos"), F.col("_w").alias("w")))),
                        lambda s: s.w)).alias("clean_text"),
                    F.count("*").alias("_kept")))
    # r15 (guide §2.4): the per-doc total word count IS the size of
    # the doc's own filtered split — it never needed a second pass
    # through the posexplode + row_number window arm; a scan-stage
    # column replaces that whole (explode + window + agg + join)
    # subtree.  size() of a NULL split is NULL → coalesce 0, exactly
    # the old no-rows case.
    total_col = F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                                lambda x: x != ""))
    return (df.select(F.col(id_col),
                      F.coalesce(total_col.cast("long"), F.lit(0))
                      .alias("_total"))
            .join(rebuilt.select(F.col("doc").alias(id_col),
                                 "clean_text", "_kept"), id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    (F.col("_total") - F.coalesce("_kept", F.lit(0)))
                    .cast("long").alias("removed_words")))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, id_col: str,
                  text_col: str, n: int = 5,
                  min_hits: int = 1) -> DataFrame:
    """Benchmark decontamination — the pretraining step that keeps
    eval sets out of the training corpus: flag every corpus document
    sharing ≥ ``min_hits`` distinct word n-grams with ANY benchmark
    document.  Returns (id, n_hits) for flagged docs.

    Scale shape: benchmark sets are small (MBs of eval data vs TBs of
    corpus), so the benchmark shingle set BROADCASTS; the corpus side
    is one codegen shingle explode + broadcast semi-join + per-doc
    count — linear in corpus postings, the only shuffle is the final
    per-doc aggregate."""
    bench_sh = (benchmark
                .select(F.explode(word_shingles(F.col(text_col), n))
                        .alias("sh"))
                .distinct())
    corpus_sh = shingle_postings(corpus, id_col, text_col, n)
    return (
        corpus_sh.join(F.broadcast(bench_sh), corpus_sh.sh == bench_sh.sh)
        .groupBy("doc").agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
        .select(F.col("doc").alias(id_col), "n_hits")
    )


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Connected components over a near-dup pair graph — the step a
    training-data pipeline needs AFTER pair mining: pick one canonical
    document per duplicate cluster.  Returns (node, cluster_id) where
    cluster_id is the component's minimum node id.

    Min-label propagation with pointer jumping: each round every node
    takes the min of its own and its neighbors' labels, then each
    label is replaced by its label's label (label[label[node]]) — the
    pointer-jumping step halves chain depth, so convergence is
    O(log diameter) rounds, not O(diameter).  Each round's labels are
    materialized with localCheckpoint (eager) — cache alone is NOT
    enough for iterative Spark: the logical plan would grow with every
    round and the driver dies re-analyzing it (lineage explosion).
    The driver coordinates only the convergence check — all data stays
    distributed (this is the standard Spark CC shape; GraphFrames'
    connected components is the same loop hardened)."""
    edges = pairs.select(F.col(id_a).alias("src"),
                         F.col(id_b).alias("dst"))
    # materialize the edge list ONCE — every iteration joins it, and
    # without this each round would recompute the (potentially
    # expensive) upstream pair-mining plan from scratch
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst"))
                      ).localCheckpoint(eager=True)
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("_nl"))
        )
        prop = (
            labels.join(neigh, labels.node == neigh.src, "left")
            .select(
                "node",
                F.least(F.col("label"),
                        F.coalesce(F.col("_nl"), F.col("label")))
                 .alias("label"),
            )
        )
        # pointer jumping: label <- label[label]; labels covers every
        # node and labels are node ids, so the self-join is total
        lmap = prop.select(F.col("node").alias("_ln"),
                           F.col("label").alias("_ll"))
        new_labels = (
            prop.join(lmap, prop.label == lmap._ln, "left")
            .select("node",
                    F.coalesce(F.col("_ll"), F.col("label"))
                     .alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def cluster_keep(docs: DataFrame, id_col: str, weight_col: str,
                 cc: DataFrame) -> DataFrame:
    """One keep/drop verdict per DOCUMENT from near-dup clusters —
    the canonicalization step after :func:`connected_components`:
    every document gets its cluster id (docs absent from the pair
    graph are their own singleton cluster) and the cluster's kept
    representative ``keep_id`` = the member with the LARGEST
    ``weight_col`` (ties → smallest id).  "Keep the longest copy" is
    the standard fuzzy-dedup policy (truncated scrapes lose to the
    full article); pass a quality score as the weight for
    quality-prioritized retention instead.

    Reference parity: goka resolves one winner per key group the same
    way — a deterministic fold over the group (processor.go) — here
    the group is the near-dup cluster and the fold is arg-max.

    Scale shape: one broadcast-size left join (cc covers only docs
    that appear in some pair — at web scale a few % of the corpus),
    one per-cluster max_by hash aggregate (map-side combined, one row
    per cluster), one equi-join back on cluster_id.  No windows over
    the corpus, no driver state."""
    labeled = (
        docs.select(F.col(id_col), F.col(weight_col))
        .join(cc.select(F.col("node").alias(id_col), "cluster_id"),
              id_col, "left")
        .withColumn("cluster_id",
                    F.coalesce(F.col("cluster_id"), F.col(id_col))))
    # max struct = max weight, then max(-id) = min id on ties
    best = labeled.groupBy("cluster_id").agg(
        F.max_by(F.col(id_col),
                 F.struct(F.col(weight_col),
                          (-F.col(id_col)).alias("_neg"))).alias("keep_id"))
    return (labeled.join(best, "cluster_id")
            .select(F.col(id_col), F.col("cluster_id"), F.col("keep_id")))


def band_keys(sigs: DataFrame, id_col: str, bands: int = 4,
              rows_per_band: int = 4) -> DataFrame:
    """LSH band keys as JOINED SIGNATURE STRINGS — ``(id, band,
    band_key)`` with band_key = the band's raw minhash values joined
    by '-'.  Unlike :func:`lsh_bands` (xxhash64 of the slice — faster,
    JVM-only) the string key is engine-portable: DuckDB rebuilds it
    with string_agg(sig, '-' ORDER BY perm), so a band join is
    oracle-verifiable end-to-end.  Two docs share a band key iff they
    share that band's signature slice — identical collision semantics,
    the key is just longer (~40 bytes vs 8)."""
    kv = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("-", F.transform(
                F.slice("minhash", b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"))).alias("band_key"),
        )
        for b in range(bands)
    ])
    return (sigs.select(F.col(id_col), F.explode(kv).alias("bb"))
            .select(id_col, "bb.band", "bb.band_key"))


def incremental_dedup(batch: DataFrame, corpus: DataFrame, id_col: str,
                      text_col: str, num_perm: int = 16, bands: int = 4,
                      shingle: int = 3,
                      base_hash: str = "md5",
                      batch_sigs: "DataFrame | None" = None,
                      corpus_sigs: "DataFrame | None" = None) -> DataFrame:
    """Incremental ingestion dedup — the shape a 100 TB pipeline
    actually runs: a NEW batch arrives and must be deduplicated
    against the EXISTING corpus without ever re-pairing the corpus
    with itself.  Returns one row per batch document:
    (id, verdict) with verdict ∈ exact_dup | near_dup | new.

    - exact_dup: md5(text) matches some existing document;
    - near_dup: not exact, but shares ≥1 LSH band (minhash signature
      slice) with some existing document;
    - new: neither.

    Scale shape: both probes are equi-joins keyed by hash values —
    batch md5 × corpus md5, batch band × corpus band — so the cost is
    O(batch + corpus) postings with no corpus×corpus term, and the
    corpus side of each join is exactly the artifact a production
    pipeline keeps persisted between batches (the signature/band
    table, like the ann_index codes table; goka's changelog-table
    recovery, partition_table.go:1, is the same
    precomputed-state-vs-new-input contract).  ``base_hash='md5'``
    keeps the whole verdict oracle-verifiable; xxhash64 is the
    production default elsewhere and drops in unchanged."""
    # ONE left-join + CASE plan, not a 3-branch union: a union whose
    # "new" branch anti-joins the other two re-embeds every signature
    # subtree (batch sigs ~4x, corpus sigs ~3x in the tree) — measured
    # to OOM an 8g driver's ANALYSIS phase in a long session
    b_md5 = batch.select(
        F.col(id_col),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("_h"))
    c_md5 = corpus.select(
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("_h")).distinct()
    ex_ids = (b_md5.join(c_md5, "_h", "left_semi")
              .select(F.col(id_col), F.lit(True).alias("_ex")))

    # ``batch_sigs``/``corpus_sigs``: already-built signature frames
    # for the same (num_perm, shingle, base_hash) — signatures are a
    # pure per-doc function, so a batch/corpus split of one memoized
    # corpus-wide frame is value-identical to signing each side
    r = num_perm // bands
    b_bands = band_keys(
        batch_sigs if batch_sigs is not None else
        minhash_signatures(batch, id_col, text_col, num_perm, shingle,
                           base_hash), id_col, bands, r)
    c_bands = band_keys(
        corpus_sigs if corpus_sigs is not None else
        minhash_signatures(corpus, id_col, text_col, num_perm, shingle,
                           base_hash), id_col, bands, r) \
        .select("band", "band_key").distinct()
    nr_ids = (b_bands.join(c_bands, ["band", "band_key"], "left_semi")
              .select(id_col).distinct()
              .withColumn("_nr", F.lit(True)))

    return (batch.select(id_col)
            .join(ex_ids, id_col, "left")
            .join(nr_ids, id_col, "left")
            .select(F.col(id_col),
                    F.when(F.col("_ex"), "exact_dup")
                     .when(F.col("_nr"), "near_dup")
                     .otherwise("new").alias("verdict")))


def bloom_bits(grams: DataFrame, gram_col: str, m_bits: int,
               k: int, carry: "list[str] | None" = None) -> DataFrame:
    """The k bit positions each gram sets in an m-bit Bloom filter:
    pos_j = md5int(j || ':' || gram) % m_bits.  md5-derived so any
    engine computes identical bits.  ``carry`` columns (e.g. the doc
    id on the probe side) pass through the explode."""
    pos = F.array(*[
        F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), F.col(gram_col))), 1, 8),
            16, 10).cast("long") % m_bits
        for j in range(k)
    ])
    keep = [F.col(c) for c in (carry or [])] + [F.col(gram_col)]
    return grams.select(*keep, F.posexplode(pos).alias("j", "pos"))


def bloom_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str, text_col: str, n: int = 3,
                        m_bits: int = 1 << 17, k: int = 3,
                        min_hits: int = 1,
                        postings: "DataFrame | None" = None,
                        bench_grams: "DataFrame | None" = None
                        ) -> DataFrame:
    """Benchmark decontamination through an m-bit Bloom filter — the
    constant-size alternative to :func:`decontaminate`'s exact gram
    set: at 100 TB the benchmark suite can hold 10⁹ distinct grams
    (GBs as strings, too big to broadcast), but its Bloom filter is
    m bits regardless.  A corpus gram counts as a hit iff ALL k of
    its bit positions are set by some benchmark gram — a SUPERSET of
    the exact hits (Bloom filters have no false negatives), with
    false-positive rate ≈ (1-e^{-kN/m})^k, deterministic given the
    md5 bit derivation, so the flagged set is engine-reproducible.

    Spark shape: the filter is materialized as the DISTINCT set-bit
    positions (≤ m rows of one long — the broadcastable form of a
    bitset); corpus postings explode to k position probes, broadcast
    equi-join, and a gram hits when all k probes land:
    count(matched j) = k.  Everything stays JVM-side; no UDF bitset.

    Returns (id, n_hits): per corpus doc, the number of DISTINCT
    grams whose Bloom probe hits, filtered to >= min_hits.
    ``postings`` / ``bench_grams``: pre-built corpus (doc, sh)
    postings and distinct benchmark-gram frames (the session-memo
    contract — e.g. the shared postings filtered by the corpus/bench
    split predicate)."""
    bench_sh = bench_grams if bench_grams is not None else \
        (benchmark
         .select(F.explode(word_shingles(F.col(text_col), n))
                 .alias("sh")).distinct())
    bits = (bloom_bits(bench_sh, "sh", m_bits, k)
            .select("pos").distinct())
    probes = bloom_bits(postings if postings is not None else
                        shingle_postings(corpus, id_col, text_col, n),
                        "sh", m_bits, k, carry=["doc"])
    hit_grams = (probes.join(F.broadcast(bits), "pos")
                 .groupBy("doc", "sh")
                 .agg(F.count("*").alias("_k_hit"))
                 .filter(F.col("_k_hit") == k))
    return (hit_grams.groupBy("doc")
            .agg(F.count("*").alias("n_hits"))
            .filter(F.col("n_hits") >= min_hits)
            .select(F.col("doc").alias(id_col), "n_hits"))


def optimal_bands(threshold: float, num_perm: int = 32) -> tuple[int, int]:
    """Plan (bands, rows_per_band) for a Jaccard ``threshold``: pick
    the divisor pair b*r = num_perm whose S-curve midpoint
    (1/b)^(1/r) sits closest to the threshold (MMDS ch.3 banding
    analysis).  Collision probability for similarity s is
    1-(1-s^r)^b — steepest around the midpoint, so matching midpoint
    to threshold gives the sharpest near-dup/far-pair separation the
    budget allows.  Driver-side planning arithmetic, O(divisors)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        midpoint = (1.0 / b) ** (1.0 / r)
        score = abs(midpoint - threshold)
        if best is None or score < best[0]:
            best = (score, b, r)
    return best[1], best[2]


def common_ngrams(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3, k: int = 20, min_df: int = 2,
                  postings: "DataFrame | None" = None,
                  dfc: "DataFrame | None" = None) -> DataFrame:
    """Corpus-wide heavy-hitter n-grams — the boilerplate detector:
    the top-``k`` shingles by document frequency are the nav bars,
    license headers and template sentences that repeat across a crawl
    (the signal line_dedup/dup_span act on; this op SURFACES it for
    audit and blocklist curation).

    Exact global top-k with a total order (df DESC, then the shingle
    text ASC) so the result set is deterministic across engines even
    at the k-th-place tie.  Plan: distinct postings → one map-side-
    combined hash-agg → ``TakeOrderedAndProject`` (per-partition
    partial top-k, k-row merge on the driver) — never a global sort
    of the gram dictionary.  Linear in corpus postings at any scale.
    ``postings``: the session-shared distinct (doc, sh) frame.
    ``dfc``: an already-built (sh, _df) document-frequency frame over
    the same postings — the exact hash-agg below, so the top-k rows
    are the identical integers either way.
    """
    if dfc is None:
        if postings is None:
            postings = shingle_postings(df, id_col, text_col, n)
        dfc = postings.groupBy("sh").agg(F.count("*").alias("_df"))
    return (dfc.select("sh", F.col("_df").alias("df"))
            .filter(F.col("df") >= int(min_df))
            .orderBy(F.col("df").desc(), F.col("sh").asc())
            .limit(int(k))
            .select(F.col("sh").alias("ngram"),
                    F.col("df").cast("long").alias("df")))


def near_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                       id_col: str, text_col: str, num_perm: int = 16,
                       bands: int = 4, shingle: int = 3,
                       base_hash: str = "md5") -> DataFrame:
    """Benchmark decontamination at NEAR-DUPLICATE granularity — the
    paraphrase-level leak check the exact n-gram pass (decontaminate /
    bloom path) misses: an eval question reworded in the training
    corpus shares minhash bands even when no verbatim n-gram survives.
    Semantically this IS incremental dedup with the benchmark as the
    reference side, so the plan (two equi-join probes, no
    corpus×benchmark pairing) and the oracle story carry over intact.

    One row per corpus doc: verdict ∈ contaminated_exact |
    contaminated_near | clean."""
    v = incremental_dedup(corpus, benchmark, id_col, text_col,
                          num_perm, bands, shingle, base_hash)
    return v.select(
        F.col(id_col),
        F.when(F.col("verdict") == "exact_dup", "contaminated_exact")
         .when(F.col("verdict") == "near_dup", "contaminated_near")
         .otherwise("clean").alias("verdict"))


def exact_dedup_prioritized(df: DataFrame, id_col: str, text_col: str,
                            source_col: str,
                            priority: "tuple[str, ...]" = ()) -> DataFrame:
    """Multi-source exact dedup with a SOURCE PRIORITY policy — the
    corpus-merge shape: when the same text appears in several sources
    (a Wikipedia dump inside a web crawl, a mirrored site), keep the
    copy from the most trusted source, not just the smallest id.
    ``priority`` lists sources best-first; unlisted sources rank
    after all listed ones, ties break (source ASC, id ASC) so the
    winner is engine-deterministic.

    Returns one row per distinct text: ``(text_md5, keep_id,
    keep_source, dup_cnt, n_sources)``.  Scale shape: one hash-agg
    for the group stats + one per-group window (partitions bounded by
    the duplicate-group size) on the same md5 exchange."""
    from pyspark.sql.window import Window

    rank = F.lit(len(priority))
    for i, s in enumerate(reversed(priority)):
        rank = F.when(F.col(source_col) == s,
                      F.lit(len(priority) - 1 - i)).otherwise(rank)
    h = F.md5(F.col(text_col))
    w = Window.partitionBy("_m").orderBy(
        "_rank", F.col(source_col), F.col(id_col))
    r = (df.select(F.col(id_col), F.col(source_col),
                   h.alias("_m"), rank.alias("_rank"))
         .withColumn("_rn", F.row_number().over(w)))
    g = (df.groupBy(h.alias("_m"))
         .agg(F.count("*").alias("dup_cnt"),
              F.count_distinct(F.col(source_col)).alias("n_sources")))
    return (r.filter(F.col("_rn") == 1).join(g, "_m")
            .select(F.col("_m").alias("text_md5"),
                    F.col(id_col).alias("keep_id"),
                    F.col(source_col).alias("keep_source"),
                    F.col("dup_cnt").cast("long"),
                    F.col("n_sources").cast("long")))


def cms_sketch(items: DataFrame, item_col: str, depth: int = 4,
               width: int = 1024) -> DataFrame:
    """Count-Min Sketch over an item stream (Cormode & Muthukrishnan
    2005) — the bounded-memory frequency summary for cardinalities
    where an exact (item, count) table no longer fits: ``depth``
    independent md5-derived hash rows × ``width`` counters, update =
    +1 in one bucket per row, estimate = min over rows (never an
    undercount).  depth·width integers regardless of item count —
    the sketch SHIPS (broadcast, merge across shards by cell-wise
    add) where a 100-TB exact dictionary cannot.

    md5(row ‖ item) derives the row hashes, so a SQL twin reproduces
    every counter bit-identically (the engine-portable hash
    discipline) — unlike HLL, this sketch is exact-integer state and
    fully oracle-verifiable.  ONE scan of the item stream: the depth
    (row, bucket) cells per item are built as an inline struct array
    and exploded (generate, not re-scan), then one (row, bucket)
    hash-agg with map-side combine — at 100 TB the gram stream is the
    dominant cost, so scanning it depth× (the pre-r7 union shape) was
    4× the necessary IO."""
    rows = items.select(F.explode(F.array(*[
        F.struct(
            F.lit(r).alias("row"),
            (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"r{r}:"), F.col(item_col))),
                1, 8), 16, 10).cast("long") % width).alias("bucket"))
        for r in range(depth)])).alias("_rb"))
    return (rows.groupBy(F.col("_rb.row").alias("row"),
                         F.col("_rb.bucket").alias("bucket"))
            .agg(F.count("*").alias("cnt")))


def cms_estimate(sketch: DataFrame, queries: DataFrame,
                 item_col: str, depth: int = 4,
                 width: int = 1024) -> DataFrame:
    """Point-query the sketch for each item in ``queries``: min over
    the depth rows of the hashed bucket's counter.  The sketch is
    depth·width rows — broadcast; estimates never undercount
    (est >= true count, the CMS guarantee).  One scan of the query
    stream (explode, not a depth-way union)."""
    expanded = (queries.select(F.col(item_col), F.explode(F.array(*[
        F.struct(
            F.lit(r).alias("row"),
            (F.conv(F.substring(
                F.md5(F.concat(F.lit(f"r{r}:"), F.col(item_col))),
                1, 8), 16, 10).cast("long") % width).alias("bucket"))
        for r in range(depth)])).alias("_rb"))
        .select(item_col, F.col("_rb.row").alias("row"),
                F.col("_rb.bucket").alias("bucket")))
    return (expanded.join(F.broadcast(sketch), ["row", "bucket"], "left")
            .groupBy(item_col)
            .agg(F.min(F.coalesce("cnt", F.lit(0)))
                 .cast("long").alias("cms_est")))


class CmsSink:
    """Streaming Count-Min sketch — a live frequency monitor over an
    unbounded stream (heavy-hitter n-grams of an ingest feed, hot
    keys of a topic) in depth×width integers of state per epoch:
    a ``foreachBatch`` sink writing each micro-batch's PARTIAL sketch
    to ``out_path/epoch_id=N``; ``read()`` merges cell-wise (the
    tested distributive property) into the exact sketch of everything
    seen.  Epoch overwrite is retry-idempotent — the CorpusStatsSink
    layout applied to sketch state."""

    def __init__(self, out_path: str, item_col: str,
                 depth: int = 4, width: int = 1024):
        self.out_path = out_path.rstrip("/")
        self.item_col = item_col
        self.depth, self.width = depth, width

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        sk = cms_sketch(batch_df, self.item_col, self.depth, self.width)
        (sk.write.mode("overwrite")
         .parquet(f"{self.out_path}/epoch_id={int(epoch_id)}"))

    def read(self, spark) -> DataFrame:
        parts = spark.read.parquet(self.out_path)
        return (parts.groupBy("row", "bucket")
                .agg(F.sum("cnt").alias("cnt")))

    def estimate(self, spark, queries: DataFrame,
                 item_col: str) -> DataFrame:
        return cms_estimate(self.read(spark), queries, item_col,
                            self.depth, self.width)


HLL_M = 256  #: registers; stderr ~= 1.04/sqrt(m) ~= 6.5%


def hll_registers(items: DataFrame, key_cols: list, item_col: str) -> DataFrame:
    """Engine-portable HyperLogLog registers (Flajolet et al. 2007):
    md5 splits into an 8-bit register index + a 48-bit tail whose
    leading-zero run sets the register value (max-aggregated) — the
    ``dedup_minhash_verified`` discipline applied to cardinality:
    Spark's builtin HLL sketch is engine-opaque (rows-only in the
    driver gate), but THESE registers are exact integers any engine
    reproduces bit-identically from md5, so the whole sketch is
    oracle-verifiable.  Registers merge across shards by cell-wise
    MAX (tested).  One hash-agg; ≤ m rows per key."""
    h = F.md5(F.col(item_col).cast("string"))
    reg = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    x = F.conv(F.substring(h, 3, 12), 16, 10).cast("long")
    val = F.when(x > 0, F.lit(49) - F.length(F.bin(x))) \
        .otherwise(F.lit(49)).cast("int")
    return (items.select(*key_cols, reg.alias("reg"), val.alias("val"))
            .groupBy(*key_cols, "reg").agg(F.max("val").alias("r")))


def hll_estimate(regs: DataFrame, key_cols: list,
                 m: int = HLL_M) -> DataFrame:
    """Cardinality estimate from the registers: harmonic mean with
    the standard alpha bias constant + the small-range linear
    counting correction.

    The harmonic sum Σ2^-r is aggregated as an exact BIGINT
    Σ2^(49-r) (r ∈ [1,49] ⇒ terms ≤ 2^48; ≤256 registers ⇒ sum
    < 2^56 < 2^63 — no overflow), absent registers added as
    (m-present)·2^49, and the whole divided by 2^49 ONCE: one
    deterministic rounding instead of an aggregation-order-dependent
    float summation, so the estimate is bit-identical in any engine
    regardless of partial-agg order (a double SUM(2^-r) was
    order-dependent by 1 ulp under a wide register spread)."""
    alpha = 0.7213 / (1 + 1.079 / m)
    per = regs.groupBy(*key_cols).agg(
        F.sum(F.expr("shiftleft(cast(1 as bigint), 49 - r)")).alias("_si"),
        F.count("*").alias("_present"))
    s_int = (F.col("_si")
             + (F.lit(m) - F.col("_present")) * F.lit(2 ** 49))
    s = s_int.cast("double") / F.lit(float(2 ** 49))  # one rounding
    zeros = (F.lit(m) - F.col("_present")).cast("double")
    raw = F.lit(alpha * m * m) / s
    est = F.when((raw <= 2.5 * m) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)) \
        .otherwise(raw)
    return per.select(*key_cols, F.round(est, 4).alias("hll_est"))


class HllSink:
    """Streaming HyperLogLog — live distinct-cardinality monitoring
    over an unbounded stream (distinct users per event type, distinct
    urls per source) in ≤ m integers of state per key per epoch: a
    ``foreachBatch`` sink writing each micro-batch's PARTIAL registers
    to ``out_path/epoch_id=N``; ``read()`` merges cell-wise by MAX
    (the tested HLL merge law) into exactly the registers of
    everything seen, so ``estimate()`` equals the batch estimate of
    the whole stream.  Epoch overwrite is retry-idempotent — the
    CmsSink layout applied to HLL state (registers merge by MAX where
    CMS cells merge by SUM; both are commutative monoids, which is
    what makes shard-then-merge exact)."""

    def __init__(self, out_path: str, key_cols: list, item_col: str):
        self.out_path = out_path.rstrip("/")
        self.key_cols = list(key_cols)
        self.item_col = item_col

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        regs = hll_registers(batch_df, self.key_cols, self.item_col)
        (regs.write.mode("overwrite")
         .parquet(f"{self.out_path}/epoch_id={int(epoch_id)}"))

    def read(self, spark) -> DataFrame:
        parts = spark.read.parquet(self.out_path)
        return (parts.groupBy(*self.key_cols, "reg")
                .agg(F.max("r").alias("r")))

    def estimate(self, spark) -> DataFrame:
        return hll_estimate(self.read(spark), self.key_cols)


def ngram_novelty(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3,
                  postings: "DataFrame | None" = None) -> DataFrame:
    """First-occurrence novelty score — the streaming-ingest view of
    duplication: for each document, the fraction of its DISTINCT
    n-grams whose earliest appearance in the corpus (min doc id over
    the gram's postings) is this document.  Boilerplate-heavy or
    near-duplicate docs arriving after their sources score low; the
    first copy scores high — the per-doc complement of
    ``dup_ngram_coverage``'s corpus-wide view, and the batch twin of
    what an ingest pipeline computes against its signature store.

    Scale shape: ONE postings pass — the explicit repartition("sh")
    is load-bearing (the ``_ngram_pair_counts`` discipline): the min
    hash-agg and the join probe side have identical plans up to that
    exchange, so ReuseExchange materializes the shingle construction
    once (without it the scan + shingle windows run twice, plan-
    asserted in tests); the agg and the join both consume the
    sh-partitioning with zero further exchange.  Then one per-doc
    count agg.  Linear in postings, map-side combined.  The score is
    an exact 1e6-scaled integer (novel·1e6 DIV grams).
    ``postings``: the session-shared sh-partitioned frame (same rows,
    already materialized)."""
    sh = postings if postings is not None else \
        (shingle_postings(df, id_col, text_col, n)
         .repartition("sh"))
    firsts = sh.groupBy("sh").agg(F.min("doc").alias("_first"))
    per = (sh.join(firsts, "sh")
           .groupBy("doc")
           .agg(F.count("*").alias("n_grams"),
                F.sum(F.when(F.col("_first") == F.col("doc"), 1)
                      .otherwise(0)).alias("novel")))
    return per.select(
        F.col("doc").alias(id_col),
        F.col("n_grams").cast("long"),
        F.col("novel").cast("long"),
        F.expr("(novel * 1000000L) DIV n_grams").alias("novelty_e6"))


def adjacent_exact_jaccard(df: "DataFrame", id_col: str,
                           text_col: str) -> "DataFrame":
    """Exact shingle-set intersection/union sizes over the
    deterministic adjacent pairing ``(doc_a, doc_b = doc_a + 1)`` —
    the num_perm-INDEPENDENT half of :func:`minhash_est_error`,
    factored out (r14) so a permutation sweep computes it once
    instead of once per arm.  Returns (doc_a, doc_b, _i, _u)."""
    shs = shingle_sets(df, id_col, text_col).withColumnRenamed(
        id_col, "_d")
    ea = (shs.select(F.col("_d").alias("doc_a"),
                     F.col("_shs").alias("_sa")))
    eb = (shs.select(F.col("_d").alias("doc_b"),
                     F.col("_shs").alias("_sb")))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    return (ea.join(eb, F.col("doc_b") == F.col("doc_a") + 1)
            .select("doc_a", "doc_b",
                    inter.cast("long").alias("_i"),
                    (F.size("_sa") + F.size("_sb") - inter)
                    .cast("long").alias("_u")))


def minhash_est_error(df: "DataFrame", id_col: str, text_col: str,
                      num_perm: int = 16,
                      sigs: "DataFrame | None" = None,
                      exact: "DataFrame | None" = None) -> "DataFrame":
    """MinHash CALIBRATION report — the text-side twin of the ANN
    recall gate: over the deterministic adjacent pairing
    (id, id+1), the signature-estimated Jaccard vs the exact
    shingle-set Jaccard and their absolute error, all in exact
    integer micro-units (est = matches·1e6 DIV num_perm; exact =
    |∩|·1e6 DIV |∪|).  This is how you validate num_perm before
    trusting LSH verdicts at scale: E[err] ~ 1/√num_perm, and the
    report measures it on YOUR corpus, not the textbook bound.

    Uses the md5 base hash so every number is engine-recomputable
    (the xxhash64 production path shares the permutation algebra —
    dedup_minhash_verified pins it).  Scale shape: one signature
    hash-agg + one shingle-set hash-agg + a self equi-join on id+1
    (one exchange, never all-pairs); per-pair work is bounded by
    document length.  At 100 TB run it on a hash-sampled slice —
    the pairing is a pure id function, so the sample is reproducible.
    """
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col,
                                  num_perm=num_perm, base_hash="md5")
    # the exact shingle-set half is num_perm-independent; ``exact``
    # injects a shared (typically checkpointed) copy — the inner join
    # on the identical (doc_a, doc_b) pairing keeps the row set and
    # every value unchanged (both halves cover every document)
    if exact is None:
        exact = adjacent_exact_jaccard(df, id_col, text_col)
    sa = sigs.select(F.col(id_col).alias("doc_a"),
                     F.col("minhash").alias("_ma"))
    sb = sigs.select(F.col(id_col).alias("doc_b"),
                     F.col("minhash").alias("_mb"))
    pairs = (sa.join(sb, F.col("doc_b") == F.col("doc_a") + 1)
             .join(exact, ["doc_a", "doc_b"]))
    matches = F.size(F.filter(
        F.zip_with("_ma", "_mb", lambda x, y: x == y),
        lambda eq: eq))
    # exact INTEGER arithmetic on both sides (matches the oracle's
    # `mt * step` / `i_ * 1e6 // u_`): float division here diverged
    # from the oracle whenever num_perm does not divide 1e6 (ADVICE)
    return (pairs.select(
        "doc_a", "doc_b",
        (matches.cast("long") * F.lit(1000000 // num_perm))
        .alias("est_e6"), "_i", "_u")
        .select(
            "doc_a", "doc_b", F.col("est_e6").cast("long"),
            F.expr("(_i * 1000000L) DIV _u").alias("exact_e6"),
            F.abs(F.col("est_e6") - F.expr("(_i * 1000000L) DIV _u"))
            .cast("long").alias("abs_err_e6")))


def minhash_band_sweep(df: "DataFrame", id_col: str, text_col: str,
                       num_perm: int = 32,
                       band_list: "tuple[int, ...]" = (2, 4, 8, 16),
                       threshold: float = 0.5,
                       max_df: "int | None" = 50,
                       sigs: "DataFrame | None" = None,
                       pair_counts: "DataFrame | None" = None
                       ) -> "DataFrame":
    """LSH band-tuning curve (MMDS ch.3 S-curve, MEASURED) — the
    text-side twin of the ANN n_probe sweep: for each candidate
    banding (b, r = num_perm/b) of ONE shared signature frame, the
    realized candidate-pair volume plus precision and recall against
    exact-Jaccard-≥-threshold ground truth.  This is the report that
    picks a banding BEFORE a corpus-scale dedup run commits to one:
    `optimal_bands` gives the textbook S-curve midpoint; this
    measures false-positive volume (= wasted verification work) and
    missed-pair count on YOUR corpus.

    One signature hash-agg (localCheckpointed) feeds every banding —
    re-bandings are slice+hash projections, never re-hash the corpus.
    Ground truth is the df-pruned exact-Jaccard join with the SAME
    pruning policy as :func:`ngram_jaccard_pairs`, so "recall" is
    measured against the pairs an exact pass would emit.  At 100 TB
    run the sweep on a hash-sampled slice: permissive bandings (r=2)
    exist to be REJECTED by this report, not to run corpus-wide.
    """
    from functools import reduce

    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, num_perm) \
            .localCheckpoint(eager=False)
    # pair_counts: an already-mined _ngram_pair_counts frame at the
    # SAME (n=3, max_df, default budget) — the ground-truth mining is
    # the sweep's expensive half and several session consumers run it
    # identically
    truth = (ngram_jaccard_pairs(df, id_col, text_col, n=3,
                                 threshold=threshold, max_df=max_df,
                                 pair_counts=pair_counts)
             .select("id_a", "id_b", F.lit(1).alias("_t"))
             .localCheckpoint(eager=False))
    total = truth.agg(F.count("*").alias("n_true_total"))

    rows = []
    for b in band_list:
        if num_perm % b:
            raise ValueError(f"bands={b} does not divide num_perm={num_perm}")
        r = num_perm // b
        cand = lsh_candidate_pairs(lsh_bands(sigs, id_col, b, r), id_col)
        agg = (cand.join(truth, ["id_a", "id_b"], "left")
               .agg(F.count("*").alias("n_candidates"),
                    F.coalesce(F.sum("_t"), F.lit(0)).cast("long")
                     .alias("n_true_pairs")))
        rows.append(agg.select(F.lit(b).alias("bands"),
                               F.lit(r).alias("rows_per_band"),
                               "n_candidates", "n_true_pairs"))
    sweep = reduce(lambda x, y: x.unionByName(y), rows) \
        .crossJoin(F.broadcast(total))
    return sweep.select(
        "bands", "rows_per_band", "n_candidates", "n_true_pairs",
        "n_true_total",
        F.expr("CASE WHEN n_candidates > 0 THEN n_true_pairs * "
               "CAST(1000000 AS BIGINT) div n_candidates "
               "ELSE CAST(0 AS BIGINT) END").alias("precision_e6"),
        F.expr("CASE WHEN n_true_total > 0 THEN n_true_pairs * "
               "CAST(1000000 AS BIGINT) div n_true_total "
               "ELSE CAST(0 AS BIGINT) END").alias("recall_e6"))


def simhash_hamming_histogram(df: "DataFrame", id_col: str,
                              text_col: str, bands: int = 8,
                              base_hash: str = "md5",
                              sig: "DataFrame | None" = None
                              ) -> "DataFrame":
    """SimHash CALIBRATION histogram — the missing member of the
    measurement trio (minhash_est_error calibrates MinHash,
    ann_recall_eval the ANN index): the distribution of exact
    Hamming distances over the banded candidate pairs.  Healthy
    corpora show a bimodal shape — a near-dup spike at low distance
    and the random background centered near nbits/2 — and the valley
    between them is where ``max_hamming`` belongs; a corpus with no
    valley means SimHash verdicts can't be trusted at any threshold.

    Same banded blocking as :func:`simhash_near_pairs` (pigeonhole:
    pairs within hamming ≤ bands-1 are always candidates, so the
    left tail of the histogram is COMPLETE — exactly the region a
    threshold decision reads).  ``base_hash='md5'`` keeps every
    count engine-recomputable.  Scale shape: one bit-vote hash-agg,
    one band equi-join (never all-pairs), one tiny histogram agg.
    ``sig``: an already-computed ``simhash`` frame for the SAME
    (df, base_hash) — lets sessions share the bit-vote aggregate with
    other signature consumers; the banding below is identical."""
    s = sig if sig is not None else \
        simhash(df, id_col, text_col, base_hash=base_hash)
    nbits = 60 if base_hash == "md5" else 63
    width = nbits // bands + 1
    chunks = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * width).bitwiseAND(
                F.lit((1 << width) - 1)).alias("chunk"),
        )
        for b in range(bands)
    ])
    blocked = s.select(id_col, "simhash", F.explode(chunks).alias("bb")) \
               .select(id_col, "simhash", "bb.band", "bb.chunk")
    a, b = blocked.alias("a"), blocked.alias("b")

    # Count each unordered pair exactly once WITHOUT a distinct: a
    # pair colliding in k bands appears k times in the equi-join, but
    # only the row whose band is the pair's FIRST matching band
    # survives — "no earlier band matches" is recomputable from the
    # two signatures as pure scan-stage bit algebra, which replaces
    # the candidate-wide shuffle+dedup pass (r11 verdict ask #4: this
    # was the sweep's most expensive row, and the distinct was its
    # cost).  Results are value-identical by construction.
    def _chunk(sig_col, band_idx):
        return F.shiftright(sig_col, band_idx * width).bitwiseAND(
            F.lit((1 << width) - 1))

    earlier = F.lit(False)
    for bi in range(bands - 1):
        earlier = earlier | ((F.col("band") > bi)
                             & (_chunk(F.col("a.simhash"), bi)
                                == _chunk(F.col("b.simhash"), bi)))
    pairs = (
        a.join(b, on=["band", "chunk"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(~earlier)
        .select(hamming64(F.col("a.simhash"),
                          F.col("b.simhash")).alias("hamming")))
    return (pairs.groupBy(F.col("hamming").cast("long").alias("hamming"))
            .agg(F.count("*").cast("long").alias("n_pairs")))


def winnow_fingerprints(df: "DataFrame", id_col: str, text_col: str,
                        k: int = 3, w: int = 4,
                        keys: "DataFrame | None" = None) -> "DataFrame":
    """Winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS local fingerprinting algorithm): hash every
    positional word ``k``-gram, slide a window of ``w`` consecutive
    hashes, and select each window's RIGHTMOST minimal hash.  The
    guarantee that makes this the plagiarism/quotation detector of
    record: any shared run of at least w+k-1 words between two
    documents yields at least one IDENTICAL selected (gram hash), so
    matching fingerprint values can never miss a long-enough overlap
    — while storing only ~2/(w+1) of the grams.

    Engine-exact selection without an RNG or an ordered fold: the
    rightmost argmin of a window is derived positionally —
    ``pos = i + wl − position(reverse(slice), min(slice)) + 1`` —
    pure array algebra any engine replays bit-for-bit (md5 base
    hash).  Selected (pos, hash) pairs pack into one BIGINT
    (pos·2³² + h) for exact distinct/sort.  Short docs collapse to
    one window over all grams (the word_shingles convention).

    Scale shape: pure scan-stage Columns — per-doc O(len·w) work,
    ZERO shuffle; the fingerprint string is the join key downstream
    overlap detectors explode on.  ``keys`` injects a pre-built
    :func:`_winnow_keys` frame for the SAME (k, w) — the keys build
    is the whole cost and four session consumers run it identically
    (fingerprints, overlap pairs, the edit verify, the (3,4) sweep
    cell)."""
    d2 = keys if keys is not None \
        else _winnow_keys(df, id_col, text_col, k, w)
    fps = F.array_join(F.transform(
        F.col("_ks"), lambda kk: F.concat(
            (kk / F.lit(4294967296)).cast("long").cast("string"),
            F.lit(":"),
            (kk % F.lit(4294967296)).cast("string"))), "|")
    return d2.select(
        F.col(id_col), F.col("_L").alias("n_grams"),
        F.size("_ks").cast("long").alias("n_fingerprints"),
        fps.alias("fingerprints"))


def _winnow_keys(df: "DataFrame", id_col: str, text_col: str,
                 k: int, w: int) -> "DataFrame":
    """(id, _L, _ks): the sorted packed (pos·2³²+h) winnowing keys.

    r14 (guide §4.1/§4.2): a pure per-document function — L md5s plus
    O(L·w) window mins per doc — previously built from interpreted
    transform/slice/array_min lambda chains; now ONE Arrow-batched
    map, exact INTEGER arithmetic end to end (no float hazard
    anywhere):

    - tokenization spells out the Java-regex ``\\s`` class so splits
      match ``F.split`` bit-for-bit (the shingle_postings twin);
    - ``int(md5(gram_utf8).hexdigest()[:8], 16)`` ≡
      ``conv(substring(md5(g),1,8),16,10)`` — same bytes, same hex
      prefix, same base conversion;
    - the rightmost-min selection is positional algebra on ints:
      ``pos = i + j_last + 1`` where j_last is the last argmin of the
      window — exactly ``i + wl − position(reverse(s), min(s)) + 1``;
    - distinct + ascending sort on Python ints ≡
      ``array_sort(array_distinct(...))`` on BIGINTs;
    - edge contracts preserved: no words → the single empty-gram
      window (L = 1); NULL text → (_L = 1, _ks = [NULL]) (NULL
      propagation through the old md5/min chain).
    """
    import hashlib as _hashlib
    import re as _re

    import pandas as pd

    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, _L long, _ks array<long>"
    ws_pat = "[ \\t\\n\\x0b\\f\\r]+"

    def _kernel(batches):
        ws_re = _re.compile(ws_pat)
        md5 = _hashlib.md5
        for pdf in batches:
            ids, Ls, kss = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    ids.append(did)
                    Ls.append(1)
                    kss.append([None])
                    continue
                words_ = [x for x in ws_re.split(text) if x]
                L = max(len(words_) - (k - 1), 1)
                hs = [int(md5(" ".join(words_[i:i + k])
                              .encode("utf-8")).hexdigest()[:8], 16)
                      for i in range(L)]
                wl = min(w, L)
                keys = set()
                for i in range(max(L - (w - 1), 1)):
                    s = hs[i:i + wl]
                    m = min(s)
                    j_last = wl - 1 - s[::-1].index(m)
                    keys.add((i + j_last + 1) * 4294967296 + m)
                ids.append(did)
                Ls.append(L)
                kss.append(sorted(keys))
            if ids:
                yield pd.DataFrame({id_col: ids, "_L": Ls, "_ks": kss})

    return (_fan_out(df.select(id_col, text_col))
            .mapInPandas(_kernel, schema))


def winnow_overlap_pairs(df: "DataFrame", id_col: str, text_col: str,
                         k: int = 3, w: int = 4,
                         min_shared: int = 2,
                         keys: "DataFrame | None" = None) -> "DataFrame":
    """Document-overlap pairs via winnowing — the MOSS detector
    itself: docs sharing ≥ ``min_shared`` selected fingerprint
    HASHES (position-independent, so moved/quoted passages still
    match).  By the winnowing guarantee every ≥ w+k−1-word shared
    run contributes at least one shared fingerprint, so long
    overlaps are never missed while the index holds only ~2/(w+1)
    of the grams — the cheap-at-100 TB complement of
    ngram_containment_pairs (which weighs ALL grams).

    Scale shape: the fingerprint pass is scan-stage
    (:func:`winnow_fingerprints`); detection is one explode to a
    (hash, doc) inverted index + one equi-join self-pair + a count
    agg — identical discipline to the shingle index, on a ~2/(w+1)×
    smaller posting list."""
    # consume the KEYS ARRAY directly — no string round-trip.
    # explode_OUTER is load-bearing: plain explode triggers
    # InferFiltersFromGenerate, which injects size(_ks) > 0 with the
    # whole keys expression INLINED below the projections — the
    # O(L²) re-hash _winnow_keys exists to prevent (measured 74 s vs
    # 2 s at sf0.001).  _ks is never empty, so outer adds no rows;
    # min_shared already rejects the single-''-gram pairs empty docs
    # would contribute.
    kf = keys if keys is not None \
        else _winnow_keys(df, id_col, text_col, k, w)
    posts = (kf.select(F.col(id_col).alias("doc"),
                       F.explode_outer("_ks").alias("_k"))
             .select("doc",
                     (F.col("_k") % F.lit(4294967296)).alias("h"))
             .distinct())
    # the posting list is small in BYTES, so AQE coalesces the
    # distinct's shuffle to 1-2 partitions — but the h-bucket
    # self-join below is the expensive stage (each bucket of d docs
    # expands d² candidate rows).  Pin its parallelism with an
    # explicit h-keyed repartition (honored by AQE); both aliases
    # share it, so the join adds no further exchange.  Measured
    # 9.1 s → 2.0 s at sf0.1 on local[32].
    posts = posts.repartition(
        posts.sparkSession.sparkContext.defaultParallelism, "h")
    a, b = posts.alias("a"), posts.alias("b")
    return (a.join(b, "h")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .groupBy(F.col("a.doc").alias("id_a"),
                     F.col("b.doc").alias("id_b"))
            .agg(F.count("*").cast("long").alias("shared_fp"))
            .filter(F.col("shared_fp") >= min_shared))


def edit_distance_pairs(df: "DataFrame", id_col: str, text_col: str,
                        k: int = 3, w: int = 4, min_shared: int = 2,
                        max_dist: int = 512,
                        keys: "DataFrame | None" = None) -> "DataFrame":
    """Exact EDIT-DISTANCE verification of winnowing candidates —
    the character-level near-dup verdict the token-set metrics
    (Jaccard, containment) cannot give: Levenshtein counts the
    actual insert/delete/substitute edits, so reordered-but-same-
    vocabulary docs score low while lightly-edited copies score
    high.  Returns (id_a, id_b, shared_fp, edit_dist, sim_e6) with
    sim_e6 = (maxlen − dist)·1e6 DIV maxlen.

    Scale shape: candidates come from the winnowing inverted-index
    equi-join (:func:`winnow_overlap_pairs` — never all-pairs); the
    verify stage joins the bounded pair list back to the text column
    twice and runs Spark's threshold-capped ``levenshtein`` —
    O(len·max_dist) per pair instead of O(len²), returning −1 above
    the cap so far-apart candidates are never fully scored.  The
    whole thing is hash-aggs + hash-joins + a scan-stage expression,
    no UDF."""
    # every downstream stage (winnow key construction AND the
    # O(len·cap)-per-row Levenshtein on the join output) inherits the
    # scan's partitioning — a single-file local scan serializes the
    # whole verify (measured 13 s for 8k pairs with 32 idle cores).
    # _fan_out is a no-op on a real many-file corpus.
    df = _fan_out(df)
    cand = winnow_overlap_pairs(df, id_col, text_col, k, w, min_shared,
                                keys=keys)
    ta = df.select(F.col(id_col).alias("id_a"),
                   F.col(text_col).alias("_ta"))
    tb = df.select(F.col(id_col).alias("id_b"),
                   F.col(text_col).alias("_tb"))
    joined = cand.join(ta, "id_a").join(tb, "id_b")
    # Two optimizer moves serialize the expensive scoring if left
    # alone (measured 13 s for 8k pairs, 32 idle cores): the
    # `_d >= 0` filter merges INTO the broadcast-join condition —
    # evaluating Levenshtein twice (join condition + projection) —
    # and AQE coalesces the byte-tiny pair frame to ~3 partitions,
    # blind to the O(len·cap) CPU per row.  A lazy localCheckpoint
    # on the bounded candidate frame (the corpus_filter_pipeline
    # precedent) is a barrier neither rule crosses; the explicit
    # repartition under it spreads the scoring across cores.
    # Measured 13 s → ~1 s; at 100 TB the frame is bounded by the
    # candidate count, the same budget the verify stage itself pays.
    sc = joined.sparkSession.sparkContext
    scored = (joined.repartition(sc.defaultParallelism)
              .withColumn("_d", F.levenshtein("_ta", "_tb", max_dist))
              .localCheckpoint(eager=False))
    return (scored
            .filter(F.col("_d") >= 0)
            .withColumn("_mx", F.greatest(F.length("_ta"),
                                          F.length("_tb")))
            .select("id_a", "id_b", "shared_fp",
                    F.col("_d").cast("long").alias("edit_dist"),
                    F.expr("(_mx - _d) * 1000000L DIV _mx")
                    .cast("long").alias("sim_e6")))


def jaccard_threshold_sweep(df: "DataFrame", id_col: str,
                            text_col: str, n: int = 3,
                            thresholds: "tuple[float, ...]" =
                            (0.05, 0.1, 0.2, 0.4, 0.6, 0.8),
                            max_df: "int | str | None" = 50,
                            budget: int = 32,
                            pair_counts: "DataFrame | None" = None
                            ) -> "DataFrame":
    """Jaccard threshold-sensitivity curve — the exact-similarity twin
    of :func:`minhash_band_sweep`: for each candidate threshold, how
    many pairs and how many distinct documents the dedup decision
    would touch.  This is how you pick the threshold BEFORE running a
    corpus-wide dedup — the elbow where n_docs stops falling is where
    near-dups end and topical similarity begins.

    One `_ngram_pair_counts` pass feeds every threshold (the pair
    frame is scored once with an exact integer Jaccard
    ``shared·1e6 DIV union`` — no float compare ambiguity); per
    threshold the rollup is a count + a distinct-doc count over the
    exploded pair ids.  Thresholds with zero pairs still report
    (0, 0) rows — a silent absence would read as "not measured".

    Scale: the sweep costs one df-pruned postings join (the
    ngram_jaccard budget discipline) + |thresholds| small rollups;
    at 100 TB run it on the same hash-sampled slice as
    minhash_band_sweep and apply the chosen threshold corpus-wide.
    """
    pc = pair_counts if pair_counts is not None else \
        _ngram_pair_counts(df, id_col, text_col, n, max_df, budget)
    jac = pc.select(
        "id_a", "id_b",
        F.expr("(_shared * 1000000L) DIV (_sz_a + _sz_b - _shared)")
        .alias("_jac_e6"))
    th_e6 = [int(round(t * 1e6)) for t in thresholds]
    hits = jac.select(
        "id_a", "id_b",
        F.explode(F.filter(
            F.array(*[F.lit(t) for t in th_e6]),
            lambda t: F.col("_jac_e6") >= t)).alias("threshold_e6"))
    n_pairs = hits.groupBy("threshold_e6").agg(
        F.count("*").alias("_np"))
    n_docs = (hits.select("threshold_e6",
                          F.explode(F.array("id_a", "id_b")).alias("_d"))
              .distinct()
              .groupBy("threshold_e6").agg(F.count("*").alias("_nd")))
    spark = df.sparkSession
    base = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in th_e6]))
        .alias("threshold_e6"))
    return (base.join(n_pairs, "threshold_e6", "left")
            .join(n_docs, "threshold_e6", "left")
            .select(F.col("threshold_e6").cast("long"),
                    F.coalesce("_np", F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.coalesce("_nd", F.lit(0)).cast("long")
                    .alias("n_docs")))


def weighted_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                           n: int = 3, threshold: float = 0.05,
                           max_df: "int | None" = 50,
                           pair_counts: "DataFrame | None" = None
                           ) -> DataFrame:
    """WEIGHTED (multiset) Jaccard over the certified candidate pair
    set: J_w(a,b) = Σ_w min(c_a(w), c_b(w)) / Σ_w max(c_a(w), c_b(w))
    on word-COUNT vectors (Ioffe 2010's weighted-Jaccard object;
    Broder's resemblance treats {the the the} = {the}).  Set-Jaccard
    under-reports similarity between docs that repeat shared
    vocabulary at similar RATES — templated/boilerplate-heavy near
    dups where the set view saturates.

    Candidates come from :func:`ngram_jaccard_pairs` (df-pruned
    postings join at ``threshold``) — the weighted score refines an
    already-bucketed pair list, never mines its own (the verify-stage
    discipline of dedup_minhash_verified).  Σmax is derived as
    tot_a + tot_b − Σmin, so only SHARED words join.  All counts are
    integers; the score is exact ``wj_e6 = Σmin·1e6 DIV Σmax``.

    Scale: |candidates| × shared-vocab join rows, linear in the pair
    list; word counts are one hash-agg reused by both join sides."""
    from goka_spark.functions.text import words as _words

    # the candidate list is bounded (df-pruned, threshold-filtered)
    # and consumed by THREE downstream joins — materialize it so the
    # mining subtree isn't replicated per consumer (measured 196
    # exchanges in the un-checkpointed plan; localCheckpoint per the
    # _ngram_pair_counts discipline).  ``pair_counts`` (the session
    # memo, same mining parameters) skips the re-mine entirely — the
    # memo is already checkpointed, so only the cheap Jaccard
    # projection is replicated across the three consumers.
    pairs = ngram_jaccard_pairs(df, id_col, text_col, n=n,
                                threshold=threshold, max_df=max_df,
                                pair_counts=pair_counts) \
        .select("id_a", "id_b")
    if pair_counts is None:
        pairs = pairs.localCheckpoint(eager=False)
    wc = (df.select(F.col(id_col).alias("doc"),
                    F.explode(_words(F.col(text_col))).alias("w"))
          .groupBy("doc", "w").agg(F.count("*").alias("c")))
    tots = wc.groupBy("doc").agg(F.sum("c").alias("tot"))
    a = wc.select(F.col("doc").alias("id_a"), "w", F.col("c").alias("ca"))
    b = wc.select(F.col("doc").alias("id_b"), "w", F.col("c").alias("cb"))
    smin = (pairs.join(a, "id_a").join(b, ["id_b", "w"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.least("ca", "cb")).alias("_smin")))
    return (pairs
            .join(smin, ["id_a", "id_b"], "left")
            .join(tots.select(F.col("doc").alias("id_a"),
                              F.col("tot").alias("_ta")), "id_a")
            .join(tots.select(F.col("doc").alias("id_b"),
                              F.col("tot").alias("_tb")), "id_b")
            .select("id_a", "id_b",
                    F.expr("coalesce(_smin, 0) * 1000000L "
                           "DIV (_ta + _tb - coalesce(_smin, 0))")
                    .cast("long").alias("wj_e6")))


def hash_near_pairs(hashed: DataFrame, id_col: str, hash_col: str,
                    max_hamming: int = 7, bands: int = 8) -> DataFrame:
    """Banded hamming near-pair join over ANY 63-bit fingerprint
    column — the simhash_near_pairs blocking generalized so perceptual
    hashes (image dHash/WHT, frame hashes) get the same no-false-
    negative pigeonhole guarantee: with ``max_hamming <= bands - 1``
    any qualifying pair shares at least one intact band, so the
    banded equi-join is COMPLETE and the exact ``bit_count(xor)``
    filter inside blocks makes it precise.

    The fingerprint frame is pinned with a lazy localCheckpoint
    before the self-join: it is two longs per image, while its
    lineage is the whole decode→transform→hash Python pipeline —
    without the pin both join arms re-run every kernel (§5)."""
    hashed = hashed.select(id_col, hash_col).localCheckpoint(eager=False)
    width = 63 // bands + 1
    chunks = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(hash_col, b * width).bitwiseAND(
                F.lit((1 << width) - 1)).alias("chunk"),
        )
        for b in range(bands)
    ])
    blocked = hashed.select(id_col, hash_col,
                            F.explode(chunks).alias("bb")) \
        .select(id_col, hash_col, "bb.band", "bb.chunk")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, on=["band", "chunk"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming64(F.col(f"a.{hash_col}"),
                          F.col(f"b.{hash_col}")).cast("long")
                .alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
