"""The session artifact store (goka_spark/artifacts.py): input
fingerprints, the key rule, ``warm`` and ``clear``."""

import os
import time

import duckdb
import pandas as pd

from goka_spark import artifacts
from goka_spark.artifacts import _hadoop_listing, _local_listing, dataset_fingerprint
from goka_spark.queries import llmdata as L
from goka_spark.queries.base import load


def test_fingerprint_skips_hidden_files_and_tracks_rewrites(spark, tmp_path):
    d = tmp_path / "t.parquet"
    (d / "sub").mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"a" * 10)
    (d / "sub" / "part-1.parquet").write_bytes(b"b" * 5)
    before = dataset_fingerprint(str(d))
    # an in-flight hidden write, a commit marker, a temp dir
    (d / ".part-2.parquet").write_bytes(b"in flight")
    (d / "_SUCCESS").write_bytes(b"")
    (d / "_temporary").mkdir()
    (d / "_temporary" / "part-3.parquet").write_bytes(b"c")
    assert dataset_fingerprint(str(d)) == before
    assert dataset_fingerprint("file:" + str(d)) == before
    # the Hadoop branch (other schemes) lists and skips the same files
    assert sorted(_hadoop_listing(str(d), spark)) == sorted(_local_listing(str(d)))
    (d / "part-0.parquet").write_bytes(b"a" * 11)
    assert dataset_fingerprint(str(d)) != before
    # a missing path has nothing to read, like an empty directory
    (tmp_path / "empty").mkdir()
    assert dataset_fingerprint(str(tmp_path / "absent")) == \
        dataset_fingerprint(str(tmp_path / "empty"))


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def test_rewritten_input_is_never_served_stale(spark, sf_dir, tmp_path, monkeypatch):
    """Keys whose artifacts were built in this session answer for the
    rewritten file, not the one they were first built from."""
    keys = ("bpe_token_count", "ngram_jaccard_prefix", "dedup_minhash_lsh")
    src = os.path.join(sf_dir, "documents.parquet")
    sf = str(tmp_path)
    path = os.path.join(sf, "documents.parquet")
    duckdb.sql(f"COPY (SELECT * FROM '{src}') TO '{path}' (FORMAT parquet)")
    for k in keys:
        L.QUERIES[k](spark, sf).toPandas()
    n = duckdb.sql(f"SELECT COUNT(*) FROM '{src}'").fetchone()[0]
    duckdb.sql(f"COPY (SELECT * FROM '{src}' ORDER BY doc_id LIMIT {n // 2}) "
               f"TO '{path}' (FORMAT parquet)")
    monkeypatch.setenv("GOKA_SPARK_ORACLE_SF", sf)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    for k in keys:
        got = _normalize(L.QUERIES[k](spark, sf).toPandas())
        sql = L.ORACLES[k]
        want = _normalize(con.sql(sql() if callable(sql) else sql).df())
        pd.testing.assert_frame_equal(got, want, check_dtype=True, obj=k)


def _jobs_in_group(sc, group):
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_warm_starts_no_spark_job(spark, sf_dir):
    names = ("_simhash_md5", "_source_grams",
             ("_minhash_sigs", {"num_perm": 16, "base_hash": "md5"}))
    labels = {"_simhash_md5", "_source_grams",
              "_minhash_sigs[num_perm=16][base_hash=md5]"}
    artifacts.clear(["_simhash_md5", "_source_grams", "_minhash_sigs"])
    sc = spark.sparkContext
    try:
        sc.setJobGroup("warm-first", "first warm")
        first = artifacts.warm(spark, sf_dir, names)
        sc.setJobGroup("warm-second", "second warm")
        second = artifacts.warm(spark, sf_dir, names)
        # status events arrive in order: once this job shows, any job
        # the second warm ran would show too
        sc.setJobGroup("warm-sentinel", "sentinel")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while _jobs_in_group(sc, "warm-sentinel") == 0 and time.time() < deadline:
        time.sleep(0.05)
    assert set(first) == set(second) == labels
    assert all(s >= 0 for s in [*first.values(), *second.values()])
    assert _jobs_in_group(sc, "warm-first") >= 1
    assert _jobs_in_group(sc, "warm-second") == 0


def test_clear_makes_the_next_lookup_rebuild(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")["documents"]
    sims = L._simhash_md5(spark, docs, sf_dir)
    grams = L._source_grams(spark, docs, sf_dir)
    assert L._simhash_md5(spark, docs, sf_dir) is sims
    artifacts.clear(["_simhash_md5"])
    assert L._simhash_md5(spark, docs, sf_dir) is not sims
    assert L._source_grams(spark, docs, sf_dir) is grams


def test_warm_names_registered_artifacts_and_leaves_out_billed_ones():
    names = {n if isinstance(n, str) else n[0] for n in L.WARM}
    assert names <= set(artifacts._ARTIFACTS)
    assert not names & {"_cos_pairs_lsh", "_adj_exact"}
