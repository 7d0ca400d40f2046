"""Changelog compaction (goka table topic) + bucketed co-located joins."""

from pyspark.sql import functions as F

from goka_spark.operators.changelog import ChangelogTable
from goka_spark.operators.table_io import bucketed_join, write_bucketed
from goka_spark.plans import explain as X


def test_changelog_last_write_wins(spark, tmp_path):
    cl = ChangelogTable(spark, str(tmp_path / "log"))
    cl.append_delta(spark.createDataFrame(
        [("a", 1), ("b", 2)], "key string, cnt long"))
    cl.append_delta(spark.createDataFrame(
        [("a", 10)], "key string, cnt long"))
    got = {r.key: r.cnt for r in cl.read_compacted().collect()}
    assert got == {"a": 10, "b": 2}


def test_changelog_tombstone_deletes(spark, tmp_path):
    cl = ChangelogTable(spark, str(tmp_path / "log"))
    cl.append_delta(spark.createDataFrame(
        [("a", 1, False), ("b", 2, False)],
        "key string, cnt long, dead boolean"), tombstone="dead")
    cl.append_delta(spark.createDataFrame(
        [("a", 0, True)], "key string, cnt long, dead boolean"),
        tombstone="dead")
    got = {r.key: r.cnt for r in cl.read_compacted().collect()}
    assert got == {"b": 2}


def test_changelog_compact_preserves_state(spark, tmp_path):
    cl = ChangelogTable(spark, str(tmp_path / "log"))
    for i in range(3):
        cl.append_delta(spark.createDataFrame(
            [("a", i), ("b", i * 2)], "key string, cnt long"))
    before = {r.key: r.cnt for r in cl.read_compacted().collect()}
    cl.compact()
    after = {r.key: r.cnt for r in cl.read_compacted().collect()}
    assert before == after == {"a": 2, "b": 4}
    import os

    epochs = [d for d in os.listdir(str(tmp_path / "log")) if d.startswith("_epoch=")]
    assert len(epochs) == 1


def test_bucketed_join_no_shuffle(spark, tmp_path):
    # saveAsTable uses the session warehouse dir (static conf);
    # tables are dropped at the end.
    a = spark.range(100).select(
        F.col("id").cast("string").alias("key"), F.lit(1).alias("x"))
    b = spark.range(100).select(
        F.col("id").cast("string").alias("key"), F.lit(2).alias("y"))
    write_bucketed(a, "bt_a", buckets=8)
    write_bucketed(b, "bt_b", buckets=8)
    joined = bucketed_join(spark, "bt_a", "bt_b")
    assert X.num_shuffles(joined) == 0, X.simple(joined)
    assert joined.count() == 100
    spark.sql("DROP TABLE bt_a")
    spark.sql("DROP TABLE bt_b")


def test_changelog_merge_upsert_delete_insert(spark, tmp_path):
    """MERGE INTO semantics in one snapshot epoch: matched UPDATE,
    matched+tombstone DELETE, unmatched INSERT."""
    cl = ChangelogTable(spark, str(tmp_path / "log"))
    cl.append_delta(spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "key string, cnt long"))
    cl.merge(spark.createDataFrame(
        [("a", 10, False), ("b", 0, True), ("d", 4, False)],
        "key string, cnt long, dead boolean"), tombstone="dead")
    got = {r.key: r.cnt for r in cl.read_compacted().collect()}
    assert got == {"a": 10, "c": 3, "d": 4}
    # copy-on-write: one snapshot epoch remains
    import os
    epochs = [d for d in os.listdir(str(tmp_path / "log"))
              if d.startswith("_epoch=")]
    assert len(epochs) == 1


def test_changelog_tombstones_survive_rewrite(spark, tmp_path):
    """Crash-safety: merge/compact RETAIN tombstone rows, so stale
    epochs left by a crashed cleanup can never resurrect a deleted
    key; purge_tombstones drops the markers afterwards."""
    from pyspark.sql import functions as F2

    cl = ChangelogTable(spark, str(tmp_path / "log"))
    cl.append_delta(spark.createDataFrame(
        [("a", 1), ("b", 2)], "key string, cnt long"))
    cl.merge(spark.createDataFrame(
        [("a", 0, True)], "key string, cnt long, dead boolean"),
        tombstone="dead")
    # the snapshot keeps the tombstone marker row for 'a'
    snap = cl._compacted_with_tombstones()
    marks = {r.key: r._tombstone for r in snap.collect()}
    assert marks == {"a": True, "b": False}
    assert {r.key for r in cl.read_compacted().collect()} == {"b"}
    cl.purge_tombstones()
    assert {r.key: r.cnt for r in cl.read_compacted().collect()} == {"b": 2}
    snap2 = {r.key for r in cl._compacted_with_tombstones().collect()}
    assert snap2 == {"b"}


def test_changelog_epoch_claims_are_exclusive(spark, tmp_path):
    """Two writers racing for the same epoch number get distinct
    epochs (atomic createNewFile claim)."""
    cl1 = ChangelogTable(spark, str(tmp_path / "log"))
    cl2 = ChangelogTable(spark, str(tmp_path / "log"))
    e1 = cl1._claim_epoch()
    e2 = cl2._claim_epoch()  # before cl1 wrote its epoch dir
    assert e1 != e2


def test_changelog_time_travel_as_of(spark, tmp_path):
    """read_compacted(as_of=N) replays only epochs ≤ N — goka's
    recover-to-offset as a query."""
    from goka_spark.operators.changelog import ChangelogTable

    ct = ChangelogTable(spark, str(tmp_path / "tt"))
    e0 = ct.append_delta(spark.createDataFrame(
        [("a", 1), ("b", 2)], "key string, v int"))
    e1 = ct.append_delta(spark.createDataFrame(
        [("a", 10), ("c", 3)], "key string, v int"))
    ct.append_delta(
        spark.createDataFrame([("b", 0, True)],
                              "key string, v int, dead boolean"),
        tombstone="dead")
    assert {r.key: r.v for r in ct.read_compacted().collect()} == \
        {"a": 10, "c": 3}
    assert {r.key: r.v for r in ct.read_compacted(as_of=e1).collect()} == \
        {"a": 10, "b": 2, "c": 3}
    assert {r.key: r.v for r in ct.read_compacted(as_of=e0).collect()} == \
        {"a": 1, "b": 2}


def test_partitioned_topic_write_prunes_scan(spark, tmp_path):
    """A filter on the partition column must prune at the FILE level:
    the scan's PartitionFilters carry it and only matching partition
    directories are read."""
    from pyspark.sql import functions as F

    from goka_spark.plans import explain as X
    from goka_spark.sources import read_topic, write_topic_partitioned

    df = spark.createDataFrame(
        [(i, ["click", "view", "buy"][i % 3], float(i)) for i in range(30)],
        "event_id long, event_type string, value double")
    path = str(tmp_path / "ptopic")
    write_topic_partitioned(df, path, by=["event_type"])
    back = read_topic(spark, path).filter(F.col("event_type") == "buy")
    plan = X.formatted(back)
    assert "PartitionFilters" in plan and "event_type" in \
        plan.split("PartitionFilters", 1)[1][:200]
    assert back.count() == 10
    # and the partition column itself is reconstructed from the path
    assert {r.event_type for r in back.select("event_type").collect()} == {"buy"}
