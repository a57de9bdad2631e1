"""VersionedTable: snapshot isolation, rollback, time travel, vacuum."""

import pytest

from postpy_spark.versioned import VersionedTable


@pytest.fixture()
def vt(tmp_path):
    return VersionedTable(str(tmp_path / "vt"))


def test_write_read_rollback_time_travel(spark, vt):
    v1 = vt.write(spark.range(10).selectExpr("id", "id * 2 AS v"))
    v2 = vt.write(spark.range(20).selectExpr("id", "id * 3 AS v"))
    assert (v1, v2) == (1, 2)
    assert vt.read(spark).count() == 20
    assert vt.read(spark, version=1).count() == 10  # time travel
    assert vt.rollback() == 1
    assert vt.read(spark).count() == 10
    # roll forward again by explicit version
    assert vt.rollback(to_version=2) == 2
    assert vt.read(spark).count() == 20


def test_reader_resolved_before_swap_keeps_snapshot(spark, vt):
    vt.write(spark.range(5).selectExpr("id"))
    snap = vt.read(spark)  # resolves v1's path now
    vt.write(spark.range(50).selectExpr("id"))
    assert snap.count() == 5        # immutable dir: old plan still valid
    assert vt.read(spark).count() == 50


def test_vacuum_keeps_current_and_recent(spark, vt):
    for n in (1, 2, 3, 4):
        vt.write(spark.range(n).selectExpr("id"))
    vt.rollback(to_version=2)
    removed = vt.vacuum(keep=1)
    assert 2 not in removed          # pointer target survives
    assert vt.read(spark).count() == 2
    assert set(removed) == {1, 3}


def test_vacuum_keep_zero_keeps_only_current(spark, vt):
    """keep=0 means 'only the pointer target' — the vs[-0:] whole-list
    slice bug made it a silent no-op."""
    for n in (1, 2, 3):
        vt.write(spark.range(n).selectExpr("id"))
    removed = vt.vacuum(keep=0)
    assert set(removed) == {1, 2}
    assert vt.read(spark).count() == 3


def test_corrupt_pointer_raises_clearly(spark, vt):
    vt.write(spark.range(3).selectExpr("id"))
    with open(vt._pointer(), "w") as f:
        f.write("")  # truncated pointer
    with pytest.raises(ValueError, match="corrupt version pointer"):
        vt.current_version()


def test_failed_write_leaves_table_intact(spark, vt):
    vt.write(spark.range(7).selectExpr("id"))
    bad = spark.range(3).selectExpr("CAST(raise_error('boom') AS STRING) AS x")
    with pytest.raises(Exception):
        vt.write(bad)
    # staging dir never became a version; pointer untouched
    assert vt.current_version() == 1
    assert vt.versions() == [1]      # no committed junk, staging cleaned
    assert vt.read(spark).count() == 7
    # and the next successful write proceeds normally
    assert vt.write(spark.range(2).selectExpr("id")) == 2


def test_versioned_upsert_with_rollback(spark, vt):
    """MERGE-with-history: an upsert commits a new version; rolling back
    restores the pre-merge state exactly."""
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k BIGINT, tag STRING, v DOUBLE"
    )
    vt.write(base)
    src = spark.createDataFrame(
        [(2, "B", 99.0), (3, "c", 30.0)], "k BIGINT, tag STRING, v DOUBLE"
    )
    v2 = vt.upsert(spark, src, keys=["k"])
    assert v2 == 2
    got = {r.k: (r.tag, r.v) for r in vt.read(spark).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0)}
    vt.rollback()
    back = {r.k: (r.tag, r.v) for r in vt.read(spark).collect()}
    assert back == {1: ("a", 10.0), 2: ("b", 20.0)}


def test_streaming_commits_as_versions(spark, tmp_path, vt):
    """Streaming sink → versioned table: each micro-batch lands as a
    snapshot commit, so the table has queryable history at micro-batch
    granularity and can roll back to any batch boundary."""
    import pyspark.sql.functions as F

    from postpy_spark import streaming as STR
    from tests.conftest import SF_SMOKE
    from postpy_spark.io import load_table

    chunks = STR.write_event_chunks(spark, SF_SMOKE, str(tmp_path / "chunks"), 3)
    stream = STR.read_event_stream(spark, chunks)

    def commit_batch(batch, batch_id):
        if batch.count():
            vt.upsert(batch.sparkSession, batch, keys=["event_id"])

    STR.run_available_now(
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )

    e = load_table(spark, SF_SMOKE, "events")
    versions = vt.versions()
    assert len(versions) >= 2                      # one commit per micro-batch
    assert vt.read(spark).count() == e.count()     # final = everything
    # history is monotone: earlier versions hold strict subsets
    first = vt.read(spark, version=versions[0]).count()
    assert 0 < first < e.count()
    vt.rollback(to_version=versions[0])
    assert vt.read(spark).count() == first         # stream history rewound


def test_merge_versioned_crash_mid_write(spark, vt):
    """A MERGE that dies mid-write (executor failure during the staged
    parquet write) must leave the table exactly at the pre-merge snapshot:
    pointer untouched, no staging junk promoted, old snapshot readable,
    and the retried merge then commits normally (r7 verdict item 3)."""
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k BIGINT, tag STRING, v DOUBLE"
    )
    vt.write(base)
    # source whose evaluation explodes only at write time (lazy plan)
    crash_src = spark.createDataFrame(
        [(2,)], "k BIGINT"
    ).selectExpr(
        "k", "CAST(raise_error('merge crash') AS STRING) AS tag",
        "CAST(1.0 AS DOUBLE) AS v",
    )
    with pytest.raises(Exception):
        vt.upsert(spark, crash_src, keys=["k"])
    assert vt.current_version() == 1
    assert vt.versions() == [1]  # staging cleaned, nothing promoted
    got = {r.k: (r.tag, r.v) for r in vt.read(spark).collect()}
    assert got == {1: ("a", 10.0), 2: ("b", 20.0)}
    # the retried (healthy) merge proceeds from the intact snapshot
    src = spark.createDataFrame([(2, "B", 99.0)], "k BIGINT, tag STRING, v DOUBLE")
    assert vt.upsert(spark, src, keys=["k"]) == 2
    assert {r.k: r.tag for r in vt.read(spark).collect()} == {1: "a", 2: "B"}


def test_merge_versioned_idempotent_rerun(spark, vt):
    """Re-applying the identical MERGE batch (the at-least-once delivery
    case) commits a new version whose DATA equals the first application,
    and time travel still exposes every intermediate state."""
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k BIGINT, tag STRING, v DOUBLE"
    )
    src = spark.createDataFrame(
        [(2, "B", 99.0), (3, "c", 30.0)], "k BIGINT, tag STRING, v DOUBLE"
    )
    vt.write(base)
    vt.upsert(spark, src, keys=["k"])
    vt.upsert(spark, src, keys=["k"])  # identical batch, redelivered
    assert vt.versions() == [1, 2, 3]
    once = {tuple(r) for r in vt.read(spark, version=2).collect()}
    twice = {tuple(r) for r in vt.read(spark, version=3).collect()}
    assert once == twice == {(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0)}
    assert {tuple(r) for r in vt.read(spark, version=1).collect()} == {
        (1, "a", 10.0), (2, "b", 20.0)
    }
