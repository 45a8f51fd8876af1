"""read_sessions keeps the relation it opened while the store's stamp is
unchanged; every writer bumps the stamp, so the read after a write sees
exactly that write, under both commit protocols."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest
from pyspark.sql import functions as F

from moloch_spark.operators.sessions_api import update_tags_partitioned
from moloch_spark.sources.commit import (
    PartitionCommitter,
    consolidate_store,
    manifest_versions,
    read_stamp,
    read_store,
)
from moloch_spark.sources.fs import LocalFS
from moloch_spark.sources.session_store import (
    compact_partitions,
    expire_partitions,
    optimize_layout,
    read_sessions,
    write_sessions,
    write_sessions_stream,
)

SCHEMA = "session_id string, user_id long, last_packet timestamp, tags array<string>"


def _sessions(spark, prefix: str, days: list[int]):
    rows = [
        (f"{prefix}{d}-{i}", 10 * d + i, dt.datetime(2024, 1, 10 + d, 12, i), ["old"])
        for d in days
        for i in range(3)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _rows(df) -> list[tuple]:
    return sorted(
        (r.session_id, r.user_id, r.last_packet, tuple(r.tags), r.day)
        for r in df.collect()
    )


def _rewrite_day(spark, path: str, day: str, tag: str) -> None:
    """One committed rewrite of `day` with its tags set to [tag]."""
    c = PartitionCommitter(path, spark=spark)
    (
        c.read(spark, [f"day={day}"])
        .withColumn("tags", F.array(F.lit(tag)))
        .repartition(F.col("day"))
        .write.partitionBy("day")
        .parquet(c.staging_dir())
    )
    assert c.commit([f"day={day}"]) == [f"day={day}"]


def _stamp(path: str) -> str | None:
    return read_stamp(LocalFS(), path)


@pytest.fixture(params=["rename", "manifest"])
def store(request, spark, tmp_path):
    """Three days of sessions, built with an overwrite and then written
    once through the committer, so it has a stamp and, under the
    manifest protocol, a manifest."""
    if request.param == "manifest":
        request.getfixturevalue("manifest_protocol")
    path = str(tmp_path / "store")
    write_sessions(_sessions(spark, "s", [0, 1, 2]), path, mode="overwrite")
    assert _stamp(path) is None
    _rewrite_day(spark, path, "2024-01-10", "t0")
    assert _stamp(path) is not None
    assert (request.param == "manifest") == os.path.exists(
        os.path.join(path, "_manifest.json")
    )
    return path


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_unchanged_store_reuses_the_relation_without_a_job(spark, store):
    tag = uuid.uuid4().hex
    first, n_first = _jobs(spark, f"open-{tag}", lambda: read_sessions(spark, store))
    again, n_again = _jobs(spark, f"reopen-{tag}", lambda: read_sessions(spark, store))
    assert n_first >= 1  # the parquet schema job: the counter sees jobs
    assert again is first
    assert n_again == 0
    # the path however spelled is the same store
    assert read_sessions(spark, store + "/") is first


def _capture_epoch(spark, path, tmp):
    """One micro-batch of the capture sink: the sessions of a parquet
    source dir appended through write_sessions_stream."""
    src = os.path.join(tmp, "src")
    new = _sessions(spark, "c", [2, 3])
    new.write.parquet(src)
    stream = spark.readStream.schema(new.schema).parquet(src)
    q = (
        write_sessions_stream(stream, path, os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    return new


def _added(before, new):
    rows = [
        (r.session_id, r.user_id, r.last_packet, tuple(r.tags), r.last_packet.strftime("%Y-%m-%d"))
        for r in new.collect()
    ]
    return sorted(before + rows)


def _retagged(before, ids, tag):
    return sorted(
        (s, u, ts, tuple(sorted(set(tags) | {tag})) if s in ids else tags, d)
        for s, u, ts, tags, d in before
    )


WRITERS = ["append", "capture", "compact", "tags", "optimize", "expire", "consolidate"]


@pytest.mark.parametrize("writer", WRITERS)
def test_read_after_each_writer_sees_exactly_that_write(spark, store, tmp_path, writer):
    # set-up the writer needs: a second file in a day (compact) or a
    # second generation (consolidate)
    if writer == "compact":
        write_sessions(_sessions(spark, "x", [1]), store, mode="append")
    if writer == "consolidate":
        _rewrite_day(spark, store, "2024-01-11", "t1")
    before_df = read_sessions(spark, store)
    assert read_sessions(spark, store) is before_df
    before = _rows(before_df)
    stamp = _stamp(store)

    if writer == "append":
        new = _sessions(spark, "a", [2, 3])  # a day the store has, one it has not
        write_sessions(new, store, mode="append")
        expected = _added(before, new)
    elif writer == "capture":
        expected = _added(before, _capture_epoch(spark, store, str(tmp_path)))
    elif writer == "compact":
        assert compact_partitions(spark, store) == {
            "2024-01-10": 1, "2024-01-11": 1, "2024-01-12": 1,
        }
        expected = before
    elif writer == "tags":
        matched = before_df.filter(F.col("session_id") == "s2-1")
        update_tags_partitioned(spark, store, matched, add=["hit"])
        expected = _retagged(before, {"s2-1"}, "hit")
    elif writer == "optimize":
        assert optimize_layout(spark, store, ["user_id"], days=["2024-01-12"], n_files=2)
        expected = before
    elif writer == "expire":
        dropped = expire_partitions(
            spark, store, keep_days=2, now=dt.date(2024, 1, 13), vacuum_retain_s=0.0
        )
        assert dropped == ["day=2024-01-10"]
        expected = [r for r in before if r[4] != "2024-01-10"]
    else:
        consolidated = consolidate_store(spark, store)
        manifest = os.path.exists(os.path.join(store, "_manifest.json"))
        # a plain store has no generations to consolidate
        assert consolidated == (["day=2024-01-10", "day=2024-01-11"] if manifest else [])
        expected = before

    after = read_sessions(spark, store)
    fresh = read_store(spark, store, "day")
    assert _rows(after) == _rows(fresh) == expected
    assert sorted(after.inputFiles()) == sorted(fresh.inputFiles())
    if _stamp(store) == stamp:  # only a write that changed nothing
        assert writer == "consolidate" and after is before_df
    else:
        assert after is not before_df
        assert sorted(after.inputFiles()) != sorted(before_df.inputFiles())


def test_overwrite_rebuild_is_seen(spark, store):
    before = read_sessions(spark, store)
    write_sessions(_sessions(spark, "o", [5]), store, mode="overwrite")
    assert _stamp(store) is None  # the overwrite deleted it
    after = read_sessions(spark, store)
    assert after is not before
    assert {r.session_id for r in after.collect()} == {"o5-0", "o5-1", "o5-2"}
    assert read_sessions(spark, store) is not after  # no stamp: no reuse


def test_version_reads_never_reuse(spark, tmp_path, manifest_protocol):
    path = str(tmp_path / "store")
    write_sessions(_sessions(spark, "s", [0]), path, mode="overwrite")
    _rewrite_day(spark, path, "2024-01-10", "v1")
    v1 = manifest_versions(path)[-1]
    _rewrite_day(spark, path, "2024-01-10", "v2")
    current = read_sessions(spark, path)
    old = read_sessions(spark, path, version=v1)
    assert old is not current
    assert read_sessions(spark, path, version=v1) is not old
    assert {r.tags[0] for r in old.collect()} == {"v1"}
    # a time-travel read leaves the current relation in place
    assert read_sessions(spark, path) is current
    assert {r.tags[0] for r in current.collect()} == {"v2"}


def test_compaction_with_nothing_to_compact_keeps_the_stamp(spark, store):
    before = read_sessions(spark, store)
    stamp = _stamp(store)
    assert set(compact_partitions(spark, store).values()) == {1}
    assert _stamp(store) == stamp
    assert read_sessions(spark, store) is before
