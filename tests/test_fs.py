"""Filesystem-adapter coverage (VERDICT r5 #2 / ADVICE r5 medium).

The commit protocols must run their I/O through the SAME filesystem
Spark uses for the path's scheme: plain os for local paths, the JVM
Hadoop FileSystem for everything else. These tests drive the HadoopFS
adapter against the real org.apache.hadoop.fs.LocalFileSystem (the
same JVM code path an s3a://gs:// URI takes, minus the remote
connector), and pin that unsupported schemes fail loudly instead of
silently writing to a stripped local relative path (the pre-r6 bug).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from moloch_spark.sources.fs import HadoopFS, LocalFS, get_fs


def test_get_fs_local_paths(spark, tmp_path):
    fs, root = get_fs(str(tmp_path))
    assert isinstance(fs, LocalFS) and root == str(tmp_path)
    fs2, root2 = get_fs(f"file://{tmp_path}")
    assert isinstance(fs2, LocalFS) and root2 == str(tmp_path)


def test_get_fs_unknown_scheme_fails_loudly(spark, tmp_path):
    """No silent local fallback: a scheme the JVM has no connector for
    must raise at FS resolution, before any data moves."""
    with pytest.raises(Exception, match="(?i)no filesystem for scheme"):
        fs, _ = get_fs("noschemehere://bucket/store", spark)
        fs.exists("noschemehere://bucket/store")


def test_get_fs_nonfile_scheme_without_spark_raises(monkeypatch):
    from pyspark.sql import SparkSession

    monkeypatch.setattr(
        SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    with pytest.raises(NotImplementedError, match="non-file scheme"):
        get_fs("s3a://bucket/store")


def test_hadoopfs_roundtrip(spark, tmp_path):
    """Every operation the commit protocol needs, through the JVM FS."""
    base = f"file://{tmp_path}/h"
    fs = HadoopFS(spark, base)
    assert not fs.exists(f"{base}/x")
    fs.mkdirs(f"{base}/d1/d2")
    assert fs.isdir(f"{base}/d1") and fs.isdir(f"{base}/d1/d2")
    fs.put_text_atomic(f"{base}/d1/m.json", '{"a": 1}')
    assert fs.read_text(f"{base}/d1/m.json") == '{"a": 1}'
    fs.put_text_atomic(f"{base}/d1/m.json", '{"a": 2}')  # overwrite = swap
    assert fs.read_text(f"{base}/d1/m.json") == '{"a": 2}'
    assert not fs.isdir(f"{base}/d1/m.json")
    # mutable-scheme path stages via temp + atomic rename: no residue
    assert [n for n in fs.listdir(f"{base}/d1") if "m.json" in n] == ["m.json"]
    assert fs.mtime(f"{base}/d1/m.json") > 0
    fs.rename(f"{base}/d1/d2", f"{base}/d1/d3")
    assert fs.isdir(f"{base}/d1/d3") and not fs.exists(f"{base}/d1/d2")
    fs.delete(f"{base}/d1")
    assert not fs.exists(f"{base}/d1")


@pytest.fixture
def nonposix_file_scheme(monkeypatch):
    """Route file:// URIs through HadoopFS, exactly as an s3a:// store
    would route — same adapter, same manifest/marker code paths."""
    import moloch_spark.sources.commit as commit_mod
    import moloch_spark.sources.fs as fs_mod

    fake = lambda path: "://" not in path  # noqa: E731
    monkeypatch.setattr(fs_mod, "is_posix_path", fake)
    monkeypatch.setattr(commit_mod, "is_posix_path", fake)
    yield


def test_partition_commit_protocol_over_hadoopfs(
    spark, tmp_path, nonposix_file_scheme
):
    """End-to-end manifest-mode commit + read + vacuum where every
    protocol I/O goes through the Hadoop FileSystem adapter (the
    object-store route), while Spark writes the parquet through the
    same URIs."""
    from moloch_spark.sources.commit import (
        PartitionCommitter,
        load_manifest,
        read_store,
        vacuum_store,
    )
    from moloch_spark.sources.fs import HadoopFS
    from moloch_spark.sources.session_store import write_sessions

    store = f"file://{tmp_path}/store"
    assert isinstance(get_fs(store, spark)[0], HadoopFS)

    rows = [
        (f"s{d}-{i}", dt.datetime(2024, 3, 1 + d, 12, i), ["old"])
        for d in range(3)
        for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "session_id string, last_packet timestamp, tags array<string>"
    )
    write_sessions(df, store, mode="overwrite")

    c = PartitionCommitter(store)
    assert c.manifest_mode                      # non-posix -> manifest mode
    assert c.staging_dir().startswith("file://")
    src = read_store(spark, store, "day").filter(F.col("day") == "2024-03-02")
    (
        src.withColumn("tags", F.array(F.lit("swapped")))
        .repartition(F.col("day"))
        .write.partitionBy("day")
        .parquet(c.staging_dir())
    )
    c.commit(["day=2024-03-02"])

    assert load_manifest(store) == {            # other days adopted
        "day=2024-03-01": "day=2024-03-01",
        "day=2024-03-02": f"_gen/{c.token}/day=2024-03-02",
        "day=2024-03-03": "day=2024-03-03",
    }
    got = {
        r.session_id: sorted(r.tags)
        for r in read_store(spark, store, "day").collect()
    }
    assert len(got) == 9
    assert got["s1-0"] == ["swapped"] and got["s0-0"] == ["old"]

    # abort/vacuum path through the adapter too
    c2 = PartitionCommitter(store)
    spark.createDataFrame([(1,)], "x int").write.parquet(
        c2.staging_dir() + "/day=2024-03-09"
    )
    assert vacuum_store(store, retain_s=3600.0) == []   # too young
    # never-referenced staging carries the orphan grace floor (VERDICT
    # r7 Wrong #1 — it may be an in-flight writer); once aged out, the
    # zero-retention reclaim goes through the adapter
    assert vacuum_store(store) == []
    import os as _os
    import time as _time

    from moloch_spark.sources.commit import ORPHAN_COMMIT_GRACE_S

    old = _time.time() - 2 * ORPHAN_COMMIT_GRACE_S
    _os.utime(str(tmp_path / "store" / "_gen" / c2.token), (old, old))
    assert vacuum_store(store) == [f"_gen/{c2.token}"]


def test_cron_forward_outbox_over_hadoopfs(
    spark, tmp_path, nonposix_file_scheme
):
    """A forward tick committed to a non-posix outbox and read back via
    read_outbox, all through the Hadoop adapter (the s3a outbox route)."""
    import datetime as dtm

    from moloch_spark.catalog import events_catalog
    from moloch_spark.streaming.cron import CronQuery, CronRunner, read_outbox

    from moloch_spark.sources.tables import load_table

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    outbox = f"file://{tmp_path}/outbox"
    runner = CronRunner(str(tmp_path / "cron.json"), events_catalog())
    out = runner.run_once(
        ev,
        CronQuery("fwd", "event.type == error", tags=[], action="forward:west"),
        now=dtm.datetime(2024, 2, 15, 0, 1, 30),
        id_cols=["event_id", "ts"],
        outbox=outbox,
    )
    fwd = read_outbox(spark, outbox, "west")
    assert fwd.count() == out.count() > 0


def test_update_tags_auto_upgrade_end_to_end(
    spark, tmp_path, monkeypatch
):
    """ADVICE r5 medium through the real operator: a manifest-mode tag
    update followed by one on the same LOCAL path — the second update
    must be visible (the store's manifest picks manifest mode instead
    of swapping plain dirs behind it)."""
    import datetime as dtm

    import moloch_spark.sources.commit as commit_mod
    from moloch_spark.operators.sessions_api import update_tags_partitioned
    from moloch_spark.sources.session_store import write_sessions

    path = str(tmp_path / "store")
    rows = [
        (f"s{i}", dtm.datetime(2024, 3, 5, 12, i), ["old"]) for i in range(4)
    ]
    sess = spark.createDataFrame(
        rows, "session_id string, last_packet timestamp, tags array<string>"
    )
    write_sessions(sess, path, mode="overwrite")
    matched = sess.filter("session_id = 's1'")
    with monkeypatch.context() as m:
        m.setattr(commit_mod, "is_posix_path", lambda p: False)
        update_tags_partitioned(spark, path, matched, add=["first"])
    out = update_tags_partitioned(spark, path, matched, add=["second"])
    got = {r.session_id: sorted(r.tags) for r in out.collect()}
    assert got["s1"] == sorted(["first", "old", "second"])
    assert got["s0"] == ["old"]


def test_publish_once_over_hadoopfs(spark, tmp_path, nonposix_file_scheme):
    from moloch_spark.sources.commit import publish_once, resolve_commit

    dest = f"file://{tmp_path}/tick"
    df = spark.range(5).select(F.col("id"))
    meta = publish_once(df, dest, {"hi": "t1"})
    assert meta["hi"] == "t1"
    data, got = resolve_commit(dest, spark)
    assert got == meta and data.startswith("file://")
    assert spark.read.parquet(data).count() == 5
    # replay returns the recorded commit, no rewrite
    meta2 = publish_once(spark.range(99).select(F.col("id")), dest, {"hi": "t9"})
    assert meta2 == meta
    assert spark.read.parquet(resolve_commit(dest, spark)[0]).count() == 5


def test_append_after_manifest_compaction_is_read(
    spark, tmp_path, nonposix_file_scheme
):
    """An object store has a manifest after its first compaction; an
    append must land where readers resolve the day — through
    write_sessions and through the capture sink alike — instead of in a
    plain day dir the manifest hides."""
    from moloch_spark.sources.commit import load_manifest
    from moloch_spark.sources.session_store import (
        compact_partitions,
        read_sessions,
        write_sessions,
        write_sessions_stream,
    )

    store = f"file://{tmp_path}/store"
    schema = "session_id string, last_packet timestamp"

    def rows(lo, n):
        return [
            (f"s{i}", dt.datetime(2024, 3, 5, 12, i % 60))
            for i in range(lo, lo + n)
        ]

    for lo in (0, 10):  # two files in the day, so compaction rewrites it
        write_sessions(spark.createDataFrame(rows(lo, 10), schema), store)
    assert compact_partitions(spark, store) == {"2024-03-05": 1}
    assert "day=2024-03-05" in load_manifest(store)

    write_sessions(spark.createDataFrame(rows(20, 10), schema), store)
    assert read_sessions(spark, store).count() == 30

    src = str(tmp_path / "src")
    spark.createDataFrame(rows(30, 10), schema).write.parquet(src)
    q = (
        write_sessions_stream(
            spark.readStream.schema(schema).parquet(src),
            store,
            str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.session_id for r in read_sessions(spark, store).collect())
    assert got == sorted(f"s{i}" for i in range(40))
