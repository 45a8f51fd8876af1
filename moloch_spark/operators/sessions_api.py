"""Session-detail endpoints: segment reassembly, tag updates, CSV export,
multi-cluster merge, timeline auto-interval, derived rates.

Reference analogs (SURVEY §2.3):
  * segments=all: re-query by rootId and merge chunked sessions
    (viewer/apiSessions.js:256-301,1370-1412)
  * add/remove tags: bulk update of the tags array on matched sessions
    (viewer/apiSessions.js:1480-1529) — Delta MERGE at real scale; here
    a join-update that produces the updated table
  * CSV export (viewer/apiSessions.js:1751-1778)
  * multies scatter-gather: per-cluster results merged by key
    (viewer/multies.js:529-736) — in Spark a unionByName BEFORE the
    aggregation, so merge semantics are exact, not approximate
  * auto interval: 1s/1m/1h buckets chosen from the query span
    (viewer/viewerUtils.js:66-134)
  * dstats derived rates: delta(bytes)*8000/delta(ms)
    (viewer/apiStats.js:78-338)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from moloch_spark.operators.endpoints import dsum
from moloch_spark.operators.timeutil import epoch_ms_fn


def merge_segments(chunked: DataFrame, key_cols: list[str] = ("user_id", "root_seq")) -> DataFrame:
    """Reassemble mid-save chunks that share a rootId into whole
    sessions — the `segments=all` view. One groupBy on the root key."""
    keys = [F.col(c) for c in key_cols]
    return chunked.groupBy(*keys).agg(
        F.min("first_packet").alias("first_packet"),
        F.max("last_packet").alias("last_packet"),
        F.sum("packets").alias("packets"),
        F.sum(F.col("tot_bytes").cast("decimal(18,4)")).cast("double").alias("tot_bytes"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("event_types")))
        ).alias("event_types"),
        F.count(F.lit(1)).alias("segment_cnt"),
    )


def update_tags(
    sessions: DataFrame,
    matched: DataFrame,
    *,
    id_col: str = "session_id",
    add: list[str] | None = None,
    remove: list[str] | None = None,
    tags_col: str = "tags",
) -> DataFrame:
    """Bulk add/remove tags on matched session ids. Shape of a Delta
    MERGE: broadcast the matched-id set, rewrite the tags array."""
    hit = F.col("__hit").isNotNull()
    m = matched.select(F.col(id_col), F.lit(1).alias("__hit")).distinct()
    out = sessions.join(F.broadcast(m), id_col, "left")
    tags = F.coalesce(F.col(tags_col), F.array().cast("array<string>"))
    if add:
        tags_if_hit = F.array_sort(
            F.array_distinct(F.concat(tags, F.array(*[F.lit(t) for t in add])))
        )
        tags = F.when(hit, tags_if_hit).otherwise(tags)
    if remove:
        removed = F.array_sort(
            F.filter(tags, lambda x: ~x.isin(remove))
        )
        tags = F.when(hit, removed).otherwise(tags)
    return out.withColumn(tags_col, tags).drop("__hit")


def update_tags_bucketed(
    spark,
    table: str,
    path: str,
    matched: DataFrame,
    *,
    id_col: str = "session_id",
    add: list[str] | None = None,
    remove: list[str] | None = None,
    tags_col: str = "tags",
    buckets: int = 64,
) -> DataFrame:
    """Tag write-back THROUGH the bucketed session store — the Spark
    analog of the reference's in-place ES doc update
    (viewer/apiSessions.js:1480-1529), staged like a transaction:

      read bucketed table -> broadcast-merge the matched-id set ->
      write the rewritten table bucketed to a staging name -> swap.

    The fact side is never shuffled at any step: the merge is a
    broadcast hash join over the bucketed scan (no Exchange), and the
    bucketed write emits one file per bucket straight from the scan
    tasks (Spark's bucketed write needs no repartition). At 100 TB a
    tag update therefore costs one co-partitioned read+write of the
    touched table — not a re-shuffle. The staging-swap keeps readers
    consistent: they see the old table until the rename commits.
    Returns the post-update table DataFrame."""
    sess = spark.table(table)
    updated = update_tags(
        sess, matched, id_col=id_col, add=add, remove=remove, tags_col=tags_col
    )
    from moloch_spark.sources.session_store import write_sessions_bucketed

    import uuid as _uuid

    # unique staging generation per update: the current table may itself
    # be a prior staging generation, and Spark refuses to overwrite a
    # path it is reading — old generations are the vacuum target, same
    # as any MVCC table format
    gen = _uuid.uuid4().hex[:8]
    staged = f"{table}__staged"
    staged_path = f"{path.rstrip('/')}__g{gen}"
    spark.sql(f"DROP TABLE IF EXISTS {staged}")
    write_sessions_bucketed(
        updated, staged, staged_path, key=id_col, buckets=buckets
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"ALTER TABLE {staged} RENAME TO {table}")
    return spark.table(table)


def update_tags_partitioned(
    spark,
    path: str,
    matched: DataFrame,
    *,
    ts_col: str = "last_packet",
    id_col: str = "session_id",
    add: list[str] | None = None,
    remove: list[str] | None = None,
    tags_col: str = "tags",
) -> DataFrame:
    """Partition-pruned tag write-back on the day-partitioned session
    store (session_store.write_sessions layout — the sessions3-YYMMDD
    rotation analog). The reference updates matched ES docs in place
    (viewer/apiSessions.js:1480-1529); the parquet-native equivalent
    must bound the REWRITE, not just the merge join: tagging 100
    sessions in a 100 TB table may not rewrite 100 TB.

      matched ids (+ their lastPacket) -> distinct day partitions
      -> scan ONLY those partitions (the committer's resolved dirs,
         read nothing else) -> broadcast-merge the id set -> write
         rewritten days to the committer's staging location -> commit.

    Cost is proportional to the days TOUCHED by the matched set —
    tag updates come from time-bounded queries, so that's typically a
    handful of partitions out of years of retention. Untouched
    partitions are never read, never written, never swapped. The
    commit goes through the store's sources/commit.PartitionCommitter,
    which picks the protocol: hardened atomic renames on a plain local
    store, the manifest protocol on an object store or a store that
    already has a manifest — see PLANS.md §28. A day a concurrent
    commit moved since the committer read the store keeps that commit,
    and an append to a day being rewritten is lost, so tag closed days.
    Matched days with no store partition (ids from a wider query than
    the store's retention) are skipped, per ADVICE r4. Returns the
    post-update table DataFrame."""
    from moloch_spark.sources.commit import PartitionCommitter, read_store
    from moloch_spark.sources.session_store import PARTITION_COL

    # the matched set carries each session's lastPacket (every
    # sessions-query projection includes it), so the touched-partition
    # list comes from the SMALL side — never from a full-table scan
    matched_days = sorted(
        r["d"]
        for r in matched.select(
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("d")
        )
        .distinct()
        .collect()
    )
    committer = PartitionCommitter(path, spark=spark)
    names = [
        f"{PARTITION_COL}={d}"
        for d in matched_days
        if f"{PARTITION_COL}={d}" in committer.parts
    ]
    if names:
        updated = update_tags(
            committer.read(spark, names),
            matched.select(id_col),
            id_col=id_col,
            add=add,
            remove=remove,
            tags_col=tags_col,
        )
        (
            updated.repartition(F.col(PARTITION_COL))
            .write.mode("overwrite")
            .partitionBy(PARTITION_COL)
            .parquet(committer.staging_dir())
        )
        committer.commit(names)
    return read_store(spark, path, PARTITION_COL)


def export_csv(df: DataFrame, path: str, *, header: bool = True) -> None:
    """CSV export of a (already filtered/projected) result."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def export_ndjson(df: DataFrame, path: str) -> None:
    """NDJSON export (the viewer's sessions.json download): one JSON
    object per line via the native JSON sink — distributed write, no
    driver collect, nested/array columns serialize structurally."""
    df.write.mode("overwrite").json(path)


def scatter_gather(parts: list[DataFrame]) -> DataFrame:
    """multies merge: union per-cluster tables by name BEFORE any
    aggregation — downstream groupBys then produce exactly-merged
    terms/histograms (vs the reference's client-side re-merge)."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def determine_interval(span_s: float) -> str:
    """Bucket unit by query span (viewerUtils.js:66-134): <=1h -> seconds,
    <=5d -> minutes, else hours."""
    if span_s <= 3600:
        return "second"
    if span_s <= 5 * 24 * 3600:
        return "minute"
    return "hour"


def derived_rates(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    gauge_col: str,
) -> DataFrame:
    """dstats-style derived rates: per key, delta of a gauge over delta
    time -> per-second rate. Window lag over (key, ts)."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    to_ms = epoch_ms_fn(df, ts_col)
    prev_v = F.lag(F.col(gauge_col)).over(w)
    prev_t = F.lag(F.col(ts_col)).over(w)
    dt_ms = to_ms(F.col(ts_col)) - to_ms(prev_t)
    rate = F.when(
        dt_ms > 0,
        (F.col(gauge_col) - prev_v) * 1000.0 / dt_ms.cast("double"),
    )
    return df.withColumn("delta_ms", dt_ms).withColumn("rate_per_s", rate)
