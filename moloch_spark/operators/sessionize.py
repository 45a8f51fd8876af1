"""Batch sessionization — moloch's capture pipeline as DataFrame ops.

Reference semantics (SURVEY.md §1.4, §2.2):
  * find-or-create session by canonical key, close on idle timeout
    (capture/session.c:419-469, timeouts capture/config.c:518-523)
  * long sessions chunked every tcpSaveTimeout=480s, chunks share rootId
    (capture/session.c:312-357, capture/db.c:579-596)
  * per-session accumulators -> one wide row (capture/db.c:472-1100)

Spark shape: a lag/cumsum window assigns session instance ids per key
(an idle gap > timeout starts a new session), a second window chunks long
sessions, then ONE groupBy produces the wide session row.

Scale: both windows partition by the session key, so they ride the same
hash shuffle as the final aggregation. No driver state; skewed keys are
handled by AQE. This is the batch (backfill) path — the streaming path
with true per-proto timeouts lives in moloch_spark.streaming.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from moloch_spark.operators.endpoints import dsum
from moloch_spark.operators.timeutil import epoch_ms_fn, epoch_us_fn


def timeout_by_protocol(
    proto_col: str | Column,
    timeouts: dict[str, int],
    default_s: int = 600,
) -> Column:
    """Per-protocol idle timeout in seconds as a column expression —
    capture/config.c:518-523 (tcp 480, udp 60, icmp 10, sctp 60, esp
    600, other 600). Pass the result as ``idle_timeout_s``."""
    c = F.col(proto_col) if isinstance(proto_col, str) else proto_col
    out = None
    for name, secs in timeouts.items():
        out = (out.when if out is not None else F.when)(c == name, secs)
    return out.otherwise(default_s) if out is not None else F.lit(default_s)


def assign_sessions(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    *,
    idle_timeout_s: int | Column = 1800,
    chunk_s: int | None = None,
) -> DataFrame:
    """Add session_seq / root / chunk columns.

    A new session starts when the gap to the previous event on the same
    key exceeds ``idle_timeout_s`` (capture/session.c idle close) —
    either a constant or a per-row column (use timeout_by_protocol for
    moloch's per-proto timeouts). If ``chunk_s`` is set, a session is
    additionally split into chunks of that many seconds from its own
    start — the mid-save behavior (capture/session.c:312-357); all
    chunks keep the same ``root_seq``.

    Contract: an event without a timestamp cannot enter time-ordered
    session analytics — NULL-ts rows are dropped here (the capture
    path guarantees packet times; a 100 TB event lake does not), so
    gap/window math never sees a NULL and the two engines' opposite
    NULL-ordering defaults (Spark NULLS FIRST vs SQL NULLS LAST)
    can never diverge.
    """
    df = df.filter(F.col(ts_col).isNotNull())
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col), F.monotonically_increasing_id())
    # microsecond epoch diff, the streaming sessionizer's unit: exact
    # integer math (unix_millis truncates, so a gap less than 1 ms over
    # the timeout would close a session only in the stream). The
    # converter branches on the actual ts dtype — a vanilla session
    # reads the fixtures as TIMESTAMP_NTZ, get_spark's as TIMESTAMP; a
    # long column stays epoch ms.
    to_us = _epoch_us_fn(df, ts_col)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    gap = to_us(F.col(ts_col)) - to_us(prev_ts)
    timeout_us = (
        F.lit(idle_timeout_s * 1_000_000)
        if isinstance(idle_timeout_s, int)
        else idle_timeout_s.cast("long") * 1_000_000
    )
    is_new = F.when(prev_ts.isNull() | (gap > timeout_us), 1).otherwise(0)
    out = df.withColumn("_new", is_new).withColumn(
        "root_seq", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("_new")
    if chunk_s is None:
        return out.withColumn("session_seq", F.col("root_seq"))
    ws = Window.partitionBy(*keys, F.col("root_seq"))
    start = F.min(F.col(ts_col)).over(ws)
    chunk = F.floor((to_us(F.col(ts_col)) - to_us(start)) / F.lit(chunk_s * 1_000_000))
    return out.withColumn("chunk_seq", chunk).withColumn(
        "session_seq",
        F.concat_ws("-", F.col("root_seq").cast("string"), F.col("chunk_seq").cast("string")),
    )


def _epoch_us_fn(df: DataFrame, ts_col: str) -> Callable[[Column], Column]:
    """Epoch microseconds of timestamp columns; a long column is epoch
    ms (the epoch_ms_fn contract) and is scaled."""
    if isinstance(df.schema[ts_col].dataType, (T.LongType, T.IntegerType)):
        return lambda c: c.cast("long") * 1000
    return epoch_us_fn(df, ts_col)


def sessionize_events(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    idle_timeout_s: int = 1800,
    chunk_s: int | None = None,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Events -> wide session table (the driver's generic `events` schema).

    Output mirrors moloch_db_save_session's fixed columns
    (capture/db.c:472-1100): first/last packet, duration, per-session
    counters, set-semantics multivalue field + its Cnt companion
    (capture/field.c:488-600 dedup-on-insert; the Cnt column rule is
    SURVEY §1.2).
    """
    with_ids = assign_sessions(
        df, [key_col], ts_col, idle_timeout_s=idle_timeout_s, chunk_s=chunk_s
    )
    grp = [F.col(key_col), F.col("session_seq")]
    if chunk_s is not None:
        root_agg = [F.first("root_seq").alias("root_seq")]
    else:
        root_agg = []
    out = with_ids.groupBy(*grp).agg(
        *root_agg,
        F.min(ts_col).alias("first_packet"),
        F.max(ts_col).alias("last_packet"),
        F.count(F.lit(1)).alias("packets"),
        dsum(value_col, "tot_bytes"),
        F.array_sort(F.collect_set(type_col)).alias("event_types"),
        F.size(F.collect_set(type_col)).cast("long").alias("event_types_cnt"),
    )
    ses_ms = epoch_ms_fn(out, "last_packet")
    return out.withColumn(
        "length_ms",
        (ses_ms(F.col("last_packet")) - ses_ms(F.col("first_packet"))).cast("long"),
    ).withColumn(
        "session_id",
        # F.concat (NULL-propagating), NOT concat_ws: a NULL session
        # key must yield a NULL session_id — concat_ws would SKIP the
        # key and emit the bare seq ('1'), silently colliding distinct
        # NULL-key sessions with any key whose string form is empty
        F.concat(
            F.col(key_col).cast("string"),
            F.lit("#"),
            F.col("session_seq").cast("string"),
        ),
    )
