"""Batch sessionization — moloch's capture pipeline as DataFrame ops.

Reference semantics (SURVEY.md §1.4, §2.2):
  * find-or-create session by canonical key, close on idle timeout
    (capture/session.c:419-469, timeouts capture/config.c:518-523)
  * long sessions chunked every tcpSaveTimeout=480s, chunks share rootId
    (capture/session.c:312-357, capture/db.c:579-596)
  * per-session accumulators -> one wide row (capture/db.c:472-1100)

Spark shape: Spark computes the sessionizer kernel's inputs (epoch µs,
the per-row idle timeout, the value as an exact decimal), one hash
shuffle on the session key brings each key's rows together, sorted by
event time inside the partition, and the capture pipeline's own kernel
(``streaming.sessionizer.sessionize_bucket``) runs over each
partition's Arrow batches in order. Batch is thus the stream with every
row in one batch — the stream replayed in event-time order — and the
kernel is the only code that decides an idle close, a chunk boundary
or a byte sum. A projection turns its chunk records into the wide
session row.

Scale: nothing is collected; a task holds one Arrow batch plus the
open session of the key the batch ended on. Skewed keys are handled
by AQE.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from moloch_spark.operators.timeutil import epoch_ms_fn, epoch_us_fn
from moloch_spark.streaming.sessionizer import CHUNK_SCHEMA, SessionRule, replay_sorted


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


def kernel_input(df: DataFrame, idle_timeout_s: int | Column) -> list[Column]:
    """The kernel's input columns over ``df`` (ts, user_id, event_type,
    value; no NULL ts), for the batch and the streaming sessionizer.

    Times are epoch microseconds, the streaming sessionizer's unit:
    exact integer math (unix_millis truncates, so a gap less than 1 ms
    over the timeout would close a session on one path only). The
    converter branches on the actual ts dtype — a vanilla session reads
    the fixtures as TIMESTAMP_NTZ, get_spark's as TIMESTAMP; a long
    column stays epoch ms. The key and the value come with NULL flags:
    the pandas form of a nullable long is float64, which would round
    them. The value is the unscaled decimal(18,4) long that ``dsum``
    sums, so the kernel's byte sum is exact."""
    to_us = _epoch_us_fn(df, "ts")
    uid = F.col("user_id")
    timeout = F.lit(idle_timeout_s) if isinstance(idle_timeout_s, int) else idle_timeout_s
    value = (F.col("value").cast("decimal(18,4)") * 10_000).cast("long")
    return [
        to_us(F.col("ts")).alias("ts_us"),
        F.coalesce(uid.cast("long"), F.lit(0)).alias("user_id"),
        uid.isNull().alias("key_null"),
        "event_type",
        (timeout.cast("long") * 1000).alias("timeout_ms"),
        F.coalesce(value, F.lit(0)).alias("value"),
        value.isNull().alias("value_null"),
    ]


def _epoch_us_fn(df: DataFrame, ts_col: str) -> Callable[[Column], Column]:
    """Epoch microseconds of timestamp columns; a long column is epoch
    ms (the epoch_ms_fn contract) and is scaled."""
    if isinstance(df.schema[ts_col].dataType, (T.LongType, T.IntegerType)):
        return lambda c: c.cast("long") * 1000
    return epoch_us_fn(df, ts_col)


def _from_epoch_us_fn(df: DataFrame, ts_col: str) -> Callable[[Column], Column]:
    """The inverse of _epoch_us_fn: epoch microseconds back to
    ``ts_col``'s dtype (NTZ as the UTC wall clock, tz-independent)."""
    dt = df.schema[ts_col].dataType
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return lambda c: (c / 1000).cast(dt)  # whole ms: the division is exact
    if isinstance(dt, T.TimestampNTZType):
        epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        return lambda c: F.timestamp_add("MICROSECOND", c, epoch)
    return F.timestamp_micros


def sessionize_events(
    df: DataFrame,
    *,
    idle_timeout_s: int | Column = 1800,
    chunk_s: int | None = None,
) -> DataFrame:
    """Events (ts, user_id, event_type, value — the generic `events`
    table) -> wide session table.

    A new session starts when the gap to the previous event on the same
    key exceeds that event's ``idle_timeout_s`` (capture/session.c idle
    close) — a constant or a per-row column (timeout_by_protocol gives
    moloch's per-proto timeouts). If ``chunk_s`` is set, a session is
    additionally cut into chunks on a chunk_s grid from its own start —
    the mid-save behavior (capture/session.c:312-357); all chunks keep
    the same ``root_seq`` and ``session_seq`` is ``root-grid index``.

    Output mirrors moloch_db_save_session's fixed columns
    (capture/db.c:472-1100): first/last packet, duration, per-session
    counters, set-semantics multivalue field + its Cnt companion
    (capture/field.c:488-600 dedup-on-insert; the Cnt column rule is
    SURVEY §1.2).

    Contract: an event without a timestamp cannot enter time-ordered
    session analytics — NULL-ts rows are dropped here (the capture
    path guarantees packet times; a 100 TB event lake does not).
    """
    df = df.filter(F.col("ts").isNotNull())
    rule = SessionRule.of(chunk_s)
    chunks = (
        df.select(*kernel_input(df, idle_timeout_s))
        .repartition("user_id")
        .sortWithinPartitions("key_null", "user_id", "ts_us")
        .mapInPandas(partial(replay_sorted, rule=rule), CHUNK_SCHEMA)
    )
    if chunk_s is None:
        seq = [F.col("root_seq").alias("session_seq")]
    else:
        grid = F.expr(f"(first_us - root_us) div {rule.chunk_us}")
        seq = [F.concat_ws("-", F.col("root_seq").cast("string"), grid.cast("string")).alias("session_seq"),
               "root_seq"]
    from_us = _from_epoch_us_fn(df, "ts")
    out = chunks.select(
        F.col("user_id").cast(df.schema["user_id"].dataType).alias("user_id"),
        *seq,
        from_us(F.col("first_us")).alias("first_packet"),
        from_us(F.col("last_us")).alias("last_packet"),
        "packets",
        "tot_bytes",
        "event_types",
        F.size("event_types").cast("long").alias("event_types_cnt"),
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
            F.col("user_id").cast("string"),
            F.lit("#"),
            F.col("session_seq").cast("string"),
        ),
    )
