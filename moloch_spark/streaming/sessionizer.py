"""The sessionizer kernel and the capture pipeline's stateful core.

Reference: moloch_session_find_or_create + idle-timeout close
(capture/session.c:419-469,484-543): packets hash to a session key,
accumulate into per-session state, and the session flushes when idle
longer than its protocol's timeout (tcp 480s, udp 60s, ... —
capture/config.c:518-523); a long session is saved in mid-save chunks
that share its root (capture/session.c:312-357).

One rule, one kernel: ``sessionize_bucket`` is the only code that
decides an idle close, a chunk boundary and a session's byte sum. Per
key, in the order it is handed rows: an idle gap longer than the
INCOMING row's timeout closes the open session; a row whose grid
index ``(ts − root_us) // chunk_us`` lies past that of the open
chunk's first row flushes the chunk and keeps the session's root;
bytes add up as exact decimal(18,4) unscaled integers (``dsum``'s
sum). Spark computes the kernel's inputs for both callers
(``operators.sessionize.kernel_input``): epoch µs, the per-row timeout
and the unscaled value.

The stream sessionizes in ARRIVAL order, micro-batch by micro-batch:
a row that arrives late but inside the watermark delay joins its key's
open session (it neither moves the session's start back nor re-opens
a session an idle gap already closed), and a row below the watermark
is dropped. The batch sessionizer (``operators.sessionize``) is the
same kernel with every row in one batch, so it equals the stream
replayed in event-time order by construction. Where no row arrives
out of order and the watermark delay covers the largest idle timeout,
the two agree; with a shorter delay the stream's timer, armed with the
newest row's timeout, can close a session before a next row whose own
timeout would have kept it open.

Stream shape: applyInPandasWithState grouped by a key BUCKET,
``pmod(xxhash64(user_id), BUCKETS)``, not by the key itself — the
reference's packet threads likewise own a hash slice of the session
table. A bucket's state is the array of its keys' open sessions (one
per key, the reference's hash-table entry), and each session carries
its own timer. One call per bucket and micro-batch runs the kernel:
data first, then every session the batch did not touch whose timer
lies below the clock is flushed. The bucket's own timer is re-armed to
its earliest session timer, so Spark calls a bucket with no data
exactly when one of its sessions is due; that call runs the same rule
with no rows. The clock is the watermark (``streaming_sessionize``,
EventTimeTimeout) or the batch's processing time
(``streaming_sessionize_bounded``, ProcessingTimeTimeout, a
per-session last-seen TTL).

Grouping by bucket bounds the per-group framework cost (an Arrow round
trip and a state-store put per group) by BUCKETS instead of by the
number of keys in a batch; state size is still bounded by OPEN
sessions only — the reference's maxStreams sizing
(capture/config.c:525).

Checkpoints cannot be resumed across state schema changes: neither one
of the earlier per-key sessionizer (grouped by user_id, one session per
state row) nor one of the earlier bucket kernel, whose state kept the
newest row's event type and a float byte sum where it now keeps that
row's timeout and an unscaled long sum. Start such a query from a new
checkpoint location.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# hash slices of the key space; each is one state row and one call
BUCKETS = 64

# the kernel's chunk records: times in epoch µs, tot_bytes the exact
# decimal(18,4) sum as a double, chunk_seq the chunk's ordinal in its
# session (0, 1, 2, ...)
CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("root_seq", T.LongType()),
        T.StructField("root_us", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("packets", T.LongType()),
        T.StructField("tot_bytes", T.DoubleType()),
        T.StructField("event_types", T.ArrayType(T.StringType())),
        T.StructField("chunk_seq", T.LongType()),
    ]
)

OVERFLOW_CHUNK_SCHEMA = T.StructType(
    CHUNK_SCHEMA.fields
    + [
        # True when the flush was forced by the state guardrail before the
        # session's event-time close point — the reference tags such
        # sessions too when the stream table overflows
        T.StructField("overflow", T.BooleanType()),
    ]
)


@dataclass(slots=True)
class _Session:
    """One key's open chunk (timestamps as epoch micros for exactness)."""

    root_seq: int
    first_us: int
    last_us: int
    packets: int
    tot_bytes: int | None  # unscaled decimal(18,4) sum; None until a value
    types: list
    root_us: int  # first_us of the ROOT chunk
    chunk_seq: int
    timeout_ms: int  # the newest row's idle timeout arms the timer
    # when the session is due on the sessionizer's clock (watermark or
    # processing time), in epoch ms
    timer_ms: int


# state: one row per bucket, its open sessions as parallel arrays
STATE_SCHEMA = T.StructType(
    [T.StructField("user_id", T.ArrayType(T.LongType()))]
    + [
        T.StructField(name, T.ArrayType(dt))
        for name, dt in zip(
            _Session.__slots__,
            [T.LongType(), T.LongType(), T.LongType(), T.LongType(),
             T.LongType(), T.ArrayType(T.StringType()), T.LongType(),
             T.LongType(), T.LongType(), T.LongType()],
        )
    ]
)


class SessionRule(NamedTuple):
    """The per-key sessionization rule's parameters (the idle timeouts
    arrive per row). chunk_us: the mid-save chunk length or None;
    ttl_ms: None for event-time expiry (a session is due at last seen +
    its newest row's idle timeout), else the processing-time TTL after
    the session was last touched."""

    chunk_us: int | None
    ttl_ms: int | None = None

    @classmethod
    def of(cls, chunk_s=None, ttl_s=None):
        return cls(chunk_s * 1_000_000 if chunk_s else None, ttl_s * 1000 if ttl_s else None)


def sessionize_bucket(
    sessions: dict, rows: pd.DataFrame | None, *, wm_ms: int, now_ms: int, rule: SessionRule
) -> list[tuple]:
    """Advance one bucket's open ``sessions`` (key -> _Session, updated
    in place) by one micro-batch of ``rows`` (ts_us, user_id, key_null,
    event_type, timeout_ms, value, value_null; None on a timer call).
    Returns the closed sessions and chunks as (key, _Session, overflow)
    tuples.

    Per key, in event-time order within the batch: a row below the
    watermark is dropped — it may belong to a session already emitted
    (the watermark delay IS the lateness tolerance, like
    dropDuplicatesWithinWatermark's contract); a row more than its own
    timeout after the open chunk's newest row closes the session and
    opens the next; a row whose grid index ``(ts − root_us) //
    chunk_us`` exceeds that of the chunk's first row flushes the chunk
    and keeps the session identity (root_us) — capture/session.c:312-357.
    A NULL value adds nothing to the byte sum. A key the batch touched
    re-arms its timer; afterwards every untouched session whose timer
    is below the clock is flushed."""
    wm_us = wm_ms * 1000
    chunk_us = rule.chunk_us
    closed: list[tuple] = []
    touched: set = set()
    if rows is not None and len(rows):
        ts_us = rows["ts_us"].to_numpy(dtype="int64")
        uid = rows["user_id"].to_numpy(dtype="int64")
        null = rows["key_null"].to_numpy(dtype=bool)
        # np.lexsort is stable: equal times keep arrival order
        order = np.lexsort((ts_us, uid, null))
        keys = [None if n else int(u) for u, n in zip(uid[order], null[order])]
        touched = set(keys)
        batch = zip(keys, ts_us[order].tolist(),
                    rows["timeout_ms"].to_numpy(dtype="int64")[order].tolist(),
                    rows["value"].to_numpy(dtype="int64")[order].tolist(),
                    rows["value_null"].to_numpy(dtype=bool)[order].tolist(),
                    rows["event_type"].to_numpy(dtype=object)[order].tolist())
        for key, ts, timeout_ms, value, value_null, etype in batch:
            if wm_us > 0 and ts < wm_us:
                continue
            ses = sessions.get(key)
            if ses is None:
                ses = sessions[key] = _Session(1, ts, ts, 0, None, [], ts, 0, 0, 0)
            elif ts - ses.last_us > timeout_ms * 1000:
                # idle gap inside the batch: close and start the next
                closed.append((key, ses, False))
                ses = sessions[key] = _Session(ses.root_seq + 1, ts, ts, 0, None, [], ts, 0, 0, 0)
            elif chunk_us is not None and (ts - ses.root_us) // chunk_us > (ses.first_us - ses.root_us) // chunk_us:
                # mid-save: flush the running chunk, keep the session
                closed.append((key, ses, False))
                ses = sessions[key] = _Session(
                    ses.root_seq, ts, ts, 0, None, [], ses.root_us, ses.chunk_seq + 1, 0, 0
                )
            ses.packets += 1
            if not value_null:
                ses.tot_bytes = (ses.tot_bytes or 0) + value
            if etype not in ses.types:
                ses.types.append(etype)
            ses.last_us = max(ses.last_us, ts)
            ses.timeout_ms = timeout_ms

    clock_ms = wm_ms if rule.ttl_ms is None else now_ms
    for key in list(sessions):
        ses = sessions[key]
        if key in touched:
            if rule.ttl_ms is None:
                # after a restart the restored watermark may already be
                # past last seen + timeout (the session should have
                # closed during downtime): clamp above the watermark so
                # it flushes on the next timer pass
                ses.timer_ms = max(ses.last_us // 1000 + ses.timeout_ms, wm_ms + 1)
            else:
                ses.timer_ms = now_ms + rule.ttl_ms
        elif ses.timer_ms < clock_ms:
            # overflow iff the event-time close was not due yet — the
            # TTL evicts purely to bound state
            due_us = ses.last_us + ses.timeout_ms * 1000
            closed.append((key, ses, rule.ttl_ms is not None and wm_us < due_us))
            del sessions[key]
    return closed


def chunk_frame(closed: list[tuple], with_overflow: bool = False) -> pd.DataFrame:
    """Closed (key, _Session, overflow) tuples as CHUNK_SCHEMA rows."""
    ses = [s for _, s, _ in closed]
    # collect_set semantics: NULL event types never enter the set (a
    # mixed None/str set would also crash the sort)
    types = [sorted({t for t in s.types if t is not None}) for s in ses]
    out = {
        "user_id": pd.array([k for k, _, _ in closed], dtype="Int64"),
        "root_seq": [s.root_seq for s in ses],
        "root_us": [s.root_us for s in ses],
        "first_us": [s.first_us for s in ses],
        "last_us": [s.last_us for s in ses],
        "packets": [s.packets for s in ses],
        # int / int is correctly rounded, as is the decimal -> double cast
        "tot_bytes": pd.array([None if s.tot_bytes is None else s.tot_bytes / 10_000 for s in ses],
                              dtype="Float64"),
        "event_types": types,
        "chunk_seq": [s.chunk_seq for s in ses],
    }
    if with_overflow:
        out["overflow"] = [o for _, _, o in closed]
    return pd.DataFrame(out)


def replay_sorted(frames: Iterator[pd.DataFrame], rule: SessionRule) -> Iterator[pd.DataFrame]:
    """The kernel over one partition whose rows come sorted by key
    (key_null, user_id) and event time, batch by batch: a key's open
    session carries across batches and is flushed once a later key
    starts, so a task holds one batch plus its open sessions. No
    watermark: every row counts."""
    sessions: dict = {}
    for rows in frames:
        if not len(rows):
            continue
        closed = sessionize_bucket(sessions, rows, wm_ms=0, now_ms=0, rule=rule)
        last = None if rows["key_null"].iat[-1] else int(rows["user_id"].iat[-1])
        closed += [(k, sessions.pop(k), False) for k in list(sessions) if k != last]
        if closed:
            yield chunk_frame(closed)
    if sessions:
        yield chunk_frame([(k, s, False) for k, s in sessions.items()])


def _bucket_fn(rule: SessionRule):
    """The applyInPandasWithState function: state arrays <-> sessions
    dict around one sessionize_bucket call, then the bucket timer."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        sessions = {k: _Session(*rest) for k, *rest in zip(*state.get)} if state.exists else {}
        frames = list(pdfs)
        rows = pd.concat(frames, ignore_index=True) if frames else None
        now_ms = state.getCurrentProcessingTimeMs()
        closed = sessionize_bucket(
            sessions, rows, wm_ms=state.getCurrentWatermarkMs(), now_ms=now_ms, rule=rule
        )
        if sessions:
            state.update(
                (list(sessions),)
                + tuple([getattr(s, f) for s in sessions.values()] for f in _Session.__slots__)
            )
            due_ms = min(s.timer_ms for s in sessions.values())
            if rule.ttl_ms is None:
                state.setTimeoutTimestamp(due_ms)
            else:
                state.setTimeoutDuration(max(1, due_ms - now_ms))
        elif state.exists:
            state.remove()
        if closed:
            yield chunk_frame(closed, rule.ttl_ms is not None)

    return fn


def _sessionize(
    events: DataFrame, watermark_delay: str, idle_timeout_s, timeout_by_type, rule: SessionRule
) -> DataFrame:
    """NULL-ts rows are dropped (the batch sessionizer's contract): an
    event without event time cannot participate in watermarked idle
    timing. The kernel's chunk records become the capture store's
    session rows: ids from (key, first-seen time), not from a per-key
    counter — counters reset when timed-out state is evicted, so they
    collide across restarts; first_us is stable and replay-idempotent.
    A NULL key yields NULL ids (concat), never a colliding 'None#...'."""
    from moloch_spark.operators.sessionize import kernel_input, timeout_by_protocol

    ttl = rule.ttl_ms is not None
    ev = events.filter(F.col("ts").isNotNull()).withWatermark("ts", watermark_delay)
    timeout = timeout_by_protocol("event_type", timeout_by_type or {}, default_s=idle_timeout_s)
    key = F.col("user_id").cast("string")
    return (
        ev.select(
            F.pmod(F.xxhash64("user_id"), F.lit(BUCKETS)).alias("bucket"),
            # the kernel reads ts_us; EventTimeTimeout needs the
            # watermarked column in its input
            "ts",
            *kernel_input(ev, timeout),
        )
        .groupBy("bucket")
        .applyInPandasWithState(
            _bucket_fn(rule),
            outputStructType=OVERFLOW_CHUNK_SCHEMA if ttl else CHUNK_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout if ttl else GroupStateTimeout.EventTimeTimeout
            ),
        )
        .select(
            "user_id",
            "root_seq",
            F.timestamp_micros("first_us").alias("first_packet"),
            F.timestamp_micros("last_us").alias("last_packet"),
            "packets",
            "tot_bytes",
            "event_types",
            F.size("event_types").cast("long").alias("event_types_cnt"),
            F.concat(key, F.lit("#"), F.col("first_us").cast("string")).alias("session_id"),
            # mid-save linkage (capture/db.c:579-596): chunks of one long
            # session share root_id; chunk_seq orders them
            F.concat(key, F.lit("#"), F.col("root_us").cast("string")).alias("root_id"),
            "chunk_seq",
            *(["overflow"] if ttl else []),
        )
    )


def streaming_sessionize(
    events: DataFrame,
    *,
    idle_timeout_s: int = 1800,
    chunk_s: int | None = None,
    timeout_by_type: dict[str, int] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """events (streaming DF with ts/user_id/event_type/value) -> stream of
    CLOSED sessions (and mid-save chunks when chunk_s is set).

    chunk_s = the tcpSaveTimeout analog: a session is cut into chunks
    on a chunk_s grid from its first row, each flushed as a partial
    chunk (counters reset, root_id and first-seen identity retained) —
    capture/session.c:312-357.
    timeout_by_type = the per-protocol idle timeouts
    (capture/config.c:518-523: tcp 480, udp 60, icmp 10, ...), with
    `idle_timeout_s` the default, through the batch sessionizer's
    `timeout_by_protocol`: the gap decision uses the INCOMING event's
    timeout. An open session flushes when the watermark passes its
    last event plus that event's timeout. NULL-ts rows are dropped."""
    return _sessionize(events, watermark_delay, idle_timeout_s, timeout_by_type, SessionRule.of(chunk_s))


def streaming_sessionize_bounded(
    events: DataFrame,
    *,
    idle_timeout_s: int = 1800,
    state_ttl_s: int = 3600,
    chunk_s: int | None = None,
    timeout_by_type: dict[str, int] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """streaming_sessionize with the maxStreams-analog state guardrail
    (capture/config.c:525,568-573; session.c:517-531): the reference
    hard-caps its session hash table and force-saves the oldest entries
    when full. Here a session whose key was silent for state_ttl_s WALL
    seconds is force-flushed, tagged overflow=True when its event-time
    close was not due yet, even if the watermark has stalled — so state
    never outgrows ingest_rate × ttl, the same resource bound maxStreams
    provides, expressed in time instead of entries. In-batch semantics
    (idle-gap close, mid-save chunking, per-proto timeouts) are
    streaming_sessionize's; there is no watermark flush. Uses
    ProcessingTimeTimeout (a wall clock), hence results are not
    bit-reproducible across replays the way the EventTimeTimeout form
    is — the same determinism trade the reference makes when
    maxStreams evicts under pressure. NULL-ts rows are dropped."""
    return _sessionize(
        events, watermark_delay, idle_timeout_s, timeout_by_type, SessionRule.of(chunk_s, state_ttl_s)
    )


def streaming_dedup(events: DataFrame, *, key_cols: list[str], watermark_delay: str = "10 minutes") -> DataFrame:
    """Packet dedup (capture/dedup.c): drop events whose key was seen
    within the watermark window — dropDuplicatesWithinWatermark keyed on
    the header hash."""
    return events.withWatermark("ts", watermark_delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def streaming_timeline(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    interval: str = "1 hour",
    watermark_delay: str = "10 minutes",
    sums: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Streaming facet timeline: watermarked tumbling-window counts +
    sums — the incremental form of endpoints.timeline (same buckets,
    same dsum exactness policy). Late rows inside the watermark fold
    into their window; state per open window is one aggregate buffer,
    so state size is bounded by (span ÷ interval), not event volume.
    In append mode a window emits exactly once, when the watermark
    passes its end — which is what makes the result equal to the batch
    timeline over the same closed data (asserted in test_streaming)."""
    from moloch_spark.operators.endpoints import dsum

    aggs = [F.count(F.lit(1)).alias("doc_count")]
    for src, alias in sums or []:
        aggs.append(dsum(src, alias))
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), interval).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("bucket"), *[
            F.col(a) for a in ["doc_count"] + [al for _, al in (sums or [])]
        ])
    )
