"""Streaming sessionizer — the capture pipeline's stateful core.

Reference: moloch_session_find_or_create + idle-timeout close
(capture/session.c:419-469,484-543): packets hash to a session key,
accumulate into per-session state, and the session flushes when idle
longer than its protocol's timeout (tcp 480s, udp 60s, ... —
capture/config.c:518-523).

Spark shape: applyInPandasWithState grouped by a key BUCKET,
``pmod(xxhash64(user_id), BUCKETS)``, not by the key itself — the
reference's packet threads likewise own a hash slice of the session
table. A bucket's state is the array of its keys' open sessions (one
per key, the reference's hash-table entry), and each session carries
its own timer. One call per bucket and micro-batch sorts the batch by
(key, event time) and applies the per-key rule (``sessionize_bucket``):
data first — an idle gap longer than the INCOMING event's protocol
timeout closes the open session, ``chunk_s`` flushes mid-save chunks —
then every session the batch did not touch whose timer lies below the
clock is flushed. The bucket's own timer is re-armed to its earliest
session timer, so Spark calls a bucket with no data exactly when one
of its sessions is due; that call runs the same rule with no rows. The
clock is the watermark (``streaming_sessionize``, EventTimeTimeout) or
the batch's processing time (``streaming_sessionize_bounded``,
ProcessingTimeTimeout, a per-session last-seen TTL).

Grouping by bucket bounds the per-group framework cost (an Arrow round
trip and a state-store put per group) by BUCKETS instead of by the
number of keys in a batch; state size is still bounded by OPEN
sessions only — the reference's maxStreams sizing
(capture/config.c:525).

Checkpoints written by the earlier per-key sessionizer (grouped by
user_id, one session per state row) cannot be resumed: the grouping
key and the state schema both changed. Start such a query from a new
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

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("root_seq", T.LongType()),
        T.StructField("first_packet", T.TimestampType()),
        T.StructField("last_packet", T.TimestampType()),
        T.StructField("packets", T.LongType()),
        T.StructField("tot_bytes", T.DoubleType()),
        T.StructField("event_types", T.ArrayType(T.StringType())),
        T.StructField("event_types_cnt", T.LongType()),
        T.StructField("session_id", T.StringType()),
        # mid-save linkage (capture/db.c:579-596): chunks of one long
        # session share root_id; chunk_seq orders them
        T.StructField("root_id", T.StringType()),
        T.StructField("chunk_seq", T.LongType()),
    ]
)

OVERFLOW_SESSION_SCHEMA = T.StructType(
    SESSION_SCHEMA.fields
    + [
        # True when the flush was forced by the state guardrail before the
        # session's event-time close point — the reference tags such
        # sessions too when the stream table overflows
        T.StructField("overflow", T.BooleanType()),
    ]
)


@dataclass(slots=True)
class _Session:
    """One key's open session (timestamps as epoch micros for exactness)."""

    root_seq: int
    first_us: int
    last_us: int
    packets: int
    tot_bytes: float
    types: list
    root_us: int  # first_us of the ROOT chunk
    chunk_seq: int
    last_etype: str | None  # the newest event's type arms the idle timer
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
             T.DoubleType(), T.ArrayType(T.StringType()), T.LongType(),
             T.LongType(), T.StringType(), T.LongType()],
        )
    ]
)


class SessionRule(NamedTuple):
    """The per-key sessionization rule's parameters.

    default_ms / by_type_ms: idle timeouts, the per-protocol map keyed
    by event type (capture/config.c:518-523); chunk_us: the mid-save
    chunk length or None; ttl_ms: None for event-time expiry (a
    session is due at last seen + its idle timeout), else the
    processing-time TTL after the session was last touched."""

    default_ms: int
    by_type_ms: dict
    chunk_us: int | None
    ttl_ms: int | None = None

    @classmethod
    def of(cls, idle_timeout_s, chunk_s=None, timeout_by_type=None, ttl_s=None):
        return cls(
            idle_timeout_s * 1000,
            {k: v * 1000 for k, v in (timeout_by_type or {}).items()},
            chunk_s * 1_000_000 if chunk_s else None,
            ttl_s * 1000 if ttl_s else None,
        )

    def timeout_ms(self, etype) -> int:
        return self.by_type_ms.get(etype, self.default_ms)


def sessionize_bucket(
    sessions: dict, rows: pd.DataFrame | None, *, wm_ms: int, now_ms: int, rule: SessionRule
) -> list[tuple]:
    """Advance one bucket's open ``sessions`` (key -> _Session, updated
    in place) by one micro-batch of ``rows`` (ts, user_id, key_null,
    event_type, value; None on a timer call). Returns the closed
    sessions and chunks as (key, _Session, overflow) tuples.

    Per key, in event-time order within the batch: a row below the
    watermark is dropped — it may belong to a session already emitted
    (the watermark delay IS the lateness tolerance, like
    dropDuplicatesWithinWatermark's contract); a row more than its own
    protocol's timeout after the open chunk's newest row closes the
    session and opens the next; a row ``chunk_us`` or more after the
    chunk's first row flushes the chunk and keeps the session identity
    (root_us) — capture/session.c:312-357. A key the batch touched
    re-arms its timer; afterwards every untouched session whose timer
    is below the clock is flushed."""
    wm_us = wm_ms * 1000
    closed: list[tuple] = []
    touched: set = set()
    if rows is not None and len(rows):
        ts_us = rows["ts"].to_numpy(dtype="datetime64[ns]").view("int64") // 1000
        uid = rows["user_id"].to_numpy(dtype="int64")
        null = rows["key_null"].to_numpy(dtype=bool)
        # np.lexsort is stable: equal times keep arrival order
        order = np.lexsort((ts_us, uid, null))
        keys = [None if n else int(u) for u, n in zip(uid[order], null[order])]
        touched = set(keys)
        batch = zip(keys, ts_us[order].tolist(),
                    rows["value"].to_numpy(dtype=float)[order].tolist(),
                    rows["event_type"].to_numpy(dtype=object)[order].tolist())
        for key, ts, value, etype in batch:
            if wm_us > 0 and ts < wm_us:
                continue
            ses = sessions.get(key)
            if ses is None:
                ses = sessions[key] = _Session(1, ts, ts, 0, 0.0, [], ts, 0, None, 0)
            elif ts - ses.last_us > rule.timeout_ms(etype) * 1000:
                # idle gap inside the batch: close and start the next
                closed.append((key, ses, False))
                ses = sessions[key] = _Session(ses.root_seq + 1, ts, ts, 0, 0.0, [], ts, 0, None, 0)
            elif rule.chunk_us is not None and ts - ses.first_us >= rule.chunk_us:
                # mid-save: flush the running chunk, keep the session
                closed.append((key, ses, False))
                ses = sessions[key] = _Session(
                    ses.root_seq, ts, ts, 0, 0.0, [], ses.root_us, ses.chunk_seq + 1, None, 0
                )
            ses.packets += 1
            ses.tot_bytes += value
            if etype not in ses.types:
                ses.types.append(etype)
            ses.last_us = max(ses.last_us, ts)
            ses.last_etype = etype

    clock_ms = wm_ms if rule.ttl_ms is None else now_ms
    for key in list(sessions):
        ses = sessions[key]
        if key in touched:
            if rule.ttl_ms is None:
                # after a restart the restored watermark may already be
                # past last seen + timeout (the session should have
                # closed during downtime): clamp above the watermark so
                # it flushes on the next timer pass
                ses.timer_ms = max(ses.last_us // 1000 + rule.timeout_ms(ses.last_etype), wm_ms + 1)
            else:
                ses.timer_ms = now_ms + rule.ttl_ms
        elif ses.timer_ms < clock_ms:
            # overflow iff the event-time close was not due yet — the
            # TTL evicts purely to bound state
            due_us = ses.last_us + rule.timeout_ms(ses.last_etype) * 1000
            closed.append((key, ses, rule.ttl_ms is not None and wm_us < due_us))
            del sessions[key]
    return closed


def _closed_frame(closed: list[tuple], with_overflow: bool) -> pd.DataFrame:
    keys = [k for k, _, _ in closed]
    first_us = np.array([s.first_us for _, s, _ in closed], dtype="int64")
    last_us = np.array([s.last_us for _, s, _ in closed], dtype="int64")
    # collect_set semantics: NULL event types never enter the set (a
    # mixed None/str set would also crash the sort)
    types = [sorted({t for t in s.types if t is not None}) for _, s, _ in closed]
    out = {
        "user_id": pd.array(keys, dtype="Int64"),
        "root_seq": [s.root_seq for _, s, _ in closed],
        "first_packet": pd.to_datetime(first_us, unit="us"),
        "last_packet": pd.to_datetime(last_us, unit="us"),
        "packets": [s.packets for _, s, _ in closed],
        "tot_bytes": [round(s.tot_bytes, 4) for _, s, _ in closed],
        "event_types": types,
        "event_types_cnt": [len(t) for t in types],
        # ids derive from (key, first-seen time), NOT a per-key counter:
        # counters reset when timed-out state is evicted, so they collide
        # across restarts; first_us is stable and replay-idempotent. A
        # NULL key yields NULL ids — minting 'None#...' would silently
        # collide NULL-key sessions
        "session_id": [None if k is None else f"{k}#{s.first_us}" for k, s, _ in closed],
        "root_id": [None if k is None else f"{k}#{s.root_us}" for k, s, _ in closed],
        "chunk_seq": [s.chunk_seq for _, s, _ in closed],
    }
    if with_overflow:
        out["overflow"] = [o for _, _, o in closed]
    return pd.DataFrame(out)


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
            yield _closed_frame(closed, rule.ttl_ms is not None)

    return fn


def _sessionize(events: DataFrame, watermark_delay: str, rule: SessionRule) -> DataFrame:
    """NULL-ts rows are dropped (the batch sessionizer's contract): an
    event without event time cannot participate in watermarked idle
    timing. A NULL key is its own key (key_null): the pandas form of a
    nullable long column is float64, which would round 64-bit keys."""
    uid = F.col("user_id")
    ttl = rule.ttl_ms is not None
    return (
        events.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark_delay)
        .select(
            F.pmod(F.xxhash64(uid), F.lit(BUCKETS)).alias("bucket"),
            "ts",
            F.coalesce(uid, F.lit(0)).alias("user_id"),
            uid.isNull().alias("key_null"),
            "event_type",
            "value",
        )
        .groupBy("bucket")
        .applyInPandasWithState(
            _bucket_fn(rule),
            outputStructType=OVERFLOW_SESSION_SCHEMA if ttl else SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout if ttl else GroupStateTimeout.EventTimeTimeout
            ),
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

    chunk_s = the tcpSaveTimeout analog: a session open longer than
    chunk_s is flushed as a partial chunk (counters reset, root_id and
    first-seen identity retained) — capture/session.c:312-357.
    timeout_by_type = the per-protocol idle timeouts
    (capture/config.c:518-523: tcp 480, udp 60, icmp 10, ...): the gap
    decision uses the INCOMING event's type, `idle_timeout_s` is the
    default — the batch `timeout_by_protocol` column's semantics. An
    open session flushes when the watermark passes its last event plus
    that event's timeout. NULL-ts rows are dropped."""
    return _sessionize(events, watermark_delay, SessionRule.of(idle_timeout_s, chunk_s, timeout_by_type))


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
        events, watermark_delay, SessionRule.of(idle_timeout_s, chunk_s, timeout_by_type, state_ttl_s)
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
