"""The streaming sessionizer's bucket kernel against a per-key replay of
the sessionization rule, without Spark; plus the worker daemon's zip
importer and the default heap size."""

from __future__ import annotations

import os
import zipfile
import zipimport
from dataclasses import astuple

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from moloch_spark import pyworker
from moloch_spark.session import default_driver_memory
from moloch_spark.streaming.sessionizer import SessionRule, _Session, sessionize_bucket

BASE_US = 1_700_000_000_000_000
TIMEOUTS = {"tcp": 8, "udp": 3, "icmp": 1}
DEFAULT_S = 5
DELAY_MS = 2_000
ETYPES = ["tcp", "udp", "icmp", "esp", None]
KEYS = [0, 1, 2, 3, 2**62 + 7, None]


def replay_per_key(batches, rule: SessionRule):
    """The rule as one state function per key, called the way Spark calls
    a per-key applyInPandasWithState: every key with rows in a batch,
    then every other key whose timer is below the clock. Returns the
    closed sessions per batch and the sessions left open."""
    state, timers, emitted = {}, {}, []
    for rows, wm_ms, now_ms in batches:
        wm_us, out = wm_ms * 1000, []
        by_key: dict = {}
        for r in rows:
            by_key.setdefault(r[0], []).append(r)
        for key, krows in by_key.items():
            st_ = state.get(key)
            for _, ts, etype, value in sorted(krows, key=lambda r: r[1]):
                if wm_us > 0 and ts < wm_us:
                    continue
                if st_ is None:
                    st_ = [1, ts, ts, 0, None, [], ts, 0, 0]
                elif ts - st_[2] > timeout_ms(etype) * 1000:
                    out.append((key, *st_[:8], False))
                    st_ = [st_[0] + 1, ts, ts, 0, None, [], ts, 0, 0]
                elif rule.chunk_us is not None and grid(ts, st_[6], rule) > grid(st_[1], st_[6], rule):
                    out.append((key, *st_[:8], False))
                    st_ = [st_[0], ts, ts, 0, None, [], st_[6], st_[7] + 1, 0]
                st_[3] += 1
                if value is not None:
                    st_[4] = (st_[4] or 0) + value
                if etype not in st_[5]:
                    st_[5].append(etype)
                st_[2] = max(st_[2], ts)
                st_[8] = timeout_ms(etype)
            if st_ is None:
                continue
            state[key] = st_
            if rule.ttl_ms is None:
                timers[key] = max(st_[2] // 1000 + st_[8], wm_ms + 1)
            else:
                timers[key] = now_ms + rule.ttl_ms
        clock = wm_ms if rule.ttl_ms is None else now_ms
        for key in [k for k in state if k not in by_key and timers[k] < clock]:
            st_ = state.pop(key)
            due_us = st_[2] + st_[8] * 1000
            out.append((key, *st_[:8], rule.ttl_ms is not None and wm_us < due_us))
        emitted.append(_canon(out))
    return emitted, _canon((k, *s[:8], False) for k, s in state.items())


def timeout_ms(etype) -> int:
    """The per-row idle timeout, as timeout_by_protocol computes it."""
    return TIMEOUTS.get(etype, DEFAULT_S) * 1000


def grid(ts: int, root_us: int, rule: SessionRule) -> int:
    """A row's mid-save chunk index: whole chunk lengths since its
    session's first row."""
    return (ts - root_us) // rule.chunk_us


def run_buckets(batches, rule: SessionRule, n_buckets: int):
    """sessionize_bucket called the way Spark calls the bucketed
    sessionizer: each bucket with rows, then each bucket whose timer
    (its earliest session timer) is below the clock, with no rows."""
    sessions = {b: {} for b in range(n_buckets)}
    timers: dict = {}
    emitted = []
    for rows, wm_ms, now_ms in batches:
        clock = wm_ms if rule.ttl_ms is None else now_ms
        out = []
        df = _frame(rows)
        bucket = df["user_id"] % n_buckets
        with_rows = set(bucket)
        calls = [(b, g) for b, g in df.groupby(bucket)]
        calls += [(b, None) for b, t in sorted(timers.items()) if b not in with_rows and t < clock]
        for b, g in calls:
            out += sessionize_bucket(sessions[b], g, wm_ms=wm_ms, now_ms=now_ms, rule=rule)
            if sessions[b]:
                timers[b] = min(s.timer_ms for s in sessions[b].values())
                # Spark rejects a timeout timestamp below the watermark
                assert rule.ttl_ms is not None or timers[b] >= wm_ms
            else:
                timers.pop(b, None)
        emitted.append(_canon((k, *_fields(s), o) for k, s, o in out))
    left = ((k, *_fields(s), False) for b in sessions.values() for k, s in b.items())
    return emitted, _canon(left)


def _fields(s):
    return astuple(s)[:8]  # all but timeout_ms and timer_ms


def _canon(rows):
    return sorted(
        ((k is None, k or 0), seq, f, la, p, b, tuple(sorted(t for t in types if t is not None)), r, c, o)
        for k, seq, f, la, p, b, types, r, c, o in rows
    )


def _frame(rows) -> pd.DataFrame:
    """(key, ts_us, event type, unscaled value) rows as the kernel's
    input columns, as kernel_input computes them in Spark."""
    keys = [r[0] for r in rows]
    values = [r[3] for r in rows]
    return pd.DataFrame(
        {
            "ts_us": np.array([r[1] for r in rows], dtype="int64"),
            "user_id": np.array([0 if k is None else k for k in keys], dtype="int64"),
            "key_null": np.array([k is None for k in keys], dtype=bool),
            "event_type": pd.Series([r[2] for r in rows], dtype=object),
            "timeout_ms": np.array([timeout_ms(r[2]) for r in rows], dtype="int64"),
            "value": np.array([0 if v is None else v for v in values], dtype="int64"),
            "value_null": np.array([v is None for v in values], dtype=bool),
        }
    )


# gaps that land on, just below and just above the idle timeouts and
# chunk lengths, in µs, plus arbitrary ones; short ones keep sessions
# open for several chunks
GAPS = st.one_of(
    st.sampled_from([0, 1, 500, 999_000, 1_000_001, 2_000_000, 2_999_999, 3_000_000, 3_000_001,
                     3_000_500, 5_000_001, 6_000_000, 8_000_000, 8_000_001]),
    st.integers(0, 1_500_000),
    st.integers(0, 12_000_000),
)


@st.composite
def streams(draw):
    """Micro-batches of (key, ts_us, event type, unscaled value) rows in
    arrival order with the watermark and processing time each batch runs
    at. Some rows arrive back in time: out of order inside the watermark
    delay, or late beyond it. Two empty batches end the stream: one at
    the final watermark, one far past it, which flush open sessions."""
    clock, now_ms, max_us, batches = BASE_US, 1_000, 0, []
    # few keys: each key's rows close together, sessions of many chunks
    keys = draw(st.sampled_from([KEYS, [1], [None, 2**62 + 7]]))
    for _ in range(draw(st.integers(1, 6))):
        wm_ms = max(0, max_us // 1000 - DELAY_MS)
        rows = []
        for _ in range(draw(st.integers(0, 10))):
            clock += draw(GAPS)
            back = draw(st.sampled_from([0, 0, 0, 400_000, 1_500_000, 2_500_000, 4_000_000]))
            rows.append((draw(st.sampled_from(keys)), clock - back, draw(st.sampled_from(ETYPES)),
                         draw(st.sampled_from([10_000, 2_500, 1, 35_000, None]))))
        batches.append((rows, wm_ms, now_ms))
        max_us = max([max_us] + [r[1] for r in rows])
        now_ms += draw(st.sampled_from([100, 1_000, 4_000, 4_001, 5_000]))
    final_wm = max(0, max_us // 1000 - DELAY_MS)
    batches.append(([], final_wm, now_ms))
    batches.append(([], final_wm + 60_000, now_ms + 60_000))
    return batches


@settings(max_examples=300, deadline=None)
@given(
    streams(),
    st.sampled_from([None, 2, 6]),
    st.sampled_from([None, 4]),
    st.integers(1, 4),
)
def test_bucket_kernel_matches_per_key_replay(batches, chunk_s, ttl_s, n_buckets):
    rule = SessionRule.of(chunk_s, ttl_s)
    assert run_buckets(batches, rule, n_buckets) == replay_per_key(batches, rule)


def _restart(sessions: dict) -> dict:
    """A bucket's sessions through its state row and back, as the
    applyInPandasWithState function stores and restores them."""
    row = (list(sessions),) + tuple([getattr(s, f) for s in sessions.values()] for f in _Session.__slots__)
    return {k: _Session(*rest) for k, *rest in zip(*row)}


def test_restart_past_due_session_flushes_after_the_clamped_timer():
    """After a restart the restored watermark can already be past an
    open session's due time. A batch whose rows for that key are all
    late touches the session: its timer is clamped one ms above the
    watermark, so it survives that batch and a timer pass at that ms,
    and flushes on the first pass past the clamp, as in the per-key
    replay."""
    rule = SessionRule.of()
    wm = BASE_US // 1000 + 20_000  # restored watermark, 12 s past due
    batches = [
        ([(1, BASE_US, "tcp", 10_000)], 0, 1_000),
        ([(1, BASE_US + 1_000, "tcp", 10_000)], wm, 2_000),  # late only
        ([], wm + 1, 3_000),
        ([], wm + 2, 4_000),
    ]
    sessions, emitted = {}, []
    for rows, wm_ms, now_ms in batches:
        sessions = _restart(sessions)
        out = sessionize_bucket(sessions, _frame(rows) if rows else None, wm_ms=wm_ms, now_ms=now_ms, rule=rule)
        emitted.append(_canon((k, *_fields(s), o) for k, s, o in out))
    assert emitted == replay_per_key(batches, rule)[0]
    assert [len(e) for e in emitted] == [0, 0, 0, 1] and sessions == {}


def _zip_with(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "x = 1\n")


def test_pyworker_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _zip_with(archive, ["a.py"])
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    pyworker.install()

    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    n = len(reads)
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert len(reads) == n, "an unchanged archive was re-read"

    _zip_with(archive, ["a.py", "b.py"])
    os.utime(archive, ns=(1, 1))
    imp.invalidate_caches()
    assert len(reads) == n + 1
    assert imp.find_spec("b") is not None


def test_default_driver_memory_is_half_of_physical_memory():
    assert default_driver_memory(15 * 2**30) == "7680m"
    assert default_driver_memory(512 * 2**30) == f"{48 * 1024}m"
    assert default_driver_memory(1 * 2**30) == "1024m"
