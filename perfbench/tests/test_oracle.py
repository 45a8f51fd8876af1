import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pytest

import gen
import oracle

T0 = gen.EPOCH.replace(tzinfo=None)


def _t(s):
    return pd.Timestamp(T0 + dt.timedelta(seconds=s))


def _capture_case():
    """Two keys: user 1 has two closed sessions, user 2 one session
    still open at the final watermark (5010 s - 600 s)."""
    ev = pd.DataFrame(
        {
            "ts": [_t(0), _t(100), _t(2000), _t(5000), _t(5010)],
            "user_id": [1, 1, 1, 2, 2],
            "event_type": ["tcp", "udp", "tcp", "udp", "udp"],
            "value": [10.0, 20.0, 30.0, 40.0, 50.0],
        }
    )
    ref = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "first_packet": [_t(0), _t(2000), _t(5000)],
            "last_packet": [_t(100), _t(2000), _t(5010)],
            "packets": [2, 1, 2],
            "tot_bytes": [30.0, 30.0, 90.0],
            "event_types": [["tcp", "udp"], ["tcp"], ["udp"]],
            # last event + its protocol's timeout
            "timer_ms": [(gen.EPOCH_US + s * 1_000_000) // 1000 + t * 1000 for s, t in ((100, 60), (2000, 480), (5010, 60))],
        }
    )
    us = lambda s: int(s * 1_000_000) + gen.EPOCH_US  # noqa: E731
    stored = pd.DataFrame(
        {
            "user_id": [1, 1],
            "first_packet": [_t(0), _t(2000)],
            "last_packet": [_t(100), _t(2000)],
            "packets": [2, 1],
            "tot_bytes": [30.0, 30.0],
            "event_types": [["tcp", "udp"], ["tcp"]],
            "session_id": [f"1#{us(0)}", f"1#{us(2000)}"],
            "root_id": [f"1#{us(0)}", f"1#{us(2000)}"],
            "chunk_seq": [0, 0],
        }
    )
    return stored, ref, ev


def test_capture_check_accepts_the_reference():
    stored, ref, ev = _capture_case()
    assert oracle.check_capture(stored, ref, ev) == []


def test_capture_check_flags_corruption():
    stored, ref, ev = _capture_case()
    bad = stored.copy()
    bad.loc[1, "packets"] = 2
    assert any("differ" in p for p in oracle.check_capture(bad, ref, ev))
    assert any("never committed" in p for p in oracle.check_capture(stored.iloc[:1], ref, ev))
    dup = pd.concat([stored, stored.iloc[:1]], ignore_index=True)
    assert any("twice" in p for p in oracle.check_capture(dup, ref, ev))


def _arrivals():
    """Rows in arrival order with their micro-batch. User 1: a row
    arrives one batch late, before the session's first row. User 2: a
    late row fills a udp gap that already split the session. User 4: a
    udp gap 0.5 ms over the timeout. User 3 moves the final watermark
    past all of them."""
    ev = pd.DataFrame(
        {
            "ts": [_t(100), _t(200), _t(1000), _t(1100), _t(300), _t(360.0005), _t(50), _t(1050), _t(5000)],
            "user_id": [1, 1, 2, 2, 4, 4, 1, 2, 3],
            "event_type": ["tcp", "tcp", "udp", "udp", "udp", "udp", "tcp", "udp", "tcp"],
            "value": [1.0, 2.0, 3.0, 4.0, 8.0, 9.0, 5.0, 6.0, 7.0],
        }
    )
    return ev, np.array([0, 0, 0, 0, 0, 0, 1, 1, 2])


def _as_stored(ref):
    us = oracle._us(ref["first_packet"])
    ids = [f"{u}#{f}" for u, f in zip(ref["user_id"], us)]
    return ref.drop(columns="timer_ms").assign(session_id=ids, root_id=ids, chunk_seq=0)


def _whole_rows(df):
    return sorted(
        (u, f.to_pydatetime(), la.to_pydatetime(), p, b)
        for u, f, la, p, b in zip(df.user_id, df.first_packet, df.last_packet, df.packets, df.tot_bytes)
    )


def test_replay_in_arrival_and_in_event_time_order():
    ev, batch = _arrivals()
    arrival = oracle.replay_stream(ev, batch)
    assert _whole_rows(arrival) == [
        (1, _t(100), _t(200), 3, 8.0),  # the late row does not move the start back
        (2, _t(1000), _t(1000), 1, 3.0),
        (2, _t(1100), _t(1100), 2, 10.0),  # nor re-joins the split session
        (3, _t(5000), _t(5000), 1, 7.0),
        (4, _t(300), _t(300), 1, 8.0),
        (4, _t(360.0005), _t(360.0005), 1, 9.0),
    ]
    event_time = oracle.replay_stream(ev, np.zeros(len(ev), dtype=int))
    assert _whole_rows(event_time) == [
        (1, _t(50), _t(200), 3, 8.0),
        (2, _t(1000), _t(1100), 3, 13.0),
        (3, _t(5000), _t(5000), 1, 7.0),
        (4, _t(300), _t(300), 1, 8.0),
        (4, _t(360.0005), _t(360.0005), 1, 9.0),
    ]
    assert oracle.sessions_differing(arrival, event_time) == 5


def test_batch_sessions_compared_with_event_time_order():
    ev, _ = _arrivals()
    event_time = oracle.replay_stream(ev, np.zeros(len(ev), dtype=int))
    right = event_time.drop(columns="timer_ms")
    assert oracle.sessions_differing(right, event_time) == 0
    # a batch sessionizer comparing gaps in whole milliseconds keeps
    # user 4 in one session
    wrong = pd.concat(
        [
            right[right["user_id"] != 4],
            pd.DataFrame(
                {"user_id": [4], "first_packet": [_t(300)], "last_packet": [_t(360.0005)],
                 "packets": [2], "tot_bytes": [17.0], "event_types": [["udp"]]}
            ),
        ],
        ignore_index=True,
    )
    assert oracle.sessions_differing(wrong, event_time) == 3


def test_capture_check_against_the_arrival_replay():
    ev, batch = _arrivals()
    ref = oracle.replay_stream(ev, batch)
    good = _as_stored(ref[ref["user_id"] != 3])  # user 3 is still open
    assert oracle.check_capture(good, ref, ev) == []
    bad = good.copy()
    bad.loc[bad["user_id"] == 1, "tot_bytes"] = 9.0
    assert any("differ" in p for p in oracle.check_capture(bad, ref, ev))
    # the batch answer for user 2 is not what the stream may commit
    batch_like = pd.concat(
        [
            good[good["user_id"] != 2],
            _as_stored(oracle.replay_stream(ev, np.zeros(len(ev), dtype=int)).query("user_id == 2")),
        ],
        ignore_index=True,
    )
    assert oracle.check_capture(batch_like, ref, ev)


def _store():
    rows = []
    for i in range(60):
        first = T0 + dt.timedelta(hours=2 * i, minutes=i)
        rows.append(
            {
                "user_id": i % 7 + 1,
                "first_packet": first,
                "last_packet": first + dt.timedelta(minutes=i % 50),
                "packets": i % 5 + 1,
                "tot_bytes": float(100 * i),
                "event_types": ["tcp", "udp"][: i % 2 + 1],
                "event_types_cnt": i % 2 + 1,
                "session_id": f"{i % 7 + 1}#{i}",
            }
        )
    df = pd.DataFrame(rows)
    df["day"] = df["last_packet"].dt.strftime("%Y-%m-%d")
    return df


@pytest.mark.parametrize("kind", gen.KINDS)
def test_viewer_sql_runs_and_a_corrupted_answer_is_flagged(kind):
    con = duckdb.connect()
    con.register("s", _store())
    req = next(r for r in gen.requests(2, 1, span_days=5) if r.kind == kind)
    req = gen.Request(kind, "2024-03-01 00:00:00", "2024-03-05 23:59:59", req.bounding, req.expr, req.sql)
    want = con.execute(oracle.viewer_sql(req)).fetchall()
    assert want, kind
    ordered = kind in oracle.ORDERED
    assert oracle.same_answer(list(want), want, ordered)
    corrupted = [tuple(r) for r in want]
    row = list(corrupted[0])
    row[-1] = row[-1] + 1 if isinstance(row[-1], (int, float)) else "x"
    corrupted[0] = tuple(row)
    assert not oracle.same_answer(corrupted, want, ordered)
    assert not oracle.same_answer(want[1:], want, ordered)
