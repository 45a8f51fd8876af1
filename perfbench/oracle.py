"""Reference results and the checks that compare the program against them.

Viewer requests are re-computed by DuckDB straight from the store's
parquet files (``viewer_sql``); capture output is checked against the
batch sessionizer's sessions (``check_capture``). The comparison
functions are pure Python so they can be tested without Spark.
"""

from __future__ import annotations

import datetime as dt
import decimal

import numpy as np
import pandas as pd

from gen import CHUNK_S, IDLE_TIMEOUT_S, TIMEOUT_BY_TYPE, WATERMARK_DELAY_S, Request

# --- viewer ---------------------------------------------------------------

SEARCH_FIELDS = ["session_id", "user_id", "first_packet", "last_packet", "packets", "tot_bytes", "event_types_cnt"]
SEARCH_LIMIT = 50
SPIVIEW_FIELDS = [("user_id", 10), ("event_types_cnt", 5), ("packets", 10)]
SPIGRAPH_K = 10
MULTIUNIQUE_FIELDS = ["user_id", "event_types_cnt"]
MULTIUNIQUE_K = 200
CONNECTIONS_MIN = 2
# kinds whose answer is an ordered list; the rest are compared as multisets
ORDERED = {"search", "unique", "multiunique"}

_DSUM = "CAST(SUM(CAST({c} AS DECIMAL(18,4))) AS DOUBLE)"


def day_bounds(req: Request) -> tuple[str, str]:
    """The ``day`` partition range time_bounded derives: modes keyed on
    the first packet widen it by one day to the right."""
    hi = req.stop[:10]
    if req.bounding in ("first", "either"):
        hi = (dt.date.fromisoformat(hi) + dt.timedelta(days=1)).isoformat()
    return req.start[:10], hi


def _where(req: Request, with_expr: bool) -> str:
    lo, hi = f"TIMESTAMP '{req.start}'", f"TIMESTAMP '{req.stop}'"
    time_pred = {
        "last": f"last_packet >= {lo} AND last_packet <= {hi}",
        "first": f"first_packet >= {lo} AND first_packet <= {hi}",
        "both": f"first_packet >= {lo} AND last_packet <= {hi}",
        "either": f"first_packet <= {hi} AND last_packet >= {lo}",
    }[req.bounding]
    d_lo, d_hi = day_bounds(req)
    out = f"day >= '{d_lo}' AND day <= '{d_hi}' AND {time_pred}"
    if with_expr and req.sql:
        out += f" AND ({req.sql})"
    return out


def viewer_sql(req: Request) -> str:
    """DuckDB SQL computing ``req``'s answer from the stored sessions,
    registered as table ``s``."""
    f = f"(SELECT * FROM s WHERE {_where(req, req.kind in ('search', 'spiview'))})"
    k = req.kind
    if k == "search":
        return (
            f"SELECT {', '.join(SEARCH_FIELDS)} FROM {f} "
            f"ORDER BY last_packet DESC NULLS FIRST, session_id ASC NULLS LAST "
            f"LIMIT {SEARCH_LIMIT} OFFSET {req.offset}"
        )
    if k == "spiview":
        union = " UNION ALL ".join(
            f"SELECT '{c}' AS field, CAST({c} AS VARCHAR) AS value FROM {f}" for c, _ in SPIVIEW_FIELDS
        )
        cap = " ".join(f"WHEN '{c}' THEN {n}" for c, n in SPIVIEW_FIELDS)
        return (
            f"SELECT field, value, count FROM ("
            f"SELECT field, value, count, row_number() OVER "
            f"(PARTITION BY field ORDER BY count DESC, value ASC) AS rnk FROM ("
            f"SELECT field, value, COUNT(*) AS count FROM ({union}) "
            f"WHERE value IS NOT NULL GROUP BY 1, 2)) "
            f"WHERE rnk <= CASE field {cap} END"
        )
    if k == "spigraph":
        return (
            f"WITH pb AS (SELECT user_id AS value, date_trunc('hour', last_packet) AS bucket, "
            f"COUNT(*) AS doc_count, {_DSUM.format(c='tot_bytes')} AS bytes FROM {f} GROUP BY 1, 2), "
            f"t AS (SELECT value, SUM(doc_count) AS total FROM pb GROUP BY 1 "
            f"ORDER BY total DESC, value ASC LIMIT {SPIGRAPH_K}) "
            f"SELECT pb.value, bucket, doc_count, bytes, total FROM pb JOIN t USING (value)"
        )
    if k == "unique":
        return (
            f"SELECT value, COUNT(*) AS count FROM (SELECT unnest(event_types) AS value FROM {f}) "
            f"WHERE value IS NOT NULL GROUP BY 1 ORDER BY count DESC, value ASC LIMIT 10000"
        )
    if k == "multiunique":
        a, b = MULTIUNIQUE_FIELDS
        return (
            f"SELECT {a}, {b}, COUNT(*) AS count FROM {f} WHERE {a} IS NOT NULL AND {b} IS NOT NULL "
            f"GROUP BY 1, 2 ORDER BY count DESC, {a} ASC, {b} ASC LIMIT {MULTIUNIQUE_K}"
        )
    if k == "timeline":
        return (
            f"SELECT date_trunc('hour', last_packet) AS bucket, COUNT(*) AS doc_count, "
            f"{_DSUM.format(c='tot_bytes')} AS bytes, {_DSUM.format(c='packets')} AS pkts "
            f"FROM {f} GROUP BY 1"
        )
    if k == "connections":
        return (
            f"SELECT user_id AS src, proto AS dst, COUNT(*) AS sessions, {_DSUM.format(c='tot_bytes')} AS bytes "
            f"FROM (SELECT user_id, unnest(event_types) AS proto, tot_bytes FROM {f}) "
            f"GROUP BY 1, 2 HAVING COUNT(*) >= {CONNECTIONS_MIN}"
        )
    raise ValueError(f"unknown request kind {k!r}")


def _canon(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (float, decimal.Decimal, np.floating)):
        return round(float(v), 4)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v


def canon_rows(rows) -> list[tuple]:
    return [tuple(_canon(x) for x in r) for r in rows]


def same_answer(got, want, ordered: bool) -> bool:
    g, w = canon_rows(got), canon_rows(want)
    if not ordered:
        g, w = sorted(g, key=repr), sorted(w, key=repr)
    return g == w


# --- capture --------------------------------------------------------------


def _timeout_ms(etype) -> int:
    return TIMEOUT_BY_TYPE.get(etype, IDLE_TIMEOUT_S) * 1000


def _us(s: pd.Series) -> np.ndarray:
    """Epoch microseconds; naive times are taken as UTC."""
    return pd.to_datetime(s, utc=True).dt.tz_convert(None).astype("datetime64[us]").astype("int64").to_numpy()


def replay_stream(accepted: pd.DataFrame, batch: np.ndarray) -> pd.DataFrame:
    """Whole sessions of a stream that sessionizes the accepted rows in
    arrival order: micro-batch by micro-batch (``batch`` per row), and
    by time within a batch, one open session per key. A row more than
    its protocol's timeout after the newest row of the open chunk closes
    the session and opens the next; a row ``CHUNK_S`` or more after the
    chunk's first row starts a new chunk of the same session. A row that
    arrives late but inside the watermark delay joins the open session:
    it never moves the session's start back, nor re-joins a session that
    an idle gap already closed. The idle timer uses the type of the row
    that arrived last. With every row in one batch this is sessionizing
    in event-time order, the batch sessionizer's rule.

    Returns user_id, first_packet, last_packet, packets, tot_bytes,
    event_types and timer_ms (when the session's idle timer fires)."""
    ev = accepted.assign(ts_us=_us(accepted["ts"]), batch=batch)
    ev = ev.sort_values(["user_id", "batch", "ts_us"], kind="stable")
    chunk_us = CHUNK_S * 1_000_000
    out = []
    for uid, g in ev.groupby("user_id", sort=False):
        rows = zip(g["ts_us"].to_numpy().tolist(), g["value"].to_numpy().tolist(), g["event_type"])
        ses = None  # [root_us, chunk first, chunk newest, newest, packets, bytes, types, last type]
        for ts, value, etype in rows:
            if ses is not None and ts - ses[2] > _timeout_ms(etype) * 1000:
                out.append(_replayed(uid, ses))
                ses = None
            if ses is None:
                ses = [ts, ts, ts, ts, 0, 0.0, set(), None]
            elif ts - ses[1] >= chunk_us:
                ses[1] = ses[2] = ts
            ses[2], ses[3] = max(ses[2], ts), max(ses[3], ts)
            ses[4] += 1
            ses[5] += value
            ses[6].add(etype)
            ses[7] = etype
        out.append(_replayed(uid, ses))
    return pd.DataFrame(out)


def _replayed(uid, ses) -> dict:
    root_us, _, chunk_last_us, last_us, packets, nbytes, types, etype = ses
    return {
        "user_id": uid,
        "first_packet": pd.Timestamp(root_us, unit="us"),
        "last_packet": pd.Timestamp(last_us, unit="us"),
        "packets": packets,
        "tot_bytes": nbytes,
        "event_types": sorted(types),
        "timer_ms": chunk_last_us // 1000 + _timeout_ms(etype),
    }


def _whole(df: pd.DataFrame) -> set[tuple]:
    return {
        (int(u), int(f), int(la), int(p), round(float(b), 4), tuple(sorted(t)))
        for u, f, la, p, b, t in zip(
            df["user_id"], _us(df["first_packet"]), _us(df["last_packet"]),
            df["packets"], df["tot_bytes"], df["event_types"],
        )
    }


def sessions_differing(a: pd.DataFrame, b: pd.DataFrame) -> int:
    """How many whole sessions only one of ``a`` and ``b`` has."""
    return len(_whole(a) ^ _whole(b))


def check_capture(stored: pd.DataFrame, ref: pd.DataFrame, accepted: pd.DataFrame) -> list[str]:
    """Problems found comparing committed capture output with a reference.

    stored: the store's rows (chunks: user_id, first_packet, last_packet,
    packets, tot_bytes, event_types, session_id, root_id, chunk_seq).
    ref: whole reference sessions (user_id, first_packet, last_packet,
    packets, tot_bytes, event_types, timer_ms), as replay_stream gives.
    accepted: the events the stream must have kept (all but late rows).

    A reference session is closed when a later session of the same key
    exists, or when its idle timer lies before the final watermark
    (newest accepted event minus the delay). Chunks of a closed session
    must add up to it exactly; sessions within a second of the
    watermark may go either way; open sessions may only have emitted a
    prefix."""
    problems: list[str] = []
    ref = ref.assign(first_us=_us(ref["first_packet"]), last_us=_us(ref["last_packet"]))
    final_wm_ms = int(_us(accepted["ts"]).max()) // 1000 - WATERMARK_DELAY_S * 1000
    later = ref.groupby("user_id")["first_us"].transform("max") > ref["first_us"]

    st = stored.assign(first_us=_us(stored["first_packet"]), last_us=_us(stored["last_packet"]))
    if st["session_id"].duplicated().any():
        problems.append(f"{int(st['session_id'].duplicated().sum())} chunks committed twice")
    bad_id = st["session_id"] != st["user_id"].astype(str) + "#" + st["first_us"].astype(str)
    if bad_id.any():
        problems.append(f"{int(bad_id.sum())} chunks with a session_id not derived from (user, first packet)")
    long_chunk = (st["last_us"] - st["first_us"]) >= CHUNK_S * 1_000_000
    if long_chunk.any():
        problems.append(f"{int(long_chunk.sum())} chunks span chunk_s or more")

    roots = {}
    for rid, g in st.groupby("root_id"):
        roots[rid] = (
            int(g["first_us"].min()), int(g["last_us"].max()), int(g["packets"].sum()),
            round(float(g["tot_bytes"].sum()), 4),
            tuple(sorted({t for ts in g["event_types"] for t in ts})),
            sorted(int(c) for c in g["chunk_seq"]),
        )
    ref_keys = ref["user_id"].astype(str) + "#" + ref["first_us"].astype(str)
    known = set(ref_keys)
    spurious = [r for r in roots if r not in known]
    if spurious:
        problems.append(f"{len(spurious)} committed sessions have no reference session, e.g. {spurious[0]}")

    missing = mismatched = 0
    for key, r, has_later in zip(ref_keys, ref.itertuples(index=False), later):
        got = roots.get(key)
        timer_ms = r.timer_ms
        if not has_later and abs(timer_ms - final_wm_ms) <= 1000:
            continue  # within a second of the final watermark: either way
        closed = has_later or timer_ms < final_wm_ms
        want = (
            r.first_us, r.last_us, int(r.packets), round(float(r.tot_bytes), 4),
            tuple(sorted(r.event_types)),
        )
        if closed:
            if got is None:
                missing += 1
            elif got[:5] != want or got[5] != list(range(len(got[5]))):
                mismatched += 1
        elif got is not None and (got[0] != want[0] or got[1] > want[1] or got[2] > want[2]):
            mismatched += 1  # an open session may only have emitted a prefix
    if missing:
        problems.append(f"{missing} closed sessions never committed")
    if mismatched:
        problems.append(f"{mismatched} sessions differ from the reference")
    return problems
