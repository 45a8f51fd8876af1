"""Seeded inputs for every workload.

Everything here is pure numpy/pandas: the same ``seed`` (and size
arguments) always yields the same frames, and no Spark is needed, so the
generator is testable on its own.

Event rows carry the columns the sessionizers read: ``ts`` (UTC),
``user_id`` (Zipf-skewed, so a few keys are hot and most are rare),
``event_type`` (a per-protocol mix whose idle timeouts differ) and
``value`` (bytes, whole numbers so that decimal sums are exact).
"""

from __future__ import annotations

import dataclasses
import datetime as dt

import numpy as np
import pandas as pd

PROTOCOLS = np.array(["tcp", "udp", "icmp", "esp"])
PROTOCOL_P = [0.6, 0.3, 0.06, 0.04]
# per-protocol idle timeouts (moloch capture defaults); esp falls back
# to IDLE_TIMEOUT_S
TIMEOUT_BY_TYPE = {"tcp": 480, "udp": 60, "icmp": 10}
IDLE_TIMEOUT_S = 600
ZIPF_A = 1.2

EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
EPOCH_US = int(EPOCH.timestamp() * 1_000_000)
DAY_US = 86_400 * 1_000_000

# --- capture stream -------------------------------------------------------
# One file holds FILE_S seconds of event time. FILE_S must stay below the
# watermark delay: out-of-order rows are delivered one file late, and they
# must still be inside the delay to be accepted.
CAPTURE_USERS = 20_000
FILE_S = 300
WATERMARK_DELAY_S = 600
WATERMARK_DELAY = "10 minutes"
CHUNK_S = 480
OOO_FRAC = 0.03
LATE_FRAC = 0.01


def _zipf_users(rng: np.random.Generator, n: int, n_users: int) -> np.ndarray:
    # fold the unbounded Zipf tail back into [1, n_users]: keeps the head hot
    return ((rng.zipf(ZIPF_A, n) - 1) % n_users + 1).astype("int64")


def _events(ts_us, users, rng) -> pd.DataFrame:
    n = len(ts_us)
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(np.asarray(ts_us, dtype="int64"), unit="us", utc=True),
            "user_id": np.asarray(users, dtype="int64"),
            "event_type": rng.choice(PROTOCOLS, n, p=PROTOCOL_P),
            "value": rng.integers(40, 1500, n).astype("float64"),
        }
    )


def capture_file(
    seed: int, i: int, file_events: int, files_per_trigger: int
) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
    """File ``i`` of the capture stream, its late-row mask and its
    out-of-order-row mask.

    Rows cover event time [i*FILE_S, (i+1)*FILE_S) after EPOCH, shuffled
    within the file. From the second file on, OOO_FRAC of the rows are
    out of order: they belong to the previous file's time slice (inside
    the watermark delay, so the stream must accept them) and to the same
    Zipf keys as the rest, so many land in sessions that are still open,
    before their newest event or before their first one. Once enough
    stream has passed, LATE_FRAC of the rows are late beyond the delay:
    their time lies before the watermark of any batch that can contain
    file ``i`` when ``files_per_trigger`` files make one batch, so the
    stream must drop them."""
    rng = np.random.default_rng([seed, 1, i])
    slice_us = FILE_S * 1_000_000
    start = EPOCH_US + i * slice_us
    n_ooo = int(file_events * OOO_FRAC) if i > 0 else 0
    # the watermark of the batch holding file i is at least the start of
    # file i - files_per_trigger, minus the delay; late rows sit a margin
    # below that, and only where that still lies after EPOCH
    late_hi = start - files_per_trigger * slice_us - (WATERMARK_DELAY_S + 60) * 1_000_000
    n_late = int(file_events * LATE_FRAC) if late_hi - 120 * 1_000_000 > EPOCH_US else 0
    n_base = file_events - n_ooo - n_late

    parts = [
        _events(
            start + rng.integers(0, slice_us, n_base),
            _zipf_users(rng, n_base, CAPTURE_USERS),
            rng,
        )
    ]
    if n_ooo:
        parts.append(
            _events(
                start - slice_us + rng.integers(0, slice_us, n_ooo),
                _zipf_users(rng, n_ooo, CAPTURE_USERS),
                rng,
            )
        )
    if n_late:
        parts.append(
            _events(
                late_hi - rng.integers(0, 120 * 1_000_000, n_late),
                _zipf_users(rng, n_late, CAPTURE_USERS),
                rng,
            )
        )
    late = np.zeros(file_events, dtype=bool)
    late[file_events - n_late:] = True
    ooo = np.zeros(file_events, dtype=bool)
    ooo[n_base:n_base + n_ooo] = True
    order = rng.permutation(file_events)
    df = pd.concat(parts, ignore_index=True).iloc[order].reset_index(drop=True)
    return df, late[order], ooo[order]


# --- session store (viewer) -----------------------------------------------
STORE_DAYS = 30
STORE_USERS = 5_000
STORE_CHUNK_S = 3600  # no stored session is longer than an hour


def store_events(seed: int, days: int, events_per_day: int) -> pd.DataFrame:
    """``days`` days of events from EPOCH on, for the store the viewer
    reads. A diurnal profile makes some hours busier than others."""
    rng = np.random.default_rng([seed, 2])
    n = days * events_per_day
    hour_w = 1.0 + 0.8 * np.sin(np.arange(24) / 24 * 2 * np.pi - np.pi / 2)
    hour_w /= hour_w.sum()
    day = rng.integers(0, days, n)
    hour = rng.choice(24, n, p=hour_w)
    ts = EPOCH_US + day * DAY_US + hour * 3_600_000_000 + rng.integers(0, 3_600_000_000, n)
    return _events(np.sort(ts), _zipf_users(rng, n, STORE_USERS), rng)


def append_hour(seed: int, k: int, events: int) -> pd.DataFrame:
    """The ``k``-th hour appended after the store's last day."""
    rng = np.random.default_rng([seed, 3, k])
    start = EPOCH_US + STORE_DAYS * DAY_US + k * 3_600_000_000
    ts = start + rng.integers(0, 3_600_000_000, events)
    return _events(np.sort(ts), _zipf_users(rng, events, STORE_USERS), rng)


# --- viewer request mix ---------------------------------------------------
KINDS = ("search", "spiview", "spigraph", "unique", "multiunique", "timeline", "connections")
# One round of the analyst's loop: (kind, window length in days, time
# bounding). Every round has this shape whatever the seed, so runs
# measure the same mix; the seed picks where windows start and the
# expressions' literals. Window length decides how many day partitions
# survive pruning.
ROUND = (
    ("search", 1, "last"),
    ("spiview", 3, "first"),
    ("timeline", 7, "last"),
    ("search", 2, "either"),
    ("spigraph", 5, "last"),
    ("unique", 1, "first"),
    ("search", 4, "last"),
    ("connections", 7, "either"),
    ("multiunique", 3, "last"),
    ("timeline", 6, "first"),
)
# page offsets of a round's searches, in order
SEARCH_OFFSETS = (0, 0, 50)

# (moloch expression, equivalent SQL over the stored columns); every
# predicate field is non-null in the store, so SQL's three-valued logic
# agrees with the expression language's two-valued one
EXPRESSIONS = (
    ("session.packets >= {p}", "packets >= {p}"),
    ("session.types == {t}", "list_contains(event_types, '{t}')"),
    ("session.types == {t} && session.bytes > {b}", "list_contains(event_types, '{t}') AND tot_bytes > {b}"),
    ("session.user == [{u1},{u2},{u3}]", "user_id IN ({u1}, {u2}, {u3})"),
    ("session.types.cnt >= 2 || session.packets > {p}", "event_types_cnt >= 2 OR packets > {p}"),
    ("!session.types == icmp && session.packets >= 2", "NOT list_contains(event_types, 'icmp') AND packets >= 2"),
    ("session.types == [tcp,udp] && session.user < {u1}",
     "(list_contains(event_types, 'tcp') OR list_contains(event_types, 'udp')) AND user_id < {u1}"),
)


@dataclasses.dataclass(frozen=True)
class Request:
    kind: str
    start: str  # "YYYY-MM-DD HH:MM:SS", UTC
    stop: str
    bounding: str
    expr: str | None = None  # moloch expression (search and spiview)
    sql: str | None = None  # the same predicate in SQL
    offset: int = 0


def _expression(template: int, rng: np.random.Generator) -> tuple[str, str]:
    exp, sql = EXPRESSIONS[template % len(EXPRESSIONS)]
    users = rng.integers(1, 60, 3)
    vals = {
        "p": int(rng.integers(2, 7)),
        "t": str(rng.choice(PROTOCOLS[:3])),
        "b": int(rng.integers(1, 5)) * 1000,
        "u1": int(users[0]), "u2": int(users[1]), "u3": int(users[2]),
    }
    return exp.format(**vals), sql.format(**vals)


TS_FMT = "%Y-%m-%d %H:%M:%S"


def _fmt(us: int) -> str:
    return dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc).strftime(TS_FMT)


def requests(seed: int, rounds: int, *, span_days: int = STORE_DAYS) -> list[Request]:
    """``rounds`` rounds of viewer requests (see ROUND). Searches and
    spiviews carry an expression; expression templates rotate from one
    of them to the next. Windows start on the hour, anywhere inside
    ``span_days`` days from EPOCH."""
    rng = np.random.default_rng([seed, 4])
    out = []
    n_expr = 0
    for _ in range(rounds):
        n_search = 0
        for kind, days, bounding in ROUND:
            length_h = days * 24
            start_h = int(rng.integers(0, max(1, span_days * 24 - length_h + 1)))
            lo = EPOCH_US + start_h * 3_600_000_000
            hi = lo + length_h * 3_600_000_000 - 1_000_000
            expr = sql = None
            offset = 0
            if kind in ("search", "spiview"):
                expr, sql = _expression(n_expr, rng)
                n_expr += 1
            if kind == "search":
                offset = SEARCH_OFFSETS[n_search]
                n_search += 1
            out.append(Request(kind, _fmt(lo), _fmt(hi), bounding, expr, sql, offset))
    return out
