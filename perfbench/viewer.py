"""viewer_append: one analyst in a closed loop, with appends.

Set-up sessionizes STORE_DAYS days of seeded events into the
day-partitioned store. The timed loop then runs a fixed number of
rounds of the seeded request mix (gen.ROUND), one per ROUND_S seconds
of the run length, sending each request only after the previous answer
is back. Every request opens the store
(``read_sessions``), bounds it in time (``time_bounded``, which prunes
day partitions), compiles its expression if it has one, and collects
one endpoint's answer. On the same thread, one sessionized hour is
appended after every APPEND_EVERY-th request of a round and the store
is compacted after every COMPACT_EVERY-th append, so every round does
the same work.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import duckdb

import gen
import oracle
import sparkmetrics
import stats
from capture import store_size

EVENTS_PER_DAY = 600
APPEND_EVENTS = 1000
APPEND_EVERY = 5
COMPACT_EVERY = 2
# request windows may reach the appended hours
SPAN_DAYS = gen.STORE_DAYS + 1
# the timed rounds are fixed by the run length, so every run does the
# same work; a round takes 5-8 s on a 4-core box
ROUND_S = 4
# rounds generated past the timed ones, to draw check requests from
SPARE_ROUNDS = 20
# the driver JVM's JIT keeps speeding rounds up for ~4 rounds after the
# first (10 s -> 6.7 s a round on a 4-core box): warm through most of
# that slope; only the first warm-up round appends and compacts
WARM_ROUNDS = 3


def _sessionize(ctx, events):
    """Sessions of ``events`` (batch sessionizer, hour-long chunks),
    materialized so that the store write is timed on its own."""
    from moloch_spark.operators.sessionize import sessionize_events, timeout_by_protocol

    with ctx.tracer.span("sessionize.events"):
        ev = ctx.spark.createDataFrame(events)
        timeout = timeout_by_protocol("event_type", gen.TIMEOUT_BY_TYPE, default_s=gen.IDLE_TIMEOUT_S)
        return sessionize_events(ev, idle_timeout_s=timeout, chunk_s=gen.STORE_CHUNK_S).localCheckpoint()


def _write(ctx, sessions, path: str, mode: str) -> None:
    from moloch_spark.sources import session_store

    with ctx.tracer.span("store.write"):
        session_store.write_sessions(sessions, path, mode=mode)


def _endpoint(req: gen.Request, df, pred):
    from moloch_spark.operators import endpoints as E
    from pyspark.sql import functions as F

    kind = req.kind
    if kind == "search":
        return E.sessions_search(
            df, pred, sort=[("last_packet", False), ("session_id", True)],
            limit=oracle.SEARCH_LIMIT, offset=req.offset, fields=oracle.SEARCH_FIELDS,
        )
    if kind == "spiview":
        return E.spiview(df, oracle.SPIVIEW_FIELDS, where=pred)
    if kind == "spigraph":
        return E.spigraph(df, "user_id", "last_packet", interval="hour", k=oracle.SPIGRAPH_K,
                          sums=[("tot_bytes", "bytes")])
    if kind == "unique":
        return E.unique(df, "event_types")
    if kind == "multiunique":
        return E.multiunique(df, oracle.MULTIUNIQUE_FIELDS, k=oracle.MULTIUNIQUE_K)
    if kind == "timeline":
        return E.timeline(df, "last_packet", interval="hour", sums=[("tot_bytes", "bytes"), ("packets", "pkts")])
    if kind == "connections":
        edges = df.select("user_id", F.explode("event_types").alias("proto"), "tot_bytes")
        return E.connections(edges, "user_id", "proto", sums=[("tot_bytes", "bytes")],
                             min_conn=oracle.CONNECTIONS_MIN)
    raise ValueError(kind)


class Viewer:
    """Runs requests against one store and keeps their per-layer numbers."""

    def __init__(self, ctx, store: str):
        from moloch_spark.catalog import sessions_catalog
        from moloch_spark.expr import CompileContext

        self.ctx, self.store = ctx, store
        self.compile_ctx = CompileContext(catalog=sessions_catalog())
        self.n = 0
        self.per_request: list[dict] = []

    def query(self, req: gen.Request) -> list:
        from moloch_spark import expr
        from moloch_spark.sources import session_store

        tr, sc = self.ctx.tracer, self.ctx.spark.sparkContext
        self.n += 1
        rid = f"req{self.n}"
        if tr.enabled:
            sc.setJobGroup(rid, req.kind)
        with tr.span("bench.request", rid=rid):
            with tr.span("store.open"):
                df = session_store.read_sessions(self.ctx.spark, self.store)
            with tr.span("store.time_bounded"):
                df = session_store.time_bounded(df, start=req.start, stop=req.stop, bounding=req.bounding)
            pred = None
            if req.expr:
                with tr.span("expr.parse"):
                    node = expr.parse(req.expr)
                with tr.span("expr.compile"):
                    pred = expr.compile_expression(node, self.compile_ctx)
            with tr.span(f"endpoints.{req.kind}"):
                out = _endpoint(req, df, pred)
                rows = out.collect()
        if tr.enabled:
            with tr.overhead():
                m = sparkmetrics.plan_metrics(out)
                m["jobs"], m["tasks"] = sparkmetrics.group_jobs_tasks(sc, rid)
                m["rows_returned"] = len(rows)
                self.per_request.append(m)
        return rows


def _duck(store: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW s AS SELECT * FROM read_parquet('{store}/day=*/*.parquet', "
        "hive_partitioning = 1, hive_types = {'day': VARCHAR})"
    )
    return con


def check(store: str, answers) -> list[str]:
    """Compare each (request, rows) answer with DuckDB over the store's
    current files."""
    con = _duck(store)
    try:
        return [
            f"{req.kind} {req.start}..{req.stop} ({req.bounding}, {req.expr!r}) differs from DuckDB"
            for req, rows in answers
            if not oracle.same_answer(rows, con.execute(oracle.viewer_sql(req)).fetchall(), req.kind in oracle.ORDERED)
        ]
    finally:
        con.close()


def _build(ctx, events, path: str) -> float:
    t0 = time.perf_counter()
    with ctx.tracer.span("bench.build", rid="build"):
        _write(ctx, _sessionize(ctx, events), path, "overwrite")
    return time.perf_counter() - t0


class Appender:
    """Appends the next sessionized hour after the store's last day and
    compacts every COMPACT_EVERY appends."""

    def __init__(self, ctx, store: str, seed: int):
        self.ctx, self.store, self.seed, self.k = ctx, store, seed, 0
        self.append_s: list[float] = []
        self.compact_s: list[float] = []

    def next_window(self) -> gen.Request:
        """A search over the hour the next append() writes."""
        lo = gen.EPOCH + dt.timedelta(days=gen.STORE_DAYS, hours=self.k)
        hi = lo + dt.timedelta(hours=1) - dt.timedelta(seconds=1)
        return gen.Request("search", lo.strftime(gen.TS_FMT), hi.strftime(gen.TS_FMT), "last")

    def append(self) -> None:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("bench.append", rid=f"append{self.k}"):
            hour = gen.append_hour(self.seed, self.k, APPEND_EVENTS)
            _write(self.ctx, _sessionize(self.ctx, hour), self.store, "append")
        self.append_s.append(time.perf_counter() - t0)
        self.k += 1
        if self.k % COMPACT_EVERY == 0:
            self.compact()

    def compact(self) -> None:
        from moloch_spark.sources import session_store

        t0 = time.perf_counter()
        with self.ctx.tracer.span("store.compact", rid=f"compact{self.k}"):
            session_store.compact_partitions(self.ctx.spark, self.store)
        self.compact_s.append(time.perf_counter() - t0)


def _round(viewer: Viewer, reqs, appender: Appender | None, on_answer=None):
    """One round: the requests, with an append after every APPEND_EVERY-th
    when there is an appender. Returns the requests' latencies in ms and
    how many failed."""
    latencies, failed = [], 0
    for i, req in enumerate(reqs, 1):
        t0 = time.perf_counter()
        try:
            rows = viewer.query(req)
            if on_answer is not None:
                on_answer(req, rows)
        except Exception as e:  # a failed request counts, the analyst goes on
            failed += 1
            viewer.ctx.diag.setdefault("errors", []).append(f"{req.kind}: {e}"[:300])
        latencies.append((time.perf_counter() - t0) * 1000)
        if appender is not None and i % APPEND_EVERY == 0:
            appender.append()
    return latencies, failed


def run(ctx) -> dict:
    events = gen.store_events(ctx.seed, gen.STORE_DAYS, EVENTS_PER_DAY)
    store = os.path.join(ctx.work, "store")
    setup_s = _build(ctx, events, store)
    files0, bytes0 = store_size(store)
    con = _duck(store)
    n_sessions = con.execute("SELECT count(*) FROM s").fetchone()[0]
    con.close()

    # warm every request kind, the append and the compaction with
    # WARM_ROUNDS rounds of another seed's requests
    t0 = time.perf_counter()
    appender = Appender(ctx, store, ctx.seed)
    warm = Viewer(ctx, store)
    warm_reqs = gen.requests(ctx.seed + 7919, WARM_ROUNDS, span_days=SPAN_DAYS)
    for k in range(WARM_ROUNDS):
        _round(warm, warm_reqs[k * len(gen.ROUND):(k + 1) * len(gen.ROUND)], appender if k == 0 else None)
    appender.append_s.clear()
    appender.compact_s.clear()
    ctx.gc()
    ctx.diag["warmup_s"] = time.perf_counter() - t0

    # answers to check: the first request of each kind whose days no
    # append touches, so the store still holds what it was answered from
    first_appended = (gen.EPOCH + dt.timedelta(days=gen.STORE_DAYS)).date().isoformat()

    def unchanged(req: gen.Request) -> bool:
        return oracle.day_bounds(req)[1] < first_appended

    answers = {}

    def keep(req, rows):
        if req.kind not in answers and unchanged(req):
            answers[req.kind] = (req, rows)

    rounds = max(1, round(ctx.seconds / ROUND_S))
    reqs = gen.requests(ctx.seed, rounds + SPARE_ROUNDS, span_days=SPAN_DAYS)
    per_round = len(gen.ROUND)
    viewer = Viewer(ctx, store)
    latencies, failed, round_s = [], 0, []
    ctx.window_start()
    for k in range(rounds):
        t0 = time.perf_counter()
        lat, f = _round(viewer, reqs[k * per_round:(k + 1) * per_round], appender, keep)
        round_s.append(time.perf_counter() - t0)
        latencies += lat
        failed += f
    ctx.window_end()
    wall = ctx.window[1] - ctx.window[0]
    done = len(latencies)
    append_s, compact_s = list(appender.append_s), list(appender.compact_s)

    t0 = time.perf_counter()
    after = Viewer(ctx, store)
    for kind in gen.KINDS:  # kinds whose timed answers all touched appended days
        if kind not in answers:
            req = next(r for r in reqs if r.kind == kind and unchanged(r))
            answers[kind] = (req, after.query(req))
    checked = list(answers.values())
    # read the next hour's window, append that hour, read it again: the
    # second answer must include the append
    req = appender.next_window()
    after.query(req)
    appender.append()
    checked.append((req, after.query(req)))
    problems = check(store, checked)
    ctx.diag["check_s"] = time.perf_counter() - t0

    files, nbytes = store_size(store)
    layer = {
        "store.files_total": files,
        "store.bytes_total": nbytes,
        "sessionize.ms": stats.median(ctx.tracer.durations("sessionize.events") or [0.0]) * 1000,
    }

    def window_median(name: str) -> float:
        return stats.median(ctx.tracer.durations(name, *ctx.window) or [0.0])

    layer["store.open_ms"] = window_median("store.open") * 1000
    layer["store.write_ms"] = window_median("store.write") * 1000
    layer["expr.parse_us"] = window_median("expr.parse") * 1e6
    layer["expr.compile_us"] = window_median("expr.compile") * 1e6
    for kind in gen.KINDS:
        layer[f"endpoints.{kind}.ms_p50"] = window_median(f"endpoints.{kind}") * 1000
    if viewer.per_request:
        pr = viewer.per_request
        layer.update(
            {
                "store.files_scanned": stats.median([m["files_scanned"] for m in pr]),
                "store.partitions_scanned": stats.median([m["partitions_scanned"] for m in pr]),
                "endpoints.jobs": stats.median([m["jobs"] for m in pr]),
                "endpoints.tasks": stats.median([m["tasks"] for m in pr]),
                "endpoints.shuffle_bytes": stats.median([m["shuffle_bytes"] for m in pr]),
                "endpoints.rows_scanned_per_row_returned": stats.median(
                    [m["rows_scanned"] / max(1, m["rows_returned"]) for m in pr]
                ),
            }
        )
    layer["viewer.append_ms_p50"] = stats.median(append_s) * 1000
    layer["store.compact_ms"] = stats.median(compact_s) * 1000
    info = {"requests": done, "round_s": round_s, "appends": len(append_s),
            "compactions": len(compact_s), "store_files_after_setup": files0,
            "sessions_after_setup": n_sessions, "checked": len(checked)}
    return {
        "setup_s": setup_s,
        "throughput_per_s": done / wall,
        "latency_ms": latencies,
        "store_bytes_per_session": bytes0 / n_sessions,
        "attempted": done + len(append_s) + len(checked),
        "failed": failed + len(problems),
        "problems": problems,
        "layer": layer,
        "info": info,
    }
