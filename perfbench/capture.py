"""capture_stream: drain a backlog of event files through the streaming
sessionizer into the day-partitioned session store.

Nearly all of the time is in ``streaming.sessionizer`` (a Python
applyInPandasWithState call per key plus the state store) and in the
``write_sessions_stream`` sink; no expression or endpoint code runs.
The backlog is one warm-up file plus ``--seconds`` x NOMINAL_EVENTS_PER_S
events, so one seed and one run length always give the same input. The
first micro-batch (Python worker start, codegen, state store and sink
creation) counts as set-up; the timed window is the rest of the drain.
"""

from __future__ import annotations

import math
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

import gen
import oracle
import sparkmetrics

FILE_EVENTS = 1000
FILES_PER_TRIGGER = 1
NOMINAL_EVENTS_PER_S = 400
DRAIN_TIMEOUT_S = 110

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def stage(path: str, seed: int, n_files: int):
    """Write the backlog as equal-sized parquet files with strictly
    increasing mtimes (the file source orders batches by mtime).
    Returns all rows, each row's file index and the late-row mask."""
    os.makedirs(path)
    frames, lates = [], []
    for i in range(n_files):
        df, late, _ = gen.capture_file(seed, i, FILE_EVENTS, FILES_PER_TRIGGER)
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), f, coerce_timestamps="us")
        os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
        frames.append(df)
        lates.append(late)
    file_index = np.repeat(np.arange(n_files), [len(f) for f in frames])
    return pd.concat(frames, ignore_index=True), file_index, np.concatenate(lates)


def drain(ctx, src: str):
    """Run the capture pipeline over everything in ``src`` (availableNow).
    The timed window opens when the first micro-batch, which warms the
    Python workers, codegen and the sink, has finished. Returns (query,
    store path, perf time the drain ended)."""
    from moloch_spark.sources import session_store
    from moloch_spark.streaming import sessionizer

    store = os.path.join(ctx.work, "store")
    stream = ctx.spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(src)
    sessions = sessionizer.streaming_sessionize(
        stream,
        idle_timeout_s=gen.IDLE_TIMEOUT_S,
        chunk_s=gen.CHUNK_S,
        timeout_by_type=gen.TIMEOUT_BY_TYPE,
        watermark_delay=gen.WATERMARK_DELAY,
    )
    q = (
        session_store.write_sessions_stream(sessions, store, os.path.join(ctx.work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.perf_counter() + DRAIN_TIMEOUT_S
    opened = False
    while not q.awaitTermination(0.2):
        if not opened and q.lastProgress is not None:
            ctx.window_start()
            opened = True
        if time.perf_counter() > deadline:
            q.stop()
            raise TimeoutError(f"capture drain did not finish in {DRAIN_TIMEOUT_S}s")
    end = time.perf_counter()
    if q.exception() is not None:
        raise RuntimeError(f"capture drain failed: {q.exception()}")
    if not opened:
        ctx.window_start()
    ctx.window_end()
    return q, store, end


def reference(ctx, accepted):
    """The batch sessionizer over the accepted events, no chunking."""
    from moloch_spark.operators.sessionize import sessionize_events, timeout_by_protocol

    ev = ctx.spark.createDataFrame(accepted, schema=SCHEMA)
    timeout = timeout_by_protocol("event_type", gen.TIMEOUT_BY_TYPE, default_s=gen.IDLE_TIMEOUT_S)
    return (
        sessionize_events(ev, idle_timeout_s=timeout)
        .select("user_id", "first_packet", "last_packet", "packets", "tot_bytes", "event_types")
        .toPandas()
    )


def read_store(store: str):
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT * FROM read_parquet('{store}/day=*/*.parquet', hive_partitioning = 1)"
        ).df()
    finally:
        con.close()


def store_size(store: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


def run(ctx) -> dict:
    # one warm-up file ahead of the timed backlog
    n_files = 1 + math.ceil(ctx.seconds * NOMINAL_EVENTS_PER_S / FILE_EVENTS)
    allev, file_index, late = stage(os.path.join(ctx.work, "src"), ctx.seed, n_files)
    ctx.gc()

    q, store, end = drain(ctx, os.path.join(ctx.work, "src"))
    progress = q.recentProgress
    first, timed = progress[0], [p for p in progress[1:] if p["numInputRows"] > 0]
    window_s = end - ctx.wall_to_perf(progress[1]["timestamp"])
    events = sum(p["numInputRows"] for p in progress)
    latencies = [p["durationMs"]["triggerExecution"] for p in timed]

    # the store must hold what sessionizing in arrival order gives, and
    # the batch sessionizer what sessionizing in event-time order gives
    t0 = time.perf_counter()
    problems = []
    if events != len(allev):
        problems.append(f"stream read {events} of {len(allev)} staged events")
    stored = read_store(store)
    accepted = allev[~late].reset_index(drop=True)
    arrival = oracle.replay_stream(accepted, file_index[~late])
    event_time = oracle.replay_stream(accepted, np.zeros(len(accepted), dtype=int))
    problems += oracle.check_capture(stored, arrival, accepted)
    unlike = oracle.sessions_differing(reference(ctx, accepted), event_time)
    if unlike:
        problems.append(f"{unlike} sessions of the batch sessionizer differ from sessionizing in event-time order")
    ctx.diag["check_s"] = time.perf_counter() - t0

    files, nbytes = store_size(store)
    for p in progress:
        start = ctx.wall_to_perf(p["timestamp"])
        ctx.tracer.add("stream.batch", start, start + p["durationMs"]["triggerExecution"] / 1000, f"batch{p['batchId']}")
    layer = sparkmetrics.progress_metrics(progress[1:])
    layer.update({"sessionizer.sessions_out": len(stored), "store.files_total": files, "store.bytes_total": nbytes})
    return {
        "setup_s": first["durationMs"]["triggerExecution"] / 1000,
        "throughput_per_s": sum(p["numInputRows"] for p in progress[1:]) / window_s,
        "latency_ms": latencies,
        "store_bytes_per_session": nbytes / max(1, len(stored)),
        "attempted": len(timed) + 1,
        "failed": 1 if problems else 0,
        "problems": problems,
        "layer": layer,
        "info": {
            "events": events, "late_rows": int(late.sum()), "batches": len(timed), "sessions": len(stored),
            # sessions on which arrival order and event-time order
            # disagree: a stream cannot move a session's start back or
            # merge across a gap that a late row fills
            "stream_sessions_unlike_batch": oracle.sessions_differing(arrival, event_time),
        },
    }
