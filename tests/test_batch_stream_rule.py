"""One sessionization rule for batch and stream: the batch sessionizer
runs the capture pipeline's kernel over each key's rows in event-time
order, so it gives the chunk records the stream gives when it sees the
same rows in event-time order. Chunk records are compared, never
sessions summed back from their chunks."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from moloch_spark.operators.sessionize import kernel_input, sessionize_events, timeout_by_protocol
from moloch_spark.streaming.sessionizer import SessionRule, sessionize_bucket, streaming_sessionize
from tests.test_sessionizer_kernel import BASE_US, DEFAULT_S, TIMEOUTS, replay_per_key, run_buckets

SCHEMA = "ts_us long, user_id long, event_type string, value double"
T0_US = BASE_US


def _events(spark, rows):
    """(ts_us, user_id, event_type, value) rows as an events frame."""
    df = spark.createDataFrame(rows, SCHEMA)
    return df.select(F.timestamp_micros("ts_us").alias("ts"), "user_id", "event_type", "value")


def _batch(sess):
    """A sessionize_events result as (user_id, session_seq, first_us,
    last_us, packets, tot_bytes) rows in time order."""
    return sorted(
        tuple(r)
        for r in sess.select(
            "user_id", "session_seq", F.unix_micros("first_packet"), F.unix_micros("last_packet"),
            "packets", "tot_bytes",
        ).collect()
    )


def _inputs(ev, idle_timeout_s):
    """The kernel's input columns over ``ev``, as Spark computes them."""
    return ev.select(*kernel_input(ev, idle_timeout_s)).toPandas()


def _kernel(rows, chunk_s=None):
    """The kernel over ``rows`` as one batch, then every session it left
    open: (key, _Session) pairs in time order."""
    sessions: dict = {}
    closed = sessionize_bucket(sessions, rows, wm_ms=0, now_ms=0, rule=SessionRule.of(chunk_s))
    out = [(k, s) for k, s, _ in closed] + list(sessions.items())
    return sorted(out, key=lambda ks: (ks[0] is None, ks[0] or 0, ks[1].first_us))


def _stream(spark, tmp_path, rows, name, **kw):
    """streaming_sessionize over ``rows`` read as one file, into a
    memory sink. A far later row of key 99 moves the watermark past every
    other key's sessions, so they all close."""
    last = max(r[0] for r in rows)
    src = str(tmp_path / f"{name}_src")
    far = (last + 10 * 3600 * 1_000_000, 99, "tcp", 1.0)
    spark.createDataFrame(rows + [far], SCHEMA).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src).select(
        F.timestamp_micros("ts_us").alias("ts"), "user_id", "event_type", "value"
    )
    q = (
        streaming_sessionize(stream, watermark_delay="1 minute", **kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return sorted(
        tuple(r)
        for r in spark.table(name).where("user_id != 99").select(
            "user_id", "chunk_seq", F.unix_micros("first_packet"), F.unix_micros("last_packet"),
            "packets", "tot_bytes", "root_id",
        ).collect()
    )


def test_chunks_are_cut_on_the_grid_in_batch_kernel_and_stream(spark, tmp_path):
    """One key with events at 0, 3500, 3700 and 7250 s, idle 4000 s,
    chunk_s 3600: the grid from the session's first row cuts three
    chunks, {0, 3500}, {3700} and {7250}, on every path. Cutting
    chunk_s after each chunk's own first row would give two, {0, 3500}
    and {3700, 7250}."""
    rows = [(T0_US + s * 1_000_000, 1, "tcp", 1.0) for s in (0, 3500, 3700, 7250)]
    spans = [(0, 3500), (3700, 3700), (7250, 7250)]
    us = [(T0_US + a * 1_000_000, T0_US + b * 1_000_000) for a, b in spans]

    batch = _batch(sessionize_events(_events(spark, rows), idle_timeout_s=4000, chunk_s=3600))
    assert [(r[1], r[2], r[3]) for r in batch] == [("1-0", *us[0]), ("1-1", *us[1]), ("1-2", *us[2])]

    stream = _stream(spark, tmp_path, rows, "grid_chunks", idle_timeout_s=4000, chunk_s=3600)
    assert [(r[1], r[2], r[3]) for r in stream] == [(0, *us[0]), (1, *us[1]), (2, *us[2])]
    assert {r[6] for r in stream} == {f"1#{T0_US}"}

    kernel = _kernel(_inputs(_events(spark, rows), 4000), chunk_s=3600)
    assert [(s.first_us, s.last_us, s.chunk_seq) for _, s in kernel] == [(*u, i) for i, u in enumerate(us)]


def test_byte_sum_is_exact_in_batch_kernel_and_stream(spark, tmp_path):
    """Two values of 0.00005 are 0.0001 each as decimal(18,4) and sum to
    0.0002, dsum's exact sum, on every path. Summing the floats and
    rounding the sum gives 0.0001. A session whose only value is NULL
    sums to NULL, as SUM does; in the stream that NULL sum is kept in
    the state until the session closes."""
    rows = [(T0_US, 1, "tcp", 0.00005), (T0_US + 1_000_000, 1, "tcp", 0.00005), (T0_US, 3, "tcp", None)]
    want = [(1, 2, 0.0002), (3, 1, None)]

    batch = _batch(sessionize_events(_events(spark, rows), idle_timeout_s=1800))
    assert [(r[0], r[4], r[5]) for r in batch] == want

    stream = _stream(spark, tmp_path, rows, "exact_bytes", idle_timeout_s=1800)
    assert [(r[0], r[4], r[5]) for r in stream] == want

    kernel = _kernel(_inputs(_events(spark, rows), 1800))
    assert [(k, s.packets, s.tot_bytes) for k, s in kernel] == [(1, 2, 2), (3, 1, None)]  # unscaled


def test_sessionize_events_schema_is_the_same_with_and_without_chunks(spark):
    """Names, types and order of the wide session row; chunking adds
    root_seq and makes session_seq the `root-grid index` string."""
    ev = _events(spark, [(T0_US, 1, "tcp", 1.0)])
    common = [("first_packet", "timestamp"), ("last_packet", "timestamp"), ("packets", "bigint"),
              ("tot_bytes", "double"), ("event_types", "array<string>"), ("event_types_cnt", "bigint"),
              ("length_ms", "bigint"), ("session_id", "string")]

    def schema(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert schema(sessionize_events(ev)) == [("user_id", "bigint"), ("session_seq", "bigint")] + common
    assert schema(sessionize_events(ev, chunk_s=600)) == (
        [("user_id", "bigint"), ("session_seq", "string"), ("root_seq", "bigint")] + common
    )


# the watermark delay covers the largest idle timeout: a session's timer
# (its newest row plus that row's timeout) then fires only once the key's
# next row is more than any timeout away, so in-order micro-batches
# close exactly what one batch closes
DELAY_MS = max([DEFAULT_S, *TIMEOUTS.values()]) * 1000
# a chunk shorter than most idle timeouts: sessions run to three and
# more chunks, where a grid cut and a cut chunk_s after the chunk's own
# first row part ways
CHUNK_S = 2
GAPS = st.one_of(
    st.sampled_from([0, 0, 1, 999_999, 1_000_001, 2_000_000, 3_000_000, 3_000_001, 5_000_001,
                     8_000_001, 12_000_000]),
    st.integers(0, 1_500_000),
    st.integers(0, 9_000_000),
)


@st.composite
def event_rows(draw):
    """(ts_us, user_id, event_type, value) rows: NULL keys and types,
    tied times, values with more than 4 decimals or NULL, mixed
    protocols; listed in arrival order, which need not be time order."""
    clock, rows = T0_US, []
    for _ in range(draw(st.integers(1, 25))):
        clock += draw(GAPS)
        rows.append((
            clock,
            draw(st.sampled_from([0, 1, 2**62 + 7, None])),
            draw(st.sampled_from(["tcp", "udp", "icmp", "esp", None])),
            draw(st.sampled_from([1.0, 0.25, 0.00005, 0.00015, 123.45678, 1e-5, None])),
        ))
    return draw(st.permutations(rows))


def _record(key, root_us, first_us, last_us, packets, tot_bytes, types, chunk_s):
    grid = 0 if chunk_s is None else (first_us - root_us) // (chunk_s * 1_000_000)
    return ((key is None, key or 0), root_us, first_us, last_us, packets, tot_bytes,
            tuple(sorted(t for t in types if t is not None)), grid)


@pytest.fixture(scope="module")
def timeout():
    return timeout_by_protocol("event_type", TIMEOUTS, default_s=DEFAULT_S)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture,
                                                                 HealthCheck.too_slow])
@given(event_rows(), st.sampled_from([None, CHUNK_S]), st.integers(1, 4), st.integers(1, 4))
def test_batch_kernel_and_in_order_stream_give_the_same_chunks(spark, timeout, rows, chunk_s, n_batches, n_buckets):
    """The same chunk records (key, root first, first, last, packets,
    bytes, types, grid index) from sessionize_events, from the kernel
    replayed in event-time order as one batch, from the rule's per-key
    replay, and from the bucketed stream over the rows split into
    in-order micro-batches with a watermark. The kernel sides get the
    inputs Spark computes."""
    ev = _events(spark, rows)
    got = sessionize_events(ev, idle_timeout_s=timeout, chunk_s=chunk_s)
    if chunk_s is not None:
        got = got.withColumn("session_seq", F.col("root_seq"))
    # a nullable long comes to pandas as float64: keep 64-bit keys exact
    pdf = got.select(
        F.col("user_id").isNull().alias("key_null"), F.coalesce("user_id", F.lit(0)).alias("uid"),
        "session_seq", F.unix_micros("first_packet").alias("first_us"),
        F.unix_micros("last_packet").alias("last_us"), "packets", "tot_bytes", "event_types",
    ).toPandas()
    root = pdf.groupby(["key_null", "uid", "session_seq"])["first_us"].transform("min")
    batch = sorted(
        _record(None if kn else int(k), int(r), int(f), int(la), int(p),
                None if pd.isna(b) else float(b), t, chunk_s)
        for kn, k, r, f, la, p, b, t in zip(pdf["key_null"], pdf["uid"], root, pdf["first_us"],
                                            pdf["last_us"], pdf["packets"], pdf["tot_bytes"],
                                            pdf["event_types"])
    )

    # the kernel over the inputs Spark computes, in event-time order
    inp = _inputs(ev, timeout).sort_values("ts_us", kind="stable")
    kernel = sorted(
        _record(k, s.root_us, s.first_us, s.last_us, s.packets,
                None if s.tot_bytes is None else s.tot_bytes / 10_000, s.types, chunk_s)
        for k, s in _kernel(inp, chunk_s)
    )
    # ... and the rule's per-key replay, written apart from the kernel,
    # over the same (key, ts_us, event type, unscaled value) rows
    krows = [
        (None if kn else int(k), int(t), e, None if vn else int(v))
        for k, kn, t, e, v, vn in zip(inp["user_id"], inp["key_null"], inp["ts_us"], inp["event_type"],
                                      inp["value"], inp["value_null"])
    ]
    rule = SessionRule.of(chunk_s)
    emitted, left = replay_per_key([(krows, 0, 0)], rule)
    assert batch == kernel == _records(emitted[0] + left, chunk_s)

    # the bucketed stream over in-order micro-batches, then two timer
    # passes that close every open session
    cuts = [0, *sorted({len(krows) * i // n_batches for i in range(1, n_batches)}), len(krows)]
    batches, max_us = [], 0
    for a, b in zip(cuts, cuts[1:]):
        batches.append((krows[a:b], max(0, max_us // 1000 - DELAY_MS), 0))
        max_us = max([max_us] + [r[1] for r in krows[a:b]])
    final_wm = max_us // 1000 - DELAY_MS
    batches += [([], final_wm, 0), ([], final_wm + 10 * DELAY_MS, 0)]
    emitted, left = run_buckets(batches, rule, n_buckets)
    assert left == []
    assert _records([r for out in emitted for r in out], chunk_s) == kernel


def _records(canon, chunk_s):
    """Chunk records of the kernel tests' canonical session tuples."""
    return sorted(
        _record(None if kn else k, r, f, la, p, None if b is None else b / 10_000, t, chunk_s)
        for (kn, k), _seq, f, la, p, b, t, r, _c, _o in canon
    )
