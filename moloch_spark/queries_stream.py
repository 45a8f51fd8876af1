"""Hunts, cron standing queries, rootId chunking, and the streaming
sessionizer exposed through the driver gate."""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moloch_spark.catalog import events_catalog
from moloch_spark.operators.hunts import HuntSpec, hunt
from moloch_spark.operators.sessionize import sessionize_events
from moloch_spark.registry import register
from moloch_spark.sources.tables import load_table
from moloch_spark.streaming.cron import CronQuery, CronRunner
from moloch_spark.streaming.sessionizer import streaming_sessionize


def _await_stream(q, timeout_s: float = 300.0) -> None:
    """awaitTermination that FAILS LOUD on timeout (ADVICE r7): the
    availableNow fixtures here feed memory-sink gates and
    process-memoized durable indexes — silently proceeding on a False
    return would serve a half-streamed result, and for the
    `_memoized_index` fixtures would poison the cache for the whole
    process, surfacing later as an unrelated-looking hash mismatch."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id} did not drain within {timeout_s:.0f}s; "
            "aborting instead of serving a partial fold"
        )


def _state_path(name: str = "state.json") -> str:
    """Fresh per-call checkpoint/state file path inside a private
    mkdtemp dir — race-free (unlike the deprecated tempfile.mktemp)
    while still handing the component a path that does not exist yet,
    which is the 'new cron query / new hunt queue' fixture contract."""
    return os.path.join(tempfile.mkdtemp(prefix="mstate_"), name)

# ---------------------------------------------------------------------------
# hunts (viewer/apiHunts.js): payload content search
# ---------------------------------------------------------------------------


@register(
    "hunt_ascii_and_regex",
    """
    SELECT doc_id, 'h-ascii' AS hunt_id FROM documents
    WHERE contains(lower(text), 'merge')
    UNION ALL
    SELECT doc_id, 'h-regex' AS hunt_id FROM documents
    WHERE regexp_matches(text, 'sc[ae]n')
    ORDER BY hunt_id, doc_id
    """,
)
def q_hunt(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    a = hunt(docs, HuntSpec("h-ascii", "ascii", "MERGE"), payload_cols=["text"], id_col="doc_id")
    r = hunt(docs, HuntSpec("h-regex", "regex", "sc[ae]n"), payload_cols=["text"], id_col="doc_id")
    return a.unionByName(r)


@register(
    "hunt_job_control",
    """
    SELECT event_id, 'h-k6' AS hunt_id FROM events
    WHERE contains(props, '"k": 6')
    UNION ALL
    SELECT event_id, 'h-k1x' AS hunt_id FROM events
    WHERE regexp_matches(props, '"k": 1[0-9]\\}')
    ORDER BY hunt_id, event_id
    """,
)
def q_hunt_job_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hunt job-queue surface (viewer/apiHunts.js:370-460,553-561): two
    jobs advance in lastPacketTime slices through the control table,
    with a pause→resume cycle on the first job mid-run. The union of
    every slice must equal the one-shot filters the oracle runs —
    proving the checkpointed slicing loses and repeats nothing across
    job-control transitions."""
    from moloch_spark.operators.hunts import HuntJobQueue, HuntSpec

    ev = load_table(spark, "events", sf_dir)
    queue = HuntJobQueue(_state_path())
    queue.submit(HuntSpec("h-k6", "asciicase", '"k": 6'))
    queue.submit(HuntSpec("h-k1x", "regex", '"k": 1[0-9]\\}'))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    kw = dict(payload_cols=["props"], id_col="event_id", ts_col="ts",
              slice_s=7 * 86400, start_ts=lo, upto_ts=hi)
    parts = []
    parts.append(queue.run_tick(ev, **kw))      # h-k6 slice 1
    queue.pause("h-k6")                          # pause mid-job
    while queue.jobs()["h-k1x"]["status"] != "finished":
        parts.append(queue.run_tick(ev, **kw))   # h-k1x runs while paused
    queue.resume("h-k6")                         # continue from checkpoint
    while queue.jobs()["h-k6"]["status"] != "finished":
        parts.append(queue.run_tick(ev, **kw))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "hunt_node_fanout",
    """
    SELECT event_id, CAST(user_id % 3 AS BIGINT) AS node,
           'h-node' AS hunt_id
    FROM events
    WHERE contains(props, '"k": 2')
    ORDER BY node, event_id
    """,
)
def q_hunt_node_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node hunt fan-out (viewer/apiHunts.js:370-460: each session
    is hunted on the capture node that holds its packets;
    apiHunts.js:553-561 keeps the restart checkpoint). One job fans out
    across a 3-node fixture; every tick advances ALL unfinished nodes
    one slice in a single scan (the per-node half-open windows are one
    disjunctive predicate — no per-node driver loop over data), each
    node owns an independent lastPacketTime checkpoint, and the job is
    paused and resumed mid-run. The union of every tick's matches must
    hash-match the one-shot oracle filter — the checkpointed per-node
    slicing loses and repeats nothing across job-control transitions.
    (Checkpoint-independence per node is additionally pinned in
    tests/test_streaming.py.)"""
    from moloch_spark.operators.hunts import HuntJobQueue, HuntSpec

    ev = load_table(spark, "events", sf_dir).withColumn(
        "node", F.pmod(F.col("user_id"), F.lit(3))
    )
    queue = HuntJobQueue(_state_path())
    queue.submit(HuntSpec("h-node", "asciicase", '"k": 2'))
    bounds = {
        r["n"]: (r["lo"], r["hi"])
        for r in ev.groupBy(F.col("node").alias("n"))
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()
    }
    kw = dict(payload_cols=["props"], id_col="event_id", ts_col="ts",
              node_col="node", slice_s=7 * 86400, bounds=bounds)
    parts = [queue.run_tick_per_node(ev, **kw)]      # slice 1, all nodes
    queue.pause("h-node")
    assert queue.run_tick_per_node(ev, **kw) is None  # paused: no work
    queue.resume("h-node")                            # checkpoints retained
    while queue.jobs()["h-node"]["status"] != "finished":
        t = queue.run_tick_per_node(ev, **kw)
        if t is not None:
            parts.append(t)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# cron standing query: one tick with a pinned clock (the incremental
# checkpoint mechanics are exercised in tests/test_streaming.py)
# ---------------------------------------------------------------------------


@register(
    "cron_query_tick",
    """
    SELECT event_id, ts, 'alert' AS tags, 'errs' AS cron_name
    FROM events
    WHERE ts <= TIMESTAMP '2024-01-15 00:00:00' - INTERVAL 90 SECOND
      AND event_type = 'error'
    ORDER BY event_id
    """,
)
def q_cron_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    runner = CronRunner(
        _state_path(), events_catalog()
    )  # fresh state: first tick scans from the epoch, like a new cron query
    out = runner.run_once(
        ev,
        CronQuery("errs", "event.type == error", tags=["alert"]),
        now=dt.datetime(2024, 1, 15, 0, 0, 0),
        id_cols=["event_id", "ts"],
    )
    # CSV-join for the driver canonicalizer (list cells are unhashable there)
    return out.withColumn("tags", F.array_join("tags", ","))


@register(
    "cron_forward_exactly_once",
    """
    SELECT event_id, user_id, ts, 'fwd' AS cron_name
    FROM events
    WHERE ts <= TIMESTAMP '2024-02-05 00:00:00' - INTERVAL 90 SECOND
      AND event_type = 'click'
    ORDER BY event_id
    """,
)
def q_cron_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cron forward:<cluster> action (viewer.js:2334-2336 + the
    sendSessionsListQL shipment at :2259-2265): three ticks of a
    standing query append their matches to the per-cluster forward
    outbox, each tick committed exactly once by a window-keyed atomic
    rename. The gate returns the OUTBOX contents after all ticks — it
    hash-matches the one-shot oracle filter only if the half-open
    watermark chain produced no duplicate and no gap, which is the
    exactly-once contract. (Crash-between-write-and-state-save is
    pinned in tests/test_streaming.py.)"""
    import os

    ev = load_table(spark, "events", sf_dir)
    state = _state_path()
    outbox = tempfile.mkdtemp(prefix="cron_fwd_")
    runner = CronRunner(state, events_catalog())
    cq = CronQuery("fwd", "event.type == click", tags=[], action="forward:west")
    for now in (
        dt.datetime(2024, 1, 10, 0, 0, 0),
        dt.datetime(2024, 1, 20, 0, 0, 0),
        dt.datetime(2024, 2, 5, 0, 0, 0),
    ):
        runner.run_once(
            ev, cq, now=now, id_cols=["event_id", "user_id", "ts"], outbox=outbox
        )
    from moloch_spark.streaming.cron import read_outbox

    return read_outbox(spark, outbox, "west")


# ---------------------------------------------------------------------------
# long-session chunking (mid-save rootId semantics, capture/session.c:312)
# ---------------------------------------------------------------------------


@register(
    "sessionize_chunked_rootid",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS root_seq
      FROM seq
    ), chunked AS (
      SELECT *,
             (epoch_ms(ts) - epoch_ms(MIN(ts) OVER (PARTITION BY user_id, root_seq)))
               // 600000 AS chunk_seq
      FROM numbered
    )
    SELECT user_id,
           CAST(root_seq AS VARCHAR) || '-' || CAST(chunk_seq AS VARCHAR) AS session_seq,
           CAST(MIN(root_seq) AS BIGINT) AS root_seq,
           MIN(ts) AS first_packet, MAX(ts) AS last_packet,
           COUNT(*) AS packets,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS tot_bytes,
           COALESCE(array_to_string(list_sort(
             list(DISTINCT event_type) FILTER (event_type IS NOT NULL)), ','),
             '') AS event_types,
           CAST(COALESCE(LEN(list(DISTINCT event_type)
             FILTER (event_type IS NOT NULL)), 0) AS BIGINT) AS event_types_cnt,
           epoch_ms(MAX(ts)) - epoch_ms(MIN(ts)) AS length_ms,
           CAST(user_id AS VARCHAR) || '#' || CAST(root_seq AS VARCHAR) || '-' || CAST(chunk_seq AS VARCHAR) AS session_id
    FROM chunked
    GROUP BY user_id, root_seq, chunk_seq
    """,
)
def q_sessionize_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    # CSV-join for the driver canonicalizer (list cells are unhashable there)
    return sessionize_events(ev, idle_timeout_s=1800, chunk_s=600).withColumn(
        "event_types", F.array_join("event_types", ",")
    )


# ---------------------------------------------------------------------------
# per-protocol idle timeouts (capture/config.c:518-523)
# ---------------------------------------------------------------------------


@register(
    "sessionize_per_proto_timeouts",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >
                     (CASE event_type WHEN 'error' THEN 600
                                      WHEN 'click' THEN 1800
                                      ELSE 3600 END) * 1000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM seq
    )
    SELECT user_id, session_seq,
           MIN(ts) AS first_packet, MAX(ts) AS last_packet,
           COUNT(*) AS packets
    FROM numbered
    GROUP BY 1, 2
    """,
)
def q_sessionize_per_proto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from moloch_spark.operators.sessionize import timeout_by_protocol

    ev = load_table(spark, "events", sf_dir)
    timeout = timeout_by_protocol(
        "event_type", {"error": 600, "click": 1800}, default_s=3600
    )
    return sessionize_events(ev, idle_timeout_s=timeout).select(
        "user_id", "session_seq", "first_packet", "last_packet", "packets"
    )


# ---------------------------------------------------------------------------
# streaming sessionizer (stateful, non-SQL-expressible -> rows-only check)
# ---------------------------------------------------------------------------


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream with ts normalized to an
    instant (the fixtures carry TIMESTAMP(NANOS); smaller SFs arrive as
    micros/ntz)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    d = tempfile.mkdtemp(prefix="events_stream_")
    os.symlink(src, os.path.join(d, "events.parquet"))
    raw_schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(raw_schema).parquet(d)
    # branch on the ACTUAL streamed dtype: nanosAsLong only kicks in when
    # the file really carries TIMESTAMP(NANOS)
    ts_dt = raw_schema["ts"].dataType.simpleString()
    if ts_dt == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_dt == "timestamp_ntz":
        # wall clock == UTC in the fixtures; watermarking needs an instant
        stream = stream.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    return stream


@register(
    "streaming_sessionize_closed",
    # The availableNow run is deterministic, so the stateful stream HAS a
    # SQL oracle: emitted sessions = every in-batch idle close (all but
    # each key's final session) PLUS final sessions whose event-time
    # timer (last_packet + idle timeout) lies strictly before the final
    # watermark (global max ts - the 1-minute delay) — those fire in the
    # no-data timeout batch before the query self-terminates.
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS root_seq
      FROM seq
    ), sess AS (
      SELECT user_id, root_seq,
             MIN(ts) AS first_packet, MAX(ts) AS last_packet,
             COUNT(*) AS packets,
             COALESCE(array_to_string(list_sort(
               list(DISTINCT event_type) FILTER (event_type IS NOT NULL)),
               ','), '') AS event_types,
             CAST(COALESCE(LEN(list(DISTINCT event_type)
               FILTER (event_type IS NOT NULL)), 0) AS BIGINT)
               AS event_types_cnt
      FROM numbered GROUP BY 1, 2
    ), wm AS (SELECT MAX(epoch_ms(ts)) - 60000 AS wm_ms FROM events
           WHERE ts IS NOT NULL)
    SELECT user_id, root_seq, first_packet, last_packet, packets,
           event_types, event_types_cnt,
           CAST(user_id AS VARCHAR) || '#' ||
             CAST(epoch_us(first_packet) AS VARCHAR) AS session_id
    FROM sess
    WHERE root_seq < (SELECT MAX(root_seq) FROM sess s2
                      WHERE s2.user_id = sess.user_id)
       OR epoch_ms(last_packet) + 1800000 < (SELECT wm_ms FROM wm)
    """,
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _stream_events(spark, sf_dir)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_sessionize(stream, idle_timeout_s=1800, watermark_delay="1 minute")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    # driver canonicalizer can't sort array columns -> CSV-join, same as
    # the other array-emitting gates (queries_stream.py:72, queries_api.py)
    return spark.table(name).select(
        "user_id", "root_seq", "first_packet", "last_packet", "packets",
        F.array_join(F.array_sort("event_types"), ",").alias("event_types"),
        "event_types_cnt", "session_id",
    )


@register(
    "streaming_state_cap",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS root_seq
      FROM seq
    ), sess AS (
      SELECT user_id, root_seq,
             MIN(ts) AS first_packet, MAX(ts) AS last_packet,
             COUNT(*) AS packets,
             COALESCE(array_to_string(list_sort(
               list(DISTINCT event_type) FILTER (event_type IS NOT NULL)),
               ','), '') AS event_types,
             CAST(COALESCE(LEN(list(DISTINCT event_type)
               FILTER (event_type IS NOT NULL)), 0) AS BIGINT)
               AS event_types_cnt
      FROM numbered GROUP BY 1, 2
    )
    SELECT user_id, root_seq, first_packet, last_packet, packets,
           event_types, event_types_cnt,
           CAST(user_id AS VARCHAR) || '#' ||
             CAST(epoch_us(first_packet) AS VARCHAR) AS session_id,
           FALSE AS overflow
    FROM sess
    WHERE root_seq < (SELECT MAX(root_seq) FROM sess s2
                      WHERE s2.user_id = sess.user_id)
    """,
)
def q_streaming_state_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maxStreams-analog bounded sessionizer
    (streaming_sessionize_bounded) run over one availableNow batch with
    a TTL that cannot elapse during the run: the deterministic output
    is exactly the in-batch idle closes — every session except each
    key's final (still-open) one, which the oracle predicts with the
    same window SQL as the batch sessionizer. The wall-clock eviction
    path (overflow=True under a stalled watermark) is asserted in
    tests/test_streaming.py where timing is controllable (ref
    capture/config.c:525,568-573 maxStreams force-save)."""
    from moloch_spark.streaming.sessionizer import streaming_sessionize_bounded

    stream = _stream_events(spark, sf_dir)
    name = f"cap_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_sessionize_bounded(
            stream, idle_timeout_s=1800, state_ttl_s=3600,
            watermark_delay="1 minute",
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # ProcessingTimeTimeout keeps the runner alive scheduling no-data
    # timer batches, so availableNow never self-terminates — stop once
    # the batch that consumed the input has committed (its output is
    # fully in the sink at that point; the 3600s TTL cannot fire here)
    import time as _time

    # 50ms poll: the coarse 0.5s tick added up to half a second of pure
    # wait per run to a gate whose real work is ~1s (the progress list
    # is a driver-local read — polling it tighter costs nothing)
    deadline = _time.time() + 180
    while _time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        _time.sleep(0.05)
    q.stop()
    q.awaitTermination(60)
    return spark.table(name).select(
        "user_id", "root_seq", "first_packet", "last_packet", "packets",
        F.array_join(F.array_sort("event_types"), ",").alias("event_types"),
        "event_types_cnt", "session_id", "overflow",
    )


# ---------------------------------------------------------------------------
# pcap-over-ip re-framing (ref capture/reader-pcapoverip.c)
# ---------------------------------------------------------------------------


@register(
    "pcap_over_ip_reframe",
    """
    WITH pkts AS (
      SELECT doc_id, unnest(range(0, 1 + doc_id % 5)) AS i
      FROM documents
    )
    SELECT 'conn' || doc_id AS conn_id,
           CAST(i AS BIGINT) AS pkt_index,
           CAST(doc_id * 1000 + i AS BIGINT) AS ts_us,
           CAST(20 + (doc_id + i) % 50 AS BIGINT) AS incl_len,
           CAST(20 + (doc_id + i) % 50 AS BIGINT) AS orig_len,
           CAST(i % 256 AS INT) AS first_byte
    FROM pkts
    ORDER BY conn_id, pkt_index
    """,
)
def q_pcap_over_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pcap-over-ip transport: synthesize each connection's byte stream
    (global header + records), split into 37-byte chunks that straddle
    record boundaries, then re-frame per connection. Only passes if the
    carry-over walk reassembles records split across chunks — the
    reference reader's exact job (capture/reader-pcapoverip.c)."""
    from moloch_spark.streaming.pcap_over_ip import (
        reframe_pcap_chunks,
        synth_pcap_stream_chunks,
    )

    docs = load_table(spark, "documents", sf_dir)
    chunks = synth_pcap_stream_chunks(docs)
    pkts = reframe_pcap_chunks(chunks)
    return pkts.select(
        "conn_id", "pkt_index", "ts_us", "incl_len", "orig_len",
        F.expr("CAST(conv(hex(substring(data, 1, 1)), 16, 10) AS INT)").alias(
            "first_byte"
        ),
    )


# ---------------------------------------------------------------------------
# streaming incremental dedup: document stream vs static archive index
# ---------------------------------------------------------------------------


def _stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a file-source stream."""
    import os

    src = os.path.join(sf_dir, "documents.parquet")
    d = tempfile.mkdtemp(prefix="docs_stream_")
    os.symlink(src, os.path.join(d, "documents.parquet"))
    return spark.readStream.schema(spark.read.parquet(src).schema).parquet(d)


def _incr_stream_sql() -> str:
    from moloch_spark.queries_llm import _INCR_SQL

    return _INCR_SQL


@register("streaming_dedup_incremental", _incr_stream_sql())
def q_streaming_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-vs-archive dedup as a STREAM: odd-id documents arrive
    on an unbounded readStream, signatures are computed row-locally (no
    stream aggregation, no state store), and each band checks the
    STATIC archive index via a stream-static left join — collision
    events land in append mode as they arrive. The gate reduces the
    sink to per-doc verdicts and must match the SAME oracle as the
    batch dedup_incremental_lsh — streaming == batch, proven by hash.
    At 100 TB the static side is the bucketed lsh_band_table the batch
    path maintains; per-arriving-doc cost is one row-local signature +
    L index lookups."""
    from moloch_spark.operators import dedup as D

    docs = load_table(spark, "documents", sf_dir)
    index = D.lsh_band_table(docs.filter(F.col("doc_id") % 2 == 0))
    stream = _stream_docs(spark, sf_dir).filter(F.col("doc_id") % 2 == 1)
    hits = D.streaming_band_hits(stream, index)
    name = f"incr_{uuid.uuid4().hex[:8]}"
    q = (
        hits.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return (
        spark.table(name)
        .groupBy("doc_id")
        .agg(F.min("hist_id").alias("dup_of"))
        .select(
            "doc_id", "dup_of", F.col("dup_of").isNull().alias("is_new_unique")
        )

    )


# ---------------------------------------------------------------------------
# streaming index maintenance, end-to-end: build half, stream the rest,
# serve from the index (the exactly-once epoch ledger in the loop)
# ---------------------------------------------------------------------------


def _bm25_stream_sql() -> str:
    from moloch_spark.queries_llm import _BM25_TOPK_SQL

    return _BM25_TOPK_SQL


_BM25_STREAM_CACHE: dict[str, str] = {}


def _bm25_streamed_index(spark: SparkSession, sf_dir: str) -> str:
    """Index fixture maintained THROUGH Structured Streaming: even
    doc_ids at the one-shot build, odd doc_ids arriving as two
    availableNow micro-batches through append_bm25_index_stream
    (foreachBatch -> append_bm25_index behind the exactly-once epoch
    ledger, streaming/ledger.py). Memoized per (process, sf_dir) like
    queries_llm's index fixtures: bench rep 1 pays the build+stream,
    the reported rep times the serve path alone."""
    from moloch_spark.operators import retrieval as R
    from moloch_spark.queries_llm import _memoized_index

    def build(prefix: str, path: str) -> None:
        docs = load_table(spark, "documents", sf_dir).select(
            "doc_id", "text"
        )
        R.build_bm25_index(
            spark, docs.filter(F.col("doc_id") % 2 == 0), prefix, path
        )
        inbox = tempfile.mkdtemp(prefix="bm25s_inbox_")
        odd = docs.filter(F.col("doc_id") % 2 == 1)
        for part in (1, 3):  # two files -> two micro-batches/epochs
            odd.filter(F.col("doc_id") % 4 == part).coalesce(1).write.mode(
                "append"
            ).parquet(inbox)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
        )
        q = (
            R.append_bm25_index_stream(
                spark, stream, prefix, tempfile.mkdtemp(prefix="bm25s_ck_")
            )
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q)

    return _memoized_index(
        spark, sf_dir, _BM25_STREAM_CACHE, "bm25st", build
    )


@register("bm25_stream_append_serve", _bm25_stream_sql())
def q_bm25_stream_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous index maintenance END-TO-END: half the corpus is
    indexed at build, the other half arrives through Structured
    Streaming (foreachBatch folds each micro-batch via
    append_bm25_index behind the checkpoint-dir epoch ledger that
    makes re-delivered epochs no-ops — streaming/ledger.py), and the
    query is served FROM the streamed-into index, bucket-pruned. Must
    hash-match the one-shot full-corpus oracle — the proof that the
    streaming maintenance path loses nothing and duplicates nothing.
    Reference analog: capture's continuous per-session ES bulk indexing
    serving viewer searches mid-capture (capture/db.c, viewer/db.js)."""
    from moloch_spark.operators import retrieval as R

    prefix = _bm25_streamed_index(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    return R.bm25_topk_indexed(
        spark, prefix, R.corpus_queries(docs)
    )


_DEDUP_STREAM_CACHE: dict[str, str] = {}


def _dedup_stream_dir(spark: SparkSession, sf_dir: str, src: str) -> str:
    """Two-file stream-source dir for the packet-dedup gate — the
    events file plus a bit-exact copy of its event_id % 6 slice —
    memoized per (process, sf_dir) so bench reps time the stream, not
    the fixture write."""
    import shutil

    from moloch_spark.fixture_cache import memoized_fixture

    def build() -> str:
        d = tempfile.mkdtemp(prefix="pkt_dedup_")
        os.symlink(src, os.path.join(d, "a_events.parquet"))
        dup_out = tempfile.mkdtemp(prefix="pkt_dedup_dup_")
        spark.read.parquet(src).filter(
            F.col("event_id") % 6 == 0
        ).coalesce(1).write.mode("overwrite").parquet(dup_out)
        part = next(
            f for f in sorted(os.listdir(dup_out)) if f.endswith(".parquet")
        )
        dup_path = os.path.join(d, "b_duplicates.parquet")
        shutil.copy(os.path.join(dup_out, part), dup_path)
        # pin batch ORDER explicitly (ADVICE r10): FileStreamSource
        # batches oldest-mtime-first, and the gate's cross-batch-replay
        # semantics need the full events file strictly BEFORE the
        # duplicates slice — don't rely on a symlink's resolved mtime
        # racing a fresh copy's
        base_m = os.stat(os.path.join(d, "a_events.parquet")).st_mtime
        import time as _t

        later = max(_t.time(), base_m + 60)
        os.utime(dup_path, (later, later))
        return d

    def exists(d: str) -> bool:
        return os.path.exists(
            os.path.join(d, "a_events.parquet")
        ) and os.path.exists(os.path.join(d, "b_duplicates.parquet"))

    return memoized_fixture(_DEDUP_STREAM_CACHE, sf_dir, exists, build)


@register(
    "streaming_packet_dedup",
    """
    SELECT event_id, ts, user_id, event_type
    FROM events WHERE ts IS NOT NULL ORDER BY event_id
    """,
)
def q_streaming_packet_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packet dedup under the driver (capture/dedup.c via
    streaming_dedup's dropDuplicatesWithinWatermark; was pytest-only):
    the events file arrives as micro-batch 1 and an EXACT COPY of the
    event_id % 6 == 0 slice as micro-batch 2 (maxFilesPerTrigger=1 —
    the replayed-packet shape dedup exists for), so the second batch's
    keys were all seen in the first and the dedup state must drop them
    ACROSS the batch boundary — broken state re-emits ~1/6 of the rows
    and the row count diverges; a key-hash bug drops distinct rows.
    The oracle is simply the events table: dedup output == first
    occurrences, and the duplicates are bit-exact copies. The 10-year
    watermark delay keeps every key in state for the run — the
    capture analog holds packets only for the dedup window; state is
    bounded by keys-per-window either way."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    d = _dedup_stream_dir(spark, sf_dir, src)
    raw_schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ts_dt = raw_schema["ts"].dataType.simpleString()
    if ts_dt == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    elif ts_dt == "timestamp_ntz":
        stream = stream.withColumn("ts", F.to_utc_timestamp(F.col("ts"), "UTC"))
    from moloch_spark.streaming.sessionizer import streaming_dedup

    # NULL-ts rows cannot carry an event-time watermark — excluded on
    # BOTH sides (the sessionization NULL-ts contract; the oracle
    # filters identically), so the sweep's NULL-ts fixture row can
    # never diverge the two engines here
    deduped = streaming_dedup(
        stream.select("event_id", "ts", "user_id", "event_type").filter(
            F.col("ts").isNotNull()
        ),
        key_cols=["event_id"],
        watermark_delay="3650 days",
    )
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(name).select(
        "event_id", "ts", "user_id", "event_type"
    )
