"""Streaming parity: stateful sessionizer vs the batch sessionizer,
dedup-within-watermark, cron standing queries, hunts."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from moloch_spark.catalog import events_catalog
from moloch_spark.operators.hunts import HuntSpec, hunt
from moloch_spark.operators.sessionize import sessionize_events
from moloch_spark.sources.tables import load_table
from moloch_spark.streaming.cron import CronQuery, CronRunner
from moloch_spark.streaming.sessionizer import streaming_dedup, streaming_sessionize

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    """sf0.001 events re-written as one parquet file per day so the
    file streaming source produces multiple ordered micro-batches."""
    base = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, "events", SF).withColumn(
        "day", F.date_format("ts", "yyyyMMdd")
    )
    days = [r.day for r in ev.select("day").distinct().orderBy("day").collect()]
    for d in days:
        (
            ev.filter(F.col("day") == d)
            .drop("day")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(base, f"d={d}"))
        )
    # flat dir of files in day order for the stream source. The file
    # source orders micro-batches by MODIFICATION TIME — hard links share
    # the original mtime, so stamp strictly increasing mtimes or batches
    # arrive out of chronological order.
    flat = str(tmp_path_factory.mktemp("events_flat"))
    i = 0
    base_mtime = 1_700_000_000
    for d in days:
        src = os.path.join(base, f"d={d}")
        for f_ in sorted(os.listdir(src)):
            if f_.endswith(".parquet"):
                dst = os.path.join(flat, f"{i:04d}.parquet")
                os.link(os.path.join(src, f_), dst)
                os.utime(dst, (base_mtime + i, base_mtime + i))
                i += 1
    return flat


def test_streaming_sessionize_matches_batch(spark, events_stream_dir):
    batch_ev = load_table(spark, "events", SF)
    schema = batch_ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    sessions = streaming_sessionize(stream, idle_timeout_s=1800, watermark_delay="1 minute")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r.session_id: r
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert len(got) > 0, "no sessions emitted — watermark/timeout wiring broken"

    # batch ids are per-key sequence numbers; streaming ids are
    # (key, first_us) — re-key the batch result the same way to compare
    def ts_us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    want = {
        f"{r.user_id}#{ts_us(r.first_packet)}": r
        for r in sessionize_events(batch_ev, idle_timeout_s=1800).collect()
    }
    # every emitted (closed) session must match the batch result exactly
    mismatches = []
    for sid, g in got.items():
        w = want.get(sid)
        if w is None:
            mismatches.append((sid, "missing in batch"))
            continue
        if (
            g.first_packet != w.first_packet
            or g.last_packet != w.last_packet
            or g.packets != w.packets
            or sorted(g.event_types) != sorted(w.event_types)
            or abs(g.tot_bytes - w.tot_bytes) > 1e-6
        ):
            mismatches.append((sid, g, w))
    assert not mismatches, mismatches[:3]
    # sessions that closed well before the stream end must have been emitted
    max_ts = batch_ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - dt.timedelta(seconds=1800 + 24 * 3600)
    overdue = [
        sid for sid, w in want.items() if w.last_packet < horizon and sid not in got
    ]
    assert not overdue, f"sessions never flushed: {overdue[:5]}"


def test_streaming_midsave_chunks(spark, events_stream_dir):
    """chunk_s splits long sessions into chunks sharing root_id
    (capture/session.c:312-357)."""
    schema = load_table(spark, "events", SF).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    sessions = streaming_sessionize(
        stream, idle_timeout_s=1800, chunk_s=600, watermark_delay="1 minute"
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_chunked")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM sess_chunked").collect()
    assert rows
    by_root: dict[str, list] = {}
    for r in rows:
        by_root.setdefault(r.root_id, []).append(r)
    multi = {k: v for k, v in by_root.items() if len(v) > 1}
    assert multi, "no session produced multiple chunks at chunk_s=600"
    for root, chunks in multi.items():
        seqs = sorted(c.chunk_seq for c in chunks)
        assert seqs == list(range(len(chunks))), (root, seqs)
        # chunks never overlap in time and each fits the chunk budget+slack
        ordered = sorted(chunks, key=lambda c: c.chunk_seq)
        for a, b in zip(ordered, ordered[1:]):
            assert a.last_packet <= b.first_packet
    # chunked totals must equal the unchunked batch totals
    batch = {
        (r.user_id, r.packets)
        for r in sessionize_events(
            load_table(spark, "events", SF), idle_timeout_s=1800
        ).collect()
    }
    rebuilt = {}
    for r in rows:
        rebuilt[r.root_id] = rebuilt.get(r.root_id, 0) + r.packets
    # every fully-emitted root's packet total appears in the batch set
    matched = sum(1 for (uid, p) in batch if p in rebuilt.values())
    assert matched > 0


def test_streaming_dedup(spark, events_stream_dir, tmp_path):
    schema = load_table(spark, "events", SF).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_dir)
    # duplicate the stream against itself via union to create dups
    deduped = streaming_dedup(
        stream.union(stream), key_cols=["event_id"], watermark_delay="1 minute"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n = spark.sql("SELECT count(*) c FROM dedup_out").collect()[0].c
    total = load_table(spark, "events", SF).count()
    assert n == total, f"dedup kept {n}, expected {total}"


def test_streaming_restart_recovers_state(spark, events_stream_dir, tmp_path):
    """Stop after the first files, restart with the same checkpoint over
    the grown source: state must recover, no session emitted twice, and
    in-progress sessions must continue (not restart) across the restart."""
    import shutil

    src = str(tmp_path / "grow")
    os.makedirs(src)
    files = sorted(os.listdir(events_stream_dir))
    half = len(files) // 2

    def add(names, start):
        for j, f_ in enumerate(names):
            dst = os.path.join(src, f_)
            shutil.copy(os.path.join(events_stream_dir, f_), dst)
            os.utime(dst, (start + j, start + j))  # keep batch order chronological

    add(files[:half], 1_700_000_000)

    schema = load_table(spark, "events", SF).schema
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sessions = streaming_sessionize(
            stream, idle_timeout_s=1800, watermark_delay="1 minute"
        )
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()  # first half, then the query STOPS (simulated shutdown)
    add(files[half:], 1_700_010_000)
    run_once()  # restart from checkpoint over the grown source

    got = spark.read.parquet(out_dir).collect()
    ids = [r.session_id for r in got]
    assert len(ids) == len(set(ids)), "duplicate sessions across restart"

    # every emitted session must match the batch result exactly — i.e.
    # sessions spanning the restart boundary were CONTINUED, not split
    def ts_us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    want = {
        f"{r.user_id}#{ts_us(r.first_packet)}": r
        for r in sessionize_events(
            load_table(spark, "events", SF), idle_timeout_s=1800
        ).collect()
    }
    for r in got:
        w = want.get(r.session_id)
        assert w is not None, f"{r.session_id} not a batch session"
        assert r.packets == w.packets and r.last_packet == w.last_packet, r.session_id


def test_cron_runner_incremental(spark, tmp_path):
    ev = load_table(spark, "events", SF)
    runner = CronRunner(str(tmp_path / "cron.json"), events_catalog())
    cq = CronQuery("errs", "event.type == error", tags=["alert"])
    t1 = dt.datetime(2024, 1, 15, 0, 1, 30)
    out1 = runner.run_once(ev, cq, now=t1, id_cols=["event_id", "ts"])
    n1 = out1.count()
    # second run at same time: watermark advanced, nothing new
    out2 = runner.run_once(ev, cq, now=t1, id_cols=["event_id", "ts"])
    assert out2.count() == 0
    # later run picks up exactly the delta, no overlap
    t2 = dt.datetime(2024, 2, 15, 0, 1, 30)
    out3 = runner.run_once(ev, cq, now=t2, id_cols=["event_id", "ts"])
    n3 = out3.count()
    total_err = ev.filter("event_type = 'error'").count()
    assert n1 + n3 == total_err
    assert out3.select(F.min("ts")).collect()[0][0] > t1 - dt.timedelta(seconds=90)


def test_cron_forward_exactly_once_across_restart(spark, tmp_path):
    """forward:<cluster> must append each matched row to the outbox
    exactly once even when the runner dies AFTER the forward write but
    BEFORE the lpValue save — the re-run hits the committed tick dir
    and skips the write. Union over ticks == the one-shot filter."""
    ev = load_table(spark, "events", SF)
    state = str(tmp_path / "cron.json")
    outbox = str(tmp_path / "outbox")
    cq = CronQuery(
        "fwd", "event.type == error", tags=[], action="forward:west"
    )
    t1 = dt.datetime(2024, 1, 15, 0, 1, 30)
    t2 = dt.datetime(2024, 2, 15, 0, 1, 30)

    runner = CronRunner(state, events_catalog())
    runner.run_once(ev, cq, now=t1, id_cols=["event_id", "ts"], outbox=outbox)

    # crash simulation: tick 1 committed its forward dir, but the state
    # never advanced (roll the state file back to pre-tick)
    import json
    import os

    from moloch_spark.streaming.cron import read_outbox

    os.remove(state)
    crashed = CronRunner(state, events_catalog())
    # the replay runs at a LATER wall-clock now (ADVICE r4 medium): the
    # committed tick must still win — same rows, and lpValue must adopt
    # the COMMITTED hi, not the larger replay hi, so the skipped range
    # arrives with the next tick instead of being lost
    t1_replay = t1 + dt.timedelta(hours=6)
    redo = crashed.run_once(
        ev, cq, now=t1_replay, id_cols=["event_id", "ts"], outbox=outbox
    )
    assert redo.count() == read_outbox(spark, outbox, "west").count()
    with open(state) as f:
        assert json.load(f)["fwd"] == (
            t1 - dt.timedelta(seconds=90)
        ).isoformat(sep=" ")

    crashed.run_once(ev, cq, now=t2, id_cols=["event_id", "ts"], outbox=outbox)
    fwd = read_outbox(spark, outbox, "west")
    want = ev.filter(
        (F.col("event_type") == "error")
        & (F.col("ts") <= F.lit((t2 - dt.timedelta(seconds=90)).isoformat(sep=" ")).cast("timestamp"))
    )
    assert fwd.count() == want.count()                       # no dupes, no gaps
    assert fwd.select("event_id").distinct().count() == want.count()


def test_cron_forward_two_queries_same_cluster_no_collision(spark, tmp_path):
    """Two standing queries forwarding to the SAME cluster both start
    from lo='epoch'. Their ticks must not share a commit dir — the
    second query must ship ITS rows, not adopt the first one's."""
    ev = load_table(spark, "events", SF)
    state = str(tmp_path / "cron.json")
    outbox = str(tmp_path / "outbox")
    runner = CronRunner(state, events_catalog())
    t = dt.datetime(2024, 2, 15, 0, 1, 30)
    a = runner.run_once(
        ev, CronQuery("fwd-err", "event.type == error", tags=[],
                      action="forward:west"),
        now=t, id_cols=["event_id", "ts"], outbox=outbox,
    )
    b = runner.run_once(
        ev, CronQuery("fwd-clk", "event.type == click", tags=[],
                      action="forward:west"),
        now=t, id_cols=["event_id", "ts"], outbox=outbox,
    )
    n_err = ev.filter("event_type = 'error'").count()
    n_clk = ev.filter("event_type = 'click'").count()
    assert a.count() < n_err + 1 and a.count() > 0
    assert b.count() != a.count()                     # not query A's rows
    assert {r.cron_name for r in a.collect()} == {"fwd-err"}
    assert {r.cron_name for r in b.collect()} == {"fwd-clk"}
    from moloch_spark.streaming.cron import read_outbox

    fwd = read_outbox(spark, outbox, "west")
    assert fwd.count() == a.count() + b.count()
    assert n_clk >= b.count()


def test_cron_forward_sanitize_collision_distinct_dirs(spark, tmp_path):
    """ADVICE r5 (low): query names that SANITIZE identically
    ('fwd.err' vs 'fwd_err') must still get distinct tick dirs — the
    qtoken carries a digest of the raw name."""
    ev = load_table(spark, "events", SF)
    outbox = str(tmp_path / "outbox")
    runner = CronRunner(str(tmp_path / "cron.json"), events_catalog())
    t = dt.datetime(2024, 2, 15, 0, 1, 30)
    a = runner.run_once(
        ev, CronQuery("fwd.err", "event.type == error", tags=[],
                      action="forward:west"),
        now=t, id_cols=["event_id", "ts"], outbox=outbox,
    )
    b = runner.run_once(
        ev, CronQuery("fwd_err", "event.type == click", tags=[],
                      action="forward:west"),
        now=t, id_cols=["event_id", "ts"], outbox=outbox,
    )
    assert {r.cron_name for r in a.collect()} == {"fwd.err"}
    assert {r.cron_name for r in b.collect()} == {"fwd_err"}   # its OWN rows
    import os as _os

    qdirs = [
        n
        for n in _os.listdir(_os.path.join(outbox, "cluster=west"))
        if n.startswith("query=")
    ]
    assert len(qdirs) == 2                              # no shared tick dir


def test_hunt_over_reassembled_payload(spark):
    """Hunts run on REASSEMBLED session payload (apiHunts.js reads
    reassembled packets) — compose reassemble_tcp -> hunt."""
    from moloch_spark.operators.packets import reassemble_tcp

    rows = [
        ("s1", 1, "GET /sec"),
        ("s1", 9, "ret HTTP"),      # 'secret' spans the segment boundary
        ("s2", 1, "nothing here"),
    ]
    segs = spark.createDataFrame(rows, "session_id string, tcp_seq long, payload string")
    whole = reassemble_tcp(segs)
    hits = hunt(
        whole, HuntSpec("h-x", "ascii", "SECRET"),
        payload_cols=["payload"], id_col="session_id",
    ).collect()
    assert [r.session_id for r in hits] == ["s1"]


def test_session_list_response(spark):
    from pyspark.sql import functions as F

    from moloch_spark.operators.endpoints import session_list_response

    ev = load_table(spark, "events", SF)
    resp = session_list_response(
        ev, F.col("event_type") == "error", limit=5,
        sort=[("event_id", True)], fields=["event_id"],
    )
    assert resp["recordsTotal"] == 1000
    assert 0 < resp["recordsFiltered"] < 1000
    assert resp["data"].count() == 5


def test_hunt_match_types(spark):
    docs = load_table(spark, "documents", SF)
    ascii_hits = hunt(
        docs, HuntSpec("h1", "ascii", "MERGE"), payload_cols=["text"], id_col="doc_id"
    ).count()
    assert ascii_hits > 0  # case-insensitive finds lowercase 'merge'
    case_hits = hunt(
        docs, HuntSpec("h2", "asciicase", "MERGE"), payload_cols=["text"], id_col="doc_id"
    ).count()
    assert case_hits == 0  # corpus is lowercase
    rx_hits = hunt(
        docs, HuntSpec("h3", "regex", "m[ea]rge"), payload_cols=["text"], id_col="doc_id"
    ).count()
    assert rx_hits >= ascii_hits
    # hex match over binary payloads ('merge' = 6d65726765)
    media = docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    hex_hits = hunt(
        media,
        HuntSpec("h4", "hex", "6d65726765"),
        payload_cols=["payload"],
        id_col="doc_id",
        binary_cols={"payload"},
    ).count()
    assert hex_hits == ascii_hits


def test_notifier_outbox(spark):
    from moloch_spark.streaming.cron import Notifier, build_alerts

    matched = spark.createDataFrame(
        [(i, f"2024-01-01 00:0{i}:00") for i in range(3)], "id int, ts_s string"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    ns = [Notifier("oncall", "slack", "#alerts"), Notifier("ops", "email", "ops@x")]
    out = build_alerts(matched, "hunt-c2", ns).collect()
    assert {(r.notifier, r.kind, r.target) for r in out} == {
        ("oncall", "slack", "#alerts"), ("ops", "email", "ops@x")
    }
    assert all(r.match_count == 3 and r.cron_name == "hunt-c2" for r in out)
    assert str(out[0].first_match) == "2024-01-01 00:00:00"
    assert str(out[0].last_match) == "2024-01-01 00:02:00"

    # empty tick -> no alert rows at all
    assert build_alerts(matched.filter("id > 99"), "hunt-c2", ns).count() == 0


def test_streaming_timeline_matches_batch(spark, events_stream_dir):
    from moloch_spark.operators.endpoints import timeline
    from moloch_spark.streaming.sessionizer import streaming_timeline

    batch_ev = load_table(spark, "events", SF)
    schema = spark.read.parquet(events_stream_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    q = (
        streaming_timeline(
            stream, interval="1 hour", watermark_delay="1 minute",
            sums=[("value", "sum_value")],
        )
        .writeStream.format("memory")
        .queryName("tl_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.bucket: (r.doc_count, r.sum_value) for r in spark.table("tl_out").collect()}
    want = {
        r.bucket: (r.doc_count, r.sum_value)
        for r in timeline(
            batch_ev, "ts", interval="hour", sums=[("value", "sum_value")]
        ).collect()
    }
    assert got, "no windows emitted"
    # every emitted window must equal the batch bucket EXACTLY (dsum
    # decimal policy makes the float sums order-independent)
    for b, v in got.items():
        assert want[b] == v, (b, v, want[b])
    # append-mode semantics: the only unemitted windows are the tail the
    # final watermark hasn't passed
    missing = sorted(set(want) - set(got))
    if missing:
        max_emitted = max(got)
        assert all(m > max_emitted for m in missing)


def test_streaming_state_is_bounded_by_open_sessions(spark, events_stream_dir, tmp_path):
    """The maxStreams-analog claim (capture/config.c:525): state holds
    OPEN sessions only. After the stream drains, the state store must
    hold far fewer sessions than were emitted — closed sessions are
    evicted, not accumulated. A state row is a key bucket; its open
    sessions are its arrays' entries, read with the statestore source."""
    schema = load_table(spark, "events", SF).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    sessions = streaming_sessionize(
        stream, idle_timeout_s=1800, watermark_delay="1 minute"
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        sessions.writeStream.format("memory")
        .queryName("state_bound_out")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.sql("SELECT COUNT(*) c FROM state_bound_out").first().c
    open_keys = spark.read.format("statestore").load(ckpt).select(
        F.explode("value.groupState.user_id").alias("k")
    )
    n_open = open_keys.count()
    assert emitted > 0 and n_open > 0
    # residual state = sessions still open at end-of-stream, one per key
    # at most; anything near `emitted` would mean eviction is broken
    assert open_keys.distinct().count() == n_open
    n_keys = load_table(spark, "events", SF).select("user_id").distinct().count()
    assert n_open <= n_keys, (n_open, n_keys)
    assert n_open < emitted, (n_open, emitted)


@pytest.mark.parametrize(
    "ledger_lost,manifest",
    [(False, False), (True, False), (False, True), (True, True)],
    ids=["False", "True", "manifest-False", "manifest-True"],
)
def test_capture_sink_replayed_epoch_is_exactly_once(
    spark, events_stream_dir, tmp_path, request, monkeypatch, ledger_lost, manifest
):
    """foreachBatch is at-least-once: a driver that dies after the sink
    wrote the last epoch but before its commits/N entry landed gets
    that epoch again on restart. The store must hold every session
    once — also when the crash came before the epoch ledger recorded
    the append (`ledger_lost`): the re-run then replaces the files its
    earlier attempt moved.

    `manifest`: the store already has a manifest, from a compaction
    between a first drain and the rest, and one epoch that creates a
    day crashes between moving its files into the day's own
    `_gen/<token>.a` dir and its entry commit. That unreferenced dir
    stays invisible, and the restarted epoch drops its token-marked
    files there and commits.

    The restart spells the checkpoint path with a trailing "/": the
    epoch's token must not depend on the spelling."""
    import glob
    import shutil

    import moloch_spark.sources.commit as commit_mod
    from moloch_spark.sources.session_store import (
        compact_partitions,
        read_sessions,
        write_sessions_stream,
    )
    from moloch_spark.streaming.ledger import record_epoch

    files = sorted(os.listdir(events_stream_dir))[:4]

    def stage(src, names):
        os.makedirs(src, exist_ok=True)
        for f_ in names:
            j = files.index(f_)
            dst = os.path.join(src, f_)
            shutil.copy(os.path.join(events_stream_dir, f_), dst)
            os.utime(dst, (1_700_000_000 + j, 1_700_000_000 + j))

    schema = load_table(spark, "events", SF).schema

    def drain(src, store, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sessions = streaming_sessionize(
            stream, idle_timeout_s=1800, watermark_delay="1 minute"
        )
        q = (
            write_sessions_stream(sessions, store, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        except Exception:
            pass
        return q.exception()

    def stored(store):
        return sorted(
            (r.session_id, r.chunk_seq, r.packets, r.last_packet)
            for r in read_sessions(spark, store).collect()
        )

    clean, clean_src = str(tmp_path / "clean"), str(tmp_path / "clean_src")
    stage(clean_src, files)
    assert drain(clean_src, clean, str(tmp_path / "clean_ckpt")) is None

    store, ckpt, src = (str(tmp_path / n) for n in ("store", "ckpt", "src"))
    stage(src, files[:2] if manifest else files)
    if manifest:
        request.getfixturevalue("manifest_protocol")
        assert drain(src, store, ckpt) is None
        assert compact_partitions(spark, store)
        assert commit_mod.load_manifest(store) is not None
        stage(src, files[2:])
        real = commit_mod.commit_manifest_entries
        crashed = {}

        def crash_before_entry_commit(store_, entries=None, **kw):
            if not crashed and entries and all(".a/" in v for v in entries.values()):
                crashed.update(entries)
                raise RuntimeError("crash between the file moves and the entry commit")
            return real(store_, entries, **kw)

        monkeypatch.setattr(commit_mod, "commit_manifest_entries", crash_before_entry_commit)
        assert drain(src, store, ckpt) is not None
        monkeypatch.setattr(commit_mod, "commit_manifest_entries", real)
        assert crashed
        days = {r.day for r in read_sessions(spark, store).select("day").distinct().collect()}
        for name, rel in crashed.items():
            assert os.listdir(os.path.join(store, rel))    # moved, unreferenced
            assert name.split("=", 1)[1] not in days       # and invisible
    assert drain(src, store, ckpt) is None
    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    if ledger_lost:
        record_epoch(ckpt, "session_store", last - 1)
    # restart: epoch `last` is delivered again, under another spelling of
    # the same checkpoint path
    assert drain(src, store, ckpt + "/") is None

    got = stored(store)
    assert len(got) > 0
    assert len(got) == len({(sid, seq) for sid, seq, _, _ in got})
    assert got == stored(clean)
    # the replayed epoch had sessions to duplicate (its files carry
    # its token)
    assert glob.glob(os.path.join(store, "**", f"*e{last}-*.parquet"), recursive=True)


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_batch_idle_gap_is_exact_to_the_microsecond(spark, ts_type):
    """The batch sessionizer compares idle gaps in µs, as the stream
    does: a udp gap 0.5 ms over its 60 s timeout closes the session, one
    0.5 ms under it does not."""
    from moloch_spark.operators.sessionize import timeout_by_protocol

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (t0, 1, "udp", 1.0),
        (t0 + dt.timedelta(seconds=60, microseconds=500), 1, "udp", 1.0),
        (t0, 2, "udp", 1.0),
        (t0 + dt.timedelta(seconds=59, microseconds=999_500), 2, "udp", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, f"ts {ts_type}, user_id long, event_type string, value double"
    )
    timeout = timeout_by_protocol("event_type", {"udp": 60}, default_s=600)
    got = sessionize_events(ev, idle_timeout_s=timeout).groupBy("user_id").count()
    assert {r.user_id: r["count"] for r in got.collect()} == {1: 2, 2: 1}


def test_streaming_per_proto_timeouts_match_batch(spark, events_stream_dir):
    """Per-protocol idle timeouts (capture/config.c:518-523) must close
    the SAME sessions in streaming as the batch timeout_by_protocol
    column — the single-vs-multies consistency oracle pattern."""
    from moloch_spark.operators.sessionize import timeout_by_protocol

    tmap = {"error": 600, "click": 1800}
    default_s = 3600

    batch_ev = load_table(spark, "events", SF)
    timeout = timeout_by_protocol("event_type", tmap, default_s=default_s)
    batch = sessionize_events(batch_ev, idle_timeout_s=timeout)

    def ts_us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    want = {
        f"{r.user_id}#{ts_us(r.first_packet)}": (r.packets, ts_us(r.last_packet))
        for r in batch.collect()
    }

    stream = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_stream_dir)
    )
    sessions = streaming_sessionize(
        stream,
        idle_timeout_s=default_s,
        timeout_by_type=tmap,
        watermark_delay="1 minute",
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("pp_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("SELECT * FROM pp_out").collect()
    assert len(got) > 0
    mismatches = [
        (r.session_id, r.packets, want.get(r.session_id))
        for r in got
        if want.get(r.session_id) is None or want[r.session_id][0] != r.packets
    ]
    assert not mismatches, mismatches[:3]


def test_pcap_over_ip_streaming_matches_batch(spark, tmp_path):
    """Chunk batches fed incrementally through the stateful re-framer
    must produce exactly the batch re-framer's records — including
    records whose bytes span micro-batch boundaries (state carries the
    partial tail)."""
    import uuid

    from moloch_spark.streaming.pcap_over_ip import (
        reframe_pcap_chunks,
        streaming_reframe,
        synth_pcap_stream_chunks,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    chunks = synth_pcap_stream_chunks(docs, chunk_size=23).cache()
    want = sorted(
        (r.conn_id, r.pkt_index, r.ts_us, r.incl_len, bytes(r.data))
        for r in reframe_pcap_chunks(chunks).collect()
    )
    assert want  # fixture produces records

    # feed the SAME chunks as 3 seq-ordered micro-batches
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    n_seq = chunks.agg(F.max("seq")).first()[0] + 1
    cut1, cut2 = n_seq // 3, 2 * n_seq // 3
    for i, cond in enumerate(
        [F.col("seq") < cut1,
         (F.col("seq") >= cut1) & (F.col("seq") < cut2),
         F.col("seq") >= cut2]
    ):
        part = chunks.filter(cond).coalesce(1)
        p = os.path.join(src, f"{i:02d}.parquet")
        part.write.mode("overwrite").parquet(p + ".dir")
        # single file with increasing mtime so batches arrive in order
        f_ = [x for x in os.listdir(p + ".dir") if x.endswith(".parquet")][0]
        os.link(os.path.join(p + ".dir", f_), p)
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = spark.readStream.schema(chunks.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    name = f"poi_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_reframe(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.conn_id, r.pkt_index, r.ts_us, r.incl_len, bytes(r.data))
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    assert got == want


def test_bounded_sessionizer_evicts_on_stalled_watermark(spark, tmp_path):
    """maxStreams analog (capture/config.c:525,568-573): with the
    watermark STALLED (all events share one timestamp, so event-time
    timers can never fire), the processing-time TTL must still evict
    every open session — tagged overflow=True — so state stays bounded
    instead of growing with key count."""
    import time
    import uuid as _uuid

    from moloch_spark.streaming.sessionizer import streaming_sessionize_bounded

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(t0, uid, "click", 1.0) for uid in range(40)]
    df = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string, value double"
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_sessionize_bounded(
        stream,
        idle_timeout_s=10**6,   # event-time close far in the future
        state_ttl_s=2,          # wall-clock guardrail
        watermark_delay="1 minute",
    )
    name = f"bounded_{_uuid.uuid4().hex[:8]}"
    # NOTE: no processAllAvailable() — with ProcessingTimeTimeout the
    # runner keeps scheduling no-data microbatches to fire timers and
    # that call never returns; poll the sink instead. The 1s trigger
    # keeps the no-data batches from busy-looping.
    q = (
        out.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(processingTime="1 second").start()
    )
    try:
        # no new data ever arrives -> the watermark never advances; only
        # the processing-time TTL (fired by no-data microbatches) can
        # flush. Poll until all 40 are out.
        deadline = time.time() + 90
        emitted = 0
        while time.time() < deadline:
            emitted = spark.sql(f"SELECT COUNT(*) c FROM {name}").first().c
            if emitted >= 40:
                break
            time.sleep(1)
        assert emitted == 40, f"only {emitted}/40 force-flushed"
        got = spark.sql(f"SELECT * FROM {name}").collect()
        assert all(r.overflow for r in got), "evictions must be tagged overflow"
        assert all(r.packets == 1 for r in got)
        # the eviction batch must have drained the state store
        state_rows = None
        for p in reversed(q.recentProgress):
            ops = p.get("stateOperators") or []
            if ops and ops[0]["numRowsRemoved"] > 0:
                state_rows = ops[0]["numRowsTotal"]
                break
        assert state_rows == 0, f"state not drained: {state_rows}"
    finally:
        q.stop()


def test_hunt_job_queue_pause_resume_identical(spark, tmp_path):
    """Hunt job control (viewer/apiHunts.js:370-460,553-561): two queued
    jobs advance in time slices; pausing one mid-run lets the other
    proceed, resuming continues from the lastPacketTime checkpoint, and
    the union of all slices equals the one-shot hunt — no row repeated
    or lost across the pause."""
    from moloch_spark.operators.hunts import HuntJobQueue, HuntSpec, hunt

    ev = load_table(spark, "events", SF)
    queue = HuntJobQueue(str(tmp_path / "hunts.json"))
    queue.submit(HuntSpec("h-a", "asciicase", '"k": 6'))
    queue.submit(HuntSpec("h-b", "regex", '"k": 1[0-9]\\}'))
    kw = dict(payload_cols=["props"], id_col="event_id", ts_col="ts",
              slice_s=5 * 86400)

    parts = []
    # tick 1: h-a's first slice, then pause it mid-job
    parts.append(queue.run_tick(ev, **kw).collect())
    assert queue.jobs()["h-a"]["status"] == "running"
    queue.pause("h-a")
    # h-b is now the active job and runs to completion
    while queue.jobs()["h-b"]["status"] != "finished":
        parts.append(queue.run_tick(ev, **kw).collect())
    assert queue.run_tick(ev, **kw) is None  # h-a paused: nothing runnable
    # resume h-a from its checkpoint and finish
    queue.resume("h-a")
    while queue.jobs()["h-a"]["status"] != "finished":
        parts.append(queue.run_tick(ev, **kw).collect())

    got = sorted((r.hunt_id, r.event_id) for rows in parts for r in rows)
    want = sorted(
        (r.hunt_id, r.event_id)
        for spec in (HuntSpec("h-a", "asciicase", '"k": 6'),
                     HuntSpec("h-b", "regex", '"k": 1[0-9]\\}'))
        for r in hunt(ev, spec, payload_cols=["props"], id_col="event_id").collect()
    )
    assert len(got) == len(set(got)), "a slice repeated rows"
    assert got == want


def test_hunt_per_node_fanout_pause_resume(spark, tmp_path):
    """Per-node hunt fan-out (viewer/apiHunts.js:370-460: sessions are
    hunted on the node holding their packets): each node advances its
    OWN lastPacketTime checkpoint, a pause/resume cycle loses nothing,
    the job only finishes when every node is exhausted, and the union
    of all ticks equals the one-shot hunt."""
    from moloch_spark.operators.hunts import HuntJobQueue, HuntSpec

    # synthesize a capture-node column; give node n2 a shorter time
    # range so nodes finish at different ticks (per-node progress)
    ev = load_table(spark, "events", SF).withColumn(
        "node",
        F.when(F.col("user_id") % 3 == 0, "n0")
        .when(F.col("user_id") % 3 == 1, "n1")
        .otherwise("n2"),
    ).filter(
        (F.col("node") != "n2") | (F.col("ts") < "2024-01-10")
    )
    queue = HuntJobQueue(str(tmp_path / "hunts.json"))
    queue.submit(HuntSpec("h-n", "asciicase", '"k": 6'))
    kw = dict(payload_cols=["props"], id_col="event_id", ts_col="ts",
              node_col="node", slice_s=6 * 86400)

    parts = [queue.run_tick_per_node(ev, **kw).collect()]
    st1 = queue._load()["jobs"]["h-n"]["nodes"]
    assert set(st1) == {"n0", "n1", "n2"}
    # nodes advanced independently: n2's window is shorter, so its
    # first slice already covers a larger fraction (or all) of it
    assert st1["n0"]["checkpoint"] != st1["n2"]["checkpoint"] or st1["n2"]["done"]

    queue.pause("h-n")
    assert queue.run_tick_per_node(ev, **kw) is None
    queue.resume("h-n")

    while queue.jobs()["h-n"]["status"] != "finished":
        out = queue.run_tick_per_node(ev, **kw)
        if out is not None:
            parts.append(out.collect())
    stf = queue._load()["jobs"]["h-n"]["nodes"]
    assert all(n["done"] for n in stf.values())   # merged completion

    got = sorted((r.node, r.event_id) for rows in parts for r in rows)
    want = sorted(
        (r.node, r.event_id)
        for r in ev.filter(F.col("props").contains('"k": 6'))
        .select("node", "event_id")
        .collect()
    )
    assert len(got) == len(set(got)), "a node slice repeated rows"
    assert got == want


def test_hunt_write_back_through_bucketed_store(spark, tmp_path):
    """Hunt results land on the bucketed session store with the same
    no-shuffle merge as tag updates (ref apiHunts.js:553-561)."""
    from moloch_spark.operators.hunts import (
        HuntSpec, hunt, write_back_hunt_matches,
    )
    from moloch_spark.sources.session_store import write_sessions_bucketed

    docs = load_table(spark, "documents", SF)
    sess = docs.select(
        F.concat(F.lit("s"), F.col("doc_id")).alias("session_id"),
        F.col("text"),
        F.array().cast("array<string>").alias("hunt_ids"),
    )
    path = str(tmp_path / "hunt_bk")
    write_sessions_bucketed(sess, "t_hunt_bk", path, buckets=8)
    try:
        results = hunt(
            docs.select(
                F.concat(F.lit("s"), F.col("doc_id")).alias("session_id"), "text"
            ),
            HuntSpec("h-merge", "ascii", "merge"),
            payload_cols=["text"], id_col="session_id",
        ).unionByName(
            hunt(
                docs.select(
                    F.concat(F.lit("s"), F.col("doc_id")).alias("session_id"), "text"
                ),
                HuntSpec("h-scan", "regex", "sc[ae]n"),
                payload_cols=["text"], id_col="session_id",
            )
        )
        out = write_back_hunt_matches(
            spark, "t_hunt_bk", path, results, hunts_col="hunt_ids", buckets=8
        )
        want = {
            (r.session_id, r.hunt_id) for r in results.collect()
        }
        got = {
            (r.session_id, h)
            for r in out.filter(F.size("hunt_ids") > 0).collect()
            for h in r.hunt_ids
        }
        assert got == want and len(want) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_hunt_bk")
        spark.sql("DROP TABLE IF EXISTS t_hunt_bk__staged")
