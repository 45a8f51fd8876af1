"""Elasticsearch bulk sink — the capture->ES write path.

Reference: capture serializes one JSON doc per session into per-thread
bulk buffers (dbBulkSize=200KB, capture/config.c:528) and POSTs NDJSON
`_bulk` bodies with index names rotated from lastPacket
(capture/db.c:472-618,538-577).

Spark shape: each partition of the session table serializes its rows
to NDJSON bulk actions (index line + doc line) and ships chunks of
~bulk_bytes to the transport. The transport is pluggable:

  * HttpTransport  — POST to /_bulk (real ES; not exercised in this
    container — no ES server — but the code path is the standard
    urllib POST)
  * DirTransport   — write each bulk body to a directory (used by tests
    and as a replayable spool)

Executors ship independent partitions — the same per-thread-buffer
parallelism as capture.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row


def index_name(last_packet, *, prefix: str = "sessions3-", rotation: str = "daily") -> str:
    """Time-rotated index name from lastPacket (capture/db.c:538-577)."""
    if rotation == "hourly":
        return f"{prefix}{last_packet:%y%m%dh%H}"
    if rotation == "daily":
        return f"{prefix}{last_packet:%y%m%d}"
    if rotation == "weekly":
        # weeks since Jan 1 = C tm_yday/7 (capture/db.c:570-571;
        # Python's tm_yday is 1-based where C's is 0-based). NOT
        # strftime %W — Monday-based week-of-year disagrees with the
        # reference for essentially every date (ADVICE r10): even
        # 2024-01-01 is 24w00 here vs 24w01 under %W.
        wk = (last_packet.timetuple().tm_yday - 1) // 7
        return f"{prefix}{last_packet:%y}w{wk:02d}"
    if rotation == "monthly":
        return f"{prefix}{last_packet:%ym%m}"
    raise ValueError(f"unknown rotation {rotation!r}")


def index_name_cols(ts, *, prefix: str = "sessions3-"):
    """All four rotations as ONE struct of JVM column expressions — the
    column form of index_name, convention-identical by construction
    (date_format's yy/MM/dd/HH match strftime %y/%m/%d/%H; weekly is the
    same weeks-since-Jan-1 arithmetic on dayofyear). Naming a session's
    index is a per-row strftime — pure codegen work; the previous
    pandas_udf paid the JVM->Arrow->Python round trip plus a per-element
    Python loop for something the JVM evaluates in-line (guide: prefer
    built-ins over any UDF). A NULL timestamp names no index (NULL
    struct fields), matching the scalar form's None handling.
    test_es_sink pins column==scalar agreement across year/rotation
    boundaries."""
    from pyspark.sql import functions as F

    ts = F.col(ts) if isinstance(ts, str) else ts
    p = F.lit(prefix)
    wk = F.lpad(
        F.floor((F.dayofyear(ts) - F.lit(1)) / F.lit(7)).cast("string"),
        2,
        "0",
    )
    return F.struct(
        F.concat(p, F.date_format(ts, "yyMMdd'h'HH")).alias("hourly"),
        F.concat(p, F.date_format(ts, "yyMMdd")).alias("daily"),
        F.concat(p, F.date_format(ts, "yy"), F.lit("w"), wk).alias("weekly"),
        F.concat(p, F.date_format(ts, "yy'm'MM")).alias("monthly"),
    )


def _row_to_bulk(row: Row, *, ts_col: str, id_col: str, prefix: str, rotation: str) -> str:
    d = row.asDict(recursive=True)
    ts = d.get(ts_col)
    action = {
        "index": {
            "_index": index_name(ts, prefix=prefix, rotation=rotation),
            "_id": str(d.get(id_col)),
        }
    }
    return json.dumps(action, default=str) + "\n" + json.dumps(d, default=str) + "\n"


class DirTransport:
    """Writes bulk bodies as files — test double and replay spool."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def send(self, body: str) -> None:
        name = os.path.join(self.path, f"bulk-{uuid.uuid4().hex}.ndjson")
        with open(name, "w") as f:
            f.write(body)


class HttpTransport:
    """POSTs to an ES /_bulk endpoint (urllib; no extra deps)."""

    def __init__(self, url: str):
        self.url = url.rstrip("/") + "/_bulk"

    def send(self, body: str) -> None:
        import urllib.request

        req = urllib.request.Request(
            self.url,
            data=body.encode(),
            headers={"Content-Type": "application/x-ndjson"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            resp.read()


def write_bulk(
    sessions: DataFrame,
    transport,
    *,
    ts_col: str = "last_packet",
    id_col: str = "session_id",
    prefix: str = "sessions3-",
    rotation: str = "daily",
    bulk_bytes: int = 200 * 1024,
) -> None:
    """Batch write: per partition, buffer NDJSON actions up to bulk_bytes
    (the dbBulkSize analog) and flush to the transport."""

    def per_partition(rows: Iterator[Row]) -> None:
        buf: list[str] = []
        size = 0
        for row in rows:
            s = _row_to_bulk(
                row, ts_col=ts_col, id_col=id_col, prefix=prefix, rotation=rotation
            )
            buf.append(s)
            size += len(s)
            if size >= bulk_bytes:
                transport.send("".join(buf))
                buf, size = [], 0
        if buf:
            transport.send("".join(buf))

    sessions.foreachPartition(per_partition)
