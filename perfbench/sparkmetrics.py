"""Numbers read from public Spark surfaces and from /proc.

* the SQL metrics of an executed plan (rows scanned, files and
  partitions read, shuffle bytes), walked through the adaptive plan's
  query stages;
* jobs and tasks of one job group, from the status tracker;
* the per-batch ``StreamingQuery.recentProgress`` reports;
* the driver JVM's garbage collection and JIT compilation times;
* memory and CPU of the driver process tree, load average and steal time.
"""

from __future__ import annotations

import os

from stats import median

_SCAN = ("FileSourceScanExec", "BatchScanExec")
_SHUFFLE = ("ShuffleExchangeExec",)


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _children(node, name: str) -> list:
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def plan_metrics(df) -> dict[str, int]:
    """Scan and shuffle totals of ``df``'s executed plan; call after an
    action on ``df`` has run."""
    out = {"rows_scanned": 0, "files_scanned": 0, "partitions_scanned": 0, "shuffle_bytes": 0}
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name in _SCAN:
            m = _metrics(node)
            out["rows_scanned"] += m.get("numOutputRows", 0)
            out["files_scanned"] += m.get("numFiles", 0)
            out["partitions_scanned"] += m.get("numPartitions", 0)
        elif name in _SHUFFLE:
            out["shuffle_bytes"] += _metrics(node).get("shuffleBytesWritten", 0)
        todo.extend(_children(node, name))
    return out


def group_jobs_tasks(sc, group: str) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            tasks += si.numTasks if si else 0
    return len(jobs), tasks


# --- streaming progress -----------------------------------------------------

_DURATIONS = {
    "stream.add_batch_ms": "addBatch",
    "stream.get_batch_ms": "getBatch",
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-layer numbers of the sessionizer and the micro-batch engine
    over the given batch reports: per-batch medians for times, totals
    for row counts, the last batch's state size."""
    data = [p for p in progress if p["numInputRows"] > 0] or progress
    out = {k: median([p["durationMs"].get(v, 0) for p in data]) for k, v in _DURATIONS.items()}
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    data_ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    if ops:
        out["sessionizer.update_ms"] = median(
            [o.get("allUpdatesTimeMs", 0) + o.get("allRemovalsTimeMs", 0) for o in data_ops]
        )
        out["sessionizer.commit_ms"] = median([o.get("commitTimeMs", 0) for o in data_ops])
        out["sessionizer.state_rows_total"] = ops[-1].get("numRowsTotal", 0)
        out["sessionizer.state_rows_removed"] = sum(o.get("numRowsRemoved", 0) for o in ops)
        out["sessionizer.state_mb"] = max(o.get("memoryUsedBytes", 0) for o in ops) / 2**20
        out["sessionizer.late_rows_dropped"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return out


# --- process tree -----------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def process_tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def cpu_s(pids: list[int]) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def jvm_gc_jit_ms(spark) -> tuple[int, int]:
    """Milliseconds the driver JVM has spent in garbage collection and in
    JIT compilation so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc_ms = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return gc_ms, mf.getCompilationMXBean().getTotalCompilationTime()


def steal_s() -> float:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
