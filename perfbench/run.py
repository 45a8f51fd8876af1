"""Session-analytics benchmark: one workload per run, in a fresh Spark
process.

    python3 perfbench/run.py --workload capture_stream --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads:

* ``capture_stream`` -- drain a backlog of event files through the
  streaming sessionizer into the session store (perfbench/capture.py);
* ``viewer_append`` -- one analyst, closed loop, over a seeded mix of
  search / spiview / spigraph / unique / multiunique / timeline /
  connections requests against a 30-day store, interleaved with hourly
  appends and periodic compaction on the same thread
  (perfbench/viewer.py).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics
of BENCHMARK.json, ``--trace 1`` the per-layer ones (spans go to
``.perfbench_out/``). The line before it carries diagnostics (load
average, steal time, CPU seconds) that no bound applies to.

Spark is sized through the program's own ``get_spark`` inputs: all cores
the process may use (``SPARK_GRAFT_CPUS``) and a quarter of physical
memory, at most 4 GiB, as heap (``SPARK_GRAFT_DRIVER_MEM``).
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("capture_stream", "viewer_append")
# G1 returns the heap a full GC freed within ~0.5 s
RSS_SETTLE_S = 1.0


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(work: str) -> None:
    """Everything the JVM and the Python workers inherit: set before the
    JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ.update(
        {
            "TZ": "UTC",
            # the Python workers import moloch_spark (sessionizer UDFs)
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYTHONWARNINGS": "ignore",
            # fewer glibc malloc arenas: the JVM's native RSS otherwise
            # varies run to run with how threads happened to spread
            "MALLOC_ARENA_MAX": "2",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(mem_gib // 4)))}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # the driver JVM and spark-submit's launcher JVM: no files in /tmp
            "SPARK_SUBMIT_OPTS": " ".join(
                p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if p
            ),
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    time.tzset()


class Context:
    """What a workload gets: the session, the tracer, its seed and run
    length, a scratch directory, and hooks around the timed window."""

    def __init__(self, spark, tracer, args, work):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds = args.seed, args.seconds
        self._perf_minus_wall = time.perf_counter() - time.time()
        self.diag: dict = {}

    def gc(self) -> None:
        """Full GC in the JVM and here, between phases, so no collection
        that earlier phases made necessary lands in the timed window."""
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def wall_to_perf(self, iso: str) -> float:
        t = dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
        return t + self._perf_minus_wall

    def window_start(self) -> None:
        import sparkmetrics

        pids = sparkmetrics.process_tree(os.getpid())
        self.window = (time.perf_counter(), None)
        self._w0 = (
            sparkmetrics.steal_s(), sparkmetrics.cpu_s(pids), self.tracer.overhead_s,
            sparkmetrics.jvm_gc_jit_ms(self.spark),
        )
        self.diag["loadavg_start"] = sparkmetrics.loadavg()

    def window_end(self) -> None:
        """Close the window. Memory is read after a full GC and a pause in
        which the JVM hands freed heap back to the OS: it counts what the
        processes retain, not how far the heap happened to grow."""
        import sparkmetrics

        pids = sparkmetrics.process_tree(os.getpid())
        self.window = (self.window[0], time.perf_counter())
        steal0, cpu0, overhead0, (gc0, jit0) = self._w0
        gc_ms, jit_ms = sparkmetrics.jvm_gc_jit_ms(self.spark)
        self.window_overhead_s = self.tracer.overhead_s - overhead0
        self.diag.update(
            {
                "window_s": self.window[1] - self.window[0],
                "loadavg_end": sparkmetrics.loadavg(),
                "steal_s": sparkmetrics.steal_s() - steal0,
                "cpu_s": sparkmetrics.cpu_s(pids) - cpu0,
                "jvm_gc_ms": gc_ms - gc0,
                "jvm_jit_ms": jit_ms - jit0,
                "processes": len(pids),
                "rss_mb_before_gc": sparkmetrics.rss_mb(pids),
            }
        )
        self.gc()
        time.sleep(RSS_SETTLE_S)
        self.rss_mb = sparkmetrics.rss_mb(pids)
        self.diag["rss_mb_by_pid"] = {p: sparkmetrics.rss_mb([p]) for p in pids}


def _stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and wait for every process we started."""
    import sparkmetrics
    from pyspark import SparkContext

    # Python workers outlive the JVM by a moment and are then re-parented:
    # take the tree while it is still whole
    me = os.getpid()
    started = [p for p in sparkmetrics.process_tree(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits at the end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while True:
        left = [p for p in started if sparkmetrics.alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 20
        time.sleep(0.1)


def _metrics(spec: list[dict], values: dict) -> dict:
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise KeyError(f"workload did not produce {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec}


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import moloch_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from a checkout root", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _configure_env(work)

    import stats
    from spans import Tracer

    from moloch_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    ctx = Context(spark, tracer, args, work)
    ctx.diag["session_start_s"] = session_start_s
    try:
        if args.workload == "capture_stream":
            import capture

            res = capture.run(ctx)
        else:
            import viewer

            res = viewer.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t0 = time.perf_counter()
        try:
            _stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        ctx.diag["stop_s"] = time.perf_counter() - t0

    lat = res["latency_ms"]
    if args.trace:
        ops = max(1, len(lat))  # timed batches or requests
        layer = dict.fromkeys((m["name"] for m in bench["per_layer"]), 0.0)
        layer.update(res["layer"])
        layer["session.start_ms"] = session_start_s * 1000
        layer["trace.overhead_ms_per_op"] = ctx.window_overhead_s * 1000 / ops
        layer["trace.latency_ms_p50"] = stats.percentile(lat, 50)
        for name, s in tracer.self_times(*ctx.window).items():
            layer[f"self.{name}_ms_per_op"] = s * 1000 / ops
        tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        metrics = _metrics(bench["per_layer"], layer)
    else:
        metrics = _metrics(
            bench["end_to_end"],
            {
                "setup_s": session_start_s + res["setup_s"],
                "throughput_per_s": res["throughput_per_s"],
                "latency_ms_p50": stats.percentile(lat, 50),
                "store_bytes_per_session": res["store_bytes_per_session"],
                "rss_mb": ctx.rss_mb,
            },
        )
    summary = stats.summarize(lat, "latency_ms")
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace, **ctx.diag, **summary, **res["info"]}
    if res["problems"]:
        diag["problems"] = res["problems"]
        for p in res["problems"]:
            print(f"perfbench: INCORRECT: {p}", file=sys.stderr)
    print(json.dumps({"diagnostics": diag}))
    print(
        json.dumps(
            {
                "correct": not res["problems"],
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
