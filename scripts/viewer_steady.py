"""Long-run viewer control: perfbench's viewer_append requests, many in a
row in one process, reported per block so the warm-up slope and the
steady state show side by side.

    python3 scripts/viewer_steady.py [--seed 1] [--requests 120] [--block 20]

Run from the root of a checkout, alone on the machine. One process
builds the 30-day store with perfbench's own set-up (perfbench/gen.py,
perfbench/viewer.py, which it imports and does not change), then sends
the seeded request mix in a closed loop with the benchmark's hourly
appends and compactions. Per block it prints one JSON line: the p50
request latency, Janino compiles per request (Spark's CodegenMetrics)
and JIT milliseconds of the Spark JVM per request (CompilationMXBean);
both counts include the block's appends and compactions. The last line
sums the run. No request's answer is checked here; perfbench's
viewer_append does that.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--requests", type=int, default=120)
    p.add_argument("--block", type=int, default=20)
    args = p.parse_args(argv)
    sys.path[:0] = [ROOT, PERFBENCH]

    import run as perfbench  # perfbench/run.py: its environment and Context

    work = os.path.join(ROOT, ".perfbench_work", f"viewer_steady-{os.getpid()}")
    perfbench._configure_env(work)

    import gen
    import sparkmetrics
    import stats
    import viewer
    from spans import Tracer

    from moloch_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("viewer_steady")
    spark.sparkContext.setLogLevel("ERROR")
    ctx = perfbench.Context(
        spark, Tracer(enabled=False), argparse.Namespace(seed=args.seed, seconds=0), work
    )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    try:
        store = os.path.join(work, "store")
        events = gen.store_events(args.seed, gen.STORE_DAYS, viewer.EVENTS_PER_DAY)
        viewer._build(ctx, events, store)
        print(json.dumps({"setup_s": round(time.perf_counter() - t0, 1)}), flush=True)
        rounds = math.ceil(args.requests / len(gen.ROUND))
        reqs = gen.requests(args.seed, rounds, span_days=viewer.SPAN_DAYS)[: args.requests]
        v = viewer.Viewer(ctx, store)
        appender = viewer.Appender(ctx, store, args.seed)
        latencies, failed = [], 0
        for lo in range(0, len(reqs), args.block):
            block = reqs[lo : lo + args.block]
            compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
            jit0 = sparkmetrics.jvm_gc_jit_ms(spark)[1]
            lat, f = viewer._round(v, block, appender)
            n = len(block)
            print(
                json.dumps(
                    {
                        "requests": f"{lo + 1}-{lo + n}",
                        "p50_ms": round(stats.percentile(lat, 50), 1),
                        "compiles_per_request": round(
                            (codegen.METRIC_COMPILATION_TIME().getCount() - compiles0) / n, 2
                        ),
                        "jit_ms_per_request": round(
                            (sparkmetrics.jvm_gc_jit_ms(spark)[1] - jit0) / n, 1
                        ),
                        "failed": f,
                    }
                ),
                flush=True,
            )
            latencies += lat
            failed += f
        print(
            json.dumps(
                {
                    "requests": len(latencies),
                    "p50_ms": round(stats.percentile(latencies, 50), 1),
                    "appends": len(appender.append_s),
                    "compactions": len(appender.compact_s),
                    "failed": failed,
                    "errors": ctx.diag.get("errors", []),
                }
            )
        )
    finally:
        perfbench._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
