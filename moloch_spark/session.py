"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime re-plan, skew-join handling), shuffle partitions sized to
the parallelism actually available instead of the 200 default, Arrow for
any pandas exchange, and UTC session time so timestamp semantics are
stable across engines (the DuckDB correctness oracle runs naive/UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Default heap: half of physical memory, at most 48 GiB (the heap
    that kept full GCs out of a many-query session on a 128 GiB box),
    at least 1 GiB. In local mode the driver heap is the executor heap,
    so asking for more than the machine has invites the OOM killer."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = min(48 * 1024, phys_bytes // 2**21)
    return f"{max(1024, mib)}m"


def get_spark(app_name: str = "moloch_spark", *, cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster the master/memory settings come from spark-submit;
    everything under ``spark.sql.*`` here is what we'd bake into the job
    config at any scale.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # Size shuffles to available cores. On a 1000-executor cluster this
        # would be ~2-3x total cores; AQE coalesces small partitions anyway.
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver fixtures are tz-naive parquet timestamps; without this Spark
        # 4 infers TIMESTAMP_NTZ (unix_millis()/unix_micros() reject NTZ —
        # window() has accepted it since 3.4). Reading as TIMESTAMP matches
        # DuckDB's naive oracle ONLY because session.timeZone is pinned to
        # UTC above. NOTE: this builder config does NOT protect the scored
        # surface — the driver uses a vanilla session, so all epoch math
        # must stay dtype-aware (operators/timeutil.py) regardless.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        # Single-JVM local mode: the "driver" heap IS the executor heap
        # (16g showed multi-second GC outliers once ~70 query plans +
        # broadcasts accumulate in one session — hence the large default).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Python workers fork from moloch_spark.pyworker, which stops
        # every task re-reading pyspark.zip's directory. Workers import
        # moloch_spark anyway (the sessionizer's state functions are
        # pickled by reference); the executor PYTHONPATH makes the
        # daemon importable from any working directory.
        .config("spark.python.daemon.module", "moloch_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # No Python call site on every Column call: with it on, each
        # F.col is ~13 py4j round trips (active session, conf read,
        # set/clear of PySparkCurrentOrigin) instead of ~3. The cost is
        # that error messages no longer name the Python line that built
        # the failing expression; to debug, build a session with this
        # set to true.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
