"""SparkSession factory with the configuration the pipeline assumes.

Design notes (scale): AQE on (skew-join split + shuffle-partition coalesce),
Arrow-vectorized Python execution on, ANSI off so malformed dates/casts yield
NULL (the reference treats a missing/bad date as a zero value → NULL,
parser/parser.go:131-134, not as a job failure). Session timezone is pinned
to UTC so timestamp parity with the pure-Python oracle layer and with DuckDB
oracles is deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def usable_cores() -> int:
    """CPUs this process may run on (its affinity mask, not the host's
    core count)."""
    return len(os.sched_getaffinity(0))


def default_master() -> str:
    """local[SPARK_GRAFT_CPUS] when set, else local[<usable cores>]."""
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS') or usable_cores()}]"


def default_driver_memory() -> str:
    """SPARK_DRIVER_MEM when set, else a quarter of physical RAM. Local
    mode runs every task in the driver JVM, so its heap must leave room
    for the Python workers and the page cache on the same host."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(total_mb // 4, 512)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "blogparser_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or default_master()
    # the parse UDF deserializes on executor python workers, which need the
    # package importable; local mode inherits the driver env, a cluster
    # deployment ships the package via spark-submit --py-files instead
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    if shuffle_partitions is None:
        # match parallelism: one shuffle partition per core locally; a real
        # cluster deployment would size this to ~2-3x total cores via submit conf
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = usable_cores() if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parse stage is regex-heavy python; keep executor→python worker reuse
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        # local mode = the driver JVM IS the executor: its heap absorbs the
        # pipeline's string churn (parse output ≈ 4× payload per run), but
        # a heap sized past physical RAM gets the JVM OOM-killed, so the
        # default is a quarter of RAM (default_driver_memory); set
        # SPARK_DRIVER_MEM to raise it on a large host. Real clusters size
        # executor memory instead (spark-submit --executor-memory).
        .config("spark.driver.memory", default_driver_memory())
        # ParallelGC over G1 for this allocation-heavy batch workload:
        # measured 148k vs 112k turns/s at local[16] on the 5M-turn
        # pipeline, and without G1's occasional concurrent-mark stalls
        # (one G1 run spiked 44s→158s). Throughput collectors win when
        # nothing is latency-sensitive.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
