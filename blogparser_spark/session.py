"""SparkSession factory with the configuration the pipeline assumes.

Design notes (scale): AQE on (skew-join split + shuffle-partition coalesce),
Arrow-vectorized Python execution on, ANSI off so malformed dates/casts yield
NULL (the reference treats a missing/bad date as a zero value → NULL,
parser/parser.go:131-134, not as a job failure). Session timezone is pinned
to UTC so timestamp parity with the pure-Python oracle layer and with DuckDB
oracles is deterministic.

Start-up: a launch maps a dynamic class-data-sharing archive of the ~11k
Spark and Scala classes a session loads, recorded once per JDK and Spark
class path under _cds_dir() by the first launch that finds none; see
_plan_class_sharing and the README's start-up section.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import sys

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# a recording JVM writes its archive (about 150 MB) at exit, in about 13 s
# on four cores
RECORD_WAIT_S = 60.0
# refused or recorded archives log on the JVM's stdout, which PySpark
# shares with the Python process
_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# the session conf entry where a launch records what it did about
# class-data sharing; read it with class_sharing()
CLASS_SHARING_CONF = "spark.blogparser.classSharing"


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


def _cds_dir() -> str:
    """Where the class-data-sharing archives live:
    $XDG_CACHE_HOME/blogparser_spark/cds, ~/.cache by default."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "blogparser_spark", "cds")


def _archive_key(spark_home: str) -> str:
    """Hash of the java binary spark-submit runs, its version, and the
    names, sizes and mtimes of Spark's jars: an archive maps only under
    the JVM and class path that recorded it."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if java is None:
        raise OSError("no java on PATH")
    version = subprocess.run(
        [java, "-version"], capture_output=True, text=True, timeout=60, check=True
    ).stderr
    h = hashlib.sha256(f"{os.path.realpath(java)}\n{version}".encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _plan_class_sharing() -> tuple[str, str, str | None, tuple[str, str] | None]:
    """How the next JVM launch uses a dynamic class-data-sharing archive
    (JEP 350): (state, driver java options, SPARK_CONF_DIR to launch with,
    (file the JVM writes at exit, archive to promote it to) when the
    launch records).

    JDK 17 refuses an archive while a non-empty directory is on the class
    path, and spark-submit puts SPARK_CONF_DIR there. A conf directory of
    `*.template` files only is swapped for an empty one, both when
    recording and when mapping; one with real files keeps its effect and
    the launch shares nothing. Only a promoted archive is ever mapped: a
    truncated one crashes the JVM."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        real = []
    if real:
        return f"off: {conf_dir} holds {real[0]}", "", None, None
    cache = _cds_dir()
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if not os.access(cache, os.W_OK):
            raise PermissionError(f"{cache} is not writable")
        key = _archive_key(spark_home)
    except (OSError, subprocess.SubprocessError) as e:
        return f"off: {e}", "", None, None
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(archive):
        return f"using {archive}", f"-XX:SharedArchiveFile={archive} {_QUIET}", empty_conf, None
    tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    return (
        f"recording {archive}",
        f"-XX:ArchiveClassesAtExit={tmp} {_QUIET}",
        empty_conf,
        (tmp, archive),
    )


def class_sharing(spark: SparkSession) -> str:
    """What the launch of `spark`'s JVM did about class-data sharing:
    "using <archive>", "recording <archive>" or "off: <reason>". A JVM
    get_spark did not launch (under spark-submit) reads off."""
    return spark.conf.get(CLASS_SHARING_CONF, "off: the JVM was already running")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _finish_recording(proc, tmp: str, archive: str) -> None:
    """Let a recording JVM write its archive and promote it. On Linux the
    JVM exits on stdin EOF, after the Python process has gone, so this
    runs at interpreter exit: it closes the gateway's stdin, unless the
    caller already stopped the JVM, and waits up to RECORD_WAIT_S.
    The file becomes `archive` by atomic rename only after the JVM exits
    with status 0; promoting it deletes other keys' archives and the
    files of recorders no longer alive."""
    if proc.poll() is None:
        try:
            proc.stdin.close()
            proc.wait(RECORD_WAIT_S)
        except (OSError, subprocess.TimeoutExpired):
            return  # still writing: never mapped, swept by a later promotion
    try:
        if proc.returncode != 0:
            os.remove(tmp)
            return
        os.replace(tmp, archive)
        cache = os.path.dirname(archive)
        for name in os.listdir(cache):
            path = os.path.join(cache, name)
            pid = name.split(".")[-2] if name.endswith(".tmp") else ""
            if path == archive or not os.path.isfile(path):
                continue
            if not (pid.isdigit() and _pid_alive(int(pid))):
                os.remove(path)
    except OSError:
        pass


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
    conf = dict(extra_conf or {})
    java_opts, conf_dir, record = "", None, None
    # nothing changes for a JVM that already runs: under spark-submit, or
    # on a second get_spark in this process
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        state, java_opts, conf_dir, record = _plan_class_sharing()
        print(f"class-data sharing: {state}", file=sys.stderr, flush=True)
        conf[CLASS_SHARING_CONF] = state
    if java_opts:
        # callers replace extraJavaOptions; Spark prepends the defaults
        key = "spark.driver.defaultJavaOptions"
        conf[key] = f"{java_opts} {conf.get(key, '')}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is not None:  # the launch read it; restore the caller's
            os.environ.pop("SPARK_CONF_DIR")
            if saved is not None:
                os.environ["SPARK_CONF_DIR"] = saved
    proc = getattr(SparkContext._gateway, "proc", None)
    if record is not None and proc is not None:
        atexit.register(_finish_recording, proc, *record)
    return spark
