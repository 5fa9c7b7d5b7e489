"""The benchmark's Spark session, sized to the machine it runs on, and the
process-level gauges read from outside the program.

The program's own defaults (`session.get_spark`: local[32], a 32g heap) do
not fit a small host, so the session here is local[<usable cores>] with a
heap well under physical RAM, console progress bars off (they interleave
with stdout), and every temporary file Spark or the JVM writes kept under the
benchmark's work directory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

HEAP_MB_MAX = 2048


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """A quarter of physical RAM, at most HEAP_MB_MAX."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return min(HEAP_MB_MAX, total // 4)


def start_session(work_dir: str):
    """A fresh SparkSession on local[cores()]; the JVM is launched by the
    first call in a process and reused by later ones."""
    from blogparser_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # pyspark's gateway handshake file
    n = cores()
    heap = heap_mb()
    mem = f"{heap}m"
    spark = get_spark(
        master=f"local[{n}]",
        app_name="perfbench",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": mem,
            "spark.driver.extraJavaOptions": (
                # a fixed heap and young generation (no adaptive resizing)
                # keep the resident set comparable from run to run
                f"-XX:+UseParallelGC -Xms{mem} -Xmn{heap // 3}m -XX:-UseAdaptiveSizePolicy "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM the first session launched and wait until it and every
    process under it (the Python workers) have exited, killing what is
    still up after `timeout` seconds."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = _descendants(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except (Py4JError, OSError):  # the gateway connection is already gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    deadline = time.time() + timeout
    for pid in pids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.05)
    for pid in pids:  # anything still up after the deadline is killed
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
            stop = time.time() + 10
            while _alive(pid) and time.time() < stop:
                time.sleep(0.05)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, busy) jiffies over all CPUs since boot, from /proc/stat.
    Busy is time a virtual CPU ran (user, nice, system, irq, softirq);
    steal is time a runnable one waited for the hypervisor instead."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]] + [0] * 8
    return v[7], v[0] + v[1] + v[2] + v[5] + v[6]


def steal_share(since: tuple[int, int]) -> float:
    """Steal as a share of runnable CPU time (steal + busy) since the
    cpu_jiffies() reading `since`: the share of its time a runnable virtual
    CPU of this host lost to other tenants. It does not depend on how many
    virtual CPUs the work kept runnable."""
    steal, busy = (b - a for a, b in zip(since, cpu_jiffies()))
    return steal / (steal + busy) if steal + busy else 0.0


class Stopwatch:
    """Wall time of one interval, and the same with the host's steal taken
    out: wall × (1 − steal_share). Work that runs only while its virtual
    CPUs are not stolen progresses at (1 − share) of the wall rate, however
    many of them it keeps busy; on a dedicated machine the share is 0."""

    def __init__(self):
        self._j0 = cpu_jiffies()
        self._t0 = time.perf_counter()

    def stop(self) -> tuple[float, float, float]:
        """(wall seconds, seconds without steal, steal share)."""
        wall = time.perf_counter() - self._t0
        share = steal_share(self._j0)
        return wall, wall * (1.0 - share), share


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of the Spark JVM and every
    process under it (the Python worker daemon and its workers), from
    /proc; psutil is not available."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    return sum(_status_kb(p, "VmHWM") for p in _descendants(proc.pid)) / 1024.0


def stage_totals(spark) -> dict:
    """GC time and shuffle bytes written over the session, and the task
    skew (longest over median task time) of its heaviest stage, from
    Spark's in-process status store (the data the monitoring REST API
    serves)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    execs = store.executorList(True)
    gc_ms = sum(execs.apply(i).totalGCTime() for i in range(execs.size()))
    shuffle = sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))
    stages = store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    heaviest = max((stages.apply(i) for i in range(stages.size())),
                   key=lambda st: st.executorRunTime(), default=None)
    skew = 1.0
    if heaviest is not None:
        tasks = store.taskList(heaviest.stageId(), heaviest.attemptId(), 100_000)
        durs = sorted(t.duration().get() for t in (tasks.apply(k) for k in range(tasks.size()))
                      if t.duration().isDefined())
        if durs and durs[len(durs) // 2] > 0:
            skew = durs[-1] / durs[len(durs) // 2]
    return {"gc_s": gc_ms / 1000.0, "shuffle_write_bytes": shuffle, "task_skew": skew}
