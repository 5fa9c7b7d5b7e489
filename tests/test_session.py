"""Session defaults fit the host the job runs on: a heap well under physical
RAM and one local task slot per usable core, unless the environment says
otherwise. A launched JVM maps a class-data-sharing archive once one has
been recorded and promoted."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import types

import pytest

from blogparser_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_OPTS = "spark.driver.defaultJavaOptions"


class _Proc:
    """A gateway process that exits with `status` once its stdin closes."""

    def __init__(self, status: int = 0, running: bool = True):
        self.status = status
        self.returncode = None if running else status
        self.stdin = types.SimpleNamespace(close=self._eof)

    def _eof(self):
        self.returncode = self.status

    def poll(self):
        return self.returncode

    def wait(self, timeout=None):
        return self.returncode


class _Builder:
    """Records what get_spark would configure, and the SPARK_CONF_DIR the
    launch would see, without starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.conf["launch SPARK_CONF_DIR"] = os.environ.get("SPARK_CONF_DIR")
        if session.SparkContext._gateway is None:
            session.SparkContext._gateway = types.SimpleNamespace(proc=_Proc())
        return self.conf


def _conf(monkeypatch, gateway=object(), **env) -> dict[str, str]:
    """get_spark's configuration with a fake builder; `gateway=None` makes
    it launch a (fake) JVM."""
    for k in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=_Builder())
    )
    monkeypatch.setattr(session, "SparkContext", types.SimpleNamespace(_gateway=gateway))
    return session.get_spark()


def _mb(size: str) -> int:
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return int(float(size[:-1]) * scale[size[-1].lower()])


def test_default_heap_and_master_fit_the_host(monkeypatch):
    conf = _conf(monkeypatch)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert _mb(conf["spark.driver.memory"]) <= max(ram_mb // 4, 512)
    cores = len(os.sched_getaffinity(0))
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)


def test_environment_overrides_the_defaults(monkeypatch):
    conf = _conf(monkeypatch, SPARK_DRIVER_MEM="3g", SPARK_GRAFT_CPUS="2")
    assert conf["spark.driver.memory"] == "3g"
    assert conf["master"] == "local[2]"
    assert conf["spark.sql.shuffle.partitions"] == "2"


@pytest.fixture
def cds(monkeypatch, tmp_path):
    """A fake Spark home (one jar, a conf directory of templates), an
    empty cache, and the at-exit hooks get_spark registers."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    hooks: list[tuple] = []
    monkeypatch.setattr(
        session, "atexit", types.SimpleNamespace(register=lambda *a: hooks.append(a))
    )
    cache = tmp_path / "cache" / "blogparser_spark" / "cds"
    return types.SimpleNamespace(home=home, cache=cache, hooks=hooks)


def _key(cds) -> str:
    return session._archive_key(str(cds.home))


def test_promoted_archive_is_mapped_quietly(monkeypatch, cds):
    cds.cache.mkdir(parents=True)
    archive = cds.cache / f"{_key(cds)}.jsa"
    archive.write_bytes(b"archive")
    conf = _conf(monkeypatch, gateway=None)
    assert conf[_OPTS].split() == [
        f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
    ]
    assert conf["launch SPARK_CONF_DIR"] == str(cds.cache / "conf")
    assert os.listdir(cds.cache / "conf") == []
    assert "SPARK_CONF_DIR" not in os.environ
    assert conf[session.CLASS_SHARING_CONF] == f"using {archive}"
    assert cds.hooks == []


def test_missing_archive_records_to_a_tmp_file(monkeypatch, cds):
    conf = _conf(monkeypatch, gateway=None)
    tmp = cds.cache / f"{_key(cds)}.{os.getpid()}.tmp"
    assert conf[_OPTS].split() == [
        f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
    ]
    assert conf["launch SPARK_CONF_DIR"] == str(cds.cache / "conf")
    archive = cds.cache / f"{_key(cds)}.jsa"
    assert conf[session.CLASS_SHARING_CONF] == f"recording {archive}"
    [(proc, hook_tmp, hook_archive)] = [h[1:] for h in cds.hooks]
    assert (hook_tmp, hook_archive) == (str(tmp), str(archive))
    assert proc is session.SparkContext._gateway.proc


def test_leftover_or_truncated_tmp_is_never_mapped(monkeypatch, cds):
    """A file a recording JVM has not finished (or a killed run left
    behind) crashes a JVM that maps it: only a promoted archive is
    passed."""
    cds.cache.mkdir(parents=True)
    for pid in (os.getpid(), 1):
        (cds.cache / f"{_key(cds)}.{pid}.tmp").write_bytes(b"\x00" * 64)
    conf = _conf(monkeypatch, gateway=None)
    assert "SharedArchiveFile" not in conf[_OPTS]
    assert "-XX:ArchiveClassesAtExit=" in conf[_OPTS]


def test_conf_dir_with_real_files_keeps_its_effect(monkeypatch, cds, tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "log4j2.properties.template").write_text("")
    (conf_dir / "spark-defaults.conf").write_text("spark.executor.cores 2\n")
    conf = _conf(monkeypatch, gateway=None, SPARK_CONF_DIR=str(conf_dir))
    assert _OPTS not in conf
    assert conf["launch SPARK_CONF_DIR"] == str(conf_dir)
    assert conf[session.CLASS_SHARING_CONF] == f"off: {conf_dir} holds spark-defaults.conf"
    assert cds.hooks == []


def test_unwritable_cache_starts_without_an_archive(monkeypatch, cds, tmp_path):
    (tmp_path / "file").write_text("")
    conf = _conf(monkeypatch, gateway=None, XDG_CACHE_HOME=str(tmp_path / "file"))
    assert _OPTS not in conf
    assert conf["launch SPARK_CONF_DIR"] is None
    assert conf[session.CLASS_SHARING_CONF].startswith("off: ")


def test_running_gateway_gets_no_options(monkeypatch, cds):
    cds.cache.mkdir(parents=True)
    (cds.cache / f"{_key(cds)}.jsa").write_bytes(b"archive")
    conf = _conf(monkeypatch)
    assert _OPTS not in conf and session.CLASS_SHARING_CONF not in conf
    assert conf["launch SPARK_CONF_DIR"] is None
    assert cds.hooks == []


def test_promotion_only_after_exit_status_0(cds):
    cds.cache.mkdir(parents=True)
    archive = cds.cache / "new.jsa"
    tmp = cds.cache / f"new.{os.getpid()}.tmp"
    tmp.write_bytes(b"recorded")
    session._finish_recording(_Proc(status=1), str(tmp), str(archive))
    assert not archive.exists() and not tmp.exists()

    dead = subprocess.Popen(["true"])
    dead.wait()
    stale = {cds.cache / "old.jsa", cds.cache / f"new.{dead.pid}.tmp"}
    live = cds.cache / "new.1.tmp"  # pid 1 is always alive
    for p in (*stale, live, tmp):
        p.write_bytes(b"recorded")
    proc = _Proc(status=0)
    session._finish_recording(proc, str(tmp), str(archive))
    assert proc.returncode == 0  # stdin closed, exit waited for
    assert archive.read_bytes() == b"recorded" and not tmp.exists()
    assert not any(p.exists() for p in stale) and live.exists()

    # a JVM the caller already stopped is not waited for again
    tmp.write_bytes(b"again")
    session._finish_recording(_Proc(status=0, running=False), str(tmp), str(archive))
    assert archive.read_bytes() == b"again"


_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from blogparser_spark import session
spark = session.get_spark(
    master="local[1]",
    extra_conf={{"spark.driver.extraJavaOptions": "-Xlog:class+load=info:file=" + sys.argv[1]}},
)
print(session.class_sharing(spark).split()[0], spark.range(5).count())
"""


def test_first_launch_records_and_the_next_maps(tmp_path):
    """Two real launches on an empty cache: the first records an archive
    and promotes it at exit, the second maps it (classes load from the
    top archive). Neither writes anything of its own to stdout."""
    script = tmp_path / "child.py"
    script.write_text(textwrap.dedent(_CHILD.format(repo=REPO)))
    (tmp_path / "conf").mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env.update(SPARK_DRIVER_MEM="1g", XDG_CACHE_HOME=str(tmp_path / "cache"),
               SPARK_CONF_DIR=str(tmp_path / "conf"))
    out = []
    for i in (1, 2):
        log = tmp_path / f"class-load-{i}.log"
        p = subprocess.run([sys.executable, str(script), str(log)], env=env,
                           capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-2000:]
        out.append(p.stdout)
        shared = sum("shared objects file (top)" in ln for ln in log.read_text().splitlines())
        assert (shared > 0) == (i == 2)
    assert out == ["recording 5\n", "using 5\n"]
    names = os.listdir(tmp_path / "cache" / "blogparser_spark" / "cds")
    assert sorted(n.rsplit(".", 1)[-1] for n in names) == ["conf", "jsa"]
