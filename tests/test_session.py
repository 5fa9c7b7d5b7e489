"""Session defaults fit the host the job runs on: a heap well under physical
RAM and one local task slot per usable core, unless the environment says
otherwise."""

from __future__ import annotations

import os
import types

from blogparser_spark import session


class _Builder:
    """Records what get_spark would configure, without starting a JVM."""

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
        return self.conf


def _conf(monkeypatch, **env) -> dict[str, str]:
    for k in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS"):
        monkeypatch.delenv(k, raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=_Builder())
    )
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
