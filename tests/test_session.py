"""``get_spark`` sizes its defaults from the host. Checked without a JVM:
the session builder is replaced by a fake that records its configs, and
the host's CPU and memory readings are patched."""

import os
from types import SimpleNamespace

import pytest

from xmlschema_spark import session


class _FakeBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


@pytest.fixture
def host(monkeypatch):
    """A 64-CPU host whose process may run on 5 of them, with 16 GiB."""
    builder = _FakeBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "_ship_package", lambda spark: None)
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(5)))
    mem = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 16 * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: mem[name])
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    return SimpleNamespace(conf=builder.conf, mem=mem)


def test_shuffle_partitions_follow_cores(host):
    session.get_spark("t", cores=6)
    assert (host.conf["master"], host.conf["spark.sql.shuffle.partitions"]) == ("local[6]", "12")
    session.get_spark("t")  # "*": the cores this process may run on
    assert (host.conf["master"], host.conf["spark.sql.shuffle.partitions"]) == ("local[*]", "10")


def test_driver_memory_fits_host(host, monkeypatch):
    session.get_spark("t", cores=2)
    assert host.conf["spark.driver.memory"] == "8g"
    host.mem["SC_PHYS_PAGES"] = 256 * 2**30 // 4096
    session.get_spark("t", cores=2)
    assert host.conf["spark.driver.memory"] == "48g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    session.get_spark("t", cores=2)
    assert host.conf["spark.driver.memory"] == "3g"
