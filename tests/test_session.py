"""Session defaults: the driver heap pre-touched at start fits the host."""

import types

import pytest

from datasketches_postgresql_spark import session

GIB = 2**30


class _Builder:
    """Records the conf get_spark sets instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf(monkeypatch, phys_bytes, driver_mem=None):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    if driver_mem is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", driver_mem)
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=_Builder()))
    return session.get_spark(master="local[1]")


def _xms_mb(conf):
    opts = conf["spark.driver.extraJavaOptions"].split()
    assert "-XX:+AlwaysPreTouch" in opts
    (xms,) = [o for o in opts if o.startswith("-Xms")]
    unit = {"m": 1, "g": 1024}[xms[-1]]
    return int(xms[4:-1]) * unit


def test_default_pretouch_is_a_quarter_of_a_15_gib_host(monkeypatch):
    conf = _conf(monkeypatch, 15 * GIB)
    assert _xms_mb(conf) == 15 * 1024 // 4
    assert conf["spark.driver.memory"] == "8192m"  # the heap may still grow to 8 GiB


def test_default_pretouch_stops_at_8_gib(monkeypatch):
    assert _xms_mb(_conf(monkeypatch, 64 * GIB)) == 8192


@pytest.mark.parametrize("mem", ["2g", "6g"])
def test_driver_mem_variable_sets_heap_and_pretouch(monkeypatch, mem):
    conf = _conf(monkeypatch, 15 * GIB, driver_mem=mem)
    assert conf["spark.driver.memory"] == mem
    assert _xms_mb(conf) == int(mem[:-1]) * 1024
