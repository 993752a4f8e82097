"""Session defaults: the driver heap, and the part of it pre-touched at
start, fit the host's memory or its cgroup limit."""

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


def _conf(monkeypatch, phys_bytes, driver_mem=None, cgroup_bytes=None):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    monkeypatch.setattr(session, "_cgroup_limit_bytes", lambda: cgroup_bytes)
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
    # two default sessions together stay within the host's 15 GiB
    assert conf["spark.driver.memory"] == f"{15 * 1024 // 2}m"


def test_cgroup_limit_below_ram_sizes_the_heap(monkeypatch):
    conf = _conf(monkeypatch, 15 * GIB, cgroup_bytes=6 * GIB)
    assert conf["spark.driver.memory"] == "3072m"
    assert _xms_mb(conf) == 1536


def _cgroup_limit(tmp_path, proc_lines, files):
    """_cgroup_limit_bytes over a fake /proc/self/cgroup and cgroup mount."""
    proc = tmp_path / "proc_self_cgroup"
    proc.write_text("".join(line + "\n" for line in proc_lines))
    root = tmp_path / "cgroup"
    root.mkdir()
    for rel, raw in files.items():
        f = root / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text(raw + "\n")
    return session._cgroup_limit_bytes(str(root), str(proc))


@pytest.mark.parametrize("raw,limit", [("6442450944", 6 * GIB), ("max", None)])
def test_cgroup_v2_limit_of_the_own_cgroup(tmp_path, raw, limit):
    """v2 without a cgroup namespace (a systemd unit with MemoryMax): the
    limit sits at the process's own path, not at the mount root."""
    files = {"system.slice/job.service/memory.max": raw, "system.slice/memory.max": "max"}
    assert _cgroup_limit(tmp_path, ["0::/system.slice/job.service"], files) == limit


def test_cgroup_ancestor_limit_applies(tmp_path):
    files = {"a/b/memory.max": "max", "a/memory.max": str(4 * GIB)}
    assert _cgroup_limit(tmp_path, ["0::/a/b"], files) == 4 * GIB


@pytest.mark.parametrize("raw", ["6442450944", "9223372036854771712"])
def test_cgroup_v1_limit_at_the_mount_root(tmp_path, raw):
    """A container that mounts its own v1 cgroup at the root while
    /proc/self/cgroup names the host-side path: the root's limit holds."""
    files = {"memory/memory.limit_in_bytes": raw}
    lines = ["5:cpu,cpuacct:/docker/abc", "4:memory:/docker/abc", "0::/"]
    assert _cgroup_limit(tmp_path, lines, files) == int(raw)


def test_no_cgroup_limit_files(tmp_path):
    assert _cgroup_limit(tmp_path, ["0::/"], {}) is None


def test_unlimited_cgroup_leaves_physical_ram(monkeypatch):
    conf = _conf(monkeypatch, 15 * GIB, cgroup_bytes=9223372036854771712)
    assert conf["spark.driver.memory"] == f"{15 * 1024 // 2}m"


def test_default_pretouch_stops_at_8_gib(monkeypatch):
    conf = _conf(monkeypatch, 64 * GIB)
    assert _xms_mb(conf) == 8192
    assert conf["spark.driver.memory"] == "8192m"


@pytest.mark.parametrize("mem", ["2g", "6g"])
def test_driver_mem_variable_sets_heap_and_pretouch(monkeypatch, mem):
    conf = _conf(monkeypatch, 15 * GIB, driver_mem=mem)
    assert conf["spark.driver.memory"] == mem
    assert _xms_mb(conf) == int(mem[:-1]) * 1024
