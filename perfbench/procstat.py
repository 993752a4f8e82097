"""Process-tree and host readings from /proc (psutil is not available).

Everything here reads the Linux /proc filesystem directly: CPU seconds of a
process tree, peak RSS of the PySpark Python workers, and the host-noise
diagnostics (1-minute load average, CPU steal) that go into every run record.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the ``comm`` field (which may hold
    spaces), so index 0 is the state and index 1 the parent pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of ``root`` and all its descendants,
    including descendants already reaped (their time sits in their
    parent's cutime/cstime, so a worker exiting mid-pass is not lost)."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return ""


def python_worker_pids(root: int | None = None) -> list[int]:
    """The PySpark daemon and the workers it forks (they keep its cmdline)."""
    root = os.getpid() if root is None else root
    return [p for p in descendants(root) if "pyspark.daemon" in _cmdline(p)]


def peak_rss_mb(pid: int) -> float:
    """VmHWM: the highest resident set size the process has reached."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0.0


def py_worker_peak_rss_mb() -> float:
    return max((peak_rss_mb(p) for p in python_worker_pids()), default=0.0)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_jiffies() -> int:
    """Host-wide CPU steal, the 8th counter of the ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def host_snapshot() -> dict:
    return {"loadavg_1m": loadavg_1m(), "steal_jiffies": steal_jiffies()}


def host_probe_s() -> float:
    """Seconds a fixed single-threaded workload takes (a numpy sort of 2M
    doubles and a 1M-step Python loop). It does not touch the program, so
    a host that got slower, which steal and load average can miss when
    neighbours share caches or memory bandwidth, shows here."""
    import numpy as np

    x = np.random.default_rng(0).random(1 << 21)
    t0 = time.perf_counter()
    np.sort(x)
    total = 0
    for i in range(1_000_000):
        total += i
    return time.perf_counter() - t0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive


def kill_all(pids: list[int]) -> None:
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
