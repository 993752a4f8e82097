"""Readers for Spark's status stores, reached through py4j.

Two stores are read, both available with the UI disabled:

- the core ``AppStatusStore`` (``sc._jsc.sc().statusStore()``): per-job stage
  ids and per-stage task totals (executor CPU time, shuffle bytes written);
- the SQL store (``sharedState().statusStore()``): per-execution plan graphs
  and their SQL metrics, which carry the Python-worker times, the bytes sent
  to and returned from Python workers (the Arrow crossing), and Exchange
  shuffle counts.

Spans record only the highest job id seen at each boundary (cheap); the
stores are read once per pass and the jobs are attributed afterwards.
SQL metric values arrive as formatted text such as ``"349 ms"`` or
``"total (min, med, max ...)\\n10.8 s (2.6 s, ...)"`` and are parsed here.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
SHUFFLE_RECORDS = "shuffle records written"
_READ = (PY_RUN, PY_SENT, PY_RETURNED, SHUFFLE_RECORDS)


def parse_metric(text: str) -> float:
    """Formatted SQL metric -> seconds (timings), bytes (sizes) or a count.
    The total is the first figure of the last line."""
    last = text.strip().splitlines()[-1]
    m = _VALUE_RE.match(last)
    if not m:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value


@dataclass
class JobTotals:
    """What a set of Spark jobs did, summed."""

    jobs: int = 0
    task_cpu_s: float = 0.0
    shuffle_bytes: float = 0.0
    python_s: float = 0.0
    arrow_bytes: float = 0.0
    shuffle_records: float = 0.0
    # Python-worker time per plan-node name (MapInPandas, ArrowEvalPython, ...)
    node_python_s: dict[str, float] = field(default_factory=dict)

    def add(self, other: "JobTotals") -> None:
        self.jobs += other.jobs
        self.task_cpu_s += other.task_cpu_s
        self.shuffle_bytes += other.shuffle_bytes
        self.python_s += other.python_s
        self.arrow_bytes += other.arrow_bytes
        self.shuffle_records += other.shuffle_records
        for k, v in other.node_python_s.items():
            self.node_python_s[k] = self.node_python_s.get(k, 0.0) + v


class SparkStats:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = spark._jvm

    # -- cheap boundary readings ------------------------------------------
    def drain(self) -> None:
        """Let the listener bus deliver every pending event to the stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        self.drain()
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def jvm_counters(self) -> dict[str, float]:
        """Running totals of the JVM's own work: collection time of every
        garbage collector, JIT compilation time, and the number of
        whole-stage-codegen classes Spark has compiled (each new one is new
        bytecode for the JIT)."""
        mx = self._jvm.java.lang.management.ManagementFactory
        beans = mx.getGarbageCollectorMXBeans()
        codegen = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return {
            "gc_s": sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3,
            "jit_s": mx.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        }

    # -- per-pass reading --------------------------------------------------
    def jobs_after(self, first_job: int) -> dict[int, JobTotals]:
        """Totals per job id for every job with id > ``first_job``."""
        self.drain()
        store = self._jsc.statusStore()
        jl = store.jobsList(self._jvm.java.util.ArrayList())
        job_stages: dict[int, list[int]] = {}
        for i in range(jl.size()):
            j = jl.apply(i)
            if j.jobId() > first_job:
                sids = j.stageIds()
                job_stages[j.jobId()] = [sids.apply(k) for k in range(sids.size())]
        out = {jid: JobTotals(jobs=1) for jid in job_stages}
        if not out:
            return out
        stage_job = {s: jid for jid, sids in job_stages.items() for s in sids}
        sl = store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self.sc._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            jid = stage_job.get(s.stageId())
            if jid is None:
                continue
            t = out[jid]
            t.task_cpu_s += s.executorCpuTime() / 1e9
            t.shuffle_bytes += s.shuffleWriteBytes()
        self._add_sql_metrics(out)
        return out

    def _add_sql_metrics(self, out: dict[int, JobTotals]) -> None:
        """Attribute each SQL execution's Python and Exchange metrics to the
        lowest of its job ids (an execution's jobs all sit in one span)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        el = sql.executionsList()
        for i in range(el.size()):
            e = el.apply(i)
            jobs_map = e.jobs()
            it = jobs_map.keysIterator()
            jids = []
            while it.hasNext():
                jids.append(int(it.next()))
            mine = [j for j in jids if j in out]
            if not mine:
                continue
            t = out[min(mine)]
            eid = e.executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                metrics = node.metrics()
                found = {}
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    if pm.name() not in _READ:
                        continue  # e.g. average metrics print no total
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        found[pm.name()] = parse_metric(v.get())
                if PY_RUN in found:
                    name = node.name()
                    t.python_s += found[PY_RUN]
                    t.arrow_bytes += found.get(PY_SENT, 0.0) + found.get(PY_RETURNED, 0.0)
                    t.node_python_s[name] = t.node_python_s.get(name, 0.0) + found[PY_RUN]
                t.shuffle_records += found.get(SHUFFLE_RECORDS, 0.0)
