"""Benchmark entry point.

    python3 perfbench/run.py --workload dedup_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds the ``datasketches_postgresql_spark``
package. One run, in one driver process at ``local[N]`` (N = 2 on a host with
4 or more CPUs, at most half of nproc):

1. generate the workload's inputs from ``--seed`` and write them as parquet
   (not timed, not part of set-up);
2. set up SETUP_REPS times (SparkSession start and a Python-worker warm-up
   job that imports the workload's modules; neither workload keeps other
   program state), stopping the SparkContext between repetitions. The first
   set-up also launches the JVM, the others reuse it, so ``setup_s``, their
   median, is a SparkContext start in a running JVM plus worker start;
3. warm up: the workload's ``warm_passes`` passes;
4. compute the exact truth, outside any timed window;
5. with ``--trace 0``, measure: run passes until they add up to
   ``--seconds`` and number at least the workload's ``min_measured``;
   end-to-end metrics are medians over these passes. With ``--trace 1``,
   run TRACED_PASSES traced passes with an untraced reference pass between
   them, the workload's traced-only extras and the kernel timings on fixed
   batches, and print the per-layer metrics instead (end-to-end numbers
   come only from untraced runs);
6. check the outputs of every pass.

The last stdout line is the result JSON.
The full run record (every pass, warm-up included, with load average and
CPU steal at its start and end, a host-speed probe at the start and end of
the run, the input digests and any failed check) goes to
``.perfbench_runs/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
RUNS = os.path.join(ROOT, ".perfbench_runs")
PACKAGE = "datasketches_postgresql_spark"

# two task slots on a 4-vCPU host: the task threads, their Python workers and
# the JVM's own threads then fit in the vCPUs, so a pass does not measure
# the scheduler
CPUS = max(1, min(2, (os.cpu_count() or 2) // 2))
SHUFFLE_PARTITIONS = CPUS
DRIVER_MEM = "2g"
SETUP_REPS = 3
TRACED_PASSES = 2


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and make the package importable in the workers."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )


class Bench:
    def __init__(self, args: argparse.Namespace, workload) -> None:
        from perfbench import procstat

        self.args = args
        self.wl = workload
        self.ps = procstat
        self.spark = None
        self.stats = None
        self.passes: list[dict] = []
        self.outputs: dict[int, object] = {}
        self.failures: list[dict] = []
        self.record: dict = {
            "workload": workload.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": CPUS,
            "nproc": os.cpu_count(),
        }

    # -- session -----------------------------------------------------------
    def _setup_once(self) -> dict:
        from datasketches_postgresql_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{CPUS}]", shuffle_partitions=SHUFFLE_PARTITIONS)
        t1 = time.perf_counter()
        modules = self.wl.worker_modules

        def touch(batches):
            import importlib

            for m in modules:
                importlib.import_module(m)
            yield from batches

        self.spark.range(0, 8 * CPUS, 1, 2 * CPUS).mapInPandas(touch, "id long").count()
        t2 = time.perf_counter()
        return {"session_s": t1 - t0, "py_worker_start_s": t2 - t1, "total_s": t2 - t0}

    def setup(self) -> None:
        from perfbench.sparkstats import SparkStats

        reps = []
        for i in range(SETUP_REPS):
            if i:
                self.spark.stop()
            reps.append(self._setup_once())
        self.record["setup_reps"] = reps
        self.record["task_slots"] = self.spark.sparkContext.defaultParallelism
        self.stats = SparkStats(self.spark)

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started (the JVM, the Python daemon and its workers) to exit."""
        from pyspark import SparkContext

        kids = self.ps.descendants(os.getpid())
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        # a run interrupted inside a py4j call leaves the gateway unusable;
        # the JVM is then ended through its stdin and waited for all the same
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        left = self.ps.wait_gone(kids, 30)
        if left:
            self.ps.kill_all(left)
            self.ps.wait_gone(left, 10)

    # -- passes ------------------------------------------------------------
    def one_pass(self, phase: str, tracer=None) -> dict:
        """Run and time one pass. Its outputs are kept for check_all, so no
        check runs between timed passes."""
        i = len(self.passes)
        rec: dict = {"i": i, "phase": phase, "failures": [], "host_start": self.ps.host_snapshot()}
        jvm0, cpu0 = self.stats.jvm_counters(), self.ps.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = self.wl.run_pass(self.spark)
            else:
                with tracer.span("pass") as root:
                    out = self.wl.run_pass(self.spark)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = self.ps.tree_cpu_s() - cpu0
            rec.update({k: v - jvm0[k] for k, v in self.stats.jvm_counters().items()})
            rec["host_end"] = self.ps.host_snapshot()
            facts = self.wl.after_pass()
            if tracer is not None:
                per_job = self.stats.jobs_after(root.job_lo)
                rec["layers"], fails = self.wl.layer_metrics(tracer, tracer.spans.index(root), per_job, facts)
                rec["failures"] += fails
            self.outputs[i] = out
        except Exception as exc:  # a pass that raises counts as failed; the run goes on
            traceback.print_exc()
            rec["failures"].append(
                {"workload": self.wl.name, "check": "pass completes", "expected": "no error", "got": repr(exc)}
            )
            rec.setdefault("wall_s", None)
        self.passes.append(rec)
        print(f"pass {i} {phase} wall={rec['wall_s']}", file=sys.stderr, flush=True)
        return rec

    def warm_up(self) -> None:
        for _ in range(self.wl.warm_passes):
            self.one_pass("warm")

    def measure(self) -> None:
        """Passes until their wall times add up to --seconds and there are at
        least the workload's ``min_measured`` of them."""
        total, n = 0.0, 0
        while total < self.args.seconds or n < self.wl.min_measured:
            wall = self.one_pass("measured")["wall_s"]
            if wall is None:
                break
            total, n = total + wall, n + 1

    def check_all(self) -> None:
        for rec in self.passes:
            out = self.outputs.pop(rec["i"], None)
            if out is not None:
                fails, rec["accuracy"] = self.wl.check(out)
                rec["failures"] += fails
        self.failures += [f for r in self.passes for f in r["failures"]]
        for f in self.failures:
            print(f"FAILED CHECK: {json.dumps(f, default=str)}", file=sys.stderr)

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        from perfbench import catalog

        self.record["host_probe_s"] = [self.ps.host_probe_s()]
        t0 = time.perf_counter()
        self.wl.generate(self.args.seed)
        self.record["generate_s"] = time.perf_counter() - t0
        self.record["input_digests"] = self.wl.digests
        self.setup()
        self.warm_up()
        t0 = time.perf_counter()
        self.wl.truth_answers(self.spark)
        self.record["truth_s"] = time.perf_counter() - t0
        if self.args.trace:
            layers = self.traced()
            self.check_all()
            by_phase = {
                ph: statistics.median(r["wall_s"] for r in self.passes if r["phase"] == ph and r["wall_s"])
                for ph in ("traced", "reference")
            }
            layers["trace.overhead_s"] = by_phase["traced"] - by_phase["reference"]
            self.record["per_layer"] = metrics = layers
            units = catalog.units(ROOT, "per_layer")
        else:
            self.measure()
            rss = self.ps.py_worker_peak_rss_mb()
            self.check_all()
            self.record["end_to_end"] = metrics = self.end_to_end(rss)
            units = catalog.units(ROOT, "end_to_end")
        self.record["host_probe_s"].append(self.ps.host_probe_s())
        unlisted = sorted(set(metrics) - set(units))
        if unlisted:
            self.failures.append({"workload": self.wl.name, "check": "every metric is listed in BENCHMARK.json",
                                  "expected": [], "got": unlisted})
            print(f"FAILED CHECK: {json.dumps(self.failures[-1])}", file=sys.stderr)
        return {
            "correct": not self.failures,
            "attempted": len(self.passes),
            "failed": sum(1 for r in self.passes if r["failures"]),
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
        }

    def end_to_end(self, rss: float) -> dict:
        measured = [r for r in self.passes if r["phase"] == "measured" and not r["failures"]]
        if not measured:
            raise RuntimeError("no measured pass completed without a failed check")
        walls = [r["wall_s"] for r in measured]
        return {
            "setup_s": statistics.median(r["total_s"] for r in self.record["setup_reps"]),
            "wall_s": statistics.median(walls),
            "records_per_s": statistics.median(self.wl.records() / w for w in walls),
            "cpu_s": statistics.median(r["cpu_s"] for r in measured),
            "py_worker_peak_rss_mb": rss,
            "recall": statistics.median(r["accuracy"]["recall"] for r in measured),
            "precision": statistics.median(r["accuracy"]["precision"] for r in measured),
        }

    def traced(self) -> dict:
        from perfbench import catalog, kernels
        from perfbench.trace import Tracer

        tracer = Tracer(self.stats)
        traced = []
        for k in range(TRACED_PASSES):
            if k:
                # an untraced pass between traced ones: the overhead baseline
                self.one_pass("reference")
            undo = self.wl.install_trace(tracer)
            try:
                traced.append(self.one_pass("traced", tracer))
            finally:
                undo()
        layers = [r["layers"] for r in traced if "layers" in r]
        extra = getattr(self.wl, "traced_extra", None)
        if extra is not None:
            m_extra, fails = extra(self.spark, tracer)
            self.failures += fails
            layers = [{**lay, **m_extra} for lay in layers]
        self.record["spans"] = tracer.record()
        m: dict[str, float] = {}
        for name in sorted({k for lay in layers for k in lay}):
            vals = [lay[name] for lay in layers if name in lay]
            if catalog.is_exact(name):
                if len(set(vals)) > 1:
                    self.failures.append({"workload": self.wl.name,
                                          "check": f"{name} repeats exactly", "expected": vals[0], "got": vals})
                m[name] = vals[0]
            else:
                m[name] = statistics.median(vals)
        reps = self.record["setup_reps"]
        m["session.jvm_launch_s"] = reps[0]["session_s"]
        m["session.py_worker_start_s"] = statistics.median(r["py_worker_start_s"] for r in reps)
        for k in ("gc_s", "jit_s", "codegen_compiles"):
            m[f"jvm.{k}"] = statistics.median(r[k] for r in traced if k in r)
        m.update(kernels.dedup_kernels())
        m.update(kernels.sketch_kernels())
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.dedup_full import DedupFull
    from perfbench.sketch_build import SketchBuild

    workloads = {w.name: w for w in (DedupFull, SketchBuild)}
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and Python workers (see finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env()
    bench = Bench(args, workloads[args.workload](WORK))
    started = time.time()
    result = None
    try:
        result = bench.run()
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
        bench.record.update(
            passes=bench.passes,
            failures=bench.failures,
            result=result,
            shutdown_s=time.perf_counter() - t0,
            started=started,
            ended=time.time(),
        )
        os.makedirs(RUNS, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(started)}.json"
        with open(os.path.join(RUNS, name), "w") as f:
            json.dump(bench.record, f, indent=1, default=str)
        shutil.rmtree(WORK, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(WORK))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
