"""Names the workloads share. The metric names and units themselves are kept
once, in BENCHMARK.json: run.py prints exactly the metrics listed there (a
layer a workload leaves idle reads 0) and fails the run if a workload
produces a metric BENCHMARK.json does not list."""

from __future__ import annotations

import json
import os

MIB = float(1 << 20)

# dedup stage checkpoint name -> package layer it times
DEDUP_STAGES = {
    "extracted": "dedup.extract",
    "signatures": "dedup.minhash",
    "candidates": "dedup.lsh",
    "verified": "dedup.verify",
    "clusters": "dedup.cc",
    "resolved": "dedup.pipeline.resolve",
}
STAGE_METRICS = ("busy_s", "task_cpu_s", "python_s", "arrow_mb", "shuffle_mb", "rows_out", "jobs")
BUILD_QUERIES = ("theta", "cpc", "hll", "fi", "kll")

# counters later claims may rest on: they must repeat exactly
EXACT_SUFFIXES = (".rows_out", ".jobs", ".bookkeeping_jobs", ".partials", "sources.io.written_mb")


def is_exact(name: str) -> bool:
    return name.endswith(EXACT_SUFFIXES)


def units(root: str, kind: str) -> dict[str, str]:
    """``{name: unit}`` of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    list, in file order."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}
