"""Per-stage wall-clock profile of the dedup pipeline at one parallelism
level. Usage: python tools/profile_dedup.py [cpus] [n_docs] [runs].

Prints one JSON line per run, the cold first run included ("run": 0);
later runs reuse the warm executors, like bench.py's measured run."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 32
N_DOCS = int(sys.argv[2]) if len(sys.argv) > 2 else 30000
RUNS = int(sys.argv[3]) if len(sys.argv) > 3 else 2
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".data")


def main() -> None:
    from bench import fresh_spark, warm_workers
    from datasketches_postgresql_spark.dedup.pipeline import DedupConfig, DedupPipeline
    from datasketches_postgresql_spark.sources.corpus import generate_corpus_pandas

    spark = fresh_spark(CPUS, max(CPUS, 32))
    warm_workers(spark, CPUS)

    corpus_path = os.path.join(DATA, "bench_corpus")
    if not os.path.exists(corpus_path):
        pages_pd, _ = generate_corpus_pandas(N_DOCS, seed=42)
        spark.createDataFrame(pages_pd).repartition(CPUS * 2, "url").write.mode(
            "overwrite"
        ).parquet(corpus_path)
    pages = spark.read.parquet(corpus_path)
    n = pages.count()

    ckpt = os.path.join(DATA, f"profile_ckpt_{CPUS}")
    for run in range(RUNS):
        shutil.rmtree(ckpt, ignore_errors=True)
        pipe = DedupPipeline(spark, ckpt, DedupConfig())
        t0 = time.time()
        out = pipe.run(pages, resume=False)
        out["resolved"].count()
        total = time.time() - t0
        staged = sum(pipe.stage_seconds.values())
        print(
            json.dumps(
                {
                    "run": run,
                    "cpus": CPUS,
                    "n_docs": n,
                    "total_sec": round(total, 2),
                    "docs_per_sec": round(n / total, 1),
                    "stages": pipe.stage_seconds,
                    "non_stage_sec": round(total - staged, 2),
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
