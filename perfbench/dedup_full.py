"""``dedup_full``: one pass is ``DedupPipeline(spark, fresh_dir,
DedupConfig()).run(pages, resume=False)`` plus collecting ``resolved``.

Every ``dedup.*`` stage and the ``sources.io`` checkpoint writes do nearly
all the work; the sketch layer runs only the lineage theta pass. Truth is
the generator's planted labels, never the pipeline's own output.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from . import corpus
from .catalog import DEDUP_STAGES, MIB, STAGE_METRICS
from .checks import Checks

RECALL_FLOOR = 0.99


class DedupFull:
    name = "dedup_full"
    # every pass compiles new codegen classes, so the JIT never quite
    # settles; at two task slots the third pass is within a few percent of
    # the fourth, and a third warm-up pass does not fit the run budget
    warm_passes = 2
    min_measured = 1
    worker_modules = (
        "datasketches_postgresql_spark.dedup.pipeline",
        "datasketches_postgresql_spark.dedup.minhash",
        "datasketches_postgresql_spark.dedup.suffix",
    )
    # input sizing: base pages (planted copies add ~12%) and parquet files
    n_docs = 2500
    n_files = 4

    def __init__(self, work: str) -> None:
        self.ck_root = os.path.join(work, "checkpoints")
        self.input_dir = os.path.join(work, "input", "pages")
        self.digests: dict[str, str] = {}
        self.n_pass = 0
        self._resolved_digest: str | None = None

    # -- inputs (not timed, not set-up) ------------------------------------
    def generate(self, seed: int) -> None:
        pages, truth = corpus.generate(self.n_docs, seed)
        os.makedirs(self.input_dir)
        corpus.write_parquet(pages, self.input_dir, self.n_files)
        self.urls = pages["url"]
        self.truth = truth
        self.truth_cluster = corpus.truth_clusters(pages["url"], truth)
        self.n_pages = len(pages)
        self.digests = {"pages": corpus.digest(pages), "truth": corpus.digest(truth)}

    def truth_answers(self, spark) -> None:
        """Planted labels only; nothing to compute with Spark."""

    # -- one pass ----------------------------------------------------------
    def records(self) -> int:
        return self.n_pages

    def run_pass(self, spark):
        from datasketches_postgresql_spark.dedup.pipeline import DedupConfig, DedupPipeline

        pages = spark.read.parquet(self.input_dir)
        self.n_pass += 1
        self.ck = os.path.join(self.ck_root, f"pass{self.n_pass:03d}")
        out = DedupPipeline(spark, self.ck, DedupConfig()).run(pages, resume=False)
        return out["resolved"].select("doc_id", "url", "cluster_id", "is_representative").collect()

    def after_pass(self) -> dict:
        """Checkpoint facts read from disk (outside the timed window), then
        the pass's checkpoints are removed."""
        written = 0
        rows = {}
        for dirpath, _, files in os.walk(self.ck):
            written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        for stage in DEDUP_STAGES:
            path = os.path.join(self.ck, stage)
            rows[stage] = sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        shutil.rmtree(self.ck)
        return {"written_mb": written / MIB, "rows": rows}

    # -- output checks -----------------------------------------------------
    def check(self, rows) -> tuple[list[dict], dict]:
        """Failures (each names the check, the expected value and the value
        got) and the accuracy figures of one pass's ``resolved``."""
        c = Checks(self.name)
        cluster = {r["url"]: r["cluster_id"] for r in rows}
        if len(rows) != self.n_pages or len(cluster) != self.n_pages:
            c.fail("one resolved row per input page", self.n_pages, [len(rows), len(cluster)])
        missing = [u for u in self.urls if u not in cluster]
        if missing:
            c.fail("every input url resolved", 0, len(missing))
            return c.fails, {"recall": 0.0, "precision": 0.0}
        reps: dict[int, int] = {}
        for r in rows:
            reps[r["cluster_id"]] = reps.get(r["cluster_id"], 0) + int(r["is_representative"])
        bad = sum(1 for v in reps.values() if v != 1)
        if bad:
            c.fail("exactly one representative per cluster", 0, bad)

        hit = sum(cluster[a] == cluster[b] for a, b in zip(self.truth["url_a"], self.truth["url_b"]))
        recall = hit / len(self.truth) if len(self.truth) else 1.0
        if recall < RECALL_FLOOR:
            c.fail("recall of planted pairs", f">= {RECALL_FLOOR}", round(recall, 6))

        members: dict[int, list[int]] = {}
        for url, cid in cluster.items():
            members.setdefault(cid, []).append(self.truth_cluster[url])
        pairs = true_pairs = 0
        for labels in members.values():
            m = len(labels)
            pairs += m * (m - 1) // 2
            _, counts = np.unique(labels, return_counts=True)
            true_pairs += int((counts * (counts - 1) // 2).sum())
        precision = true_pairs / pairs if pairs else 1.0

        digest = corpus.digest_rows(sorted((r["doc_id"], r["cluster_id"]) for r in rows))
        if self._resolved_digest is None:
            self._resolved_digest = digest
        elif digest != self._resolved_digest:
            c.fail("(doc_id, cluster_id) identical across passes", self._resolved_digest, digest)
        return c.fails, {"recall": recall, "precision": precision}

    # -- tracing -----------------------------------------------------------
    def install_trace(self, tracer):
        from datasketches_postgresql_spark.sources.io import CheckpointStore

        return tracer.wrap(CheckpointStore, "write", lambda store, df, name, *a, **k: f"write:{name}")

    def layer_metrics(self, tracer, root: int, per_job, facts: dict) -> tuple[dict, list[dict]]:
        m: dict[str, float] = {}
        c = Checks(self.name)
        stage_spans = {}
        for idx in tracer.spans[root].children:
            name = tracer.spans[idx].name.removeprefix("write:")
            if name in DEDUP_STAGES:
                stage_spans[name] = idx
        for stage, layer in DEDUP_STAGES.items():
            idx = stage_spans.get(stage)
            if idx is None:
                c.fail(f"stage span {stage} recorded", 1, 0)
                continue
            t = tracer.totals(idx, per_job)
            vals = {
                "busy_s": tracer.spans[idx].duration,
                "task_cpu_s": t.task_cpu_s,
                "python_s": t.python_s,
                "arrow_mb": t.arrow_bytes / MIB,
                "shuffle_mb": t.shuffle_bytes / MIB,
                "rows_out": facts["rows"][stage],
                "jobs": t.jobs,
            }
            for k in STAGE_METRICS:
                m[f"{layer}.{k}"] = vals[k]
        wall = tracer.spans[root].duration
        stage_s = sum(tracer.spans[i].duration for i in stage_spans.values())
        bookkeeping = wall - tracer.covered_by(list(stage_spans.values()))
        m["dedup.pipeline.bookkeeping_s"] = bookkeeping
        bk_jobs = tracer.jobs_in(root)
        for idx in stage_spans.values():
            bk_jobs -= tracer.jobs_in(idx)
        m["dedup.pipeline.bookkeeping_jobs"] = len(bk_jobs)
        cand = facts["rows"]["candidates"]
        m["dedup.lsh.candidate_yield"] = facts["rows"]["verified"] / cand if cand else 0.0
        m["sources.io.written_mb"] = facts["written_mb"]
        # bookkeeping_s is the part of the pass no stage span covers, so this
        # fails when stage spans overlap or a stage is counted twice
        if abs(stage_s + bookkeeping - wall) > 0.05 * wall:
            c.fail("stage spans + bookkeeping_s cover the pass within 5%", round(wall, 4), round(stage_s + bookkeeping, 4))
        return m, c.fails
