"""The staged, checkpointed, resumable dedup pipeline (north_rule).

Stages (each checkpointed via sources.io.CheckpointStore, each emitting
per-partition + global sketch lineage metrics — the DataSketches heritage):

    extracted   html -> canonical text (byte-identical per url)
    signatures  shingles -> MinHash(128) + SimHash + per-batch theta partial
                over the shingle hash space (distinct-shingle lineage)
    candidates  LSH banding -> star candidate edges
    verified    signature-Jaccard + SimHash Hamming gate, UNION exact-substring
                edges: docs sharing a CDC chunk (hashed in the signature
                pass) are candidates; the stored winnow fingerprints reject
                or confirm almost all of them, and the residue is decided
                by full L-gram hash overlap (suffix.sa_verify_pairs)
    clusters    large-star/small-star connected components
    resolved    (doc_id, url, cluster_id, is_representative): representative
                = min url per cluster (Window row_number)

Resume: a stage whose checkpoint exists under the SAME config hash is read
back instead of recomputed — exact resume, verified by tests comparing a
fresh run against an interrupted+resumed run.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..textops.analysis import quality_score
from ..sketches import theta as _theta
from ..sources.io import CheckpointStore
from .cc import connected_components
from .extract import canonicalize_stage, extract_blocks_stage, extract_stage
from .lsh import DEFAULT_BANDS, DEFAULT_ROWS, candidate_edges
from .minhash import DEFAULT_NUM_PERM, signature_stage
from .shingle import DEFAULT_SHINGLE_N
from .chunking import DEFAULT_DIVISOR, DEFAULT_MIN_CHUNK, substring_candidates
from .suffix import DEFAULT_MIN_MATCH_CHARS, fused_winnow_table, sa_verify_pairs
from .verify import DEFAULT_JACCARD, verify_edges

# lg_k of the lineage theta sketches (per-partition doc ids, shingle space)
LINEAGE_LG_K = 12
# layout of the sketch columns checkpoints store (signatures.shingle_theta);
# part of config_hash, so a checkpoint in an older layout is recomputed
CHECKPOINT_SKETCH_FORMAT = "theta-compact-v3"


@dataclass(frozen=True)
class DedupConfig:
    """Pipeline settings; ``config_hash`` keys every checkpoint.

    The substring layer has no settings here: CDC chunks (DEFAULT_DIVISOR,
    DEFAULT_MIN_CHUNK) and the winnow fingerprints for
    DEFAULT_MIN_MATCH_CHARS are computed in the signature stage's text
    pass, and the verify stage joins those stored arrays."""

    shingle_n: int = DEFAULT_SHINGLE_N
    num_perm: int = DEFAULT_NUM_PERM
    bands: int = DEFAULT_BANDS
    rows: int = DEFAULT_ROWS
    jaccard_threshold: float = DEFAULT_JACCARD
    # ingestion salting: crawl data arrives host-clustered; re-hashing on
    # xxhash64(url) spreads any host uniformly before the per-doc stages
    # (0 = keep input partitioning)
    ingest_partitions: int = 0
    # which cluster member survives as the training-set document:
    #   "url"     — lexicographic minimum url (stable, cheapest);
    #   "quality" — highest textops quality_score, url tie-break (keep the
    #               best-written copy, the policy an LLM-data pipeline wants).
    # Both are deterministic; quality adds one JVM-codegen expression over
    # the already-checkpointed extracted table and 8 bytes/doc to the
    # resolve window's shuffle — no extra text scan, no Python.
    representative_policy: str = "url"
    # collapse recrawls BEFORE any text stage runs: keep one row per
    # canonical URL (textops/urlops.py rules; freshest warc_ts wins, raw
    # url tie-break). Off by default — the synthetic truth corpus plants
    # duplicates under distinct URLs, and enabling this changes which rows
    # exist downstream. On a real crawl this is the cheapest tier of all:
    # one 8-byte-key window before extraction, so every later stage sees
    # each page once. Incremental mode collapses within each new batch
    # (cross-batch refetches of the SAME raw url already share doc_id).
    url_dedup: bool = False
    # corpus-level repeated-line removal (textops/linededup.py) as an
    # opt-in CLEANING tier between extraction and signatures: lines whose
    # trimmed form appears in >= line_dedup_min_docs distinct docs
    # (nav bars, cookie banners, footers) are dropped before shingling.
    # The raw ``extracted`` checkpoint is NEVER modified — cleaning lands
    # in a separate ``cleaned`` checkpoint — so the byte-identical
    # extracted-text-per-url invariant vs the reference holds regardless.
    # Off by default: removing boilerplate changes which docs near-match,
    # i.e. the cluster assignments, so it must be an explicit choice.
    # Incremental batches are cleaned with the BASE run's frequent-line
    # table (``line_freq`` checkpoint): boilerplate statistics are stable
    # across crawl snapshots at web scale, and reusing them keeps the
    # increment O(batch).
    line_dedup: bool = False
    line_dedup_min_docs: int = 4
    # Bloom membership prefilter for batch-append dedup (dedup/bloom.py):
    # the base run (and each increment) checkpoints a partitioned,
    # OR-mergeable Bloom filter over its banded signature hashes;
    # run_incremental probes the new batch's band hashes against the
    # accumulated filters and keeps only Bloom-POSITIVE hashes in the
    # ``touched`` set that fetches old rows. A definitely-new hash (Bloom
    # has no false negatives) cannot match any base row, so the candidate
    # edges are EXACTLY the unfiltered run's (tested); false positives only
    # leave a hash in ``touched`` that matches nothing. At web scale most
    # of an increment's hashes ARE new, so ``touched`` shrinks from
    # O(batch bands) to the actually-overlapping tail — on Iceberg that set
    # drives the base bucket fetch, so the prefilter cuts the semi-join
    # build side AND the old-corpus scan. Off by default: it adds one
    # checkpoint + probe job that only pays off once increments run.
    bloom_prefilter: bool = False
    bloom_buckets: int = 256
    # bits per bucket slice; size for ~10 bits per expected key/bucket
    # (~1% fpp at the k=7 default) — 2^20 bits = 128 KiB/slice
    bloom_slice_bits: int = 1 << 20

    def config_hash(self) -> str:
        fields = {**dataclasses.asdict(self), "sketch_format": CHECKPOINT_SKETCH_FORMAT}
        blob = json.dumps(fields, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


class DedupPipeline:
    def __init__(self, spark: SparkSession, checkpoint_dir: str, config: DedupConfig | None = None):
        self.spark = spark
        self.config = config or DedupConfig()
        if self.config.representative_policy not in ("url", "quality"):
            raise ValueError(
                f"representative_policy must be 'url' or 'quality', "
                f"got {self.config.representative_policy!r}"
            )
        if self.config.line_dedup and self.config.line_dedup_min_docs < 2:
            raise ValueError(
                "line_dedup_min_docs must be >= 2: with 1 every non-blank "
                "line is 'frequent' and the cleaning tier wipes all text"
            )
        self.store = CheckpointStore(spark, checkpoint_dir)
        self._metrics: list[dict] = []
        self.stage_seconds: dict[str, float] = {}
        self._recomputes = 0  # stages actually computed (vs read back)

    # -- lineage metrics -----------------------------------------------------
    def _lineage_pass(self, signatures: DataFrame, prefix: str = "") -> None:
        """ONE Spark job computes every lineage metric: per-partition theta
        estimates over doc_id, their global union, and the union of the
        signature stage's per-batch shingle-theta partials. Map side emits
        one row per partition (pid, est, doc sketch, shingle sketch); a
        single tiny shuffle merges them — sketch states merge distributed-
        side and the driver receives exactly one row (per-pid estimates
        ride along as an array of 12-byte structs). Replaces a 4-5-job
        formulation whose per-job scheduling latency dominated small-SF
        runs and capped scaling efficiency."""
        lg_k = LINEAGE_LG_K
        proj = signatures.select(
            F.spark_partition_id().alias("pid"),
            F.xxhash64("doc_id").alias("__h"),
            "shingle_theta",
        )

        def partials(batches):
            pid = -1
            hashes: list[np.ndarray] = []
            shingle_parts: list[bytes] = []
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                pid = int(pdf["pid"].iloc[0])
                hashes.append(pdf["__h"].to_numpy(dtype=np.int64).astype(np.uint64))
                shingle_parts.extend(
                    bytes(b) for b in pdf["shingle_theta"] if b is not None
                )
            if pid < 0:
                return
            doc_sk = _theta.build(np.concatenate(hashes), lg_k)
            sh_sk = _theta.union(shingle_parts, lg_k) if shingle_parts else None
            yield pd.DataFrame(
                {
                    "pid": [pid],
                    "est": [_theta.get_estimate(doc_sk)],
                    "doc_sk": [doc_sk],
                    "sh_sk": [sh_sk],
                }
            )

        part_schema = (
            "pid int, est double, doc_sk binary, sh_sk binary"
        )

        def merge_all(pdf: pd.DataFrame) -> pd.DataFrame:
            doc_global = _theta.union([bytes(b) for b in pdf["doc_sk"] if b is not None], lg_k)
            sh = [bytes(b) for b in pdf["sh_sk"] if b is not None]
            return pd.DataFrame(
                {
                    "doc_est": [_theta.get_estimate(doc_global)],
                    "shingle_est": [_theta.get_estimate(_theta.union(sh, lg_k)) if sh else 0.0],
                    "per_pid": [
                        [
                            {"pid": int(p), "est": float(e)}
                            for p, e in zip(pdf["pid"], pdf["est"])
                        ]
                    ],
                }
            )

        out_schema = (
            "doc_est double, shingle_est double, "
            "per_pid array<struct<pid:int,est:double>>"
        )
        row = (
            proj.mapInPandas(partials, schema=part_schema)
            .withColumn("__g", F.lit(1))
            .groupBy("__g")
            .applyInPandas(lambda pdf: merge_all(pdf), schema=out_schema)
            .collect()
        )
        if not row:
            return
        r = row[0]
        for pp in r["per_pid"]:
            self._metrics.append(
                {
                    "stage": prefix + "extracted",
                    "partition": int(pp["pid"]),
                    "metric": "distinct_ids_est",
                    "value": float(pp["est"]),
                }
            )
        self._metrics.append(
            {"stage": prefix + "extracted", "partition": -1, "metric": "distinct_ids_est",
             "value": float(r["doc_est"])}
        )
        self._metric(prefix + "signatures", "distinct_shingles_est", float(r["shingle_est"]))

    def _metric(self, stage: str, metric: str, value: float, partition: int = -1) -> None:
        self._metrics.append(
            {"stage": stage, "partition": partition, "metric": metric, "value": float(value)}
        )

    def _flush_metrics(self, name: str = "lineage_metrics") -> DataFrame:
        pdf = pd.DataFrame(self._metrics or [{"stage": "none", "partition": -1, "metric": "none", "value": 0.0}])
        df = self.spark.createDataFrame(pdf)
        return self.store.write(df, name, self.config.config_hash())

    def _rows(self, name: str) -> int:
        """Stage row count from the checkpoint manifest (counted once at
        write time — no extra Spark jobs for lineage bookkeeping)."""
        info = self.store.stage_info(name)
        return int(info["rows"]) if info else 0

    # -- representative selection ---------------------------------------------
    def _rep_projection(self, extracted: DataFrame) -> DataFrame:
        """(doc_id, url[, __q]) for representative ranking. The quality
        policy scores text JVM-side here, so the resolve window never sees
        the text column — only an extra double per doc."""
        if self.config.representative_policy == "quality":
            return extracted.select(
                "doc_id", "url", quality_score(F.col("text")).alias("__q")
            )
        return extracted.select("doc_id", "url")

    def _rep_window(self):
        if self.config.representative_policy == "quality":
            return Window.partitionBy("cluster_id").orderBy(F.desc("__q"), "url")
        return Window.partitionBy("cluster_id").orderBy("url")

    # -- stage runner ----------------------------------------------------------
    def _stage(self, name: str, fn, resume: bool) -> DataFrame:
        import time as _time

        h = self.config.config_hash()
        if resume and self.store.completed(name, h):
            return self.store.read(name)
        t0 = _time.time()
        out = self.store.write(fn(), name, h)
        self.stage_seconds[name] = round(_time.time() - t0, 3)
        self._recomputes += 1
        return out

    # -- opt-in boilerplate-line cleaning tier ---------------------------------
    def _line_apply(self, blocks: DataFrame, freq: DataFrame) -> DataFrame:
        """blocks (line-structured text) -> line-deduped CANONICAL text in
        the extracted schema, so every downstream stage is cleaning-agnostic."""
        from ..textops.linededup import dedup_lines

        kept = dedup_lines(blocks, freq=freq, carry_cols=("url", "lang")).select(
            "doc_id", "url", "lang", F.col("text_deduped").alias("text")
        )
        return canonicalize_stage(kept)

    def _line_clean_base(self, blocks: DataFrame, resume: bool) -> DataFrame:
        from ..textops.linededup import frequent_lines

        cfg = self.config
        if not cfg.url_dedup:
            # dedup_lines reassembles per doc_id; two input rows sharing a
            # doc_id (exact-refetch of the same url) would interleave into
            # one garbled document. url_dedup=True collapses refetches by
            # construction; without it, fail loudly rather than garble.
            # Cost: one 8-byte-key groupBy over the blocks checkpoint,
            # once per base run.
            dup = blocks.groupBy("doc_id").count().where("count > 1").limit(1).collect()
            if dup:
                raise ValueError(
                    "line_dedup requires one row per doc_id but the crawl "
                    "contains exact-refetches of the same url (duplicate "
                    "doc_id %d); enable url_dedup=True to collapse them "
                    "before cleaning" % dup[0]["doc_id"]
                )
        freq = self._stage(
            "line_freq",
            lambda: frequent_lines(blocks, min_docs=cfg.line_dedup_min_docs),
            resume,
        )
        cleaned = self._stage("cleaned", lambda: self._line_apply(blocks, freq), resume)
        self._metric("cleaned", "boilerplate_lines", self._rows("line_freq"))
        return cleaned

    # -- the pipeline ------------------------------------------------------------
    def run(self, pages: DataFrame, resume: bool = True) -> dict[str, DataFrame]:
        cfg = self.config
        n_computed_before = self._recomputes
        if cfg.url_dedup:
            from ..textops.urlops import dedup_by_url

            pages = dedup_by_url(pages, ts_col="warc_ts")
        if cfg.ingest_partitions:
            pages = pages.repartition(cfg.ingest_partitions, F.xxhash64("url"))

        if cfg.line_dedup:
            # ONE html decode feeds both tables: the line-structured blocks
            # (for the cleaning tier) and the canonical extracted checkpoint,
            # derived by whitespace collapse — byte-identical to
            # extract_stage(pages) (pinned by tests), so the per-url
            # extracted-text invariant holds with cleaning enabled
            blocks = self._stage("blocks", lambda: extract_blocks_stage(pages), resume)
            extracted = self._stage("extracted", lambda: canonicalize_stage(blocks), resume)
        else:
            extracted = self._stage("extracted", lambda: extract_stage(pages), resume)
        self._metric("extracted", "rows", self._rows("extracted"))
        if cfg.line_dedup:
            # cleaning lands in its own checkpoint; extracted stays raw
            extracted = self._line_clean_base(blocks, resume)

        signatures = self._stage(
            "signatures", lambda: self._signature_stage(extracted), resume
        )
        self._lineage_pass(signatures)
        self._metric("signatures", "rows", self._rows("signatures"))
        if cfg.bloom_prefilter:
            self._band_bloom_stage("band_bloom", signatures, resume)

        candidates = self._stage(
            "candidates",
            lambda: candidate_edges(signatures, bands=cfg.bands, rows=cfg.rows),
            resume,
        )
        self._metric("candidates", "rows", self._rows("candidates"))

        def _verified() -> DataFrame:
            ver = verify_edges(candidates, signatures, cfg.jaccard_threshold).select(
                "a", "b"
            )
            cont = sa_verify_pairs(
                substring_candidates(_chunk_rows(signatures)),
                extracted,
                fused_winnow_table(signatures, DEFAULT_MIN_MATCH_CHARS),
            )
            return ver.union(cont).distinct()

        verified = self._stage("verified", _verified, resume)
        self._metric("verified", "rows", self._rows("verified"))

        clusters = self._stage("clusters", lambda: connected_components(verified), resume)
        agg = clusters.agg(
            F.count("*").alias("docs"), F.countDistinct("cluster_id").alias("cl")
        ).collect()[0]
        n_clusters, docs_in_clusters = int(agg["cl"]), int(agg["docs"])
        self._metric("clusters", "n_clusters", n_clusters)
        self._metric("clusters", "docs_in_clusters", docs_in_clusters)
        total_docs = self._rows("extracted")
        if total_docs:
            self._metric("clusters", "dup_rate", (docs_in_clusters - n_clusters) / total_docs)

        def _resolved() -> DataFrame:
            joined = self._rep_projection(extracted).join(
                clusters, "doc_id", "left"
            ).withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
            return joined.withColumn(
                "is_representative",
                F.row_number().over(self._rep_window()) == F.lit(1),
            ).select("doc_id", "url", "cluster_id", "is_representative")

        resolved = self._stage("resolved", _resolved, resume)
        # a RECOMPUTED full run is the new base: prior increments no longer
        # describe the cumulative state (a fully-resumed run that only read
        # checkpoints back recomputed nothing and leaves increments intact)
        if self._recomputes > n_computed_before:
            self.store.set_state(base_suffix="", batches=[])
        metrics = self._flush_metrics()

        return {
            "extracted": extracted,
            "signatures": signatures,
            "candidates": candidates,
            "verified": verified,
            "clusters": clusters,
            "resolved": resolved,
            "metrics": metrics,
        }

    # -- incremental: dedup a new crawl batch against the existing corpus ------
    def run_incremental(
        self, new_pages: DataFrame, batch_id: str = "b1", resume: bool = True
    ) -> dict[str, DataFrame]:
        """Dedup a NEW batch against a completed base run without
        re-processing the old corpus — the shape a 100 TB training-data
        pipeline actually runs (each crawl increment dedups against the
        accumulated corpus; re-running the world per increment is not an
        option).

        What the OLD corpus contributes, and nothing more:
          - banded signature rows for LSH buckets the new batch touches
            (left-semi join on ``band_hash``; on a real deployment the
            banded index is persisted bucketed by band_hash — Iceberg
            ``bucket(band_hash)`` transform — so this prunes at scan time);
          - CDC chunk rows for touched chunk buckets (same semi-join shape);
          - minhash/simhash rows for docs that appear as candidate
            endpoints (semi-join on endpoint ids before the verify join);
          - its (doc_id, cluster_id) mapping, CONTRACTED: connected
            components runs over new docs + touched old cluster ids, never
            over old intra-cluster edges.

        Equivalence to a full run over old+new (tested): touched buckets
        are rebuilt with their complete membership, so their candidate
        edges match the full run's; untouched buckets' connectivity is
        already inside the old cluster mapping; and because cluster ids
        are component-minimum doc ids, a merged component's id equals the
        full run's (min over old cluster minima and new ids = global min).
        The update is monotone — base-run connections are never lost.

        ``resolved`` is updated incrementally too: representatives are
        recomputed ONLY for clusters touched by this batch; untouched rows
        are carried over (on Iceberg this is a MERGE on touched cluster
        ids; the parquet fallback rewrites the table).

        Stage checkpoints are suffixed with ``batch_id`` so increments are
        individually resumable; the combined ``clusters``/``resolved``
        state is checkpointed under ``clusters_{batch_id}`` /
        ``resolved_{batch_id}`` and later increments chain off it (the
        manifest records the ordered batch list — see ``_base_for``).
        """
        cfg = self.config
        h = cfg.config_hash()
        suffix, prior = self._base_for(batch_id)
        base_stages = ["extracted", "signatures"]
        if cfg.line_dedup:
            base_stages += ["line_freq", "cleaned"]
        if cfg.bloom_prefilter:
            base_stages += ["band_bloom"]
        for st in base_stages:
            if not self.store.completed(st, h):
                raise ValueError(
                    f"run_incremental needs a completed base stage '{st}' "
                    "under the same config"
                )
        for st in ("clusters", "resolved"):
            name = f"{st}_{suffix}" if suffix else st
            if not self.store.completed(name, h):
                raise ValueError(
                    f"run_incremental needs a completed base stage "
                    f"'{name}' under the same config"
                )
        from .lsh import band_hashes, candidate_edges_from_bands

        old_sigs = self._base_union("signatures", prior)
        # the text table the base signatures were actually computed over
        old_extracted = self._base_union("cleaned" if cfg.line_dedup else "extracted", prior)
        old_clusters = self.store.read(f"clusters_{suffix}" if suffix else "clusters")
        old_resolved = self.store.read(f"resolved_{suffix}" if suffix else "resolved")

        pages = new_pages
        if cfg.url_dedup:
            from ..textops.urlops import dedup_by_url

            pages = dedup_by_url(pages, ts_col="warc_ts")
        if cfg.ingest_partitions:
            pages = pages.repartition(cfg.ingest_partitions, F.xxhash64("url"))
        if cfg.line_dedup:
            blocks_new = self._stage(
                f"blocks_{batch_id}", lambda: extract_blocks_stage(pages), resume
            )
            ex_new = self._stage(
                f"extracted_{batch_id}", lambda: canonicalize_stage(blocks_new), resume
            )
        else:
            ex_new = self._stage(f"extracted_{batch_id}", lambda: extract_stage(pages), resume)
        self._metric(f"extracted_{batch_id}", "rows", self._rows(f"extracted_{batch_id}"))
        if cfg.line_dedup:
            # clean with the BASE run's boilerplate statistics — O(batch),
            # no corpus re-scan; see DedupConfig.line_dedup
            freq = self.store.read("line_freq")
            ex_new = self._stage(
                f"cleaned_{batch_id}", lambda: self._line_apply(blocks_new, freq), resume
            )

        sig_new = self._stage(
            f"signatures_{batch_id}", lambda: self._signature_stage(ex_new), resume
        )
        self._lineage_pass(sig_new, prefix=f"{batch_id}_")
        self._metric(f"signatures_{batch_id}", "rows", self._rows(f"signatures_{batch_id}"))
        if cfg.bloom_prefilter:
            # this batch's own filter slice — future increments probe it
            self._band_bloom_stage(f"band_bloom_{batch_id}", sig_new, resume)

        def _cand() -> DataFrame:
            bh_new = band_hashes(sig_new, cfg.bands, cfg.rows)
            touched = bh_new.select("band_hash").distinct()
            if cfg.bloom_prefilter:
                # membership prefilter: keep only hashes that COULD exist in
                # the accumulated corpus (no false negatives -> identical
                # candidates, tested); definitely-new hashes skip the base
                from .bloom import bloom_maybe_contains

                filt = self._base_union("band_bloom", prior)
                touched = (
                    bloom_maybe_contains(
                        touched, "band_hash", filt, n_buckets=cfg.bloom_buckets
                    )
                    .where("maybe_member")
                    .select("band_hash")
                )
            bh_old = band_hashes(old_sigs, cfg.bands, cfg.rows).join(
                touched, "band_hash", "left_semi"
            )
            return candidate_edges_from_bands(bh_new.unionByName(bh_old))

        candidates = self._stage(f"candidates_{batch_id}", _cand, resume)
        self._metric(f"candidates_{batch_id}", "rows", self._rows(f"candidates_{batch_id}"))

        def _verified() -> DataFrame:
            ids = (
                candidates.select(F.col("a").alias("doc_id"))
                .union(candidates.select(F.col("b").alias("doc_id")))
                .distinct()
            )
            cols = ["doc_id", "minhash", "simhash"]
            sig_all = sig_new.select(*cols).unionByName(
                old_sigs.select(*cols).join(ids, "doc_id", "left_semi")
            )
            ver = verify_edges(candidates, sig_all, cfg.jaccard_threshold).select(
                "a", "b"
            )
            # old chunk rows only for chunk buckets the batch touches
            ch_new = _chunk_rows(sig_new)
            ch_old = _chunk_rows(old_sigs).join(
                ch_new.select("chunk_hash").distinct(), "chunk_hash", "left_semi"
            )
            ex_all = old_extracted.select("doc_id", "url", "text").unionByName(
                ex_new.select("doc_id", "url", "text")
            )
            win_tbl = fused_winnow_table(sig_new, DEFAULT_MIN_MATCH_CHARS).unionByName(
                fused_winnow_table(old_sigs, DEFAULT_MIN_MATCH_CHARS)
            )
            cont = sa_verify_pairs(
                substring_candidates(ch_new.unionByName(ch_old)), ex_all, win_tbl
            )
            return ver.union(cont).distinct()

        verified = self._stage(f"verified_{batch_id}", _verified, resume)
        self._metric(f"verified_{batch_id}", "rows", self._rows(f"verified_{batch_id}"))

        def _clusters() -> DataFrame:
            # contract old endpoints to their cluster ids; edges inside one
            # old cluster become self-loops and drop out
            a_map = old_clusters.select(
                F.col("doc_id").alias("a"), F.col("cluster_id").alias("ca")
            )
            b_map = old_clusters.select(
                F.col("doc_id").alias("b"), F.col("cluster_id").alias("cb")
            )
            contracted = (
                verified.join(a_map, "a", "left")
                .join(b_map, "b", "left")
                .select(
                    F.coalesce("ca", F.col("a")).alias("a"),
                    F.coalesce("cb", F.col("b")).alias("b"),
                )
                .where(F.col("a") != F.col("b"))
            )
            comp = connected_components(contracted)
            # relabel whole old clusters whose id was merged into a component
            relabel = comp.select(
                F.col("doc_id").alias("cluster_id"),
                F.col("cluster_id").alias("cluster_id_new"),
            )
            old_updated = old_clusters.join(relabel, "cluster_id", "left").select(
                "doc_id",
                F.coalesce("cluster_id_new", "cluster_id").alias("cluster_id"),
            )
            # nodes not in the old mapping: new docs + formerly-unclustered
            # old docs that an increment edge just pulled into a cluster
            fresh = comp.join(old_clusters.select("doc_id"), "doc_id", "left_anti")
            return old_updated.unionByName(fresh)

        clusters = self._stage(f"clusters_{batch_id}", _clusters, resume)

        def _resolved() -> DataFrame:
            urls_all = self._rep_projection(old_extracted).unionByName(
                self._rep_projection(ex_new)
            )
            # clusters whose membership or id changed vs the base mapping
            touched = (
                clusters.join(old_clusters, ["doc_id", "cluster_id"], "left_anti")
                .select("cluster_id")
                .distinct()
            )
            full_map = urls_all.join(clusters, "doc_id", "left").withColumn(
                "cluster_id", F.coalesce("cluster_id", "doc_id")
            )
            touched_rows = full_map.join(touched, "cluster_id", "left_semi")
            recomputed = touched_rows.withColumn(
                "is_representative",
                F.row_number().over(self._rep_window()) == F.lit(1),
            ).select("doc_id", "url", "cluster_id", "is_representative")
            carried = old_resolved.join(touched, "cluster_id", "left_anti").join(
                touched_rows.select("doc_id"), "doc_id", "left_anti"
            )
            # new docs in no cluster: singletons, their own representative
            singles = (
                ex_new.select("doc_id", "url")
                .join(clusters.select("doc_id"), "doc_id", "left_anti")
                .withColumn("cluster_id", F.col("doc_id"))
                .withColumn("is_representative", F.lit(True))
            )
            return carried.unionByName(recomputed).unionByName(singles)

        resolved = self._stage(f"resolved_{batch_id}", _resolved, resume)
        self._advance_base(batch_id)
        # per-batch metrics file: the base run's lineage_metrics stays intact
        metrics = self._flush_metrics(f"lineage_metrics_{batch_id}")
        return {
            "extracted": ex_new,
            "signatures": sig_new,
            "candidates": candidates,
            "verified": verified,
            "clusters": clusters,
            "resolved": resolved,
            "metrics": metrics,
        }

    def _signature_stage(self, extracted: DataFrame) -> DataFrame:
        """Signatures plus the substring layer's CDC chunk hashes and winnow
        fingerprints, all from one pass over the text."""
        cfg = self.config
        return signature_stage(
            extracted,
            shingle_n=cfg.shingle_n,
            num_perm=cfg.num_perm,
            bands=cfg.bands,
            rows=cfg.rows,
            cdc=(DEFAULT_DIVISOR, DEFAULT_MIN_CHUNK),
            winnow_chars=DEFAULT_MIN_MATCH_CHARS,
        )

    def _band_bloom_stage(self, name: str, signatures: DataFrame, resume: bool) -> DataFrame:
        """Checkpoint the partitioned Bloom filter over this table's banded
        hashes (one slice row per populated bucket) — the membership index
        later increments probe before touching this corpus slice."""
        from .bloom import bloom_build
        from .lsh import band_hashes

        cfg = self.config
        return self._stage(
            name,
            lambda: bloom_build(
                band_hashes(signatures, cfg.bands, cfg.rows).select("band_hash"),
                "band_hash",
                n_buckets=cfg.bloom_buckets,
                bits_per_slice=cfg.bloom_slice_bits,
            ),
            resume,
        )

    def _base_for(self, batch_id: str) -> tuple[str, list[str]]:
        """(base suffix, prior batch ids) for an increment. The manifest
        records the ordered batch list; the base for ``batch_id`` is
        everything BEFORE it — so resuming an already-recorded increment
        reads the same base it originally ran against, never its own
        output."""
        batches = self.store.state().get("batches", [])
        if batch_id in batches:
            i = batches.index(batch_id)
            prior = batches[:i]
        else:
            prior = batches
        return (prior[-1] if prior else "", prior)

    def _base_union(self, stage: str, prior: list[str]) -> DataFrame:
        """Union of the base run's stage checkpoint with every prior
        increment's — the per-doc tables (extracted, signatures) are
        append-only across increments, so the cumulative view is a union of
        immutable per-batch checkpoints (on Iceberg: one table appended to
        per batch; no rewrite)."""
        out = self.store.read(stage)
        for bid in prior:
            out = out.unionByName(self.store.read(f"{stage}_{bid}"))
        return out

    def _advance_base(self, batch_id: str) -> None:
        batches = self.store.state().get("batches", [])
        if batch_id not in batches:
            batches = batches + [batch_id]
        # base_suffix tracks the LATEST increment even when an older one is
        # merely resumed — resuming b1 after b2 ran must not regress it
        self.store.set_state(base_suffix=batches[-1], batches=batches)


def _chunk_rows(signatures: DataFrame) -> DataFrame:
    """(doc_id, chunk_hash) rows exploded JVM-side from the stored chunk
    hashes — the substring candidates never rescan text."""
    return signatures.select("doc_id", F.explode("chunk_hashes").alias("chunk_hash"))


def dup_pair_recall(resolved: DataFrame, dup_truth: DataFrame) -> float:
    """Fraction of planted duplicate pairs whose two urls share a cluster —
    the BASELINE.json recall metric (>= 0.99 target)."""
    r = resolved.select("url", "cluster_id")
    t = (
        dup_truth.join(r.withColumnRenamed("url", "url_a").withColumnRenamed("cluster_id", "ca"), "url_a")
        .join(r.withColumnRenamed("url", "url_b").withColumnRenamed("cluster_id", "cb"), "url_b")
    )
    agg = t.select(
        F.count("*").alias("n"), F.sum((F.col("ca") == F.col("cb")).cast("int")).alias("hit")
    ).collect()[0]
    return 1.0 if agg["n"] == 0 else agg["hit"] / agg["n"]
