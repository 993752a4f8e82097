"""End-to-end dedup pipeline: recall vs planted truth, precision guard,
byte-identical extraction, exact resume (BASELINE.md target metrics)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from datasketches_postgresql_spark.dedup.pipeline import (
    DedupConfig,
    DedupPipeline,
    dup_pair_recall,
)
from datasketches_postgresql_spark.sources.corpus import generate_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_corpus(spark, n_docs=600, seed=42, partitions=8)


@pytest.fixture(scope="module")
def run(spark, corpus, tmp_path_factory):
    pages, truth = corpus
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    pipe = DedupPipeline(spark, ckpt, DedupConfig())
    out = pipe.run(pages, resume=False)
    return pages, truth, out, ckpt, pipe


class TestPipeline:
    def test_recall_by_kind(self, spark, run):
        _, truth, out, _, _ = run
        resolved = out["resolved"]
        for kind in ["exact", "near", "substring"]:
            t = truth.where(F.col("kind") == kind)
            n = t.count()
            assert n > 0, f"no planted {kind} dups"
            rec = dup_pair_recall(resolved, t)
            assert rec >= 0.99, f"{kind} recall {rec} < 0.99 over {n} pairs"

    def test_overall_recall(self, run):
        _, truth, out, _, _ = run
        assert dup_pair_recall(out["resolved"], truth) >= 0.99

    def test_precision_no_boilerplate_blobs(self, run):
        """Negatives share per-host boilerplate only — cluster mass must stay
        in the neighborhood of the planted duplicates."""
        _, truth, out, _, _ = run
        clustered = out["clusters"].count()
        n_truth = truth.count()
        # each truth pair contributes <= 2 docs; chains can merge, slack 1.5x
        assert clustered <= 2 * n_truth * 1.5, (
            f"{clustered} docs clustered vs {n_truth} planted pairs — precision collapse"
        )

    def test_representatives(self, run):
        _, _, out, _, _ = run
        resolved = out["resolved"]
        per_cluster = resolved.groupBy("cluster_id").agg(
            F.sum(F.col("is_representative").cast("int")).alias("reps"),
            F.min("url").alias("min_url"),
        )
        assert per_cluster.where(F.col("reps") != 1).count() == 0
        # representative is the minimum url of its cluster
        rep_urls = resolved.where("is_representative").select("cluster_id", F.col("url"))
        bad = rep_urls.join(per_cluster, "cluster_id").where(F.col("url") != F.col("min_url"))
        assert bad.count() == 0

    def test_extraction_byte_identical_and_deterministic(self, spark, run):
        pages, _, out, _, _ = run
        ext = out["extracted"].select("url", "text").orderBy("url")
        h1 = hashlib.sha256(
            "\x01".join(f"{r['url']}\x02{r['text']}" for r in ext.collect()).encode()
        ).hexdigest()
        # recompute from scratch at different parallelism
        from datasketches_postgresql_spark.dedup.extract import extract_stage

        ext2 = extract_stage(pages.repartition(3)).select("url", "text").orderBy("url")
        h2 = hashlib.sha256(
            "\x01".join(f"{r['url']}\x02{r['text']}" for r in ext2.collect()).encode()
        ).hexdigest()
        assert h1 == h2

    def test_resume_exact(self, spark, run):
        pages, _, out, ckpt, pipe = run
        # resumed run must reproduce cluster assignments exactly
        pipe2 = DedupPipeline(spark, ckpt, pipe.config)
        out2 = pipe2.run(pages, resume=True)
        a = {(r["doc_id"], r["cluster_id"]) for r in out["clusters"].collect()}
        b = {(r["doc_id"], r["cluster_id"]) for r in out2["clusters"].collect()}
        assert a == b

    def test_lineage_metrics_present(self, run):
        _, _, out, _, pipe = run
        # re-read from the store: a resumed run may have rewritten the files
        m = pipe.store.read("lineage_metrics")
        stages = {r["stage"] for r in m.collect()}
        assert {"extracted", "signatures", "candidates", "verified", "clusters"} <= stages
        # per-partition rows exist (partition >= 0) alongside the global (-1)
        assert m.where("partition >= 0").count() > 0
        est = m.where(
            "stage = 'signatures' and metric = 'distinct_shingles_est'"
        ).collect()[0]["value"]
        assert est > 1000


class TestConnectedComponents:
    def test_local_and_distributed_paths_agree(self, spark):
        import random

        from datasketches_postgresql_spark.dedup.cc import connected_components

        random.seed(3)
        edges = [(random.randint(0, 300), random.randint(0, 300)) for _ in range(400)]
        df = spark.createDataFrame(edges, "a long, b long")
        local = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(df).collect()
        }
        dist = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(df, local_threshold=0).collect()
        }
        assert local == dist
        # cluster ids are component minima
        roots = {c for _, c in local}
        for n, c in local:
            assert c <= n and c in {x for x, _ in local}
        assert roots <= {n for n, _ in local}


class TestDistributedTruth:
    def test_truth_labels_match_distributed_pages(self, spark):
        """generate_truth_distributed must label exactly the duplicates the
        distributed pages generator planted: every truth url exists in the
        pages, and the pair texts actually relate (exact => equal text)."""
        from datasketches_postgresql_spark.sources.corpus import (
            generate_corpus_distributed,
            generate_truth_distributed,
        )

        pages = generate_corpus_distributed(spark, 800, partitions=4)
        truth = generate_truth_distributed(spark, 800, partitions=4)
        n_truth = truth.count()
        assert n_truth > 0
        urls = {r["url"] for r in pages.select("url").collect()}
        t = truth.collect()
        for r in t:
            assert r["url_a"] in urls and r["url_b"] in urls
        texts = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
        for r in t:
            if r["kind"] == "exact":
                assert texts[r["url_a"]] == texts[r["url_b"]]
            elif r["kind"] == "substring":
                assert texts[r["url_b"]] in texts[r["url_a"]]


class TestFusedCdc:
    def test_fused_and_unfused_resolved_identical(self, spark, tmp_path, monkeypatch):
        """The substring candidates' CDC chunk rows come from the signature
        stage's fused text pass; feeding the pipeline chunk rows from a
        separate scan of the extracted text with the reference chunker
        (chunk_hashes_batch) must give EXACTLY the same resolved output."""
        import numpy as np
        import pandas as pd

        from datasketches_postgresql_spark.dedup import pipeline as pl
        from datasketches_postgresql_spark.dedup.chunking import (
            DEFAULT_DIVISOR,
            DEFAULT_MIN_CHUNK,
            chunk_hashes_batch,
        )
        from datasketches_postgresql_spark.sources.corpus import generate_corpus

        def resolved(out):
            return sorted(
                (r["doc_id"], r["cluster_id"], r["is_representative"])
                for r in out["resolved"].collect()
            )

        pages, _ = generate_corpus(spark, 1500, partitions=8)
        fused_out = pl.DedupPipeline(spark, str(tmp_path / "ck_fused")).run(
            pages, resume=False
        )

        def scan(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ch = chunk_hashes_batch(pdf["text"], DEFAULT_DIVISOR, DEFAULT_MIN_CHUNK)
                lens = np.array([c.size for c in ch], dtype=np.int64)
                if lens.sum() == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(pdf["doc_id"].to_numpy(), lens),
                        "chunk_hash": np.concatenate(ch).view(np.int64),
                    }
                )

        scanned = fused_out["extracted"].select("doc_id", "text").mapInPandas(
            scan, schema="doc_id long, chunk_hash long"
        )
        calls = []

        def unfused_chunk_rows(signatures):
            calls.append(1)
            return scanned

        monkeypatch.setattr(pl, "_chunk_rows", unfused_chunk_rows)
        unfused_out = pl.DedupPipeline(spark, str(tmp_path / "ck_unfused")).run(
            pages, resume=False
        )
        assert calls and scanned.count() > 0
        assert resolved(fused_out) == resolved(unfused_out)


class TestFusedWinnow:
    def test_fused_columns_match_kernel(self, spark):
        """The signature stage's substring columns, as the pipeline builds
        them, equal the standalone per-doc kernels: winnow_h/winnow_hc the
        scalar winnow_pair_fingerprints (with the L stamp in the schema),
        chunk_hashes the reference chunker chunk_hashes_batch."""
        import numpy as np
        import pandas as pd

        from datasketches_postgresql_spark.dedup.chunking import (
            DEFAULT_DIVISOR,
            DEFAULT_MIN_CHUNK,
            chunk_hashes_batch,
        )
        from datasketches_postgresql_spark.dedup.minhash import signature_stage
        from datasketches_postgresql_spark.dedup.suffix import (
            winnow_pair_fingerprints,
        )

        rng = np.random.default_rng(5)
        df = spark.createDataFrame(
            [
                (1, "u1", "the quick brown fox " * 40),
                (2, "u2", "tiny"),
                (3, "u3", "x" * 500),
                (4, "u4", "".join(rng.choice(list("abcdefgh "), 3000))),
                (5, "u5", ""),
            ],
            "doc_id long, url string, text string",
        )
        sig = signature_stage(
            df, cdc=(DEFAULT_DIVISOR, DEFAULT_MIN_CHUNK), winnow_chars=200
        )
        assert (sig.schema["winnow_h"].metadata or {}).get("winnow_chars") == 200
        rows = {r["doc_id"]: r for r in sig.collect()}
        texts = {r["doc_id"]: r["text"] for r in df.collect()}
        for d, t in texts.items():
            f, c = winnow_pair_fingerprints(t, 200)
            assert list(f.view(np.int64)) == list(rows[d]["winnow_h"])
            assert list(c.view(np.int64)) == list(rows[d]["winnow_hc"])
            (ch,) = chunk_hashes_batch(
                pd.Series([t]), DEFAULT_DIVISOR, DEFAULT_MIN_CHUNK
            )
            assert list(ch.view(np.int64)) == list(rows[d]["chunk_hashes"]), d
        assert len(rows[4]["chunk_hashes"]) > 10

    def test_mismatched_winnow_config_refused(self, spark):
        """A signature table whose fused fingerprints were built for a
        different L must be refused by the verify layer, not silently
        reused (fused_winnow_table — the pipeline's validation path)."""
        import pytest

        from datasketches_postgresql_spark.dedup.minhash import signature_stage
        from datasketches_postgresql_spark.dedup.suffix import fused_winnow_table

        df = spark.createDataFrame(
            [(1, "u1", "some text " * 30)], "doc_id long, url string, text string"
        )
        sigs = signature_stage(df, winnow_chars=200)
        with pytest.raises(ValueError, match="min_match_chars=200"):
            fused_winnow_table(sigs, 150)
        # matching config passes through with the (doc_id, h, hc) shape
        tbl = fused_winnow_table(sigs, 200)
        assert tbl.columns == ["doc_id", "h", "hc"]


class TestUrlDedupTier:
    def test_recrawl_variants_collapse_before_extraction(self, spark, tmp_path):
        """url_dedup=True: messy recrawl spellings of the same page vanish at
        ingest, so the downstream stages see exactly the baseline corpus."""
        import pyspark.sql.functions as F

        from datasketches_postgresql_spark.dedup.pipeline import (
            DedupConfig,
            DedupPipeline,
        )
        from datasketches_postgresql_spark.sources.corpus import generate_corpus

        pages, _ = generate_corpus(spark, 400, partitions=4)
        # fabricate a fresher recrawl of every 5th page under a messy URL
        recrawls = (
            pages.where(F.xxhash64("url") % 5 == 0)
            .withColumn(
                "url",
                F.concat(
                    F.regexp_replace("url", "^https://", "HTTPS://WWW."),
                    F.lit("/?utm_source=recrawl"),
                ),
            )
            .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
        )
        messy = pages.unionByName(recrawls)

        cfg = DedupConfig(url_dedup=True)
        pipe = DedupPipeline(spark, str(tmp_path / "ck"), cfg)
        out = pipe.run(messy, resume=False)
        resolved = out["resolved"]
        assert resolved.count() == pages.count()
        # the survivor of each collapsed pair is the FRESHER fetch (messy url)
        n_messy = resolved.where(F.col("url").startswith("HTTPS://WWW.")).count()
        assert n_messy == recrawls.count()


class TestLineDedupTier:
    """Opt-in corpus-level boilerplate-line removal (DedupConfig.line_dedup)."""

    _NAV = "Home About Products Contact Accept cookies to continue"
    _FOOT = "(c) example.org All rights reserved Privacy Terms"

    def _pages(self, spark, n=12):
        import datetime

        rows = []
        for i in range(n):
            body = f"unique page body {i} " + " ".join(
                f"w{i}x{j}" for j in range(40)
            )
            html = (
                f"<html><body><div>{self._NAV}</div>"
                f"<p>{body}</p>"
                f"<div>{self._FOOT}</div></body></html>"
            ).encode()
            rows.append(
                (
                    f"https://ex{i}.org/p",
                    datetime.datetime(2026, 1, 1, i % 24),
                    bytearray(html),
                    "",
                    "en",
                )
            )
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )

    def test_blocks_canonicalize_byte_identical_to_extract(self, spark):
        """canonicalize_stage(extract_blocks_stage(p)) must reproduce
        extract_stage(p) byte-for-byte — the extracted-checkpoint invariant
        the line-dedup tier relies on — including on adversarial html
        (unicode whitespace, entities, script-wrapped block tags)."""
        import datetime

        from datasketches_postgresql_spark.dedup.extract import (
            canonicalize_stage,
            extract_blocks_stage,
            extract_stage,
        )

        nasty = [
            b"<div>a\xc2\xa0b</div><p>c &amp; d &nbsp; e</p>",
            b"<script><div>not text</div></script><h1>T</h1>x<br/>y",
            b"plain no tags \xc2\xa0 \t mixed   ws",
            b"<!-- <p>comment</p> --><ul><li>one</li><li>two</li></ul>",
            b"<DIV CLASS='x'>upper</DIV><p\n  attr=1>split attr</p>",
        ]
        pages = self._pages(spark).unionByName(
            spark.createDataFrame(
                [
                    (f"https://nasty{i}.org/", datetime.datetime(2026, 1, 2), bytearray(h), "", "en")
                    for i, h in enumerate(nasty)
                ],
                "url string, warc_ts timestamp, html binary, text string, lang string",
            )
        )
        a = {r["url"]: r for r in extract_stage(pages).collect()}
        b = {r["url"]: r for r in canonicalize_stage(extract_blocks_stage(pages)).collect()}
        assert set(a) == set(b)
        for u in a:
            assert a[u]["text"] == b[u]["text"], u
            assert a[u]["n_chars"] == b[u]["n_chars"], u

    def test_boilerplate_stripped_cleaned_not_extracted(self, spark, tmp_path):
        from datasketches_postgresql_spark.dedup.pipeline import (
            DedupConfig,
            DedupPipeline,
        )

        cfg = DedupConfig(line_dedup=True, line_dedup_min_docs=4)
        pipe = DedupPipeline(spark, str(tmp_path / "ck"), cfg)
        out = pipe.run(self._pages(spark), resume=False)
        # run() hands downstream the CLEANED table under the extracted key
        cleaned = {r["url"]: r["text"] for r in out["extracted"].collect()}
        for u, t in cleaned.items():
            assert self._NAV not in t, u
            assert self._FOOT not in t, u
            assert "unique page body" in t, u
        # the raw extracted checkpoint keeps the boilerplate (invariant)
        raw = {r["url"]: r["text"] for r in pipe.store.read("extracted").collect()}
        assert all(self._NAV in t and self._FOOT in t for t in raw.values())
        # the frequent-line table saw exactly the two planted lines
        assert pipe.store.read("line_freq").count() == 2

    def test_incremental_batch_cleaned_with_base_stats(self, spark, tmp_path):
        import datetime

        from datasketches_postgresql_spark.dedup.pipeline import (
            DedupConfig,
            DedupPipeline,
        )

        cfg = DedupConfig(line_dedup=True, line_dedup_min_docs=4)
        pipe = DedupPipeline(spark, str(tmp_path / "ck2"), cfg)
        pipe.run(self._pages(spark), resume=False)
        # a 1-doc batch can never make a line frequent on its own — only the
        # base snapshot's statistics can clean it
        html = (
            f"<div>{self._NAV}</div><p>brand new crawl body zz1 zz2 zz3</p>"
        ).encode()
        batch = spark.createDataFrame(
            [("https://new.org/x", datetime.datetime(2026, 2, 1), bytearray(html), "", "en")],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )
        out = pipe.run_incremental(batch, batch_id="inc1", resume=False)
        t = out["extracted"].where("url = 'https://new.org/x'").collect()[0]["text"]
        assert self._NAV not in t
        assert t.startswith("brand new crawl body")


class TestPyfilesArtifact:
    def test_zip_is_importable_and_reproducible(self, tmp_path):
        """tools/make_pyfiles.py output must be a self-contained importable
        package (the spark-submit --py-files contract) with a reproducible
        hash for a given tree."""
        import hashlib
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(repo, "tools"))
        try:
            from make_pyfiles import build
        finally:
            sys.path.pop(0)
        z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
        members = build(z1)
        build(z2)
        assert any(m.endswith("dedup/pipeline.py") for m in members)
        assert (
            hashlib.sha256(open(z1, "rb").read()).hexdigest()
            == hashlib.sha256(open(z2, "rb").read()).hexdigest()
        )
        # import from the zip alone, in a clean interpreter
        r = subprocess.run(
            [
                sys.executable,
                "-c",
                f"import sys; sys.path.insert(0, {z1!r}); "
                "from datasketches_postgresql_spark.textops.linededup import dedup_lines; "
                "from datasketches_postgresql_spark.dedup.pipeline import DedupConfig; "
                "print('ok')",
            ],
            capture_output=True,
            text=True,
            timeout=120,
            env={"PATH": "/usr/bin:/bin"},
            # cwd must NOT be the repo root: python -c puts '' on sys.path,
            # and a repo-root cwd would let a broken zip false-pass by
            # resolving the package from the working tree instead
            cwd=str(tmp_path),
        )
        assert r.returncode == 0 and r.stdout.strip() == "ok", r.stderr


class TestLineDedupGuards:
    def test_min_docs_below_2_rejected(self, spark, tmp_path):
        import pytest as _pt

        from datasketches_postgresql_spark.dedup.pipeline import (
            DedupConfig,
            DedupPipeline,
        )

        with _pt.raises(ValueError, match="line_dedup_min_docs"):
            DedupPipeline(
                spark, str(tmp_path / "ck"), DedupConfig(line_dedup=True, line_dedup_min_docs=1)
            )

    def test_duplicate_doc_id_rejected_without_url_dedup(self, spark, tmp_path):
        import datetime

        import pytest as _pt

        from datasketches_postgresql_spark.dedup.pipeline import (
            DedupConfig,
            DedupPipeline,
        )

        html = b"<p>same url fetched twice</p>"
        rows = [
            ("https://dup.org/x", datetime.datetime(2026, 1, 1), bytearray(html), "", "en"),
            ("https://dup.org/x", datetime.datetime(2026, 1, 2), bytearray(html), "", "en"),
            ("https://uniq.org/y", datetime.datetime(2026, 1, 1), bytearray(html), "", "en"),
        ]
        pages = spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        pipe = DedupPipeline(spark, str(tmp_path / "ck"), DedupConfig(line_dedup=True))
        with _pt.raises(ValueError, match="url_dedup"):
            pipe.run(pages, resume=False)
        # with url_dedup on, refetches collapse and the same crawl runs fine
        pipe2 = DedupPipeline(
            spark, str(tmp_path / "ck2"), DedupConfig(line_dedup=True, url_dedup=True)
        )
        out = pipe2.run(pages, resume=False)
        assert out["extracted"].count() == 2
