"""Plan-quality tests: the physical plans must show the scale posture the
engine claims (pushdown, pruning, broadcast, codegen, bounded shuffles)."""

import pyspark.sql.functions as F

from datasketches_postgresql_spark.functions import theta as TH
from datasketches_postgresql_spark.plans.explain import (
    assert_column_pruned,
    assert_filter_pushed,
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_whole_stage_codegen,
)
from datasketches_postgresql_spark.textops import analysis as TA


class TestPlanQuality:
    def test_filter_and_pruning_reach_scan(self, spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
        assert_filter_pushed(q, "l_quantity")
        assert_column_pruned(q, "l_comment")

    def test_sketch_agg_prunes_input_columns(self, spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        q = TH.theta_sketch_distinct(ev, ["event_type"], "user_id")
        # the parquet scan must read only event_type + user_id, not props/value
        assert_column_pruned(q, "props")
        assert_column_pruned(q, "value")

    def test_sketch_agg_single_shuffle(self, spark, sf_dir):
        """The two-phase sketch aggregate contract: exactly one exchange
        (partial states -> merge), like the reference's COMBINEFUNC plan."""
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        q = TH.theta_sketch_distinct(ev, ["event_type"], "user_id")
        assert count_exchanges(q) == 1, formatted_plan(q)

    def test_small_dim_join_broadcasts(self, spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        q = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        assert has_broadcast_join(q)

    def test_text_analysis_stays_in_codegen(self, spark, sf_dir):
        """token/quality/langid are pure built-in expressions — the plan must
        show WholeStageCodegen and NO Python evaluation nodes."""
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        q = d.select(
            "doc_id",
            TA.token_count(F.col("text")).alias("tc"),
            TA.quality_score(F.col("text")).alias("qs"),
            TA.lang_id(F.col("text")).alias("lp"),
        )
        plan = formatted_plan(q)
        assert has_whole_stage_codegen(q)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    def test_ngram_jaccard_no_quadratic_join(self, spark, sf_dir):
        """The inverted-index formulation must never plan a nested-loop /
        cartesian join (the former all-pairs shape): grams join equi-style
        on their hash."""
        from datasketches_postgresql_spark.textops.dedupe import ngram_jaccard_pairs

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        q = ngram_jaccard_pairs(d, "doc_id", "text", n=2)
        plan = formatted_plan(q)
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan

    def test_ngram_jaccard_max_df_prunes_stop_grams(self, spark, sf_dir):
        """The scale path (explicit max_df, the documented requirement for
        pipeline call sites): a stop-gram in d docs costs d^2 join rows, so
        the document-frequency filter must sit BEFORE the pair join in the
        plan, and a planted boilerplate gram must stop producing pairs."""
        from datasketches_postgresql_spark.textops.dedupe import ngram_jaccard_pairs

        rows = [(i, f"common boilerplate tail unique{i} token{i}") for i in range(30)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        exact = ngram_jaccard_pairs(d, "doc_id", "text", n=2)
        pruned = ngram_jaccard_pairs(d, "doc_id", "text", n=2, max_df=5)
        # every pair shares only the boilerplate grams -> pruning kills them
        assert exact.count() == 30 * 29 // 2
        assert pruned.count() == 0
        plan = formatted_plan(pruned)
        assert "df#" in plan and "<= 5" in plan, plan

    def test_lsh_verify_no_python(self, spark):
        """Band hashing + verification are JVM-side: bit_count/zip_with/
        xxhash64, no Python eval nodes."""
        from datasketches_postgresql_spark.dedup.lsh import band_hashes

        sigs = spark.createDataFrame(
            [(1, [1, 2, 3, 4] * 32, 7), (2, [2, 2, 3, 4] * 32, 9)],
            "doc_id long, minhash array<bigint>, simhash long",
        )
        bh = band_hashes(sigs)
        plan = formatted_plan(bh)
        assert "EvalPython" not in plan
        scored = sigs.alias("l").crossJoin(sigs.alias("r")).select(
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("h")
        )
        assert "EvalPython" not in formatted_plan(scored)

    def test_fused_substring_candidates_no_python(self, spark):
        """With precomputed chunk hashes (the fused signature-stage column),
        substring candidate generation is pure JVM: explode + window + joins,
        no Python eval nodes and no second text scan."""
        from datasketches_postgresql_spark.dedup.chunking import substring_candidates

        sigs = spark.createDataFrame(
            [(1, [10, 20]), (2, [20, 30]), (3, [30, 40])],
            "doc_id long, chunk_hashes array<bigint>",
        )
        ch = sigs.select("doc_id", F.explode("chunk_hashes").alias("chunk_hash"))
        q = substring_candidates(ch)
        plan = formatted_plan(q)
        assert "EvalPython" not in plan, plan

    def test_substring_verify_joins_carry_no_text(self, spark):
        """Round-3 contract: document text never crosses a candidate-PAIR
        join — texts are consumed once in the doc-keyed hashing stage
        (mapInPandas) and only hash ARRAYS appear in join nodes."""
        import pyspark.sql.functions as F

        from datasketches_postgresql_spark.dedup.suffix import (
            hash_overlap_join,
            lgram_hash_table,
        )

        extracted = spark.createDataFrame(
            [(1, "a" * 500), (2, "b" * 500)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2)], "a long, b long")
        ids = pairs.select(F.col("a").alias("doc_id")).union(
            pairs.select(F.col("b").alias("doc_id"))
        ).distinct()
        q = hash_overlap_join(pairs, lgram_hash_table(extracted, ids, 200))
        plan = formatted_plan(q)
        assert "arrays_overlap" in plan, plan
        for line in plan.splitlines():
            if "Join" in line:
                assert "text" not in line, line
        # and the old per-pair text aliases must be gone everywhere
        assert "text_a" not in plan and "text_b" not in plan

    def test_ivf_probe_join_broadcasts_queries(self, spark, sf_dir):
        """IVF search contract: the probe side (qid, cell) broadcasts, so the
        corpus-side inverted file streams — the only exchange left is the
        per-query window rank over the (small) scored candidate set, never a
        corpus-wide sort-merge join."""
        from datasketches_postgresql_spark.textops import ann as ANN

        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cent = ANN.ivf_train_centroids(embs, "embedding", dim=64, n_cells=8, iters=3)
        assigned = ANN.ivf_assign(embs, "vec_id", "embedding", cent)
        q = ANN.ivf_topk(assigned, embs.limit(5), "vec_id", "embedding", cent, k=3, n_probe=2)
        plan = formatted_plan(q)
        assert has_broadcast_join(q), plan
        assert "SortMergeJoin" not in plan, plan

    def test_incremental_band_scan_prunes_stored_columns(self, spark, tmp_path):
        """Incremental-dedup contract (run_incremental._cand): the stored
        signature table is touched ONLY through its three banding columns
        (doc_id, sig_hash, band_hashes) behind a band_hash semi-join — the
        scan must NOT read minhash/simhash/chunk/winnow/text-sized columns,
        which is what keeps a crawl increment O(batch) + one pruned columnar
        scan of the index instead of a corpus re-read."""
        from datasketches_postgresql_spark.dedup.lsh import band_hashes
        from datasketches_postgresql_spark.dedup.minhash import signature_stage

        extracted = spark.createDataFrame(
            [(i, f"u{i}", "en", f"doc text {i} " + "x" * 300, 310) for i in range(20)],
            "doc_id long, url string, lang string, text string, n_chars long",
        )
        sig_path = str(tmp_path / "sigs")
        signature_stage(extracted, cdc=(256, 64), winnow_chars=200).write.parquet(sig_path)
        old_sigs = spark.read.parquet(sig_path)
        new_sigs = signature_stage(
            extracted.where("doc_id < 3").withColumn("doc_id", F.col("doc_id") + 1000)
        )
        touched = band_hashes(new_sigs).select("band_hash").distinct()
        q = band_hashes(old_sigs).join(touched, "band_hash", "left_semi")
        import re

        from datasketches_postgresql_spark.plans.explain import read_schema

        rs = read_schema(q)
        assert rs, "no parquet scan in plan"
        for col in ("minhash", "simhash", "chunk_hashes", "h", "hc", "shingle_theta"):
            assert all(not re.search(rf"[<,]{col}:", s) for s in rs), (col, rs)

    def test_line_dedup_shuffles_hashes_not_line_text(self, spark, sf_dir):
        """linededup contract: the line-frequency aggregation must shuffle
        8-byte (line_hash, doc_id) pairs, never line text — at 10^12 lines
        the hash/text ratio IS the stage cost. Line text may cross exactly
        one exchange: the doc-keyed reassembly groupBy. The drop-join
        against the (tiny) frequent-line table must broadcast."""
        from datasketches_postgresql_spark.plans.explain import (
            assert_column_pruned,
            formatted_plan,
            has_broadcast_join,
        )
        from datasketches_postgresql_spark.textops.linededup import (
            dedup_lines,
            frequent_lines,
        )

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        freq = frequent_lines(d)
        assert_column_pruned(freq, "url")
        assert_column_pruned(freq, "lang")
        fp = freq._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(line_hash" in fp, fp
        # every aggregate in the frequency subplan carries only
        # line_hash/doc_id ("line#N" is the raw text attribute; note
        # "line_hash#N" does NOT contain the substring "line#")
        for ln in fp.splitlines():
            if "HashAggregate" in ln or "Exchange hashpartitioning" in ln:
                assert "line#" not in ln, ln

        out = dedup_lines(d)
        assert has_broadcast_join(out), formatted_plan(out)
        op = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in op and "NestedLoop" not in op
        # reassembly: the only doc-keyed exchange is the final groupBy
        assert op.count("hashpartitioning(doc_id") == 1, op


class TestRound3OpPlans:
    def test_packing_shuffle_carries_ids_and_lengths_only(self, spark, sf_dir):
        """pack_documents must not move document text: the parquet scan
        under the packing exchange reads only the id column (length is
        derived), never text."""
        from datasketches_postgresql_spark.textops.packing import pack_documents

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.length("text").alias("n")
        )
        q = pack_documents(d, "doc_id", "n", 2048, num_partitions=4)
        plan = formatted_plan(q)
        # text is read once to compute the length projection, but the wide
        # columns never survive to the exchange
        assert_column_pruned(q, "lang")
        assert_column_pruned(q, "source")

    def test_psl_registrable_domain_stays_in_codegen(self, spark, sf_dir):
        """The full-PSL lookup is per-depth InSet literal sets — pure
        native expressions: no Python eval in the plan, and the scan
        prunes to the url column."""
        from datasketches_postgresql_spark.textops.urlops import registrable_domain

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.concat(F.lit("https://s"), F.col("doc_id").cast("string"),
                     F.lit(".github.io/p")).alias("url"),
        )
        q = d.select(registrable_domain(F.col("url")).alias("domain"))
        plan = formatted_plan(q)
        for python_op in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
            assert python_op not in plan, plan[:4000]
        assert has_whole_stage_codegen(q), plan[:4000]

    def test_domain_cap_rank_single_window_exchange(self, spark, sf_dir):
        """rank-mode cap = one hash exchange on the 8-byte domain key."""
        from datasketches_postgresql_spark.textops.urlops import cap_per_domain

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.concat(F.lit("https://h"), (F.col("doc_id") % 9).cast("string"),
                     F.lit(".org/"), F.col("doc_id").cast("string")).alias("url")
        )
        q = cap_per_domain(d, "url", max_docs=3)
        assert count_exchanges(q) == 1, formatted_plan(q)

    def test_domain_cap_hash_mode_broadcasts_counts(self, spark, sf_dir):
        """hash-mode cap joins the per-domain counts back via BROADCAST —
        the corpus is never sort-merge shuffled against its own counts."""
        from datasketches_postgresql_spark.textops.urlops import cap_per_domain

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.concat(F.lit("https://h"), (F.col("doc_id") % 9).cast("string"),
                     F.lit(".org/"), F.col("doc_id").cast("string")).alias("url")
        )
        q = cap_per_domain(d, "url", max_docs=3, mode="hash")
        plan = formatted_plan(q)
        assert has_broadcast_join(q), plan
        # the broadcast side must be the FILTERED count table (only domains
        # over the cap): at web scale broadcasting all 10^8-10^9 domain
        # counts would be the skew-safe mode's own scale-killer
        assert "__dn" in plan and "> 3" in plan, plan

    def test_semdedup_candidate_join_keys_are_narrow(self, spark, sf_dir):
        """the within-cluster self-join is keyed on (cluster, salt) ints —
        the join keys must appear in the exchange, and the embedding scan
        must prune the label column."""
        from datasketches_postgresql_spark.textops import semdedup as SD

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        assigned = SD.semdedup_assign(e, "vec_id", "embedding", 64, n_clusters=4)
        q = SD.semdedup_pairs(assigned, threshold=0.9, max_cluster=0)
        assert_column_pruned(q, "label")

    def test_bloom_probe_is_cogrouped_not_joined_per_row(self, spark, sf_dir):
        """the filter's bitmap crosses once per bucket: the probe plan
        shows a cogroup (FlatMapCoGroupsInPandas), not a row join of the
        bitmap against every key."""
        from datasketches_postgresql_spark.dedup import bloom as B

        keys = spark.range(0, 1000).select(F.xxhash64("id").alias("key"))
        filt = B.bloom_build(keys, "key", n_buckets=8, bits_per_slice=1 << 12)
        probed = B.bloom_maybe_contains(keys, "key", filt, n_buckets=8)
        assert "FlatMapCoGroupsInPandas" in formatted_plan(probed)
