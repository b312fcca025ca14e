"""Physical-plan quality gates (SURVEY.md §4): these tests pin the
*plan shape*, not just results — pushdown reaching the parquet scan,
column pruning, broadcast strategy on dim joins, partial aggregation,
whole-stage codegen, partition pruning on the packet table layout.
A regression here is a 100 TB incident, not a wrong answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aprs2influxdb_spark.plans import (
    audit,
    executed_plan,
    has_codegen,
    plan_stats,
    pushed_filters,
    scan_schema,
)
from aprs2influxdb_spark.queries import (
    q_pricing_summary,
    q_region_revenue,
    q_token_counts,
    q_cosine_topk,
)
from aprs2influxdb_spark.operators.projections import to_line_protocol
from aprs2influxdb_spark.sources.fixtures import fixture_packets
from aprs2influxdb_spark.storage import read_packets, write_packets


class TestScanQuality:
    def test_filter_pushdown_reaches_parquet(self, spark, sf_dir):
        pf = pushed_filters(q_pricing_summary(spark, sf_dir))
        assert "IsNotNull(l_shipdate)" in pf and "LessThanOrEqual(l_shipdate" in pf

    def test_column_pruning(self, spark, sf_dir):
        # only the two needed columns reach the scan
        assert scan_schema(q_token_counts(spark, sf_dir)).startswith(
            "struct<doc_id:bigint,text:string>"
        )

    def test_aggregation_is_partial_then_final(self, spark, sf_dir):
        plan = executed_plan(q_pricing_summary(spark, sf_dir))
        assert plan.count("HashAggregate") >= 2  # map-side combine present

    def test_whole_stage_codegen_on_serializer(self, spark, tmp_path):
        # a LocalTableScan (createDataFrame) skips codegen; the real path
        # is parquet-backed, so assert over that.  array_compact (a
        # higher-order ArrayFilter) or a too-large single-stage CASE
        # would silently drop the serializer out of codegen.
        path = str(tmp_path / "pk")
        fixture_packets(spark).write.parquet(path)
        assert has_codegen(to_line_protocol(spark.read.parquet(path)))


class TestJoinStrategy:
    def test_dims_broadcast_in_q5(self, spark, sf_dir):
        stats = audit(q_region_revenue(spark, sf_dir))
        assert stats.broadcasts >= 1
        assert stats.cartesian == 0
        # the supplier prune is a LEFT SEMI precisely so the static
        # planner keeps broadcast joins: an inner prune loses the size
        # estimate and falls back to SMJ, shuffling the whole fact
        # intermediate on l_suppkey (see q_region_revenue docstring)
        assert stats.sort_merge_joins == 0
        assert stats.shuffles <= 1  # only the final groupBy exchange

    def test_bucketed_join_has_no_exchange(self, spark, sf_dir, tmp_path):
        """Both sides bucketed on the join key -> the fact-fact join
        plans with ZERO exchanges (the scan satisfies the partitioning
        requirement).  Broadcast is disabled for the test: at toy SF
        the planner would broadcast and hide whether bucketing worked;
        at 100 TB neither side is broadcastable and this bucketed SMJ
        is the plan that matters."""
        from aprs2influxdb_spark.storage import attach_bucketed, write_bucketed

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        for df, name, key in (
            (li, "li_bucketed", "l_orderkey"),
            (o, "o_bucketed", "o_orderkey"),
        ):
            write_bucketed(df, str(tmp_path / name), 8, key)
            attach_bucketed(spark, name, str(tmp_path / name), key, 8)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("li_bucketed").join(
                spark.table("o_bucketed"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            stats = plan_stats(j)
            assert stats.shuffles == 0
            assert stats.broadcasts == 0
            # unbucketed twin of the same join DOES shuffle both sides
            un = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            assert plan_stats(un).shuffles == 2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS li_bucketed")
            spark.sql("DROP TABLE IF EXISTS o_bucketed")

    def test_gate_index_probe_is_bucketed_no_saved_side_exchange(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """Verdict-r10 weak #1: the drained gates' persisted index is
        O(drained corpus) — NOT broadcast-sized at 100 TB — so the
        probe join must plan with the saved side BUCKETED and
        exchange-free (only the arriving batch shuffles).  Broadcast
        is disabled to expose the scale plan the hint guarantees."""
        from aprs2influxdb_spark.streaming.bounded import (
            lsh_gate_index,
            persist_gate_index,
            probe_gate_index,
        )

        monkeypatch.setenv("SPARK_GRAFT_MEDIA_CACHE", str(tmp_path / "cache"))
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        index = persist_gate_index(
            spark, lsh_gate_index(docs), "plantest-lsh"
        )
        try:
            # note: a bare scan of the table reports no bucketing —
            # Spark's autoBucketedScan drops the layout when nothing
            # consumes it; the JOIN plan below is where it must appear
            from aprs2influxdb_spark.functions.hashing import hashed_shingles
            from aprs2influxdb_spark.operators.dedup import (
                _signatures_from_shingles,
                banded_keys,
                tokens_col,
            )

            banded = banded_keys(
                _signatures_from_shingles(
                    docs.select(
                        "doc_id",
                        hashed_shingles(tokens_col("text"), 3).alias("sh"),
                    ),
                    "doc_id",
                    16,
                ),
                "doc_id",
                16,
                4,
            )
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                probed = probe_gate_index(banded, index)
                stats = plan_stats(probed)
                # probe side shuffles into the bucket layout; the saved
                # side never does, and nothing broadcasts
                assert stats.broadcasts == 0
                jplan = executed_plan(probed)
                assert "Bucketed: true" in jplan
                # the join adds exactly ONE exchange over the banded
                # batch's own plan: the probe side.  A second one means
                # the bucketed layout failed to reach the join.
                base = plan_stats(banded).shuffles
                assert stats.shuffles == base + 1, jplan
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql("DROP TABLE IF EXISTS gate_index_1_plantest_lsh")

    def test_gate_index_reattaches_without_rebuild(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """A new session finds the persisted gate index's files but no
        catalog entry.  Persisting again must re-attach those files
        without rebuilding them, with the bucket layout intact: the
        probe join still scans the saved side bucketed and returns the
        same rows."""
        import os

        from aprs2influxdb_spark.streaming.bounded import (
            lsh_banded_docs,
            lsh_gate_index,
            persist_gate_index,
            probe_gate_index,
        )

        monkeypatch.setenv("SPARK_GRAFT_MEDIA_CACHE", str(tmp_path / "cache"))
        name = "gate_index_1_plantest_reattach"
        marker = tmp_path / "cache" / "gate1-plantest-reattach" / "_SUCCESS"
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        banded = lsh_banded_docs(spark, sf_dir)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            index = persist_gate_index(spark, lsh_gate_index(docs), "plantest-reattach")
            built = os.path.getmtime(marker)
            # (doc_id, band) is unique, so the sort never compares nulls
            rows = sorted(map(tuple, probe_gate_index(banded, index).collect()))
            spark.sql(f"DROP TABLE {name}")  # what a fresh session sees
            index = persist_gate_index(spark, lsh_gate_index(docs), "plantest-reattach")
            assert os.path.getmtime(marker) == built
            probed = probe_gate_index(banded, index)
            scans = [
                line for line in executed_plan(probed).splitlines()
                if "Scan parquet" in line and name in line
            ]
            assert scans and all("Bucketed: true" in s for s in scans), scans
            assert sorted(map(tuple, probed.collect())) == rows
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    def test_new_query_shuffle_budgets(self, spark, sf_dir):
        """Plan-shape budgets for the round's additions: the scan-only
        query pushes every predicate, the window/agg queries stay
        within their documented exchange counts, nothing goes
        cartesian."""
        from aprs2influxdb_spark.queries import (
            q_forecast_revenue,
            q_hier_rollup,
            q_rank_family,
            q_cohort_retention,
        )

        pf = pushed_filters(q_forecast_revenue(spark, sf_dir))
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert col in pf, f"predicate on {col} not pushed: {pf}"
        assert audit(q_forecast_revenue(spark, sf_dir)).shuffles <= 1

        # minute partials + hour re-agg: two exchanges, no more
        assert audit(q_hier_rollup(spark, sf_dir)).shuffles <= 2
        # all four rank functions share one partition exchange + sort
        assert audit(q_rank_family(spark, sf_dir)).shuffles == 1
        audit(q_cohort_retention(spark, sf_dir))  # no cartesian

    def test_ngram_jaccard_candidates_are_df_capped(self, spark, sf_dir):
        """No registry entry may run the uncapped O(Σ df²) inverted-
        index self-join: the headline ngram_jaccard must default to the
        df-capped candidate stage (one boilerplate shingle in 10⁶ docs
        would otherwise emit 10¹² candidate rows at 100 TB), within the
        same shuffle budget as the explicit capped variant."""
        import inspect

        from aprs2influxdb_spark.operators.dedup import ngram_jaccard_pairs
        from aprs2influxdb_spark.queries import q_ngram_jaccard, q_ngram_jaccard_capped

        assert inspect.signature(ngram_jaccard_pairs).parameters["max_doc_freq"].default is not None
        # capped v3 plan: df-cap count agg (skew-safe partials) +
        # pruned-index list agg (every list ≤ cap by construction) +
        # pair agg + the two small post-aggregate doc-info joins —
        # no index self-join, and the PAIR table is aggregated once
        assert audit(q_ngram_jaccard(spark, sf_dir)).shuffles <= 7
        assert audit(q_ngram_jaccard_capped(spark, sf_dir)).shuffles <= 7

    def test_round2b_shuffle_budgets(self, spark, sf_dir):
        """Plan budgets for the round-2b additions: Q10 keeps nation on
        a broadcast and aggregates before the customer join;
        paragraph_dedup is exactly digest-window + doc-id re-agg;
        ewma_smooth is ONE series-key exchange (the fold is in-row);
        knn_graph shuffles on the bucket only; perplexity_bands adds
        one doc_id join to the unigram-LM plan.  Budgets are set with
        headroom for broadcasts degrading to shuffles at larger SFs."""
        from aprs2influxdb_spark.queries import (
            q_returned_items,
            q_paragraph_dedup,
            q_perplexity_bands,
            q_ewma_smooth,
            q_knn_graph,
        )

        assert audit(q_returned_items(spark, sf_dir)).shuffles <= 6
        assert audit(q_paragraph_dedup(spark, sf_dir)).shuffles <= 3
        assert audit(q_ewma_smooth(spark, sf_dir)).shuffles <= 2
        assert audit(q_knn_graph(spark, sf_dir)).shuffles <= 3
        assert audit(q_perplexity_bands(spark, sf_dir)).shuffles <= 7

        # round-2c: PQ keeps the codebook broadcast (corpus shuffles
        # only on the id re-assembly); the series folds are one
        # exchange; BM25's corpus-side moves are tf + posting stages
        from aprs2influxdb_spark.queries import (
            q_pq_quantize,
            q_holt_linear,
            q_sampled_percentiles,
            q_sliding_window_agg,
            q_bm25_topk,
        )

        pq = audit(q_pq_quantize(spark, sf_dir))
        assert pq.shuffles <= 3 and pq.broadcasts >= 1
        assert audit(q_holt_linear(spark, sf_dir)).shuffles <= 2
        assert audit(q_sampled_percentiles(spark, sf_dir)).shuffles <= 2
        assert audit(q_sliding_window_agg(spark, sf_dir)).shuffles <= 2
        assert audit(q_bm25_topk(spark, sf_dir)).shuffles <= 9
        from aprs2influxdb_spark.queries import q_curate_corpus

        # gates before any shuffle; md5-dup window + chunk window +
        # doc reassembly + final doc-level join
        assert audit(q_curate_corpus(spark, sf_dir)).shuffles <= 5

    def test_round2d_shuffle_budgets(self, spark, sf_dir):
        """quality_classifier must stay a pure projection (ZERO
        exchanges — tokenize/hash/weight-sum all in one codegen'd map);
        char_entropy is the (doc,char) partial-agg + doc window/agg;
        pq_adc_topk rides pq_quantize's plan plus a broadcast LUT join
        and one (query, vec) aggregation — the LUT must never be the
        shuffled side."""
        from aprs2influxdb_spark.queries import (
            q_char_entropy,
            q_pq_adc_topk,
            q_quality_classifier,
        )

        qc = audit(q_quality_classifier(spark, sf_dir))
        assert qc.shuffles == 0
        assert audit(q_char_entropy(spark, sf_dir)).shuffles <= 3
        adc = audit(q_pq_adc_topk(spark, sf_dir))
        assert adc.shuffles <= 5 and adc.broadcasts >= 2
        # winnowing is the other zero-shuffle pure projection; the skew
        # report shuffles 32 pre-combined rows + a 32-row window
        from aprs2influxdb_spark.queries import q_partition_skew, q_winnowing

        assert audit(q_winnowing(spark, sf_dir)).shuffles == 0
        assert audit(q_partition_skew(spark, sf_dir)).shuffles <= 3
        # containment rides the capped-candidate machinery (same budget
        # as the jaccard twins); seasonal anomaly is one cell-key window
        from aprs2influxdb_spark.queries import (
            q_ngram_containment,
            q_seasonal_anomaly,
        )

        assert audit(q_ngram_containment(spark, sf_dir)).shuffles <= 7
        assert audit(q_seasonal_anomaly(spark, sf_dir)).shuffles <= 1
        # CMS builds from the per-key count table (one keyed shuffle),
        # then a 4096-cell aggregate + top-n window + probe join
        from aprs2influxdb_spark.queries import q_cms_heavy_hitters

        assert audit(q_cms_heavy_hitters(spark, sf_dir)).shuffles <= 6
        # IVFPQ: centroids + LUT broadcast; corpus moves through the
        # one-time IVF assignment and PQ code builds, candidates
        # partial-aggregate before the (query, neighbor) shuffle
        from aprs2influxdb_spark.queries import q_ivfpq_topk

        ivfpq = audit(q_ivfpq_topk(spark, sf_dir))
        assert ivfpq.shuffles <= 8 and ivfpq.broadcasts >= 3
        # join-size estimate: two per-key aggs + two 4096-cell aggs +
        # the sketch inner product and exact join — all sketch-sized
        from aprs2influxdb_spark.queries import q_cms_join_estimate

        assert audit(q_cms_join_estimate(spark, sf_dir)).shuffles <= 8
        # PSI: broadcast 1-row ref stats + a 10-band partial agg + the
        # free 10-row total window
        from aprs2influxdb_spark.queries import q_psi_drift

        assert audit(q_psi_drift(spark, sf_dir)).shuffles <= 3
        # bloom: eval bitset densified to ONE 2048-slot array row,
        # cross-broadcast to the training side; every per-hash probe
        # is a row-local element_at bit test, so the only probe-side
        # exchange left is the per-doc aggregate
        from aprs2influxdb_spark.queries import q_bloom_decontaminate

        bd = audit(q_bloom_decontaminate(spark, sf_dir))
        assert bd.shuffles <= 8 and bd.broadcasts >= 2
        # triangle census: kNN edge build + canonical distinct + two
        # id-keyed joins + degree agg — no corpus-sized stage
        from aprs2influxdb_spark.queries import q_knn_triangles

        assert audit(q_knn_triangles(spark, sf_dir)).shuffles <= 9
        # RRF: fusion operates on two already-top-k (broadcast-sized)
        # rankings; the budget is the two retrievers' own
        from aprs2influxdb_spark.queries import q_rrf_fusion

        assert audit(q_rrf_fusion(spark, sf_dir)).shuffles <= 12
        # bigram LM = unigram plan + one window; top_ngrams is one
        # partial-agg + global top-k; budget cut is one global window
        from aprs2influxdb_spark.queries import (
            q_bigram_logprob,
            q_token_budget_cut,
            q_top_ngrams,
        )

        assert audit(q_bigram_logprob(spark, sf_dir)).shuffles <= 5
        assert audit(q_top_ngrams(spark, sf_dir)).shuffles <= 2
        # r9 bucketed running-sum rewrite: span agg + bucket dim +
        # keyed window replace the one-task global sort (measured 6)
        assert audit(q_token_budget_cut(spark, sf_dir)).shuffles <= 7
        # chi²: one cell-key partial agg, then O(cells) windows
        from aprs2influxdb_spark.queries import q_chi2_independence

        assert audit(q_chi2_independence(spark, sf_dir)).shuffles <= 4
        # confusion matrix / MI / robust scaler: classifier fused into
        # the scan + cell-key aggs; the scaler adds one group sort and
        # a broadcast join back
        from aprs2influxdb_spark.queries import (
            q_langid_confusion,
            q_mutual_information,
            q_robust_scale_prices,
        )

        assert audit(q_langid_confusion(spark, sf_dir)).shuffles <= 3
        assert audit(q_mutual_information(spark, sf_dir)).shuffles <= 4
        rs = audit(q_robust_scale_prices(spark, sf_dir))
        assert rs.shuffles <= 3 and rs.broadcasts >= 1
        # RFM: one customer agg + three O(customers) ntile windows;
        # transitions: one per-user lead window + tiny cell agg
        from aprs2influxdb_spark.queries import (
            q_customer_rfm,
            q_event_transitions,
            q_revenue_growth,
        )

        assert audit(q_customer_rfm(spark, sf_dir)).shuffles <= 5
        assert audit(q_event_transitions(spark, sf_dir)).shuffles <= 3
        assert audit(q_revenue_growth(spark, sf_dir)).shuffles <= 2
        from aprs2influxdb_spark.queries import (
            q_dedup_rate_by_source,
            q_histogram_equi_depth,
        )

        # r9 bucketed-rank rewrite over price-range buckets (measured 6)
        assert audit(q_histogram_equi_depth(spark, sf_dir)).shuffles <= 7
        assert audit(q_dedup_rate_by_source(spark, sf_dir)).shuffles <= 2

    def test_runtime_bloom_filter_reduces_fact_scan(self, spark, sf_dir):
        """Runtime bloom-filter semi-join reduction: a selective filter
        on one join side injects a bloom filter (`might_contain`) into
        the OTHER side's scan, dropping non-matching fact rows before
        the shuffle.  Spark's default thresholds (10 GB application-
        side scan) only engage at real scale; the test lowers them to
        prove the engine's config surface delivers the optimization
        the 100 TB deployment relies on for selective fact-fact
        joins."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
                "o_orderpriority"
            ).count()
            assert "might_contain" in executed_plan(j).lower()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_aqe_splits_skewed_join_partitions(self, spark, sf_dir):
        """AQE skew-join handling must engage on a pathologically
        skewed join: one hot key holding ~90% of the left side gets
        its sort-merge partition SPLIT at runtime (the `skew=true`
        marker on the SMJ).  Thresholds are lowered to make the toy
        skew visible; at 100 TB the defaults (256 MB / 5x median)
        catch the same shape.  This pins the config path the engine
        relies on for skewed fact-fact joins — salting (operators/
        skew.py) covers aggregations, AQE covers joins."""
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            left = spark.range(0, 200_000).select(
                F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
                F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
            )
            right = spark.range(0, 2_000).select(F.col("id").alias("k"))
            j = left.join(right, "k").groupBy().count()
            j.collect()  # AQE marks skew at RUNTIME — plan must be final
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan, plan[:2000]
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_kmv_bottom_k_is_partial(self, spark, sf_dir):
        """The KMV sketch's rank filter must trigger WindowGroupLimit
        pushdown BELOW the exchange (partial bottom-k per map task), so
        at most k rows per group per input partition cross the wire —
        without it the window sorts every distinct hash per group."""
        from aprs2influxdb_spark.operators.sketches import kmv_distinct

        e = spark.read.parquet(f"{sf_dir}/events.parquet")
        df = kmv_distinct(e, k=64)
        plan = executed_plan(df)
        first_exchange = plan.find("Exchange")
        assert first_exchange != -1
        assert "WindowGroupLimit" in plan[first_exchange:], (
            "no partial (pre-shuffle) WindowGroupLimit in KMV plan"
        )
        assert audit(df).shuffles <= 2  # distinct + window; groupBy reuses
        # the hash-sample quantile sketch rides the same pushdown
        from aprs2influxdb_spark.operators.sketches import sampled_percentiles

        splan = executed_plan(sampled_percentiles(e))
        fx = splan.find("Exchange")
        assert fx != -1 and "WindowGroupLimit" in splan[fx:], (
            "no partial bottom-k in sampled_percentiles plan"
        )

    def test_srp_ivf_params_scale_with_corpus(self, spark, sf_dir):
        """LSH/IVF knobs must grow with the corpus, not freeze at toy
        literals: derived plane/centroid counts strictly increase from
        the sf0.001 corpus (500 vectors) to sf0.1 (2000), and the
        realized distinct SRP bucket count grows with them — n_planes=4
        at 100 TB would mean n²/16 candidate pairs."""
        from aprs2influxdb_spark.operators.similarity import (
            ivf_centroids_for,
            srp_planes_for,
        )
        from aprs2influxdb_spark.queries import q_srp_buckets

        small, large = 500, 2000  # embeddings rows at sf0.001 / sf0.1
        assert srp_planes_for(small, 8) < srp_planes_for(large, 8)
        assert srp_planes_for(small, 32) < srp_planes_for(large, 32)
        assert ivf_centroids_for(small) < ivf_centroids_for(large)
        # monotone + clamped at the extremes
        assert srp_planes_for(1) == 2 and srp_planes_for(10**12) == 16
        assert ivf_centroids_for(1) == 4 and ivf_centroids_for(10**9) == 4096
        buckets_small = q_srp_buckets(spark, sf_dir).select("bucket").distinct().count()
        buckets_large = (
            q_srp_buckets(spark, "/root/testdata/sf0.1")
            .select("bucket").distinct().count()
        )
        assert buckets_small < buckets_large

    def test_topk_broadcasts_queries_not_corpus(self, spark, sf_dir):
        # the corpus is never shuffled for scoring; queries ride broadcast
        plan = executed_plan(q_cosine_topk(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert plan_stats(q_cosine_topk(spark, sf_dir)).cartesian == 0

    def test_audit_rejects_cartesian(self, spark, sf_dir):
        # tiny ranges broadcast into a BNLJ; force the real cartesian
        # operator with the shuffle-replicate hint
        a = spark.range(3).hint("shuffle_replicate_nl")
        b = spark.range(3)
        with pytest.raises(ValueError, match="CartesianProduct"):
            audit(a.crossJoin(b))

    def test_audit_shuffle_budget(self, spark, sf_dir):
        df = q_pricing_summary(spark, sf_dir)
        stats = audit(df, max_shuffles=1)  # one shuffle: the groupBy
        assert stats.shuffles == 1
        with pytest.raises(ValueError, match="shuffles"):
            audit(df, max_shuffles=0)


class TestCountMemo:
    def test_derived_knob_entries_share_one_count_job(
        self, spark, sf_dir, count_jobs, monkeypatch
    ):
        """Composed ANN pipelines must pay at most ONE corpus count for
        knob derivation (round-2 verdict #1): cosine_near_dup,
        knn_graph, semantic_dedup and srp_buckets all scale-derive
        their knobs from the same embeddings corpus — each must look
        up the one shared count entry, the four must run exactly one
        count job between them, and a rebuild runs none."""
        from aprs2influxdb_spark.functions import plancache
        from aprs2influxdb_spark.queries import (
            q_cosine_near_dup,
            q_knn_graph,
            q_semantic_dedup,
            q_srp_buckets,
        )

        lookups = []
        real = plancache.memo

        def memo(spark, key, build):
            if key is not None and key[0] == "count":
                lookups.append(key)
            return real(spark, key, build)

        monkeypatch.setattr(plancache, "memo", memo)
        builders = (q_cosine_near_dup, q_knn_graph, q_semantic_dedup, q_srp_buckets)
        per_builder = []
        for b in builders:
            before = len(lookups)
            b(spark, sf_dir)  # knobs derive at plan-build time
            per_builder.append(len(lookups) - before)
        assert all(per_builder), per_builder
        assert len(set(lookups)) == 1, set(lookups)
        assert len(count_jobs) == 1, count_jobs
        for b in builders:
            b(spark, sf_dir)
        assert len(count_jobs) == 1, count_jobs

    def test_corpus_count_semantics(self, spark, sf_dir, count_jobs):
        """Explicit n short-circuits (no job); a re-read of the same
        table shares its entry; filtered plans don't share entries
        with the unfiltered scan."""
        from aprs2influxdb_spark.functions.plancache import corpus_count

        path = f"{sf_dir}/embeddings.parquet"
        emb = spark.read.parquet(path)
        assert corpus_count(emb, n=42) == 42
        assert count_jobs == []
        full = corpus_count(emb)
        part = corpus_count(emb.filter(F.col("vec_id") < 10))
        assert part == 10 and full > part
        assert corpus_count(spark.read.parquet(path)) == full
        assert len(count_jobs) == 2


class TestPacketTableLayout:
    @pytest.fixture(scope="class")
    def packet_path(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("pk") / "packets")
        write_packets(fixture_packets(spark), path)
        return path

    def test_partition_pruning_by_format(self, spark, packet_path):
        df = read_packets(spark, packet_path).filter(F.col("format") == "wx")
        assert "PartitionFilters: [isnotnull(format" in executed_plan(df)
        assert df.count() == 1  # only the wx partition was read

    def test_partition_pruning_by_date(self, spark, packet_path):
        df = read_packets(spark, packet_path).filter(
            F.col("ingest_date") == "2024-01-01"
        )
        assert "PartitionFilters: [isnotnull(ingest_date" in executed_plan(df)

    def test_roundtrip_preserves_rows(self, spark, packet_path):
        assert read_packets(spark, packet_path).count() == 15

    def test_compaction_collapses_small_files(self, spark, packet_path, tmp_path):
        """Compacting the (tiny) fixture table must produce exactly one
        file per (date, format) directory, preserve every row, and keep
        the partition layout prunable."""
        import glob
        import os

        from aprs2influxdb_spark.storage import compact_packets

        out = str(tmp_path / "compacted")
        compact_packets(spark, packet_path, out)
        per_dir: dict[str, int] = {}
        for f in glob.glob(f"{out}/ingest_date=*/format=*/*.parquet"):
            per_dir[os.path.dirname(f)] = per_dir.get(os.path.dirname(f), 0) + 1
        assert per_dir and all(n == 1 for n in per_dir.values()), per_dir
        before = read_packets(spark, packet_path)
        after = read_packets(spark, out)
        assert after.count() == before.count()
        assert sorted(after.columns) == sorted(before.columns)
        df = after.filter(F.col("format") == "wx")
        assert "PartitionFilters: [isnotnull(format" in executed_plan(df)


REGISTRY_SHUFFLE_BUDGETS = {
    # max "Exchange" count per registry entry at the test SF, measured
    # plan count + 2 headroom (broadcasts degrading to shuffles at
    # larger SFs).  Every non-exempt registry entry MUST appear here:
    # test_every_entry_budgeted_or_exempt fails when a new entry lands
    # without a budget — the mechanical plan-discipline gate the
    # round-2 verdict asked to complete (item 3).
    "alert_transitions": 3,
    "anti_join": 2,
    "approx_distinct": 4,
    "asof_calibration": 3,
    "asof_join_orders": 4,
    "autocorr_series": 4,
    "big_orders": 3,
    "bigram_logprob": 6,
    "blocklist_filter": 2,
    "bloom_decontaminate": 6,
    "bm25_topk": 10,
    "boilerplate_chunks": 5,
    "bootstrap_ci": 5,
    "bracket_revenue": 3,
    "bucket_first_last": 3,
    "bucket_percentiles": 3,
    "centroid_assign": 3,
    "silhouette_centroid": 5,  # measured 3 + 2 headroom
    "char_entropy": 4,
    "chi2_independence": 4,
    "chunk_documents": 2,
    "cluster_keep_best": 3,
    "cms_heavy_hitters": 4,
    "cms_join_estimate": 7,
    "cohort_retention": 5,
    "corr_stats": 3,
    "cosine_near_dup": 2,
    "cosine_topk": 3,
    "cube_events": 3,
    "cumulative_users": 5,
    "conversion_latency": 4,
    "cross_source_dup_matrix": 6,
    "curate_corpus": 6,
    "customer_distribution": 4,
    "customer_rfm": 5,  # r9 three checkpointed quintile chains; returned plan is checkpoint scans (measured 0)
    "decontaminate": 4,
    "dedup_exact": 3,
    "dedup_fingerprint": 3,
    "dedup_rate_by_source": 4,
    "dispatch_counts": 3,
    "dsir_resample": 7,
    "dsir_weights": 7,
    "distinct_daily_users": 4,
    "dup_ngram_coverage": 4,
    "edit_distance_pairs": 7,
    "embedding_drift_psi": 5,
    "embedding_norms": 3,
    "eqn_compaction": 3,
    "escape_text": 2,
    "event_transitions": 5,
    "ewma_smooth": 3,
    "excess_shippers": 7,
    "feature_hash_vectors": 4,
    "fh_doc_topk": 7,
    "forecast_revenue": 3,
    "funnel_conversion": 6,
    "funnel_latency": 4,
    "funnel_3stage": 4,
    "gap_fill": 4,
    "hard_negatives": 3,
    "heaps_law_fit": 6,
    "grouping_sets": 3,
    "hier_rollup": 4,
    "histogram_equi_depth": 7,  # r9 bucketed global rank over price-range buckets (measured 6)
    "histogram_prices": 3,
    "holt_linear": 3,
    "holt_winters": 3,
    "idle_rich_customers": 4,
    "importance_sample": 2,
    "incremental_dedup": 3,
    "influx_derivative": 3,
    "influx_difference": 3,
    "influx_cumulative": 3,
    "influx_integral": 3,
    "doremi_weights": 5,  # measured 3 + 2 headroom
    "ivf_kmeans_topk": 3,
    "ivf_topk": 2,
    "ivfpq_topk": 5,
    "json_extract": 2,
    "kmv_set_overlap": 5,
    "knn_graph": 1,
    "knn_triangles": 10,
    "known_types_filter": 2,
    "ks_drift": 4,
    "label_centroids": 3,
    "lag_delta": 3,
    "lang_balance_sample": 5,
    "lang_id": 2,
    "last_touch_attribution": 4,
    "langid_confusion": 4,
    "late_ship_priority": 3,
    "line_protocol": 2,
    "lsh_bucketed_topk": 3,
    "lsh_multiprobe_topk": 3,
    "lttb_downsample": 3,
    "mad_outliers": 6,
    "market_share": 5,
    "merge_upsert": 3,
    "min_cost_supplier": 3,
    "minhash_est_error": 5,
    "bbit_minhash": 5,
    "cdc_chunk_dedup": 4,
    "pca_top_component": 0,
    "pca_scores": 0,
    "dup_threshold_curve": 6,
    "sax_symbols": 3,
    "sax_motif_counts": 4,
    "hll_merge": 7,
    "time_weighted_avg": 2,
    "ndcg_bm25": 10,
    "source_token_kl": 1,
    "benford_deviation": 3,
    "interp_bigram_logprob": 5,
    "geo_cell_pairs": 3,
    "cooccurrence_pmi": 6,  # measured 4 + 2 headroom (hints removed r5)
    "windowed_pmi": 5,  # r6 in-row pair gen (no doc_id self-join); measured 4 + spread_for_compute's conditional round-robin
    "ewma_segmented": 5,  # r6 linear hot-key path: measured 2 (AQE broadcast) + scale headroom
    "incremental_contamination": 11,  # r6 probe-based rescreen: measured 9 + 2 headroom
    "gopher_repetition": 4,  # r6: measured 2 (bigram mode aggs) + spread round-robin headroom
    "pii_redact": 1,  # r6: measured 0 (pure per-row regex) + headroom
    "holt_linear_segmented": 5,  # r6 linear hot-key Holt: measured 2 (AQE broadcast) + scale headroom
    "holt_winters_segmented": 5,  # r7 seasonal hot-key HW: same 4-phase shape as the linear sibling
    "multimodal_audio_adpcm": 2,  # r6 IMA ADPCM: one mapInPandas pass, no shuffle needed
    "multimodal_mp4_meta": 2,  # r6 ISO BMFF parse: one mapInPandas pass
    "multimodal_frames_mp4": 2,  # r6 parsed-duration frame fan-out: one mapInPandas pass
    "weighted_percentiles": 8,
    "temporal_split": 1,
    "label_prop_knn": 2,
    "hll_sketch": 5,
    "minhash_lsh_pairs": 5,
    "minhash_signatures": 2,
    "multimodal_features": 2,
    "multimodal_png_decode": 2,
    "multimodal_jpeg_decode": 2,
    "multimodal_jpeg_color": 2,
    "multimodal_jpeg_progressive": 2,  # r7 SOF2: one mapInPandas pass, blobs never shuffle
    "multimodal_frames_mjpeg": 2,  # r7 MJPEG-in-MP4: one mapInPandas pass
    "multimodal_av_mux": 2,  # r7 two-track interleaved A/V: one mapInPandas pass
    "warc_ingest": 2,  # r7 WARC/gzip shard map: one mapInPandas pass
    "html_extract": 2,  # r7 HTML->text per-page map: one mapInPandas pass
    "warc_binary_files": 2,  # r8 binaryFile-source shard parse: no shuffle
    "pdf_extract": 2,  # r8 PDF text extraction: one mapInPandas pass
    "crawl_to_corpus": 6,  # r8 bytes->corpus: ingest map + curate tail (same as curate_corpus)
    "url_normalize": 2,  # r8 zero-UDF projection: no shuffle
    "domain_stats": 3,  # r8 one ~20-key hash aggregate
    "domain_cap_topk": 3,  # r8 one host-keyed window
    "mixture_sample": 3,  # r8 lang-count dim agg + singleton min window; corpus side never shuffles (broadcast join)
    "stratified_split": 4,  # r9 bucketed rank: (lang,bucket) agg + tiny-dim window + (lang,bucket) rank window (measured 3)
    "doc_upsample_epochs": 1,  # r8 pure narrow explode: no shuffle (measured 0)
    "sequence_pack": 2,  # r8 one shard-key exchange into applyInPandas (measured 1)
    "pack_efficiency": 3,  # r8 sequence_pack + one shard aggregate (measured 2)
    "ridge_quality_model": 2,  # r8 one global aggregate: nine numbers shuffle, never the corpus (measured 1)
    "shard_assignment": 2,  # r8 one shard-key exchange for the in-shard position window (measured 1)
    "model_auc": 4,  # r8 train+score+rank: model agg + score histogram + feature-bounded rank window (measured 3)
    "token_budget_select": 6,  # r8 histogram cutoff rewrite: bin agg + bounded bin window + boundary-bin window (measured 5)
    "bpe_token_budget_select": 6,  # r9 same keep chain over BPE counts; merge-learn runs at build time (measured 5)
    "domain_blocklist_join": 1,  # r9 broadcast left join against the external dim (measured 0)
    "bpe_sequence_pack": 2,  # r9 same one-shard-exchange pack shape as sequence_pack (measured 1)
    "bpe_vocab_token_budget": 6,  # r10 Arrow encoder + quality join on doc_id; keep chain unchanged (measured 5)
    "image_near_dup": 2,  # r10 decode once (checkpoint barrier), band-keyed pair join, distinct (measured 1)
    "incremental_corpus_update": 7,  # r10 diff status join + key-bucketed probe join + hit distinct + verdict join (measured 6; prod probes the persisted bucketed lsh_bands)
    "image_dup_clusters": 2,  # r10 CC supersteps sit behind checkpoint scans like near_dup_clusters (measured 0)
    "multimodal_dup_report": 19,  # r11 five channels composed: digest window + text pair stage (minhash_lsh_pairs' 5) + image/audio/video pair stages + five spine joins (measured 18)
    "video_dup_clusters": 2,  # r11 CC supersteps sit behind checkpoint scans like image_dup_clusters (measured 0)
    "audio_near_dup": 2,  # r10 decode once (checkpoint barrier), band-keyed pair join, distinct (measured 1 — the image_near_dup shape)
    "video_near_dup": 2,  # r11 decode once, band-keyed frame-pair join, then ONE (a_id,b_id) co-partition carries distinct + both alignment aggs (measured 1)
    "bpe_vocab_sequence_pack": 2,  # r10 Arrow encoder feeds the shard exchange directly, no join (measured 1)
    "global_shuffle_order": 4,  # r9 bucketed global rank: bucket agg + tiny-dim window + rank window (measured 3)
    "corpus_diff": 2,  # r9 full-outer digest join; prev side bucketed, only the current side exchanges (measured 1)
    "model_calibration": 6,  # r9 per-score histogram + tiny span/bin aggregates; ridge model built at plan time (measured 5)
    "crawl_dead_letters": 2,  # r8 per-record isolation map: no shuffle
    "dup_pagerank": 4,  # r7 integer PageRank: supersteps sit behind checkpoint scans (measured 2)
    "multimodal_wav_features": 2,
    "multimodal_audio_g711": 2,  # r6 G.711 companding: one mapInPandas pass, no shuffle needed
    "multimodal_frames": 2,
    "multimodal_meta": 2,
    "multimodal_resize": 2,
    "mutual_information": 4,
    "nation_presence": 4,
    "nation_trade": 3,
    "near_dup_clusters": 2,
    "soft_dedup_weights": 5,  # measured 3 + 2 headroom
    # round 12: the lex channel reads the verified pair graph directly
    # (degree >= 1 == cluster size >= 2), so the LSH pair pipeline is
    # now IN-plan (visible shuffles 8 -> 12) while the eager
    # connected-components rounds it replaced (~4 hidden shuffles x
    # N rounds, run as jobs during the builder call) are gone entirely
    "contamination_report": 13,  # measured 12 + 1 headroom
    "deadman_alerts": 5,  # measured 3 + 2 headroom
    "mmr_rerank": 10,  # measured 8 + 2 headroom
    "session_components": 2,
    "bpe_merges": 0,
    "bpe_fertility": 2,
    "ngram_containment": 4,
    "ngram_jaccard": 4,
    "ngram_jaccard_capped": 4,
    "ntile_buckets": 7,  # r9 bucketed-rank rewrite: span agg + bucket agg + tiny-dim windows + rank window (measured 6)
    "pack_sequences": 3,
    "pagerank_knn": 10,
    "paragraph_dedup": 4,
    "order_backlog_curve": 5,
    "pareto_front": 4,
    "partition_skew": 5,
    "path_join": 2,
    "percentiles": 3,
    "perplexity_bands": 8,
    "pii_scrub": 2,
    "pivot_events": 4,
    "pq_adc_topk": 5,
    "pq_quantize": 4,
    "pricing_summary": 3,
    "priority_lines": 3,
    "product_profit": 3,
    "profile_columns": 4,
    "promo_revenue": 3,
    "psi_drift": 5,
    "quality_classifier": 2,
    "quantize_embeddings": 2,
    "range_join": 3,
    "rank_family": 3,
    "region_revenue": 3,
    "repetition_stats": 4,
    "returned_items": 3,
    "revenue_growth": 4,
    "robust_scale_prices": 3,
    "rolling_fingerprint": 2,
    "rollup_revenue": 3,
    "rp_project": 2,
    "rp_rerank_topk": 4,
    "rrf_fusion": 14,
    "salted_event_counts": 4,
    "running_sum": 3,
    "salted_agg": 4,
    "salted_join": 4,
    "sampled_percentiles": 3,
    "scd2_intervals": 3,
    "seasonal_anomaly": 3,
    "semantic_dedup": 2,
    "semi_join": 2,
    "sessionize": 3,
    "setop_except": 3,
    "setop_except_all": 3,
    "setop_intersect": 3,
    "ship_latency": 3,
    "shingle_novelty": 5,
    "simhash": 2,
    "simhash_hamming_pairs": 3,
    "sliding_window_agg": 3,
    "small_qty_revenue": 4,
    "source_mixture": 5,
    "srp_buckets": 2,
    "stratified_sample": 3,
    "supplier_part_counts": 4,
    "telemetry_poly": 2,
    "temperature_mixture": 5,
    "text_quality": 2,
    "tfidf_top_terms": 6,
    "time_bucket_agg": 3,
    "token_budget_cut": 7,  # r9 bucketed running sum over score-range buckets (measured 6)
    "token_counts": 2,
    "top_ngrams": 3,
    "top_orders": 3,
    "top_supplier": 5,
    "top_session_paths": 4,
    "topk_per_group": 3,
    "train_val_split": 2,
    "training_data_prep": 3,
    "ts_dtw_lsh_topk": 4,
    "ts_dtw_multiprobe_topk": 4,
    "ts_dtw_topk": 4,
    "ts_similarity": 7,
    "uniform_sample": 2,
    "unigram_logprob": 7,
    "unpivot_lineitem": 2,
    "user_event_sets": 4,
    "valuable_parts": 5,
    "exact_substring_spans": 3,
    "exact_substring_dedup": 8,  # measured 6 + 2 headroom
    "tokenizer_fertility": 1,
    "vocab_top_terms": 4,
    "waiting_supplier": 4,  # r7 two-level agg: Expand x3 gone, lineitem shuffles once
    "weekday_seasonality": 3,
    "winnowing": 2,
    "winnowing_match_pairs": 5,
    "zipf_fit": 3,
    "zscore_prices": 3,
}

# entries whose returned DataFrame is a memory-sink scan (the bounded
# streaming harness): auditing it would measure the sink, not the
# streaming topology — their plan/state discipline is pinned in
# tests/test_streaming.py instead.
BUDGET_EXEMPT_PREFIXES = ("streaming_",)


class TestRegistrySweep:
    def test_no_cartesian_products_anywhere(self, spark, sf_dir):
        """Every registered query must plan without a CartesianProduct —
        a cartesian that sneaks in is invisible at sf0.01 and a cluster
        incident at 100 TB.  (BroadcastNestedLoopJoin with a broadcast
        query side is fine and intended for the top-k scorers.)"""
        from aprs2influxdb_spark.queries import registry

        offenders = []
        for name, (builder, _sql) in registry().items():
            stats = plan_stats(builder(spark, sf_dir))
            if stats.cartesian:
                offenders.append(name)
        assert not offenders, f"cartesian products in: {offenders}"


    def test_every_entry_budgeted_or_exempt(self, spark, sf_dir):
        """The budget table and the registry must stay in lockstep:
        a new entry without a budget (or a stale budget for a removed
        entry) fails here, so plan discipline cannot silently lapse."""
        from aprs2influxdb_spark.queries import registry

        names = set(registry())
        budgeted = set(REGISTRY_SHUFFLE_BUDGETS)
        exempt = {n for n in names if n.startswith(BUDGET_EXEMPT_PREFIXES)}
        missing = names - budgeted - exempt
        stale = budgeted - names
        assert not missing, f"registry entries without a shuffle budget: {sorted(missing)}"
        assert not stale, f"budgets for entries no longer registered: {sorted(stale)}"
        assert not budgeted & exempt

    def test_registry_shuffle_budgets_hold(self, spark, sf_dir):
        """Every budgeted entry's physical plan stays within its
        exchange budget — the whole-registry generalization of the
        per-round budget tests above."""
        from aprs2influxdb_spark.queries import registry

        over = []
        for name, (builder, _sql) in registry().items():
            if name.startswith(BUDGET_EXEMPT_PREFIXES):
                continue
            got = plan_stats(builder(spark, sf_dir)).shuffles
            if got > REGISTRY_SHUFFLE_BUDGETS[name]:
                over.append((name, got, REGISTRY_SHUFFLE_BUDGETS[name]))
        assert not over, f"entries over shuffle budget (name, got, budget): {over}"

    def test_salted_agg_is_two_phase(self, spark, sf_dir):
        """salted_event_counts must plan the explicit shard stage:
        a (key, salt) aggregate pair feeding a key-only aggregate
        pair — four HashAggregates, with the salt column in the first
        exchange's partitioning."""
        from aprs2influxdb_spark.queries import q_salted_event_counts

        plan = executed_plan(q_salted_event_counts(spark, sf_dir))
        assert plan.count("HashAggregate") == 4, plan[:1500]
        assert "_salt" in plan

    def test_no_vacuous_results_at_driver_sf(self, spark):
        """Every oracle-checked query must produce rows at the driver's
        gate scale (sf0.01 unless overridden) — an empty result makes
        the hash comparison vacuously pass while verifying nothing.
        Pinned to the driver's SF, not the (smaller) test fixture SF,
        because sparse queries are legitimately empty at sf0.001."""
        import os

        from aprs2influxdb_spark.queries import registry

        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_DRIVER", "/root/testdata/sf0.01")
        empty = []
        for name, (builder, sql) in registry().items():
            if sql is None:
                continue
            if builder(spark, sf_dir).limit(1).count() == 0:
                empty.append(name)
        assert not empty, f"vacuous (0-row) queries at {sf_dir}: {empty}"


class TestZOrderLayout:
    def test_zorder_tightens_file_envelopes_on_both_dims(self, spark, sf_dir, tmp_path):
        """Z-order clustering must make point/range predicates on
        EITHER dimension prunable by parquet min/max stats: for a
        two-dim filter, strictly fewer files' (min, max) envelopes
        admit the predicate than under a one-dim linear sort — the
        data-skipping win OPTIMIZE ZORDER exists for, reproduced from
        file footers alone (no reader cooperation)."""
        import glob

        import pyarrow.parquet as papq

        from aprs2influxdb_spark.storage import write_zordered

        # two 6-bit dimensions of comparable cardinality — the layout
        # caller's job (quantize + clamp), per the zorder_key docstring
        ev = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .select(
                (F.col("event_id") % 32).alias("dim_a"),
                ((F.col("event_id") / 32).cast("long") % 32).alias("dim_b"),
            )
        )
        zpath, lpath = str(tmp_path / "z"), str(tmp_path / "linear")
        write_zordered(ev, zpath, "dim_a", "dim_b", n_files=16, bits=5)
        # linear baseline: same file count, sorted by dim_a only
        (
            ev.repartitionByRange(16, "dim_a")
            .sortWithinPartitions("dim_a")
            .write.mode("overwrite").parquet(lpath)
        )

        def files_admitting(path, col, lo, hi):
            n = 0
            for f in glob.glob(f"{path}/*.parquet"):
                md = papq.ParquetFile(f).metadata
                idx = md.schema.names.index(col)
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st.min <= hi and st.max >= lo:
                        n += 1
                        break
            return n

        # secondary-dimension predicate (a quarter of the domain):
        # linear layout can't skip at all — every file spans the full
        # dim_b range; z-order files cover compact cells on BOTH dims
        z_hits = files_admitting(zpath, "dim_b", 0, 7)
        l_hits = files_admitting(lpath, "dim_b", 0, 7)
        assert l_hits >= 12, f"baseline unexpectedly clustered: {l_hits}"
        assert z_hits < l_hits / 2, (z_hits, l_hits)
        # the same quarter-domain predicate on dim_a stays prunable
        assert files_admitting(zpath, "dim_a", 0, 7) <= 8


class TestAnnIndexServing:
    def test_ivf_index_probe_has_no_corpus_exchange(self, spark, sf_dir, tmp_path):
        """Serving from the persisted IVF index must not shuffle the
        corpus: the inverted lists are bucketed on c_id, the probe
        list is broadcast, so the only exchanges in the serve plan
        belong to the per-query rank windows (query-keyed, candidate-
        sized), never a hashpartitioning of the list table.  Also
        value-sanity: serving a corpus vector's own embedding finds
        the vector itself at rank 1."""
        from aprs2influxdb_spark.operators import similarity as sim

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        try:
            sim.persist_ivf_index(emb, "ivf_lists", buckets=8, path=str(tmp_path / "ivf"))
            qv = [
                (int(r["vec_id"]) + 10_000, [float(x) for x in r["embedding"]])
                for r in emb.filter(F.col("vec_id") < 3).collect()
            ]
            served = sim.ivf_topk_from_index(spark, "ivf_lists", qv, k=5)
            plan = executed_plan(served)
            # no exchange may partition on the list table's c_id
            for line in plan.splitlines():
                if "Exchange hashpartitioning(c_id" in line:
                    raise AssertionError(f"corpus-side exchange in serve plan:\n{line}")
            rows = served.collect()
            by_q = {}
            for r in rows:
                by_q.setdefault(r["query_id"], []).append((r["rk"], r["neighbor_id"]))
            for qid, hits in by_q.items():
                top = min(hits)[1]
                assert top == qid - 10_000  # its own vector, cos=1
        finally:
            spark.sql("DROP TABLE IF EXISTS ivf_lists")
            spark.sql("DROP TABLE IF EXISTS ivf_lists_centroids")


class TestRound8Plans:
    def test_crawl_ingest_pipelines_into_gates(self, spark, sf_dir):
        """crawl_to_corpus (r8): the blob scan -> WARC parse -> HTML
        extract ``mapInPandas`` stage must pipeline directly into the
        quality/language gate filters with NO materialization barrier
        — the deepest subtree (below the LAST exchange in the printed
        plan) holds the parquet scan, the Python stage, and the gate
        Filter together.  An exchange between them would mean the
        extracted corpus is shuffled before the gates drop ~20% of
        it."""
        from aprs2influxdb_spark.queries import registry

        df = registry()["crawl_to_corpus"][0](spark, sf_dir)
        plan = executed_plan(df)
        deepest = plan.split("Exchange")[-1]
        assert "MapInPandas" in deepest, plan
        assert "Filter" in deepest, plan
        assert "Scan parquet" in deepest or "FileScan parquet" in deepest, plan

    def test_blob_scans_are_column_pruned(self, spark, sf_dir):
        """Every persisted-blob entry must read ONLY its blob column
        (plus doc_id): parquet stores each blob in its own column
        chunk, so a scan dragging the other four blobs multiplies the
        read bytes ~5x at 100 TB.  ReadSchema is the witness."""
        from aprs2influxdb_spark.queries import registry

        reg = registry()
        for name, col, absent in [
            ("warc_ingest", "warc_gz", ("av_mp4", "mjpeg_mp4", "pdf", "crawl_gz")),
            ("pdf_extract", "pdf", ("av_mp4", "mjpeg_mp4", "warc_gz", "crawl_gz")),
            ("multimodal_frames_mjpeg", "mjpeg_mp4", ("av_mp4", "pdf", "warc_gz", "crawl_gz")),
            ("multimodal_av_mux", "av_mp4", ("mjpeg_mp4", "pdf", "warc_gz", "crawl_gz")),
            ("crawl_to_corpus", "crawl_gz", ("av_mp4", "mjpeg_mp4", "pdf", "warc_gz")),
        ]:
            plan = executed_plan(reg[name][0](spark, sf_dir))
            schemas = [
                line.split("ReadSchema:", 1)[1]
                for line in plan.splitlines()
                if "ReadSchema:" in line
            ]
            blob_scan = [s for s in schemas if col in s]
            assert blob_scan, f"{name}: no scan reads {col}:\n{plan[:1500]}"
            for s in blob_scan:
                for other in absent:
                    assert other not in s, f"{name}: scan drags {other}: {s}"

    def test_warc_binary_files_single_stage(self, spark, sf_dir):
        """The binaryFile-source entry parses whole shard files in
        one Python stage with zero exchanges — one task per file, the
        Common Crawl ingest shape."""
        from aprs2influxdb_spark.queries import registry

        df = registry()["warc_binary_files"][0](spark, sf_dir)
        stats = plan_stats(df)
        assert stats.shuffles == 0, executed_plan(df)
        assert "binaryFile" in executed_plan(df) or "BinaryFile" in executed_plan(df)

    def test_url_entries_stay_native(self, spark, sf_dir):
        """The URL/domain family is zero-UDF by design: no Python
        stage anywhere in the plans (parse_url/regexp/higher-order
        filter are all JVM-side), url_normalize is a pure projection
        with no exchange, and domain_stats aggregates with map-side
        partials."""
        from aprs2influxdb_spark.queries import registry

        reg = registry()
        for name in ("url_normalize", "domain_stats", "domain_cap_topk"):
            plan = executed_plan(reg[name][0](spark, sf_dir))
            for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
                assert marker not in plan, f"{name} has a Python stage:\n{plan[:1200]}"
        assert plan_stats(reg["url_normalize"][0](spark, sf_dir)).shuffles == 0
        agg_plan = executed_plan(reg["domain_stats"][0](spark, sf_dir))
        assert agg_plan.count("HashAggregate") >= 2  # partial + final
