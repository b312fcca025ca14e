"""Round-5 operator properties — the semantic claims the oracle gate
can't express: PMI's long-document robustness (the round-4 plan OOM'd
in-row on 10⁴-distinct-token docs), the GEMM assignment path against
the expression-tree cosine, tokenizer-fertility metric sanity."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


class TestCooccurrencePMI:
    def test_long_document_completes_fast(self, spark):
        """THE robustness claim of the round-5 rewrite: five copies of
        a 10⁴-distinct-token document (every token df=5, so the
        lossless prefilter keeps all of them).  The round-4 plan
        materialized |ts|² ≈ 10⁸ structs inside EACH row before the
        a<b filter — an executor OOM / multi-minute stall; the capped
        self-join plan touches at most cap² pairs per doc and finishes
        in seconds."""
        from aprs2influxdb_spark.queries import (
            PMI_DOC_TOKEN_CAP,
            cooccurrence_pmi,
        )

        long_text = " ".join(f"tk{i:05d}" for i in range(10_000))
        docs = spark.createDataFrame(
            [(i, long_text) for i in range(5)], "doc_id long, text string"
        )
        t0 = time.time()
        out = cooccurrence_pmi(docs).collect()
        elapsed = time.time() - t0
        assert elapsed < 60, f"capped plan took {elapsed:.0f}s"
        # every surviving pair comes from the SAME capped token set in
        # all 5 identical docs, so df_ab = 5 and the pair count is
        # exactly cap·(cap−1)/2
        assert len(out) == PMI_DOC_TOKEN_CAP * (PMI_DOC_TOKEN_CAP - 1) // 2
        assert all(r["df_ab"] == 5 for r in out)

    def test_row_width_is_capped(self, spark):
        """Row-width gate: the pair stage must be a doc_id-keyed JOIN,
        and no operator anywhere in the plan may generate an in-row
        pair array (the round-4 plan's flatten(transform(transform))
        quadratic projection).  The cap itself is pinned functionally
        by test_long_document_completes_fast's exact pair count —
        here we pin the plan SHAPE.  (The window lives below a
        localCheckpoint, so the final plan shows the checkpoint scan,
        not row_number — the join and the absence of flatten are the
        observable facts.)"""
        from aprs2influxdb_spark.plans.audit import executed_plan
        from aprs2influxdb_spark.queries import cooccurrence_pmi

        docs = spark.createDataFrame(
            [(0, "a b c"), (1, "a b c")], "doc_id long, text string"
        )
        plan = executed_plan(cooccurrence_pmi(docs))
        assert "flatten" not in plan and "transform" not in plan
        assert "Join [doc_id" in plan or "Join doc_id" in plan or (
            "doc_id" in plan and "Join" in plan
        )

    def test_prefilter_is_lossless_below_cap(self, spark):
        """On docs whose surviving-token count stays under the cap the
        rewrite must emit EXACTLY the uncapped round-4 result: pairs
        of df≥5 tokens co-occurring in ≥5 docs, PMI over uncapped
        dfs.  Hand-computable fixture: tokens x,y in 5 docs (df=5),
        z in only 4 (df=4 — prefiltered; the pair (x,z) would have
        df_ab=4 anyway)."""
        import math

        from aprs2influxdb_spark.queries import cooccurrence_pmi

        rows = [(i, "x y z" if i < 4 else "x y") for i in range(5)]
        rows += [(9, "w")]  # 6th doc, unrelated token
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = cooccurrence_pmi(docs).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["a"], r["b"], r["df_ab"]) == ("x", "y", 5)
        expected = math.floor(math.log(6 * 5 / (5 * 5)) * 1e6 + 0.5)
        assert r["pmi_micro"] == expected


class TestIvfAssignmentGemm:
    def test_gemm_matches_expression_cosine(self, spark, sf_dir):
        """The Arrow-batched numpy assignment must pick the SAME
        centroid as an independently-computed expression-tree argmax
        over the rounded cosine (the round-4 plan, rebuilt inline):
        the summation-order epsilon between numpy GEMM and the JVM
        fold must vanish under rhu(·, 8) on this corpus."""
        from pyspark.sql import Window

        from aprs2influxdb_spark.functions.rounding import rhu
        from aprs2influxdb_spark.operators.similarity import (
            cosine,
            ivf_assignments,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cent, assign = ivf_assignments(emb, n_centroids=8)
        scored = (
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
            .crossJoin(F.broadcast(cent))
            .withColumn("cos_c", rhu(cosine(F.col("v"), F.col("cv")), 8))
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cos_c").desc(), F.col("c_id").asc()
        )
        ref = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", F.col("c_id").alias("ref_c_id"))
        )
        diff = (
            assign.join(ref, "vec_id")
            .filter(F.col("c_id") != F.col("ref_c_id"))
            .count()
        )
        assert diff == 0

    def test_assignment_plan_has_no_shuffle(self, spark, sf_dir):
        """The assignment stage itself must be shuffle-free: the
        argmax happens inside each Arrow batch, so the plan is scan →
        mapInPandas with no exchange and no window."""
        from aprs2influxdb_spark.operators.similarity import ivf_assignments
        from aprs2influxdb_spark.plans.audit import plan_stats

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        _cent, assign = ivf_assignments(emb, n_centroids=8)
        assert plan_stats(assign).shuffles == 0


class TestExactSubstringSpans:
    def test_known_shared_run(self, spark):
        """Two docs share an identical 24-token run at different
        offsets; nothing else repeats.  Expect exactly one span per
        doc, starting where the run starts, len == 24 (the island of
        24−16+1 = 9 covered anchor positions extends to pos+15)."""
        from aprs2influxdb_spark.operators.dedup import (
            EXACT_SUBSTR_K,
            exact_substring_spans,
        )

        run = " ".join(f"dup{i:03d}" for i in range(24))
        a = " ".join(f"a{i:03d}" for i in range(10)) + " " + run
        b = run + " " + " ".join(f"b{i:03d}" for i in range(30))
        docs = spark.createDataFrame(
            [(0, a), (1, b)], "doc_id long, text string"
        )
        spans = {r["doc_id"]: r for r in exact_substring_spans(docs).collect()}
        assert len(spans) == 2
        assert (spans[0]["start"], spans[0]["len"]) == (11, 24)
        assert (spans[1]["start"], spans[1]["len"]) == (1, 24)
        assert EXACT_SUBSTR_K == 16  # fixture arithmetic assumes it

    def test_self_repetition_counts(self, spark):
        """A single doc repeating its own 16-token block twice is a
        corpus-wide repeat (Lee et al. count intra-doc repeats): both
        occurrences are emitted."""
        from aprs2influxdb_spark.operators.dedup import exact_substring_spans

        block = " ".join(f"r{i:02d}" for i in range(16))
        text = block + " xfiller1 xfiller2 " + block
        docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
        spans = sorted(
            (r["start"], r["len"]) for r in exact_substring_spans(docs).collect()
        )
        assert spans == [(1, 16), (19, 16)]

    def test_short_and_unique_docs_emit_nothing(self, spark):
        """Docs shorter than k tokens, and docs with no repeated
        window, produce no spans (and no crash from the empty
        position sequence)."""
        from aprs2influxdb_spark.operators.dedup import exact_substring_spans

        docs = spark.createDataFrame(
            [(0, "tiny doc"), (1, " ".join(f"u{i:03d}" for i in range(40)))],
            "doc_id long, text string",
        )
        assert exact_substring_spans(docs).count() == 0


class TestProtobufCompat:
    """Loud-failure gate for the transformWithState dependency chain
    (round-4 verdict item 8): if an image change removes the bundled
    protobuf runtime, these fail in CI instead of the registry
    silently downgrading to the applyInPandasWithState twins."""

    def test_probe_resolved_in_this_container(self):
        from aprs2influxdb_spark.compat import ensure_protobuf

        assert ensure_protobuf(), (
            "no google.protobuf runtime resolved — transformWithState "
            "entries will silently drop out of the registry; install "
            "protobuf or set SPARK_GRAFT_PROTOBUF_PATH"
        )
        from google.protobuf import descriptor  # noqa: F401

    def test_resolved_path_is_worker_visible(self):
        """Whichever path satisfied the probe must be on PYTHONPATH so
        JVM-forked workers inherit it (a driver-only import would pass
        the probe yet crash every worker at query start)."""
        import importlib.util
        import os

        spec = importlib.util.find_spec("google.protobuf")
        assert spec is not None
        origin_dir = os.path.dirname(os.path.dirname(os.path.dirname(spec.origin)))
        worker_paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
        import sysconfig

        site_like = origin_dir.startswith(sysconfig.get_paths()["purelib"][: len(origin_dir)]) or (
            "site-packages" in origin_dir or "dist-packages" in origin_dir
        )
        assert site_like or origin_dir in worker_paths, (
            f"protobuf resolved from {origin_dir}, which workers won't "
            f"inherit (PYTHONPATH={worker_paths})"
        )

    def test_tws_entries_registered(self):
        from aprs2influxdb_spark.queries import registry

        names = set(registry())
        assert "streaming_asof_tws" in names
        assert "streaming_ttl_calibration" in names


class TestStreamingTtlEviction:
    def test_key_driven_past_ttl_across_microbatches(self, spark, tmp_path):
        """The eviction claim end-to-end: an 'error' calibration in
        micro-batch 1 applies to a fresh row (×2.0), a batch-2 row 20 h
        later is past the 12 h TTL (identity, was_expired=True), and
        the batch-3 sentinel pushes the watermark past the armed timer
        so handleExpiredTimer actually EVICTS the key's state —
        observable as removed state rows in the query progress."""
        import os

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from aprs2influxdb_spark.streaming.bounded import (
            TTL_OUTPUT,
            _TtlCalibProcessor,
            tws_available,
        )

        if not tws_available():
            pytest.skip("google.protobuf unavailable — transformWithState gated")

        t0 = pd.Timestamp("2024-01-01 00:00:00")

        def write(name, rows, mtime):
            pdf = pd.DataFrame(
                rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
            path = str(tmp_path / name)
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False), path
            )
            os.utime(path, (mtime, mtime))
            return path

        write("a1.parquet", [
            (1, t0, 1, "error", 2.0, "{}"),
            (2, t0 + pd.Timedelta(hours=1), 1, "click", 10.0, "{}"),
        ], 1_700_000_000)
        write("b2.parquet", [
            (3, t0 + pd.Timedelta(hours=20), 1, "click", 10.0, "{}"),
        ], 1_700_000_100)
        write("z3.parquet", [
            (4, t0 + pd.Timedelta(hours=40), 9, "__watermark_sentinel__", 0.0, "{}"),
        ], 1_700_000_200)

        schema = (
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(tmp_path))
                .withWatermark("ts", "1 hour")
                .groupBy("user_id")
                .transformWithStateInPandas(
                    _TtlCalibProcessor(), TTL_OUTPUT, "Append", "EventTime"
                )
            )
            q = (
                stream.writeStream.format("memory")
                .queryName("ttl_evict_test")
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .start()
            )
            q.awaitTermination()
            rows = {
                r["event_id"]: r
                for r in spark.table("ttl_evict_test").collect()
            }
            assert rows[2]["calibrated"] == 20.0 and not rows[2]["was_expired"]
            assert rows[3]["calibrated"] == 10.0 and rows[3]["was_expired"]
            removed = sum(
                op.get("numRowsRemoved", 0)
                for p in q.recentProgress
                for op in p.get("stateOperators", [])
            )
            assert removed >= 1, (
                f"timer never evicted state (numRowsRemoved={removed}); "
                f"progress={[p.get('stateOperators') for p in q.recentProgress]}"
            )
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    def test_was_expired_survives_eviction(self, spark, tmp_path):
        """Round-6 regression (ADVICE r5): a data row arriving AFTER
        the eviction timer has fired must still report
        was_expired=True — the tombstone (evicted calib_ts) carries
        the was-ever-calibrated fact across eviction.  Feed order:
        batch 1 calibrates (error ×2.0, click ×2 applies), batch 2 is
        a sentinel that pushes the watermark past calib_ts+TTL (timer
        fires, calib row EVICTED), batch 3 delivers a late-but-valid
        click 35 h after the calibration — pre-fix it saw empty state
        and emitted was_expired=False; the batch oracle (full
        history) says True."""
        import os

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from aprs2influxdb_spark.streaming.bounded import (
            TTL_OUTPUT,
            _TtlCalibProcessor,
            tws_available,
        )

        if not tws_available():
            pytest.skip("google.protobuf unavailable — transformWithState gated")

        t0 = pd.Timestamp("2024-01-01 00:00:00")

        def write(name, rows, mtime):
            pdf = pd.DataFrame(
                rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
            path = str(tmp_path / name)
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
            os.utime(path, (mtime, mtime))
            return path

        write("a1.parquet", [
            (1, t0, 1, "error", 2.0, "{}"),
            (2, t0 + pd.Timedelta(hours=1), 1, "click", 10.0, "{}"),
        ], 1_700_000_000)
        # sentinel-only batch: watermark → t0+29h > calib_ts+12h ⇒ evict
        write("b2.parquet", [
            (8, t0 + pd.Timedelta(hours=30), 9, "__watermark_sentinel__", 0.0, "{}"),
        ], 1_700_000_100)
        # post-eviction data batch — the advisor's divergence case
        write("c3.parquet", [
            (3, t0 + pd.Timedelta(hours=35), 1, "click", 10.0, "{}"),
        ], 1_700_000_200)
        write("z4.parquet", [
            (9, t0 + pd.Timedelta(hours=60), 9, "__watermark_sentinel__", 0.0, "{}"),
        ], 1_700_000_300)

        schema = (
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(tmp_path))
                .withWatermark("ts", "1 hour")
                .groupBy("user_id")
                .transformWithStateInPandas(
                    _TtlCalibProcessor(), TTL_OUTPUT, "Append", "EventTime"
                )
            )
            q = (
                stream.writeStream.format("memory")
                .queryName("ttl_tombstone_test")
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .start()
            )
            q.awaitTermination()
            rows = {
                r["event_id"]: r
                for r in spark.table("ttl_tombstone_test").collect()
            }
            assert rows[2]["calibrated"] == 20.0 and not rows[2]["was_expired"]
            # the load-bearing assertion: eviction happened between the
            # calibration and this row, yet history says expired
            assert rows[3]["calibrated"] == 10.0 and rows[3]["was_expired"]
            removed = sum(
                op.get("numRowsRemoved", 0)
                for p in q.recentProgress
                for op in p.get("stateOperators", [])
            )
            assert removed >= 1, (
                f"timer never evicted state (numRowsRemoved={removed})"
            )
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


class TestTokenizerFertility:
    def test_hand_computed_fixture(self, spark):
        """Metric sanity on a hand-computable corpus: 'aa bb' is 2
        words, 2 BPE tokens, 5 bytes; \"don't go\" is 2 words but 4
        BPE tokens (don / ' / t / go), 8 bytes."""
        from aprs2influxdb_spark.operators.textanalysis import tokenizer_fertility

        docs = spark.createDataFrame(
            [(0, "en", "aa bb"), (1, "fr", "don't go")],
            "doc_id long, lang string, text string",
        )
        rows = {r["lang"]: r for r in tokenizer_fertility(docs).collect()}
        en, fr = rows["en"], rows["fr"]
        assert (en["sum_words"], en["sum_tokens"], en["sum_bytes"]) == (2, 2, 5)
        assert en["fertility"] == 1.0
        assert en["bytes_per_token"] == 2.5
        assert (fr["sum_words"], fr["sum_tokens"], fr["sum_bytes"]) == (2, 4, 8)
        assert fr["fertility"] == 2.0
        assert fr["bytes_per_token"] == 2.0

    def test_corpus_invariants(self, spark, sf_dir):
        """On the real corpus: every language's byte count covers its
        tokens (each token is ≥1 byte plus separators), and fertility
        is ≥1 on space-separated synthetic text (the BPE regex never
        merges across a space)."""
        from aprs2influxdb_spark.operators.textanalysis import tokenizer_fertility

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = tokenizer_fertility(docs).collect()
        assert len(rows) >= 1
        for r in rows:
            assert r["sum_bytes"] >= r["sum_tokens"]
            assert r["fertility"] >= 1.0
            assert r["bytes_per_token"] > 1.0


class TestBPE:
    @staticmethod
    def _ref_learn(texts, k):
        """Pure-Python twin of bpe_learn_merges: identical weighted
        pair counting, identical (count desc, pair asc) tie-break,
        identical bounded-3-pass replace (Python str.replace shares
        the left-to-right non-overlapping semantics of Spark's and
        DuckDB's replace)."""
        from collections import Counter

        wc = Counter()
        for t in texts:
            for w in t.lower().split(" "):
                if w:
                    wc[w] += 1
        cur = {w: "·" + "·".join(w) + "·" for w in wc}
        merges = []
        for rank in range(1, k + 1):
            pc = Counter()
            for w, r in cur.items():
                syms = [s for s in r.split("·") if s]
                for x, y in zip(syms, syms[1:]):
                    pc[(x, y)] += wc[w]
            if not pc:
                break
            (a, b), c = sorted(
                pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[0]
            merges.append((rank, a, b, a + b, c))
            pat, rep = f"·{a}·{b}·", f"·{a}{b}·"
            for _ in range(3):
                cur = {w: r.replace(pat, rep) for w, r in cur.items()}
        return merges, cur, wc

    def test_learn_matches_pure_python_reference(self, spark, sf_dir, fresh_memo):
        """The distributed plan (weighted pair aggregation, argmax
        pull, checkpointed vocab rounds) must reproduce the
        single-process algorithm exactly on the real corpus."""
        from aprs2influxdb_spark.operators.textanalysis import bpe_learn_merges

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        texts = [r["text"] for r in docs.select("text").collect()]
        want, _, _ = self._ref_learn(texts, 6)
        got = bpe_learn_merges(docs, 6)
        assert got == want
        # memoized: the second call must return the cached object
        assert bpe_learn_merges(docs, 6) is got

    def test_fertility_matches_reference(self, spark, sf_dir):
        """Per-lang symbols-per-word after the learned merges, against
        the same pure-Python twin (round-half-up to 6 dp)."""
        import math
        from collections import Counter, defaultdict

        from aprs2influxdb_spark.operators.textanalysis import bpe_fertility

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        rows = docs.select("lang", "text").collect()
        texts = [r["text"] for r in rows]
        merges, _, _ = self._ref_learn(texts, 6)
        lw = defaultdict(Counter)
        for r in rows:
            for w in r["text"].lower().split(" "):
                if w:
                    lw[r["lang"]][w] += 1
        want = {}
        for lang, wcnt in lw.items():
            nsym = nw = 0
            for w, c in wcnt.items():
                r = "·" + "·".join(w) + "·"
                for _rank, a, b, _m, _c in merges:
                    pat, rep = f"·{a}·{b}·", f"·{a}{b}·"
                    for _ in range(3):
                        r = r.replace(pat, rep)
                nsym += len([s for s in r.split("·") if s]) * c
                nw += c
            want[lang] = (nw, math.floor(nsym / nw * 1e6 + 0.5) / 1e6)
        got = {
            r["lang"]: (r["n_words"], r["bpe_per_word"])
            for r in bpe_fertility(docs).collect()
        }
        assert got == want

    def test_delta_strategy_identical_and_scans_less(
        self, spark, sf_dir, fresh_memo
    ):
        """Round-6 (verdict-r5 item 6): the delta-maintained learner
        must produce the IDENTICAL merge list to the
        recount-from-scratch shape on the real corpus (delta upkeep is
        exact, not heuristic), and its measured pair-explosion volume
        — the rows fed through explode+aggregate after the seed scan —
        must be strictly below the recount shape's k full-vocab scans
        (the scan-count audit the verdict asked for)."""
        from aprs2influxdb_spark.operators.textanalysis import (
            _bpe_merge_expr,
            _bpe_pair_counts,
            _bpe_word_counts,
            _BPE_SEP,
            bpe_learn_merges,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        recount = bpe_learn_merges(docs, 6, strategy="recount")
        delta = bpe_learn_merges(docs, 6, strategy="delta")
        assert delta == recount and len(delta) == 6

        # scan audit: replay both shapes' explode inputs and count rows
        wc = _bpe_word_counts(docs, "text").localCheckpoint(eager=True)
        full_vocab = wc.count()
        recount_rows = delta_rows = 0
        cur = wc
        for _rank, a, b, _m, _c in recount:
            recount_rows += cur.count()  # full vocab re-paired each round
            pat = _BPE_SEP + a + _BPE_SEP + b + _BPE_SEP
            affected = cur.filter(F.col("repr").contains(pat))
            # delta shape pairs only the affected words, before + after
            delta_rows += 2 * affected.count()
            cur = cur.select(
                _bpe_merge_expr(F.col("repr"), a, b).alias("repr"), "cnt"
            ).localCheckpoint(eager=True)
        delta_rows += full_vocab  # the one seed scan
        assert delta_rows < recount_rows, (
            f"delta shape scanned {delta_rows} pair-explosion rows vs "
            f"recount's {recount_rows} — no reduction"
        )

    def test_bounded_replace_equals_canonical_on_alternating_runs(self, spark):
        """On runs of a non-self-adjacent pair ('xyxyxy'), the bounded
        3-pass replace reaches the canonical greedy-left segmentation
        — the agreement region the docstring claims."""
        from aprs2influxdb_spark.operators.textanalysis import bpe_learn_merges

        docs = spark.createDataFrame(
            [(1, "xyxyxy xyxy xy")], "doc_id long, text string"
        )
        merges = bpe_learn_merges(docs, 2)
        # (x,y) dominates: 3+2+1 weighted occurrences
        assert merges[0][1:] == ("x", "y", "xy", 6)
        # after merging, 'xy' runs pair as (xy,xy): 2+1 occurrences
        assert merges[1][1:] == ("xy", "xy", "xyxy", 3)


class TestOrderedAsof:
    def test_ordered_matches_global_order_arrival_diverges(self, spark, sf_dir):
        """The entry's whole claim, pinned non-vacuously: over the
        SCRAMBLED fixture (arrival order ≠ event-time order), the
        watermark-gated replay processor reproduces the global-order
        batch window EXACTLY, while the arrival-order processor (the
        reference's semantics) provably does NOT — i.e. the fixture is
        genuinely adversarial and the buffering does real work."""
        from aprs2influxdb_spark.queries import q_asof_calibration
        from aprs2influxdb_spark.streaming.bounded import (
            ASOF_OUTPUT,
            _AsofProcessor,
            _scrambled_events_stream,
            run_bounded,
            streaming_asof_ordered,
            tws_available,
        )

        if not tws_available():
            pytest.skip("google.protobuf unavailable — transformWithState gated")

        batch = {
            r["event_id"]: r["calibrated"]
            for r in q_asof_calibration(spark, sf_dir).collect()
        }

        ordered = {
            r["event_id"]: r["calibrated"]
            for r in streaming_asof_ordered(spark, sf_dir).collect()
        }
        assert ordered == batch

        # arrival-order application over the SAME scrambled delivery:
        # batch-2 'error' rows with earlier event times arrive after
        # batch-1 data rows already emitted — divergence is structural
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            arrival_df = (
                _scrambled_events_stream(spark, sf_dir, sentinel_hours=3)
                .filter(F.col("event_type") != "__watermark_sentinel__")
                .groupBy("user_id")
                .transformWithStateInPandas(
                    _AsofProcessor(), ASOF_OUTPUT, "Append", "None"
                )
            )
            arrival = {
                r["event_id"]: r["calibrated"]
                for r in run_bounded(
                    spark, arrival_df, "append", "stream_asof_scrambled"
                ).collect()
            }
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev
                )
        assert set(arrival) == set(batch)
        diverged = [k for k in batch if arrival[k] != batch[k]]
        assert diverged, (
            "scrambled fixture failed to separate arrival order from "
            "event-time order — the ordered entry would be vacuous"
        )


class TestBPEDegenerateParity:
    def _both_engines(self, spark, tmp_path, rows):
        """Run Spark bpe_fertility and the DuckDB oracle over the same
        tiny corpus; return both (lang → (n_words, bpe_per_word))."""
        import duckdb

        from aprs2influxdb_spark.operators.textanalysis import bpe_fertility
        from aprs2influxdb_spark.queries import _bpe_fertility_sql

        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        path = str(tmp_path / "documents.parquet")
        docs.coalesce(1).write.mode("overwrite").parquet(path)
        got = {
            r["lang"]: (r["n_words"], r["bpe_per_word"])
            for r in bpe_fertility(spark.read.parquet(path)).collect()
        }
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
        want = {
            lang: (int(nw), float(bpw))
            for lang, nw, bpw in con.execute(_bpe_fertility_sql(6)).fetchall()
        }
        con.close()
        return got, want

    def test_zero_learnable_merges(self, spark, tmp_path):
        """Single-character words: round 1 has no adjacent pair, so
        ZERO merges are learnable.  The oracle's empty-round scalar
        subqueries go NULL; without the COALESCE identity-degrade the
        whole repr chain would NULL-poison and every bpe_per_word
        would come back NULL instead of 1.0."""
        got, want = self._both_engines(
            spark, tmp_path,
            [(1, "en", "a b c"), (2, "de", "a b")],
        )
        assert got == want
        assert got == {"en": (3, 1.0), "de": (2, 1.0)}

    def test_fewer_than_k_learnable_merges(self, spark, tmp_path):
        """Vocabulary that fuses to single symbols after one round
        ('ab' → merge (a,b), then nothing pairs): rounds 2..6 are
        empty on both engines, and the applied-merges chain must
        degrade to identity, not NULL."""
        got, want = self._both_engines(
            spark, tmp_path,
            [(1, "en", "ab ab ab"), (2, "fr", "ab")],
        )
        assert got == want
        assert got == {"en": (3, 1.0), "fr": (1, 1.0)}


class TestJpegErrorContract:
    def _sample(self):
        from aprs2influxdb_spark.functions.jpeg import encode_jpeg_gray

        return encode_jpeg_gray(bytes([x * 3 % 256 for x in range(16 * 8)]), 16, 8)

    def test_truncated_stream_raises_valueerror(self):
        from aprs2influxdb_spark.functions.jpeg import decode_jpeg_gray

        payload = self._sample()
        for cut in (3, 8, len(payload) // 2):
            with pytest.raises(ValueError):
                decode_jpeg_gray(payload[:cut])

    def test_missing_tables_raise_valueerror(self):
        """Stripping the DQT (or DHT) segment makes the scan reference
        an undefined table id — previously a KeyError escaping the
        documented 'JPEG:' ValueError contract."""
        from aprs2influxdb_spark.functions.jpeg import decode_jpeg_gray

        payload = self._sample()

        def strip(marker: int) -> bytes:
            out, pos = bytearray(payload[:2]), 2
            while pos < len(payload):
                if payload[pos] == 0xFF and payload[pos + 1] == 0xDA:
                    out.extend(payload[pos:])
                    break
                ln = int.from_bytes(payload[pos + 2 : pos + 4], "big")
                seg = payload[pos : pos + 2 + ln]
                if payload[pos + 1] != marker:
                    out.extend(seg)
                pos += 2 + ln
            return bytes(out)

        for marker in (0xDB, 0xC4):  # DQT, DHT
            with pytest.raises(ValueError):
                decode_jpeg_gray(strip(marker))

    def test_garbage_after_soi_raises_valueerror(self):
        from aprs2influxdb_spark.functions.jpeg import decode_jpeg_gray

        with pytest.raises(ValueError):
            decode_jpeg_gray(b"\xff\xd8\x00\x01\x02")
        with pytest.raises(ValueError):
            decode_jpeg_gray(b"\xff\xd8\xff")


class TestDoremiWeights:
    def test_weights_normalize_and_rank_hardness(self, spark, sf_dir):
        """Metric sanity on the real corpus: weights form a
        distribution (sum 1 within per-row quantization), every source
        appears once, the max-excess (hardest) source carries the max
        weight, and every at-or-below-reference source sits at the
        shared exp(0) floor — the DoReMi upweighting direction."""
        from aprs2influxdb_spark.queries import q_doremi_weights

        rows = q_doremi_weights(spark, sf_dir).collect()
        srcs = [r["source"] for r in rows]
        assert len(srcs) == len(set(srcs)) > 1
        assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
        hardest = max(rows, key=lambda r: r["excess_micro"])
        assert hardest["weight"] == max(r["weight"] for r in rows)
        floor_w = min(r["weight"] for r in rows)
        for r in rows:
            if r["excess_micro"] == 0:
                assert r["weight"] == floor_w

    def test_uniform_corpus_gives_uniform_weights(self, spark):
        """Identical per-source content ⇒ every source's NLL equals
        the corpus reference ⇒ zero excess everywhere ⇒ exactly
        uniform weights."""
        import aprs2influxdb_spark.queries as Q

        docs = spark.createDataFrame(
            [(i, f"src{i % 4}", "alpha beta gamma", "en") for i in range(8)],
            "doc_id long, source string, text string, lang string",
        )
        orig_t = Q._t
        try:
            Q._t = lambda spark, sf, name: docs
            rows = Q.q_doremi_weights(spark, "unused").collect()
        finally:
            Q._t = orig_t
        assert len(rows) == 4
        assert all(r["excess_micro"] == 0 for r in rows)
        assert len({r["weight"] for r in rows}) == 1
        assert rows[0]["weight"] == 0.25


class TestInfluxCumulative:
    def test_series_invariants(self, spark, sf_dir):
        """Per series: the last cum_sum equals the series sum (to the
        4 dp quantum), spread is the constant max−min, and
        nn_difference is null exactly on first rows and negative
        steps, else the non-negative step."""
        import math

        import pandas as pd

        from aprs2influxdb_spark.queries import q_influx_cumulative

        def rhu4(x: float) -> float:
            return math.floor(x * 10000 + 0.5) / 10000

        got = q_influx_cumulative(spark, sf_dir).toPandas()
        raw = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .select("event_id", "user_id", "ts", "value")
            .toPandas()
        )
        merged = got.merge(raw, on=["event_id", "user_id"])
        assert len(merged) == len(got) == len(raw)
        for _uid, g in merged.groupby("user_id"):
            g = g.sort_values(["ts", "event_id"], kind="stable")
            assert abs(g["cum_sum"].iloc[-1] - rhu4(g["value"].sum())) < 1e-3
            assert g["spread"].nunique() == 1
            assert abs(
                g["spread"].iloc[0] - rhu4(g["value"].max() - g["value"].min())
            ) < 1e-9
            assert pd.isna(g["nn_difference"].iloc[0])
            steps = g["value"].diff().iloc[1:]
            nn = g["nn_difference"].iloc[1:]
            for d, v in zip(steps, nn):
                if d >= 0:
                    assert abs(v - rhu4(d)) < 1e-9
                else:
                    assert pd.isna(v)


class TestSilhouetteCentroid:
    def test_bounds_and_label_coverage(self, spark, sf_dir):
        from aprs2influxdb_spark.queries import q_silhouette_centroid

        rows = q_silhouette_centroid(spark, sf_dir).collect()
        labels = [r["label"] for r in rows]
        assert len(labels) == len(set(labels)) > 1
        for r in rows:
            assert -1.0 <= r["mean_silhouette"] <= 1.0
            assert r["n_vecs"] > 0

    def test_separated_vs_coincident_clusters(self, spark):
        """Two well-separated point clouds score near 1; two clouds
        drawn from the SAME distribution score near 0 — the metric's
        defining behavior, on a hand-built fixture."""
        import aprs2influxdb_spark.queries as Q

        def fixture(offset: float):
            rows = []
            vid = 0
            for label in (0, 1):
                base = label * offset
                for j in range(20):
                    vec = [base + (j % 5) * 0.01] * 64
                    rows.append((vid, label, vec))
                    vid += 1
            return spark.createDataFrame(
                rows, "vec_id long, label long, embedding array<double>"
            )

        orig_t = Q._t
        try:
            Q._t = lambda spark, sf, name: fixture(100.0)
            sep = {r["label"]: r["mean_silhouette"]
                   for r in Q.q_silhouette_centroid(spark, "unused").collect()}
            Q._t = lambda spark, sf, name: fixture(0.0)
            coin = {r["label"]: r["mean_silhouette"]
                    for r in Q.q_silhouette_centroid(spark, "unused").collect()}
        finally:
            Q._t = orig_t
        assert all(v > 0.99 for v in sep.values()), sep
        assert all(abs(v) < 0.01 for v in coin.values()), coin


class TestJpegColor:
    def _flat_rgb(self, d: int) -> tuple[bytes, list]:
        from aprs2influxdb_spark.functions.jpeg import rgb_to_ycbcr, ycbcr_to_rgb

        rgb = bytearray(16 * 16 * 3)
        want = []
        for b in range(4):
            r, g, bl = (d * 37 + b * 59) % 256, (d * 53 + b * 31) % 256, (d * 29 + b * 17) % 256
            want.append(ycbcr_to_rgb(*rgb_to_ycbcr(r, g, bl)))
            by, bx = divmod(b, 2)
            for y in range(8):
                row = ((by * 8 + y) * 16 + bx * 8) * 3
                rgb[row : row + 24] = bytes([r, g, bl] * 8)
        return bytes(rgb), want

    def test_flat_blocks_hit_transform_fixed_point(self):
        """Per-block-constant RGB + unit quant: the DCT stage is
        lossless on the integer YCbCr planes, so decode must land
        EXACTLY on the color transform's fixed point for every
        block — across docs that exercise negative DC diffs and all
        three components' predictors."""
        from aprs2influxdb_spark.functions.jpeg import (
            decode_jpeg_color,
            encode_jpeg_color,
        )

        for d in (0, 1, 135, 188, 254, 9001):
            rgb, want = self._flat_rgb(d)
            w, h, dec = decode_jpeg_color(encode_jpeg_color(rgb, 16, 16))
            assert (w, h) == (16, 16)
            for b, exp in enumerate(want):
                by, bx = divmod(b, 2)
                for y in range(8):
                    for x in range(8):
                        i = (((by * 8 + y) * 16) + bx * 8 + x) * 3
                        assert tuple(dec[i : i + 3]) == exp, (d, b, y, x)

    def test_random_image_roundtrip_tolerance(self):
        """Non-flat blocks exercise the chrominance AC huffman path;
        unit quant bounds the per-channel error to the color-transform
        rounding plus the integer-rounded DCT coefficients."""
        import random

        from aprs2influxdb_spark.functions.jpeg import (
            decode_jpeg_color,
            encode_jpeg_color,
        )

        rnd = random.Random(7)
        rgb = bytes(rnd.randrange(256) for _ in range(16 * 16 * 3))
        w, h, dec = decode_jpeg_color(encode_jpeg_color(rgb, 16, 16))
        assert max(abs(a - b) for a, b in zip(rgb, dec)) <= 4

    def test_component_count_mismatch_raises(self):
        from aprs2influxdb_spark.functions.jpeg import (
            decode_jpeg_color,
            decode_jpeg_gray,
            encode_jpeg_color,
            encode_jpeg_gray,
        )

        gray = encode_jpeg_gray(bytes(range(256))[:256], 16, 16)
        color = encode_jpeg_color(bytes(16 * 16 * 3), 16, 16)
        with pytest.raises(ValueError):
            decode_jpeg_color(gray)
        with pytest.raises(ValueError):
            decode_jpeg_gray(color)

    def test_pillow_interop(self):
        """Where Pillow exists, its decoder must read our color stream
        back to the same pixels (flat blocks, exact)."""
        try:
            import io

            from PIL import Image
        except ImportError:
            pytest.skip("Pillow not installed in this container")
        from aprs2influxdb_spark.functions.jpeg import encode_jpeg_color

        rgb, want = self._flat_rgb(135)
        img = Image.open(io.BytesIO(encode_jpeg_color(rgb, 16, 16)))
        got = img.convert("RGB").tobytes()
        for b, exp in enumerate(want):
            by, bx = divmod(b, 2)
            i = (((by * 8) * 16) + bx * 8) * 3
            # Pillow's IDCT/color path may differ by ±1 per channel
            assert all(abs(got[i + k] - exp[k]) <= 1 for k in range(3))


class TestExactSubstringDedupApply:
    def test_cross_doc_canonical_survives(self, spark):
        """Doc 0 (lower doc_id) holds the canonical occurrence of the
        shared 24-token run; doc 1's copy is cut, leaving only its own
        tokens.  Doc 0 is untouched."""
        from aprs2influxdb_spark.operators.dedup import exact_substring_dedup

        run = " ".join(f"dup{i:03d}" for i in range(24))
        a = " ".join(f"a{i:03d}" for i in range(10)) + " " + run
        b = run + " " + " ".join(f"b{i:03d}" for i in range(30))
        docs = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
        got = {r["doc_id"]: r for r in exact_substring_dedup(docs).collect()}
        assert got[0]["n_removed"] == 0
        assert got[0]["clean_text"] == a.lower()
        assert got[1]["n_removed"] == 24
        assert got[1]["clean_text"] == " ".join(f"b{i:03d}" for i in range(30))

    def test_intra_doc_second_occurrence_cut(self, spark):
        """A doc repeating its own 16-token block keeps the first
        occurrence and loses the second."""
        from aprs2influxdb_spark.operators.dedup import exact_substring_dedup

        block = " ".join(f"r{i:02d}" for i in range(16))
        text = block + " xfiller1 xfiller2 " + block
        docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
        r = exact_substring_dedup(docs).collect()[0]
        assert r["n_removed"] == 16
        assert r["clean_text"] == block + " xfiller1 xfiller2"

    def test_unique_docs_pass_through(self, spark):
        from aprs2influxdb_spark.operators.dedup import exact_substring_dedup

        docs = spark.createDataFrame(
            [(0, "Alpha beta gamma"), (1, "delta epsilon zeta")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in exact_substring_dedup(docs).collect()}
        assert got[0]["n_removed"] == got[1]["n_removed"] == 0
        assert got[0]["clean_text"] == "alpha beta gamma"  # token domain is lowercased


class TestJpegScanOrder:
    def test_permuted_sos_component_order_decodes_correctly(self):
        """T.81 F.1.1.5: MCU interleave follows the SCAN header's
        component order, which may permute SOF order.  Hand-build a
        spec-valid stream whose SOS lists (Cr, Cb, Y) — entropy data
        interleaved to match — and assert the decoder routes each
        block to the right plane (a SOF-order replay would swap Y and
        Cr and return garbage)."""
        import struct

        import numpy as np

        from aprs2influxdb_spark.functions import jpeg as J

        # one 8x8 block per component, flat values
        yv, cbv, crv = 77, 150, 40
        planes = {1: yv, 2: cbv, 3: crv}
        lum = (J._build_codes(J.DC_LUM_BITS, J.DC_LUM_VALS),
               J._build_codes(J.AC_LUM_BITS, J.AC_LUM_VALS))
        chr_ = (J._build_codes(J.DC_CHR_BITS, J.DC_CHR_VALS),
                J._build_codes(J.AC_CHR_BITS, J.AC_CHR_VALS))
        tables = {1: lum, 2: chr_, 3: chr_}
        qarr = np.ones((8, 8))
        bw = J._BitWriter()
        prev = {1: 0, 2: 0, 3: 0}
        scan_order = [3, 2, 1]  # the permutation under test
        for cid in scan_order:
            block = np.full((8, 8), planes[cid], dtype=np.float64)
            dc, ac = tables[cid]
            prev[cid] = J._encode_block(bw, block, qarr, dc, ac, prev[cid])
        bw.flush()
        out = bytearray(b"\xff\xd8")
        zzq = bytes([1] * 64)
        out += J._seg(0xFFDB, b"\x00" + zzq)
        out += J._seg(0xFFDB, b"\x01" + zzq)
        out += J._seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 8, 8, 3) + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]),
        )
        out += J._seg(0xFFC4, J._dht(0x00, J.DC_LUM_BITS, J.DC_LUM_VALS))
        out += J._seg(0xFFC4, J._dht(0x10, J.AC_LUM_BITS, J.AC_LUM_VALS))
        out += J._seg(0xFFC4, J._dht(0x01, J.DC_CHR_BITS, J.DC_CHR_VALS))
        out += J._seg(0xFFC4, J._dht(0x11, J.AC_CHR_BITS, J.AC_CHR_VALS))
        out += J._seg(0xFFDA, bytes([3, 3, 0x11, 2, 0x11, 1, 0x00, 0, 63, 0]))
        out += bw.out
        out += b"\xff\xd9"
        w, h, got = J._decode_baseline_impl(bytes(out))
        assert (w, h) == (8, 8)
        assert got[0][0] == yv and got[1][0] == cbv and got[2][0] == crv
        # and every pixel of each plane
        assert set(got[0]) == {yv} and set(got[1]) == {cbv} and set(got[2]) == {crv}

    def test_scan_referencing_unknown_component_raises(self):
        from aprs2influxdb_spark.functions.jpeg import (
            decode_jpeg_color,
            encode_jpeg_color,
        )

        blob = bytearray(encode_jpeg_color(bytes(8 * 8 * 3), 8, 8))
        i = blob.find(b"\xff\xda")
        assert i > 0
        blob[i + 5] = 9  # first scan component id -> unknown
        with pytest.raises(ValueError):
            decode_jpeg_color(bytes(blob))


class TestSoftDedupWeights:
    def test_cluster_mass_conservation(self, spark, sf_dir):
        """Invariants: every source appears; eff <= raw tokens
        (weights <= 1) and eff > 0 (no cluster can quantize a
        source's mass to nothing)."""
        from aprs2influxdb_spark.queries import q_soft_dedup_weights

        rows = q_soft_dedup_weights(spark, sf_dir).collect()
        assert len(rows) > 1
        for r in rows:
            assert 0 < r["eff_tokens"] <= r["n_tokens"]

    def test_hand_fixture_three_copies(self, spark):
        """A 3-copy cluster contributes EXACTLY one copy's tokens (the
        per-(source, cluster) formulation: floor(120/3·1e6+0.5) = one
        doc's mass, no per-doc micro-weight rounding); singletons keep
        full weight."""
        import aprs2influxdb_spark.queries as Q

        text = " ".join(f"tok{i:02d}" for i in range(40))
        other = " ".join(f"uniq{i:02d}" for i in range(40))
        docs = spark.createDataFrame(
            [(0, "a", text, "en"), (1, "a", text, "en"), (2, "a", text, "en"),
             (3, "b", other, "en")],
            "doc_id long, source string, text string, lang string",
        )
        orig = Q._t
        try:
            Q._t = lambda spark, sf, name: docs
            got = {r["source"]: r for r in Q.q_soft_dedup_weights(spark, "x").collect()}
        finally:
            Q._t = orig
        assert got["a"]["n_docs"] == 3 and got["a"]["n_tokens"] == 120
        assert got["a"]["eff_tokens"] == 40
        assert got["b"]["eff_tokens"] == 40


class TestContaminationReport:
    def test_channels_agree_with_their_sources(self, spark, sf_dir):
        """The report is a faithful join: every doc appears exactly
        once; ngram_hits matches decontaminate; lex_dup matches
        cluster sizes; sem_dup matches semantic_dedup's kept flags;
        flagged is their OR; eval-slice rows carry no training-side
        n-gram hits."""
        from aprs2influxdb_spark.operators import dedup as dd
        from aprs2influxdb_spark.operators import similarity as sim
        from aprs2influxdb_spark.queries import q_contamination_report

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n_docs = docs.count()
        raw = q_contamination_report(spark, sf_dir).collect()
        # raw row count BEFORE dicting: a left-join fanout would
        # otherwise be collapsed by the doc_id keys and pass unseen
        assert len(raw) == n_docs
        rows = {r["doc_id"]: r for r in raw}
        assert len(rows) == n_docs
        dec = {r["doc_id"]: r["n_overlap"] for r in dd.decontaminate(docs).collect()}
        clus = dd.near_dup_clusters(docs).collect()
        from collections import Counter

        csize = Counter(r["cluster_id"] for r in clus)
        lex = {r["doc_id"]: int(csize[r["cluster_id"]] >= 2) for r in clus}
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        sem = {
            r["vec_id"]: int(not r["kept"])
            for r in sim.semantic_dedup(emb, threshold=0.35).collect()
        }
        for d, r in rows.items():
            assert r["ngram_hits"] == dec.get(d, 0)
            assert r["lex_dup"] == lex.get(d, 0)
            assert r["sem_dup"] == sem.get(d, 0)
            assert r["flagged"] == int(
                r["ngram_hits"] > 0 or r["lex_dup"] or r["sem_dup"]
            )
            if r["is_eval"]:
                assert r["ngram_hits"] == 0  # eval rows aren't training rows


class TestDeadmanAlerts:
    def test_hand_fixture_gaps_and_open_trailing(self, spark):
        """User 1: a 3 h mid-series gap (closed alert) then activity up
        to the horizon (no open alert).  User 2: last sample 5 h before
        the horizon (open alert, no closed gap).  User 3: steady — no
        alerts."""
        import pandas as pd

        import aprs2influxdb_spark.queries as Q

        t0 = pd.Timestamp("2024-01-01 00:00:00")

        def row(eid, uid, hours):
            return (eid, (t0 + pd.Timedelta(hours=hours)).to_pydatetime(), uid, "view", 1.0, "{}")

        rows = [
            row(1, 1, 0), row(2, 1, 1), row(3, 1, 4), row(4, 1, 5),  # gap 1→4h
            row(5, 2, 0),                                            # then silence
            row(6, 3, 0), row(7, 3, 1), row(8, 3, 2), row(9, 3, 3),
            row(10, 3, 4), row(11, 3, 5),                            # horizon = 5h
        ]
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        orig = Q._t
        try:
            Q._t = lambda spark, sf, name: ev
            got = Q.q_deadman_alerts(spark, "x").collect()
        finally:
            Q._t = orig
        closed = [(r["user_id"], r["silence_s"]) for r in got if r["open_alert"] == 0]
        opened = [(r["user_id"], r["silence_s"]) for r in got if r["open_alert"] == 1]
        assert closed == [(1, 3 * 3600)]
        assert opened == [(2, 5 * 3600)]
        assert not [r for r in got if r["user_id"] == 3]


class TestMmrRerank:
    def test_redundant_runner_up_demoted(self, spark):
        """The defining MMR behavior: doc 1 is the best match, doc 2 is
        nearly as relevant but embedding-identical to doc 1 (pure
        redundancy), doc 3 is less relevant but orthogonal.  Plain
        BM25 ranks (1, 2, 3); MMR must pick the DIVERSE doc 3 second
        and demote the redundant doc 2."""
        import aprs2influxdb_spark.queries as Q

        docs = spark.createDataFrame(
            [
                (1, "spark join spark join spark join", "a", "en"),
                (2, "spark join spark join spark", "a", "en"),
                (3, "spark join other words here pad", "a", "en"),
            ],
            "doc_id long, text string, source string, lang string",
        )
        e1 = [1.0] * 32 + [0.0] * 32
        e3 = [0.0] * 32 + [1.0] * 32
        emb = spark.createDataFrame(
            [(1, e1, 0), (2, e1, 0), (3, e3, 1)],
            "vec_id long, embedding array<double>, label long",
        )
        orig = Q._t
        try:
            Q._t = lambda spark, sf, name: docs if name == "documents" else emb
            got = sorted(
                (r["mmr_rank"], r["doc_id"])
                for r in Q.q_mmr_rerank(spark, "x").collect()
                if r["query_id"] == "q1"
            )
        finally:
            Q._t = orig
        assert got[0] == (1, 1)
        assert got[1] == (2, 3), f"redundant doc not demoted: {got}"
        assert got[2] == (3, 2)

    def test_rank_count_and_pool_containment(self, spark, sf_dir):
        """Each query returns min(MMR_K, pool) distinct docs, all from
        its own bm25 pool, ranked 1..n without gaps."""
        from aprs2influxdb_spark.operators import textanalysis as ta
        from aprs2influxdb_spark.queries import MMR_K, MMR_POOL, q_mmr_rerank

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pool = {
            (r["query_id"], r["doc_id"])
            for r in ta.bm25_topk(docs, k=MMR_POOL).collect()
        }
        from collections import defaultdict

        got = defaultdict(list)
        for r in q_mmr_rerank(spark, sf_dir).collect():
            got[r["query_id"]].append((r["mmr_rank"], r["doc_id"]))
            assert (r["query_id"], r["doc_id"]) in pool
        for q, picks in got.items():
            ranks = sorted(rk for rk, _ in picks)
            assert ranks == list(range(1, len(picks) + 1))
            assert len({d for _, d in picks}) == len(picks)
            assert len(picks) <= MMR_K


class TestHoltWinters:
    def test_matches_pure_python_replica(self, spark):
        """The distributed struct-array fold must reproduce an
        independent single-process implementation of the identical
        recursion exactly (to the 6 dp rounding) — the BPE-style
        replica pin."""
        import math

        import pandas as pd

        import aprs2influxdb_spark.queries as Q
        from aprs2influxdb_spark.queries import (
            HW_ALPHA, HW_BETA, HW_GAMMA, HW_SEASON,
        )

        t0 = pd.Timestamp("2024-01-01")
        vals = [50 + 20 * math.sin(2 * math.pi * (i % 24) / 24) + i * 0.1
                for i in range(60)]
        rows = [
            (i, (t0 + pd.Timedelta(hours=i)).to_pydatetime(), 7, "view", v, "{}")
            for i, v in enumerate(vals)
        ]
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        orig = Q._t
        try:
            Q._t = lambda spark, sf, name: ev
            got = Q.q_holt_winters(spark, "x").collect()[0]
        finally:
            Q._t = orig
        # replica
        l, b = vals[0], 0.0
        s = [0.0] * HW_SEASON
        for t in range(2, len(vals) + 1):
            x = vals[t - 1]
            idx = (t - 1) % HW_SEASON
            sv = s[idx]
            l_new = HW_ALPHA * (x - sv) + (1 - HW_ALPHA) * (l + b)
            b = HW_BETA * (l_new - l) + (1 - HW_BETA) * b
            s[idx] = HW_GAMMA * (x - l_new) + (1 - HW_GAMMA) * sv
            l = l_new
        fc = l + b + s[len(vals) % HW_SEASON]

        def rhu6(x):
            return math.floor(x * 1e6 + 0.5) / 1e6

        assert got["n_samples"] == 60
        assert got["level"] == rhu6(l)
        assert got["trend"] == rhu6(b)
        assert got["forecast_h1"] == rhu6(fc)
        # with a strong 24-period signal the seasonal forecast must
        # beat the trend-only extrapolation at predicting the next
        # true value
        nxt = 50 + 20 * math.sin(2 * math.pi * (60 % 24) / 24) + 60 * 0.1
        assert abs(got["forecast_h1"] - nxt) < abs((l + b) - nxt)


class TestWindowedPmi:
    def test_hand_fixture_window_semantics(self, spark):
        """'a b c a b' with W=4: every ordered position pair within
        distance 4 counts once; pairs below the min-count floor drop.
        Verify the (a,b) count and its exact closed-form PMI against
        hand arithmetic (min_pairs lowered via the module constant on
        a monkeypatched corpus is avoided — the fixture repeats the
        text 5 times so real pairs clear the floor)."""
        import math

        import aprs2influxdb_spark.queries as Q
        from aprs2influxdb_spark.queries import PMI_WINDOW

        assert PMI_WINDOW == 4  # fixture arithmetic assumes it
        docs = spark.createDataFrame(
            [(i, "a b c a b") for i in range(5)], "doc_id long, text string"
        )
        orig = Q._t
        try:
            Q._t = lambda spark, sf, name: docs
            got = {(r["x"], r["y"]): r for r in Q.q_windowed_pmi(spark, "x").collect()}
        finally:
            Q._t = orig
        # per doc, n=5, W=4: positions pairs (i<j, j-i<=4) = 10 total.
        # (a,b) instance pairs per doc: (1,2),(1,5),(4,5),(2,4)->(b,a)
        # unordered = 4; (a,c):(1,3),(3,4)=2; (b,c):(2,3),(3,5)=2;
        # (a,a):(1,4)=1; (b,b):(2,5)=1.
        N_tok, N_pairs = 5 * 5, 5 * 10
        ca, cb = 10, 10
        assert got[("a", "b")]["n_xy"] == 20
        assert got[("a", "c")]["n_xy"] == 10
        assert got[("a", "a")]["n_xy"] == 5
        assert len(got) == 5  # exactly the five pair types, nothing else
        want = math.floor(
            math.log((20 * N_tok * N_tok) / (N_pairs * ca * cb)) * 1e6 + 0.5
        )
        assert got[("a", "b")]["pmi_micro"] == want

    def test_min_pair_floor_drops_rare_pairs(self, spark):
        """The PMI_WIN_MIN_PAIRS floor must actually DROP sub-threshold
        pairs: a (q, r) pair occurring in only 2 docs stays below the
        floor of 5 and must be absent, while the 5-doc (a, b) pair
        survives — pinned here because a symmetric loosening on both
        engines would keep the oracle sweep green."""
        import aprs2influxdb_spark.queries as Q
        from aprs2influxdb_spark.queries import PMI_WIN_MIN_PAIRS

        assert PMI_WIN_MIN_PAIRS == 5
        rows = [(i, "a b") for i in range(5)] + [(10, "q r"), (11, "q r")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        orig = Q._t
        try:
            Q._t = lambda spark, sf, name: docs
            got = {(r["x"], r["y"]) for r in Q.q_windowed_pmi(spark, "x").collect()}
        finally:
            Q._t = orig
        assert got == {("a", "b")}  # (q, r) with n_xy=2 is floored out


class TestMmrReplica:
    def test_greedy_matches_pure_python_replica(self, spark, sf_dir):
        """Independent single-process replica of the MMR selection:
        take the SAME bm25 pool and embeddings, rerun normalization +
        five greedy rounds in plain Python (floor arithmetic, identical
        tie-breaks), and require pick-for-pick equality with the
        distributed in-row expression fold — on all three real
        queries."""
        import math

        from aprs2influxdb_spark.operators import textanalysis as ta
        from aprs2influxdb_spark.queries import (
            MMR_K, MMR_POOL, q_mmr_rerank,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = {
            r["vec_id"]: r["embedding"]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        }
        pool = {}
        for r in ta.bm25_topk(docs, k=MMR_POOL).collect():
            pool.setdefault(r["query_id"], []).append((r["doc_id"], r["bm25"]))

        def fl(x):
            return math.floor(x)

        want = {}
        for q, cands in pool.items():
            mx = max(s for _, s in cands)
            items = []
            for d, s in cands:
                v = [float(x) for x in emb[d]]
                nrm = math.sqrt(sum(x * x for x in v))
                rel = fl(s / mx * 1e6 + 0.5) if mx != 0 else 0
                items.append({"doc": d, "rel": rel, "v": v, "nrm": nrm})
            items.sort(key=lambda it: it["doc"])
            sel, out = [], []
            for rank in range(1, MMR_K + 1):
                if not items:
                    break
                best = None
                for it in items:
                    if not sel:
                        pen = 0
                    else:
                        pen = max(
                            fl(
                                sum(a * b for a, b in zip(it["v"], s["v"]))
                                / (it["nrm"] * s["nrm"]) * 1e6 + 0.5
                            ) if it["nrm"] * s["nrm"] != 0 else 0
                            for s in sel
                        )
                    m = 7 * it["rel"] - 3 * pen
                    if best is None or m > best[0] or (m == best[0] and it["doc"] < best[1]["doc"]):
                        best = (m, it)
                sel.append(best[1])
                out.append((rank, best[1]["doc"], best[0]))
                items = [it for it in items if it["doc"] != best[1]["doc"]]
            want[q] = out

        got = {}
        for r in q_mmr_rerank(spark, sf_dir).collect():
            got.setdefault(r["query_id"], []).append(
                (r["mmr_rank"], r["doc_id"], r["mmr_micro"])
            )
        for q in got:
            got[q].sort()
        assert got == want


class TestStreamingHoltWinters:
    def test_state_carries_across_microbatches(self, spark, tmp_path):
        """Two files → two micro-batches: the second batch's rows must
        smooth from the FIRST batch's carried (level, trend, season)
        state, not reseed — pinned against the batch replica over the
        concatenated series."""
        import math
        import os

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from aprs2influxdb_spark.queries import (
            HW_ALPHA, HW_BETA, HW_GAMMA, HW_SEASON,
        )
        from aprs2influxdb_spark.streaming.bounded import (
            HW_OUTPUT, _hw_group, run_bounded,
        )
        from pyspark.sql.streaming.state import GroupStateTimeout
        from pyspark.sql.types import (
            ArrayType, DoubleType, LongType, StructField, StructType,
        )

        t0 = pd.Timestamp("2024-01-01")
        vals = [50.0, 60.0, 40.0, 55.0, 45.0, 65.0]

        def write(name, lo, hi, mtime):
            pdf = pd.DataFrame(
                [
                    (i, (t0 + pd.Timedelta(hours=i)).to_pydatetime(), 1, "view", vals[i], "{}")
                    for i in range(lo, hi)
                ],
                columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
            )
            pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
            path = str(tmp_path / name)
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
            os.utime(path, (mtime, mtime))

        write("a.parquet", 0, 3, 1_700_000_000)
        write("b.parquet", 3, 6, 1_700_000_100)
        schema = (
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path))
            .groupBy("user_id")
            .applyInPandasWithState(
                _hw_group,
                HW_OUTPUT,
                StructType(
                    [
                        StructField("l", DoubleType(), True),
                        StructField("b", DoubleType(), True),
                        StructField("s", ArrayType(DoubleType()), True),
                        StructField("t", LongType(), True),
                    ]
                ),
                "append",
                GroupStateTimeout.NoTimeout,
            )
        )
        got = {
            r["event_id"]: (r["level"], r["trend"])
            for r in run_bounded(spark, stream, "append", "hw_two_batches").collect()
        }
        assert len(got) == 6
        # replica over the FULL series (state must have carried)
        l, b = vals[0], 0.0
        s = [0.0] * HW_SEASON

        def rhu6(x):
            return math.floor(x * 1e6 + 0.5) / 1e6

        assert got[0] == (rhu6(l), rhu6(b))
        for t in range(2, 7):
            x = vals[t - 1]
            idx = (t - 1) % HW_SEASON
            sv = s[idx]
            l_new = HW_ALPHA * (x - sv) + (1 - HW_ALPHA) * (l + b)
            b = HW_BETA * (l_new - l) + (1 - HW_BETA) * b
            s[idx] = HW_GAMMA * (x - l_new) + (1 - HW_GAMMA) * sv
            l = l_new
            assert got[t - 1] == (rhu6(l), rhu6(b)), f"event {t - 1}"
