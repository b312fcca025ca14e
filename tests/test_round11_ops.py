"""Round-11 operator tests: the drain CYCLE (verdict-r10 item 2 — the
one-shot median split becomes a repeatable stream→drain→resume loop
with per-cycle state reset), the gate-index merge rule, and the
persisted bucketed probe path.  Reference parity note: none of these
exist in the reference (aprs2influxdb/__main__.py has no analytics
path) — engine-extension scope per SURVEY.md §2.9."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _banded(docs):
    from aprs2influxdb_spark.functions.hashing import hashed_shingles
    from aprs2influxdb_spark.operators.dedup import (
        _signatures_from_shingles,
        banded_keys,
        tokens_col,
    )

    return banded_keys(
        _signatures_from_shingles(
            docs.select(
                "doc_id", hashed_shingles(tokens_col("text"), 3).alias("sh")
            ),
            "doc_id",
            16,
        ),
        "doc_id",
        16,
        4,
    )


class TestLshGateCycle:
    """≥2 drains in one corpus pass: state-store rows return to the
    CYCLE's own touched-bucket count after every drain (never
    cumulative), and anchors stay oracle-exact across every cycle
    boundary — including a duplicate whose original was hot-window
    state in the PREVIOUS cycle and reached the index only through
    ``merge_gate_index``."""

    def _write_corpus(self, spark, path, texts: dict[int, str]) -> str:
        spark.createDataFrame(
            [(i, t) for i, t in sorted(texts.items())], "doc_id long, text string"
        ).coalesce(1).write.parquet(f"{path}/documents.parquet")
        return str(path)

    def test_multi_drain_state_reset_and_cross_cycle_anchors(
        self, spark, tmp_path, monkeypatch, started_queries, gate_shards
    ):
        from aprs2influxdb_spark.streaming import bounded

        monkeypatch.setenv("SPARK_GRAFT_MEDIA_CACHE", str(tmp_path / "cache"))
        texts = {
            0: "zero alpha beta gamma delta epsilon zeta eta theta iota",
            1: "the quick brown fox jumps over the lazy dog today",
            2: "two lorem ipsum dolor sit amet consectetur adipiscing elit sed",
            3: "three red orange yellow green blue indigo violet ultra deep",
            4: "the quick brown fox jumps over the lazy dog today",
            5: "five north south east west upper lower inner outer middle",
            6: "five north south east west upper lower inner outer middle",
            7: "seven one two three four six eight nine ten eleven",
            8: "eight maple oak pine birch cedar willow aspen elm fir",
            9: "nine river lake ocean stream pond creek delta bay lagoon",
            10: "ten copper iron silver gold nickel zinc cobalt tin lead",
            11: "ten copper iron silver gold nickel zinc cobalt tin lead",
        }
        sf_dir = self._write_corpus(spark, tmp_path, texts)
        # cycles=3 over doc_ids 0..11: bounds at 2, 5, 8 — epoch 0 is
        # docs 0-2; streamed intervals (2,5], (5,8], (8,11]; DRAINS
        # happen after every interval (3 total, ≥2 mid-run)
        out = {
            r["doc_id"]: r
            for r in bounded.streaming_lsh_gate_cycle(
                spark, sf_dir, cycles=3
            ).collect()
        }
        assert set(out) == {3, 4, 5, 6, 7, 8, 9, 10, 11}
        # cross-boundary anchor via the INITIAL index: 4 dups epoch-0's 1
        assert out[4]["dup_of"] == 1 and out[4]["is_dup"]
        # cross-CYCLE anchor via the FOLD: 6 dups 5, which was cycle-1
        # hot-window state and reached the index only via the drain
        assert out[6]["dup_of"] == 5 and out[6]["is_dup"]
        # in-cycle anchor via keyed state: 11 dups 10 (same interval)
        assert out[11]["dup_of"] == 10 and out[11]["is_dup"]
        assert out[3]["dup_of"] is None and not out[3]["is_dup"]
        # the full anchor map equals the batch closed form (the oracle
        # rule), computed independently here
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        banded = _banded(docs)
        left = banded.select("doc_id", "key")
        right = banded.select(F.col("doc_id").alias("r_id"), "key")
        expect = {
            r["doc_id"]: r["dup_of"]
            for r in left.join(right, "key", "left")
            .filter(F.col("r_id") < F.col("doc_id"))
            .groupBy("doc_id")
            .agg(F.min("r_id").alias("dup_of"))
            .collect()
        }
        for d in out:
            assert out[d]["dup_of"] == expect.get(d), (d, out[d], expect.get(d))
        # state RESETS at every drain: each cycle's final state-store
        # row count is that interval's OWN touched-SHARD count (round
        # 12: state keying is sharded — one row per
        # pmod(xxhash64(key), n_shards) shard packing its
        # buckets' pairs — so the bound is distinct shards of the
        # buckets the interval touched), not a running total; the
        # count is each lsh_cycle_<c> query's final numRowsTotal
        (n_shards,) = set(gate_shards)  # one shard count for every cycle
        cycle_state_rows = []
        for q in started_queries:
            if q.name.startswith("lsh_cycle_"):
                totals = [
                    op["numRowsTotal"]
                    for p in q.recentProgress
                    for op in p.get("stateOperators", [])
                    if op.get("numRowsTotal") is not None
                ]
                cycle_state_rows.append(totals[-1] if totals else 0)
        per_cycle = [
            banded.filter(
                (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)
            )
            .select(F.pmod(F.xxhash64("key"), F.lit(n_shards)))
            .distinct()
            .count()
            for lo, hi in [(2, 5), (5, 8), (8, 11)]
        ]
        assert cycle_state_rows == per_cycle, (cycle_state_rows, per_cycle)
        # and each is O(interval), strictly below the whole corpus's
        # bucket count — the bound the cycle exists to hold forever
        all_buckets = banded.select("key").distinct().count()
        for n in cycle_state_rows:
            assert n < all_buckets

    def test_merge_equals_from_scratch_index(self, spark, tmp_path):
        """``merge_gate_index`` is content-equal to rebuilding the
        index from scratch over the union corpus — the ``epoch_merge``
        pinning discipline applied to the gate."""
        from aprs2influxdb_spark.streaming.bounded import (
            lsh_gate_index,
            merge_gate_index,
        )

        texts = {
            1: "one quick brown fox jumps over the lazy dog today",
            2: "two lorem ipsum dolor sit amet consectetur adipiscing elit sed",
            3: "one quick brown fox jumps over the lazy dog today",
            4: "four red orange yellow green blue indigo violet ultra deep",
        }
        sf_dir = self._write_corpus(spark, tmp_path, texts)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        merged = merge_gate_index(
            lsh_gate_index(docs.filter(F.col("doc_id") <= 2)),
            lsh_gate_index(docs.filter(F.col("doc_id") > 2)),
        )
        scratch = lsh_gate_index(docs)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, scratch.collect())
        )


class TestVideoNearDup:
    """Round 11 (verdict-r10 missing #2): the video rung of the dedup
    ladder — per-frame DC-image dHash, band LSH, temporal offset
    alignment.  The store's variants are time-SHIFTED clips, so these
    tests pin the property the entry exists for: a shifted clip still
    pairs, and the reported offset IS the shift difference."""

    def test_dc_decode_matches_closed_form(self):
        from aprs2influxdb_spark.functions.jpeg import decode_jpeg_dc_gray
        from aprs2influxdb_spark.functions.mp4 import parse_mp4, read_sample
        from aprs2influxdb_spark.media_store import (
            VID_FRAMES,
            synth_video_mp4,
            video_block_luma,
        )

        nc = 17
        for d in [0, 1, 17, 42, 400]:
            blob = synth_video_mp4(d, nc)
            m = parse_mp4(blob)
            assert len(m["samples"]) == VID_FRAMES
            for k, s in enumerate(m["samples"]):
                bw, bh, dc = decode_jpeg_dc_gray(read_sample(blob, s))
                assert (bw, bh) == (8, 8)
                assert list(dc) == video_block_luma(d, nc, k), (d, k)

    def test_dc_decode_general_blocks_are_block_means(self):
        """decode_jpeg_dc_gray is the DC thumbnail for ANY baseline
        stream, not just constant blocks: the unit-quant DC stores
        round(8·(mean−128)), so the DC image is the block mean to
        within the quantizer's rounding (±1/16 here)."""
        from aprs2influxdb_spark.functions.jpeg import (
            decode_jpeg_dc_gray,
            encode_jpeg_gray,
        )

        px = bytes(((x * 7 + y * 13) % 256) for y in range(16) for x in range(16))
        bw, bh, dc = decode_jpeg_dc_gray(encode_jpeg_gray(px, 16, 16))
        assert (bw, bh) == (2, 2)
        for by in range(2):
            for bx in range(2):
                mean = (
                    sum(
                        px[(by * 8 + y) * 16 + bx * 8 + x]
                        for y in range(8)
                        for x in range(8)
                    )
                    / 64
                )
                assert abs(dc[by * 2 + bx] - mean) <= 1.0, (by, bx)

    def test_frame_mapper_matches_python_dhash(self, spark):
        import numpy as np
        import pandas as pd

        from aprs2influxdb_spark.media_store import (
            synth_video_mp4,
            video_block_luma,
        )
        from aprs2influxdb_spark.queries import _video_dhash_mapper

        nc = 17
        docs = [0, 1, 42, 400]
        fn, _schema = _video_dhash_mapper()
        pdf = pd.DataFrame(
            {"doc_id": docs, "mp4": [synth_video_mp4(d, nc) for d in docs]}
        )
        out = pd.concat(list(fn(iter([pdf])))).set_index(["doc_id", "frame_idx"])
        for d in docs:
            for k in range(4):
                g = video_block_luma(d, nc, k)
                hh = sum(
                    1 << (y * 7 + x)
                    for y in range(8)
                    for x in range(7)
                    if g[y * 8 + x] > g[y * 8 + x + 1]
                )
                vv = sum(
                    1 << (x * 7 + y)
                    for x in range(8)
                    for y in range(7)
                    if g[y * 8 + x] > g[(y + 1) * 8 + x]
                )
                row = out.loc[(d, k)]
                assert (row["dhash_h"], row["dhash_v"]) == (hh, vv), (d, k)
        assert np.issubdtype(out["dhash_h"].dtype, np.int64)

    def test_pair_stage_keys_on_band_buckets(self, spark, sf_dir):
        import re

        from aprs2influxdb_spark.queries import q_video_near_dup

        df = q_video_near_dup(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert re.search(r"Join \[band#\d+, bkey#\d+L?\]", plan), plan

    def test_shifted_clips_pair_with_true_offset(self, spark, sf_dir):
        from aprs2influxdb_spark.media_store import (
            VID_FRAMES,
            VID_MAX_SHIFT,
            VID_MIN_ALIGNED,
            video_classes_for,
        )
        from aprs2influxdb_spark.queries import q_video_near_dup

        n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        nc = video_classes_for(n)
        rows = q_video_near_dup(spark, sf_dir).collect()
        assert rows, "near-dup classes by construction — result cannot be empty"
        shifted = 0
        for r in rows:
            a, b = r["a_id"], r["b_id"]
            assert a < b
            assert VID_MIN_ALIGNED <= r["matched"] <= VID_FRAMES
            assert abs(r["t_offset"]) <= VID_MAX_SHIFT
            # the triple-moduli class design separates classes
            assert a % nc == b % nc, r
            # the alignment stage recovers the TRUE temporal shift:
            # a's frame ka shows scene time ka + shift(a), so matching
            # b needs kb - ka = shift(a) - shift(b) exactly
            want = (a // nc) % (VID_MAX_SHIFT + 1) - (b // nc) % (VID_MAX_SHIFT + 1)
            assert r["t_offset"] == want, r
            shifted += r["t_offset"] != 0
        # the property the modality exists for: a large fraction of
        # detected pairs are time-SHIFTED clips frame-level identity
        # would miss
        assert shifted / len(rows) > 0.4, (shifted, len(rows))


class TestSrpGate:
    """Round 11 (verdict-r10 missing #3): the embedding-space ingest
    gate — SRP sign-bucket band keys through the shared LSH bucket
    state.  The drained twin must hold state ONLY for buckets touched
    after the drain (the text/image gates' bound, asserted through
    the SRP wiring)."""

    def test_gate_matches_batch_anchor_rule(self, spark, sf_dir):
        from aprs2influxdb_spark.operators.similarity import srp_planes_for
        from aprs2influxdb_spark.streaming import bounded

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        np_ = srp_planes_for(emb.count(), target_bucket_size=8)
        out = {
            r["vec_id"]: r
            for r in bounded.streaming_srp_near_dup(spark, sf_dir).collect()
        }
        assert set(out) == {r["vec_id"] for r in emb.select("vec_id").collect()}
        banded = bounded._srp_gate_banded(emb, np_)
        left = banded.select(F.col("doc_id").alias("vec_id"), "key")
        right = banded.select(F.col("doc_id").alias("r_id"), "key")
        expect = {
            r["vec_id"]: r["dup_of"]
            for r in left.join(right, "key", "left")
            .filter(F.col("r_id") < F.col("vec_id"))
            .groupBy("vec_id")
            .agg(F.min("r_id").alias("dup_of"))
            .collect()
        }
        dups = 0
        for v, r in out.items():
            assert r["dup_of"] == expect.get(v), (v, r, expect.get(v))
            assert r["is_dup"] == (r["dup_of"] is not None)
            dups += r["is_dup"]
        assert dups > 0, "SRP buckets at ~8 vectors each must collide"

    def test_drained_state_is_post_drain_buckets_only(
        self, spark, sf_dir, started_queries, gate_shards
    ):
        from aprs2influxdb_spark.operators.similarity import srp_planes_for
        from aprs2influxdb_spark.streaming import bounded

        rows = bounded.streaming_srp_near_dup(spark, sf_dir, drained=True).collect()
        assert rows
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        lo, hi = emb.agg(F.min("vec_id"), F.max("vec_id")).first()
        split = (int(lo) + int(hi)) // 2
        assert all(r["vec_id"] > split for r in rows)
        np_ = srp_planes_for(emb.count(), target_bucket_size=8)
        banded = bounded._srp_gate_banded(emb, np_)
        # round 12: state keying is SHARDED — one state row per
        # pmod(xxhash64(key), n_shards) shard packing its
        # buckets' (first, last) pairs — so the post-drain bound is the
        # distinct shards of the buckets actually touched
        touched = (
            banded.filter(F.col("doc_id") > split)
            .select(F.pmod(F.xxhash64("key"), F.lit(gate_shards[-1])))
            .distinct()
            .count()
        )
        touched_buckets = (
            banded.filter(F.col("doc_id") > split).select("key").distinct().count()
        )
        state_rows = [
            op["numRowsTotal"]
            for p in started_queries[-1].recentProgress
            for op in p.get("stateOperators", [])
            if op.get("numRowsTotal") is not None
        ]
        assert state_rows and state_rows[-1] == touched, (state_rows, touched)
        # packed, never inflated: at most one row per touched bucket,
        # and still strictly below the whole corpus's bucket count
        assert state_rows[-1] <= touched_buckets
        assert state_rows[-1] < banded.select("key").distinct().count()


class TestVideoGateAndClusters:
    """Round 11 completions of the video family: the frame-level
    ingest gate (candidate screen; alignment is the batch pass's
    verification job), its drained state bound, and the keep-one
    clusters."""

    def test_drained_state_is_post_drain_buckets_only(
        self, spark, sf_dir, started_queries, gate_shards
    ):
        from aprs2influxdb_spark.media_store import ensure_video_store
        from aprs2influxdb_spark.queries import (
            _video_dhash_mapper,
            q_streaming_video_near_dup,
        )

        rows = q_streaming_video_near_dup(spark, sf_dir, drained=True).collect()
        assert rows
        store = spark.read.parquet(ensure_video_store(spark, sf_dir))
        lo, hi = store.agg(F.min("doc_id"), F.max("doc_id")).first()
        split = (int(lo) + int(hi)) // 2
        assert all(r["doc_id"] > split for r in rows)
        fn, out_schema = _video_dhash_mapper()
        hashed = store.mapInPandas(fn, out_schema)
        bands = hashed.select(
            "doc_id",
            F.explode(F.expr("array(0, 1, 2, 3)")).alias("band"),
            "dhash_h",
            "dhash_v",
        ).select(
            "doc_id",
            F.concat_ws(
                "_",
                "band",
                F.expr(
                    "CASE WHEN band < 2 THEN shiftright(dhash_h, band * 28) & 268435455 "
                    "ELSE shiftright(dhash_v, (band - 2) * 28) & 268435455 END"
                ),
            ).alias("key"),
        )
        # round 12: sharded state keying — expected rows are the
        # distinct shards of the buckets touched post-drain
        touched = (
            bands.filter(F.col("doc_id") > split)
            .select(F.pmod(F.xxhash64("key"), F.lit(gate_shards[-1])))
            .distinct()
            .count()
        )
        state_rows = [
            op["numRowsTotal"]
            for p in started_queries[-1].recentProgress
            for op in p.get("stateOperators", [])
            if op.get("numRowsTotal") is not None
        ]
        assert state_rows and state_rows[-1] == touched, (state_rows, touched)
        assert state_rows[-1] <= (
            bands.filter(F.col("doc_id") > split).select("key").distinct().count()
        )
        assert state_rows[-1] < bands.select("key").distinct().count()

    def test_gate_is_superset_of_aligned_pairs(self, spark, sf_dir):
        """The frame-level gate is the CANDIDATE stage: every clip the
        batch pass pairs (after temporal alignment) must have been
        flagged by the gate — the deferred-verification contract the
        text gate shares with minhash_lsh_pairs."""
        from aprs2influxdb_spark.queries import (
            q_streaming_video_near_dup,
            q_video_near_dup,
        )

        flagged = {
            r["doc_id"]
            for r in q_streaming_video_near_dup(spark, sf_dir).collect()
            if r["is_dup"]
        }
        for p in q_video_near_dup(spark, sf_dir).collect():
            assert p["b_id"] in flagged, p

    def test_clusters_cover_pairs_and_singletons(self, spark, sf_dir):
        from aprs2influxdb_spark.queries import (
            q_video_dup_clusters,
            q_video_near_dup,
        )

        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in q_video_dup_clusters(spark, sf_dir).collect()
        }
        n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        assert len(labels) == n
        pairs = q_video_near_dup(spark, sf_dir).collect()
        assert pairs
        for p in pairs:
            assert labels[p["a_id"]] == labels[p["b_id"]], p
        for d, c in labels.items():
            assert c <= d  # canonical min-id labels


class TestLshBucketGroupVectorized:
    """Round-11 optimization pin: the gate's per-bucket state function
    was rewritten from a per-row itertuples loop to the closed-form
    vectorized anchor rule (sorted batch ⇒ the running min collapses
    to min(first, d₀)).  This test replays randomized multi-batch
    sequences through the rewritten function and checks every emitted
    anchor and the final state against the straightforward per-row
    reference loop — including duplicate doc_ids within a bucket,
    multi-chunk input, unsorted arrival order within a batch, and
    int64 ids above 2^53 (the Arrow-precision edge the nullable Int64
    output dtype exists for)."""

    class _FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists = True
            self._v = tuple(v)

    @staticmethod
    def _reference(batches, first, last):
        """The pre-rewrite per-row loop, verbatim semantics."""
        anchors = []
        for batch in batches:
            rows = sorted(batch, key=lambda d: d)
            if rows and rows[0] <= last:
                raise ValueError("out of order")
            for d in rows:
                anchors.append(first if first < d else None)
                first = min(first, d)
                last = d
        return anchors, (first, last)

    def test_matches_reference_loop(self):
        import random

        import pandas as pd

        from aprs2influxdb_spark.streaming.bounded import _LSH_GATE_EMPTY
        from tests.lsh_reference import _lsh_bucket_group

        rng = random.Random(11)
        big = 1 << 55  # above 2^53: float64 would corrupt these
        for trial in range(50):
            lo = rng.choice([0, 10, big])
            seq, cur = [], lo
            for _ in range(rng.randint(1, 4)):  # batches
                n = rng.randint(1, 6)
                ids = []
                for _ in range(n):
                    cur += rng.randint(1, 3)
                    ids.append(cur)
                    if rng.random() < 0.3:  # duplicate id in the bucket
                        ids.append(cur)
                rng.shuffle(ids)  # unsorted within-batch arrival
                seq.append(ids)
            state = self._FakeState()
            got = []
            for ids in seq:
                k = rng.randint(1, 2)  # sometimes split into 2 chunks
                chunks = [
                    pd.DataFrame({"doc_id": part, "band": [0] * len(part)})
                    for part in (ids[: len(ids) // k or 1], ids[len(ids) // k or 1:])
                    if part
                ]
                for out in _lsh_bucket_group(("k",), iter(chunks), state):
                    got.extend(
                        None if pd.isna(a) else int(a) for a in out["anchor"]
                    )
            want, (wf, wl) = self._reference(seq, _LSH_GATE_EMPTY, -1)
            assert got == want, f"trial {trial}: {got} != {want}"
            assert state._v == (wf, wl), f"trial {trial}: state {state._v}"
