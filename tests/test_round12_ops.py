"""Round-12 optimization pins: the gate family's state keying was
sharded — one ``applyInPandasWithState`` row per
``pmod(xxhash64(key), n_shards)`` shard, packing its buckets'
(first, last) pairs — to cut the measured ~140 µs/group Python
dispatch floor (one dispatch per ~128 buckets instead of per bucket).
The per-bucket DISCIPLINE is unchanged: same anchor rule, same
ordered-ingest contract, same drained-index coverage.  These tests pin
the sharded function row-for-row against the per-bucket reference
(``_lsh_bucket_group``) over randomized multi-bucket, multi-batch
replays, including >2^53 ids and the p_first/p_last covered form."""

from __future__ import annotations

import random

import pandas as pd
import pytest


class _FakeState:
    def __init__(self, value=None):
        self.exists = value is not None
        self._v = value

    @property
    def get(self):
        return self._v

    def update(self, v):
        self.exists = True
        self._v = tuple(v)


def _run_reference_per_bucket(batches_by_bucket):
    """Replay each bucket's batches through ``_lsh_bucket_group`` (the
    judged per-bucket reference) and collect anchors + final state."""
    from tests.lsh_reference import _lsh_bucket_group

    anchors: dict = {}
    states: dict = {}
    for key, batches in batches_by_bucket.items():
        st = _FakeState()
        for pdf in batches:
            if pdf.empty:
                continue
            for out in _lsh_bucket_group((key,), iter([pdf]), st):
                for d, a in zip(out["doc_id"], out["anchor"]):
                    anchors.setdefault(key, []).append(
                        (int(d), None if pd.isna(a) else int(a))
                    )
        if st.exists:
            states[key] = st._v
    return anchors, states


class TestShardGroupMatchesPerBucketReference:
    def _shard_replay(self, shard_batches):
        """Replay a sequence of multi-bucket batches through
        ``_lsh_shard_group`` with one persistent fake state."""
        from aprs2influxdb_spark.streaming.bounded import _lsh_shard_group

        st = _FakeState()
        anchors: dict = {}
        for pdf in shard_batches:
            outs = list(_lsh_shard_group((0,), iter([pdf]), st))
            assert len(outs) == 1
            out = outs[0]
            # the fn emits rows in (key, doc_id)-sorted order, so the
            # bucket of each emitted row is read off the sorted input
            srt = pdf.sort_values(["key", "doc_id"], kind="stable").reset_index(
                drop=True
            )
            assert list(out["doc_id"]) == list(srt["doc_id"])
            for k, d, a in zip(srt["key"], out["doc_id"], out["anchor"]):
                anchors.setdefault(k, []).append(
                    (int(d), None if pd.isna(a) else int(a))
                )
        keys, firsts, lasts = st._v
        states = {k: (f, l) for k, f, l in zip(keys, firsts, lasts)}
        return anchors, states

    def test_matches_reference_randomized(self):
        rng = random.Random(12)
        big = 1 << 55
        for trial in range(40):
            lo = rng.choice([0, 10, big])
            n_buckets = rng.randint(1, 6)
            buckets = [f"b{i}" for i in range(n_buckets)]
            cur = {k: lo for k in buckets}
            n_batches = rng.randint(1, 4)
            per_bucket: dict = {k: [] for k in buckets}
            shard_batches = []
            for _ in range(n_batches):
                rows = []
                for k in buckets:
                    n = rng.randint(0, 4)
                    ids = []
                    for _ in range(n):
                        cur[k] += rng.randint(1, 3)
                        ids.append(cur[k])
                        if rng.random() < 0.25:
                            ids.append(cur[k])  # duplicate id
                    if ids:
                        per_bucket[k].append(
                            pd.DataFrame(
                                {"doc_id": ids, "band": [0] * len(ids), "key": k}
                            )
                        )
                        rows.append(
                            pd.DataFrame(
                                {"doc_id": ids, "band": [0] * len(ids), "key": k}
                            )
                        )
                if not rows:
                    continue
                batch = pd.concat(rows, ignore_index=True)
                # shuffle row order across buckets (unsorted arrival)
                batch = batch.sample(frac=1.0, random_state=trial).reset_index(
                    drop=True
                )
                shard_batches.append(batch)
            if not shard_batches:
                continue
            want_anchors, want_states = _run_reference_per_bucket(per_bucket)
            got_anchors, got_states = self._shard_replay(shard_batches)
            # anchors per bucket, in arrival (doc_id) order
            for k in buckets:
                w = sorted(want_anchors.get(k, []))
                g = sorted(got_anchors.get(k, []))
                assert g == w, f"trial {trial} bucket {k}: {g} != {w}"
            assert got_states == want_states, trial

    def test_covered_bucket_and_contract(self):
        """The drained-index (p_first/p_last) semantics and the
        ordered-ingest dead-letter, per bucket within a shard."""
        from aprs2influxdb_spark.streaming.bounded import _lsh_shard_group

        st = _FakeState((["kb"], [9], [9]))
        pdf = pd.DataFrame(
            {
                "doc_id": [10, 11],
                "band": [1, 0],
                "key": ["kb", "kc"],
                "p_first": [2, None],
                "p_last": [7, None],
            }
        )
        out = pd.concat(list(_lsh_shard_group((0,), iter([pdf]), st)))
        by_doc = dict(zip(out["doc_id"], out["anchor"]))
        assert int(by_doc[10]) == 2  # covered: anchors to the persisted min
        assert pd.isna(by_doc[11])  # uncovered first occupant
        keys, firsts, lasts = st._v
        states = dict(zip(keys, zip(firsts, lasts)))
        assert states["kb"] == (2, 10)  # minimal watermark retained
        assert states["kc"] == (11, 11)
        # regression between batches in the covered bucket dead-letters
        pdf2 = pd.DataFrame(
            {
                "doc_id": [8],
                "band": [1],
                "key": ["kb"],
                "p_first": [2],
                "p_last": [7],
            }
        )
        with pytest.raises(ValueError, match="^LSH: out-of-order"):
            list(_lsh_shard_group((0,), iter([pdf2]), st))

    def test_empty_batch_preserves_state(self):
        from aprs2influxdb_spark.streaming.bounded import _lsh_shard_group

        st = _FakeState((["k"], [3], [5]))
        assert list(_lsh_shard_group((0,), iter([]), st)) == []
        assert st._v == (["k"], [3], [5])


class TestReliableCheckpoint:
    """Round-12 verdict item 6: the big within-run reuse barriers (the
    exact-substring grams frame, curation survivors) use a reliable
    ``checkpoint()`` when the session has a checkpoint dir configured,
    and fall back to ``localCheckpoint`` (unchanged plans) when not —
    results identical under either mechanism."""

    def test_grams_dedup_identical_with_either_mechanism(
        self, spark, sf_dir, tmp_path
    ):
        from aprs2influxdb_spark.queries import registry

        builder, _ = registry()["exact_substring_dedup"]
        base = {
            (r["doc_id"], r["n_removed"], r["clean_text"])
            for r in builder(spark, sf_dir).collect()
        }
        assert base
        sc = spark.sparkContext
        assert not sc._jsc.sc().getCheckpointDir().isDefined()
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        try:
            with_dir = {
                (r["doc_id"], r["n_removed"], r["clean_text"])
                for r in builder(spark, sf_dir).collect()
            }
            assert with_dir == base
            # the reliable path actually wrote checkpoint blocks
            import os

            assert any(os.scandir(str(tmp_path / "ckpt")))
        finally:
            # clear the dir so later tests in the shared session keep
            # the localCheckpoint default (the setter only accepts a
            # path, so reset the underlying Option directly)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(None)
            )
            assert not sc._jsc.sc().getCheckpointDir().isDefined()
