"""Streaming tests (SURVEY.md §5.4): stateless line pipeline parity
with batch, cross-batch calibration state (J1/J2 streaming), windowed
aggregates with watermark, dedup-within-watermark."""

from __future__ import annotations

import os
import time

import pytest

from aprs2influxdb_spark.operators.calibration import with_effective_equations
from aprs2influxdb_spark.operators.projections import to_line_protocol
from aprs2influxdb_spark.schema import PACKET_SCHEMA
from aprs2influxdb_spark.sources.fixtures import fixture_rows, packets_df
from aprs2influxdb_spark.streaming.pipeline import (
    dedup_within_watermark,
    packet_rates,
    stream_lines,
    stream_packets,
)


@pytest.fixture()
def packet_dir(spark, tmp_path):
    """Fixture packets as a sequence of parquet files (one arrival
    wave per file, increasing mtime) so maxFilesPerTrigger=1 replays
    them as ordered micro-batches."""
    rows = fixture_rows()
    waves = [rows[0:4], rows[4:5], rows[5:15]]  # data | eqn upsert | rest
    d = tmp_path / "packets"
    d.mkdir()
    for i, wave in enumerate(waves):
        packets_df(spark, wave).coalesce(1).write.parquet(str(d / f"wave{i}"))
        time.sleep(0.05)
    return str(d / "wave*")


def _run_to_memory(df, name, mode="append"):
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()


class TestStatelessStreamParity:
    def test_stream_lines_match_batch(self, spark, tmp_path):
        rows = fixture_rows()
        d = str(tmp_path / "pk")
        packets_df(spark, rows).write.parquet(d)
        stream = stream_packets(spark, d)
        _run_to_memory(stream_lines(stream).select("line"), "slines")
        got = sorted(r["line"] for r in spark.sql("SELECT line FROM slines").collect())
        # batch twin without calibration state (eqns=null -> identity)
        batch = to_line_protocol(packets_df(spark, rows))
        exp = sorted(r["line"] for r in batch.select("line").collect())
        assert got == exp
        assert len(got) == 12


class TestStreamingCalibration:
    def test_cross_batch_state(self, spark, packet_dir, tmp_path, http_server):
        """The daemon's sink carries equations across micro-batches:
        wave 1 is KC3DEF's equation upsert alone, so its equations
        apply from wave 2 on, exactly as the batch as-of window does."""
        from aprs2influxdb_spark.sinks.influxdb import influxdb_sink_broadcast_calibrated

        url, handler = http_server
        q = influxdb_sink_broadcast_calibrated(
            stream_packets(spark, packet_dir), checkpoint=str(tmp_path / "ck"), url=url, db="t"
        )
        q.processAllAvailable()
        q.stop()
        assert sum(p.numInputRows > 0 for p in q.recentProgress) == 3  # one per wave
        got = handler.lines()
        kc3def = [l for l in got if 'from="KC3DEF"' in l and "analog1=" in l]
        # telemetry BEFORE equations (wave 0) -> identity scaling
        assert any(
            l.endswith("analog1=1.0,analog2=2.0,analog3=3.0,analog4=4.0,analog5=5.0")
            for l in kc3def
        )
        # telemetry AFTER the eqn wave -> scaled by the dim from wave 1
        assert any(
            l.endswith("analog1=6.0,analog2=2.0,analog3=3.0,analog4=4.0,analog5=49.0")
            for l in kc3def
        )
        # telemetry-message rows emit nothing
        assert not any(l.startswith("packet,format=telemetry-message") for l in got)
        # matches the batch as-of window exactly
        batch = to_line_protocol(
            with_effective_equations(packets_df(spark, fixture_rows())),
            eqns_col="eqns_effective",
        )
        assert sorted(got) == sorted(r["line"] for r in batch.select("line").collect())


class TestWindowedAggs:
    def test_packet_rates(self, spark, tmp_path):
        d = str(tmp_path / "pk2")
        packets_df(spark, fixture_rows()).write.parquet(d)
        # complete mode: a single replay batch never advances the
        # watermark past the window close, so append would emit nothing
        _run_to_memory(packet_rates(stream_packets(spark, d), "1 minute"), "rates", mode="complete")
        rows = spark.sql("SELECT * FROM rates").collect()
        by_fmt = {r["format"]: r["n"] for r in rows}
        assert by_fmt["uncompressed"] == 4
        assert by_fmt["telemetry-message"] == 2  # rates count raw feed

    def test_dedup_within_watermark(self, spark, tmp_path):
        rows = fixture_rows()
        dup = dict(rows[0])  # same raw again
        d = str(tmp_path / "pk3")
        packets_df(spark, rows + [dup]).write.parquet(d)
        _run_to_memory(
            dedup_within_watermark(stream_packets(spark, d)).select("raw"), "dedup"
        )
        n = spark.sql("SELECT count(*) AS n FROM dedup").collect()[0]["n"]
        assert n == len(rows) - 1  # rows 3's raw is "" ... dup dropped, one row per distinct raw


class TestStreamStreamJoin:
    def test_ack_matching(self, spark, tmp_path):
        """Watermarked stream-stream join: message paired with its ack
        by (callsign pair, msgNo) within the wait window; unmatched
        and out-of-window acks produce nothing."""
        import datetime as dt

        from aprs2influxdb_spark.streaming.pipeline import match_acks

        t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

        def msg(from_c, to_c, no, ts_min, response=None, text="hi"):
            return {
                "format": "message", "from_call": from_c, "addresse": to_c,
                "msgNo": no, "response": response, "message_text": text,
                "ingest_ts": t0 + dt.timedelta(minutes=ts_min),
                "raw": f"{from_c}>{to_c}:{no}:{ts_min}:{response}",
            }

        rows = [
            msg("A1", "B1", 1, 0),                     # acked in-window
            msg("B1", "A1", 1, 2, response="ack"),
            msg("A2", "B2", 7, 0),                     # ack too late (>10min)
            msg("B2", "A2", 7, 30, response="ack"),
            msg("A3", "B3", 9, 0),                     # never acked
        ]
        d = tmp_path / "msgs"
        d.mkdir()
        packets_df(spark, rows).coalesce(1).write.parquet(str(d / "w0"))
        stream = stream_packets(spark, str(d / "w*"))
        _run_to_memory(match_acks(stream), "acks")
        got = spark.sql("SELECT * FROM acks").collect()
        assert len(got) == 1
        r = got[0]
        assert (r["m_from"], r["m_to"], r["m_no"]) == ("A1", "B1", 1)
        assert r["ack_latency_us"] == 2 * 60 * 1_000_000


class TestTimestampedSink:
    def test_exactly_once_timestamp_suffix(self, spark, tmp_path):
        """timestamp_col stamps each line with event-time nanos so a
        replayed batch upserts the identical point (exactly-once);
        without it, parity mode emits timestamp-less lines."""
        from aprs2influxdb_spark.sinks.influxdb import influxdb_sink

        d = str(tmp_path / "pk")
        packets_df(spark, fixture_rows()).write.parquet(d)
        out = str(tmp_path / "lines")
        q = influxdb_sink(
            stream_lines(stream_packets(spark, d)),
            checkpoint=str(tmp_path / "ck"),
            parity_dir=out,
            timestamp_col="ingest_ts",
        )
        q.processAllAvailable()
        q.stop()
        lines = [r["value"] for r in spark.read.text(out).collect()]
        assert lines and all(l.rsplit(" ", 1)[1].isdigit() for l in lines)
        # nanosecond magnitude (19 digits for 2024+ epochs)
        assert all(len(l.rsplit(" ", 1)[1]) == 19 for l in lines)


class TestTransformWithState:
    def test_tws_matches_legacy_or_gates(self, spark, sf_dir):
        """Where protobuf exists, the transformWithState calibration
        must equal the applyInPandasWithState twin; where it doesn't,
        the operator must gate with a clear error, not crash the
        stream."""
        from aprs2influxdb_spark.streaming.bounded import (
            streaming_asof_calibration,
            streaming_asof_tws,
            tws_available,
        )

        if not tws_available():
            with pytest.raises(RuntimeError, match="protobuf"):
                streaming_asof_tws(spark, sf_dir)
            return
        legacy = {tuple(r) for r in streaming_asof_calibration(spark, sf_dir).collect()}
        tws = {tuple(r) for r in streaming_asof_tws(spark, sf_dir).collect()}
        assert tws == legacy


class _StateStub:
    """Minimal GroupState double for driving the per-group functions
    across MULTIPLE batches — the path the single-AvailableNow-batch
    bounded gate never executes."""

    def __init__(self):
        self.exists = False
        self._tuple = None

    @property
    def get(self):
        return self._tuple

    def update(self, t):
        self._tuple = tuple(t)
        self.exists = True


class TestSketchStateMerge:
    """Mergeability of the streaming sketch state: feeding the same
    rows in one batch or split across two batches must produce the
    same final answer (bottom-k state is a true sketch union)."""

    def test_kmv_two_batches_equals_one(self):
        import pandas as pd

        from aprs2influxdb_spark.streaming.bounded import _kmv_group

        rows = list(range(500))
        one, two = _StateStub(), _StateStub()
        [full] = list(_kmv_group(("click",), iter([pd.DataFrame({"user_id": rows})]), one))
        list(_kmv_group(("click",), iter([pd.DataFrame({"user_id": rows[:250]})]), two))
        [split] = list(_kmv_group(("click",), iter([pd.DataFrame({"user_id": rows[250:]})]), two))
        assert full.iloc[0]["approx_users"] == split.iloc[0]["approx_users"]
        assert len(two.get[0]) <= 64  # state stays bounded

    def test_sample_two_batches_equals_one(self):
        import pandas as pd

        from aprs2influxdb_spark.streaming.bounded import _sample_group

        eids = list(range(1000))
        vals = [float((i * 37) % 199) for i in eids]
        one, two = _StateStub(), _StateStub()
        [full] = list(_sample_group(
            ("view",), iter([pd.DataFrame({"event_id": eids, "value": vals})]), one))
        list(_sample_group(
            ("view",), iter([pd.DataFrame({"event_id": eids[:500], "value": vals[:500]})]), two))
        [split] = list(_sample_group(
            ("view",), iter([pd.DataFrame({"event_id": eids[500:], "value": vals[500:]})]), two))
        for c in ("n_sample", "p50", "p90", "p99"):
            assert full.iloc[0][c] == split.iloc[0][c], c
        assert len(two.get[0]) <= 256

    def test_ewma_state_carries_across_batches(self):
        import pandas as pd

        from aprs2influxdb_spark.streaming.bounded import _ewma_group

        t = pd.Timestamp("2024-01-01")
        b1 = pd.DataFrame({"ts": [t], "event_id": [1], "user_id": [7], "value": [10.0]})
        b2 = pd.DataFrame({"ts": [t + pd.Timedelta(minutes=1)], "event_id": [2],
                           "user_id": [7], "value": [20.0]})
        st = _StateStub()
        [o1] = list(_ewma_group((7,), iter([b1]), st))
        [o2] = list(_ewma_group((7,), iter([b2]), st))
        assert o1.iloc[0]["ewma"] == 10.0
        assert o2.iloc[0]["ewma"] == round(0.3 * 20.0 + 0.7 * 10.0, 6)


def test_cms_two_batches_equals_one():
    """CMS counters are additive (a true mergeable sketch): one batch
    vs two half-batches land on identical counters, and state stays
    bounded at CMS_WIDTH longs."""
    import pandas as pd

    from aprs2influxdb_spark.operators.sketches import CMS_WIDTH
    from aprs2influxdb_spark.streaming.bounded import _cms_group

    rows = [i % 40 for i in range(800)]
    one, two = _StateStub(), _StateStub()
    [full] = list(_cms_group((0,), iter([pd.DataFrame({"user_id": rows})]), one))
    list(_cms_group((0,), iter([pd.DataFrame({"user_id": rows[:400]})]), two))
    [split] = list(_cms_group((0,), iter([pd.DataFrame({"user_id": rows[400:]})]), two))
    assert full.iloc[0]["counters"] == split.iloc[0]["counters"]
    assert full.iloc[0]["n_seen"] == split.iloc[0]["n_seen"] == 800
    assert len(two.get[0]) == CMS_WIDTH


def test_merge_state_last_write_wins_across_batches():
    """CDC upsert state: an update arriving in a LATER batch than its
    base row (and vice versa) must still resolve to the highest
    version, and state stays at one (version, price) pair per key."""
    import pandas as pd

    from aprs2influxdb_spark.streaming.bounded import _merge_group

    # base then update, split across batches
    s = _StateStub()
    list(_merge_group((7,), iter([pd.DataFrame({"version": [0], "price": [100.0]})]), s))
    [out] = list(_merge_group((7,), iter([pd.DataFrame({"version": [1], "price": [110.0]})]), s))
    assert out.iloc[0]["price"] == 110.0 and bool(out.iloc[0]["was_updated"])
    # update BEFORE base: base must not clobber the newer version
    s2 = _StateStub()
    list(_merge_group((8,), iter([pd.DataFrame({"version": [1], "price": [220.0]})]), s2))
    [out2] = list(_merge_group((8,), iter([pd.DataFrame({"version": [0], "price": [200.0]})]), s2))
    assert out2.iloc[0]["price"] == 220.0 and bool(out2.iloc[0]["was_updated"])
    assert len(s2.get) == 2


def test_parquet_sink_is_idempotent_on_replay(spark, tmp_path):
    """Replaying a micro-batch (Structured Streaming's at-least-once
    contract after a crash) must not duplicate rows: the batch-scoped
    overwrite makes the second delivery a byte-identical replace."""
    from aprs2influxdb_spark.sinks.parquet import write_batch_idempotent

    out = str(tmp_path / "sink")
    batch = spark.range(100).withColumnRenamed("id", "v")
    write_batch_idempotent(batch, 0, out)
    first = spark.read.parquet(out).count()
    write_batch_idempotent(batch, 0, out)  # the replay
    again = spark.read.parquet(out).count()
    assert first == again == 100
    # a NEW batch appends its own partition, untouched by replays
    write_batch_idempotent(spark.range(7).withColumnRenamed("id", "v"), 1, out)
    assert spark.read.parquet(out).count() == 107
    # batch_id surfaces as a prunable partition column
    assert spark.read.parquet(out).filter("batch_id = 1").count() == 7


def test_parquet_sink_end_to_end_with_restart(spark, tmp_path, sf_dir):
    """Run the streaming sink to exhaustion, then restart the SAME
    query (same checkpoint): the restart must add zero rows — the
    checkpointed batch ids plus the idempotent write give
    end-to-end exactly-once."""
    from aprs2influxdb_spark.sinks.parquet import parquet_sink
    from aprs2influxdb_spark.streaming.bounded import stream_docs

    out = str(tmp_path / "docs_sink")
    ckpt = str(tmp_path / "ckpt")
    src = stream_docs(spark, sf_dir).select("doc_id", "source")
    q = parquet_sink(src, out, ckpt)
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    q2 = parquet_sink(stream_docs(spark, sf_dir).select("doc_id", "source"), out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n1
