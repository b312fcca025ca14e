"""Structured Streaming form of the packet pipeline (SURVEY.md §7.2.7).

The batch expressions are reused verbatim — the stream is the same
wide packets DataFrame under ``readStream``.  What streaming adds:

- ``stream_packets``: file/memory/rate source -> canonical schema
- ``stream_lines``: dispatch + projection + line protocol (stateless
  part of the reference's callback, :1047-1075) as a streaming select
- windowed/watermarked analytics the reference never had (§2.9)
- ``dedup_within_watermark``: APRS-IS upstream duplicate suppression,
  made explicit and bounded-state
- stateful calibration lives in ``streaming.calibration``

Scale notes: the stateless path is shuffle-free per micro-batch; the
windowed aggs shuffle on (window, key) with watermark-bounded state;
RocksDB state store is the flip for >memory state at 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aprs2influxdb_spark.operators.projections import to_line_protocol
from aprs2influxdb_spark.schema import PACKET_SCHEMA


def stream_packets(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """File-based packet stream with the canonical schema (tests feed
    the same schema through a memory source instead)."""
    return (
        spark.readStream.format(fmt)
        .schema(PACKET_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(path)
    )


def stream_lines(packets: DataFrame, eqns_col: str | None = None) -> DataFrame:
    """Stateless pipeline: dispatch (D1/D2) + dead-letter filter (D3)
    + per-format projection (P1-P9) -> ``line`` column — the batch
    serializer ``to_line_protocol`` itself, memoized expressions and
    all.

    Calibration-aware scaling needs keyed state — chain
    ``streaming.calibration.with_streaming_calibration`` before this
    and pass its output column name as ``eqns_col``.
    """
    return to_line_protocol(packets, eqns_col)


def packet_rates(packets: DataFrame, window: str = "1 minute", watermark: str = "5 minutes") -> DataFrame:
    """Event-time packet rate per format — the InfluxDB dashboard query
    the reference's pipeline served, now with a defined late-data
    policy (SURVEY §2.9: watermarks were impossible in the reference).
    """
    return (
        packets.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("win"), "format")
        .agg(F.count("*").alias("n"))
        .select("win.start", "win.end", "format", "n")
    )


def dedup_within_watermark(packets: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Explicit form of APRS-IS's network-level duplicate suppression:
    drop repeated ``raw`` frames within the watermark horizon —
    bounded state, unlike a global dropDuplicates."""
    return packets.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(["raw"])


def match_acks(packets: DataFrame, max_wait: str = "10 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Watermarked stream-stream join (SURVEY §2.9: no join of any kind
    existed in the reference): pair each outgoing APRS message with its
    acknowledgement — an ack is a message whose ``response`` is 'ack',
    sent back to the original sender with the same ``msgNo`` — arriving
    within ``max_wait``.

    Both sides carry watermarks and the join has an event-time range
    constraint, so Spark can evict unmatched messages from state once
    the ack window passes (bounded state at any stream length).  The
    shuffle key is the (callsign-pair, msgNo) equi-condition.
    """
    msgs = (
        packets.filter((F.col("format") == "message") & F.col("response").isNull())
        .withWatermark("ingest_ts", watermark)
        .select(
            F.col("from_call").alias("m_from"),
            F.col("addresse").alias("m_to"),
            F.col("msgNo").alias("m_no"),
            F.col("ingest_ts").alias("m_ts"),
            F.col("message_text"),
        )
    )
    acks = (
        packets.filter((F.col("format") == "message") & (F.col("response") == "ack"))
        .withWatermark("ingest_ts", watermark)
        .select(
            F.col("from_call").alias("a_from"),
            F.col("addresse").alias("a_to"),
            F.col("msgNo").alias("a_no"),
            F.col("ingest_ts").alias("a_ts"),
        )
    )
    return msgs.join(
        acks,
        (F.col("m_from") == F.col("a_to"))
        & (F.col("m_to") == F.col("a_from"))
        & (F.col("m_no") == F.col("a_no"))
        & (F.col("a_ts") >= F.col("m_ts"))
        & (F.col("a_ts") <= F.col("m_ts") + F.expr(f"INTERVAL {max_wait}")),
    ).select(
        "m_from", "m_to", "m_no", "message_text", "m_ts", "a_ts",
        (F.unix_micros("a_ts") - F.unix_micros("m_ts")).alias("ack_latency_us"),
    )
