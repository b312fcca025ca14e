"""InfluxDB line-protocol sink (SURVEY.md §2.7 K1), upgraded.

Reference behavior: one HTTP POST *and one new InfluxDBClient* per
packet, at-most-once, no retry (:1047-1085 — the biggest structural
throughput defect, SURVEY §4 "Anti-batching").  Engine behavior:

- ``foreachBatch`` sink: per micro-batch, ONE Spark job in which each
  executor partition POSTs its lines in chunks of ``batch_size``
  (:func:`write_partitions`) — write amplification drops from
  1 request/point to 1 request/5000 points; the lines written are
  summed per batch and logged at DEBUG on the ``aprs2influxdb_spark``
  logger;
- the broadcast-calibrated sink (the daemon's, ``cli.start``) calibrates,
  renders and writes in that same job, which also brings the batch's
  equation rows back to the driver: no persist, no second pass over
  the batch, no shuffle;
- bounded exponential-backoff retry -> effectively-once into InfluxDB
  (idempotent: line protocol upserts on identical timestamp+tagset);
- parity mode (``url=None``): lines append to a text dir instead, so
  tests and the oracle harness can diff exactly what would be written.

Uses only urllib (stdlib); the /write API is plain POST text.
"""

from __future__ import annotations

import logging
import time
import urllib.error
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame

_LOG = logging.getLogger("aprs2influxdb_spark")


def write_lines_http(
    lines: list[str], url: str, db: str, batch_size: int = 5000,
    max_retries: int = 3, backoff_s: float = 0.5,
    user: str | None = None, password: str | None = None,
) -> int:
    """POST lines to InfluxDB /write in batches with retry; returns
    number of lines written.  Raises after exhausting retries (the
    stream then replays the micro-batch — at-least-once, idempotent).
    Credentials go as the 1.x API's u/p query parameters (what the
    reference's InfluxDBClient sends, :1081-1084)."""
    params = {"db": db}
    if user is not None:
        params["u"] = user
    if password is not None:
        params["p"] = password
    endpoint = f"{url.rstrip('/')}/write?" + urllib.parse.urlencode(params)

    def _post_chunk(chunk_lines: list[str]) -> int:
        """POST one chunk; returns lines written.  5xx/network retries
        with backoff; 4xx is PERMANENT (malformed line, bad db, auth) —
        retrying and then raising would wedge the stream in an infinite
        replay loop, and dropping the whole chunk would amplify one bad
        record into batch_size lost points, so bisect down to the
        single offending line and drop only it (log-and-drop per line —
        the reference's own behavior, :1063-1075)."""
        attempt = 0
        while True:
            try:
                req = urllib.request.Request(
                    endpoint, data="\n".join(chunk_lines).encode(),
                    headers={"Content-Type": "text/plain; charset=utf-8"},
                )
                with urllib.request.urlopen(req, timeout=30) as resp:
                    resp.read()
                return len(chunk_lines)
            except urllib.error.HTTPError as err:
                if 400 <= err.code < 500:
                    if len(chunk_lines) == 1:
                        logging.getLogger(__name__).warning(
                            "InfluxDB rejected line (%s): %r", err.code, chunk_lines[0][:200]
                        )
                        return 0
                    mid = len(chunk_lines) // 2
                    return _post_chunk(chunk_lines[:mid]) + _post_chunk(chunk_lines[mid:])
                attempt += 1
                if attempt > max_retries:
                    raise
                time.sleep(backoff_s * (2 ** (attempt - 1)))
            except (urllib.error.URLError, OSError):
                attempt += 1
                if attempt > max_retries:
                    raise
                time.sleep(backoff_s * (2 ** (attempt - 1)))

    written = 0
    for i in range(0, len(lines), batch_size):
        written += _post_chunk(lines[i : i + batch_size])
    return written


def write_partitions(
    df: DataFrame, url: str, db: str, batch_size: int = 5000,
    user: str | None = None, password: str | None = None,
) -> tuple[int, list]:
    """One Spark job over ``df``: every partition POSTs the non-null
    values of ``df``'s first column (``write_lines_http``) and hands
    back the non-null values of its second column, if it has one.
    Returns (lines written, those values); the driver never sees the
    lines."""

    def _part(rows):
        lines, back = [], []
        for r in rows:
            if r[0] is not None:
                lines.append(r[0])
            if len(r) > 1 and r[1] is not None:
                back.append(r[1])
        n = write_lines_http(lines, url, db, batch_size, user=user, password=password) if lines else 0
        yield n, back

    written, back = 0, []
    for n, part in df.rdd.mapPartitions(_part).collect():
        written += n
        back += part
    return written, back


def influxdb_sink(
    lines_df: DataFrame, checkpoint: str, url: str | None = None,
    db: str = "mydb", line_col: str = "line", batch_size: int = 5000,
    parity_dir: str | None = None, trigger_seconds: int | None = None,
    user: str | None = None, password: str | None = None,
    timestamp_col: str | None = None,
):
    """Start the streaming sink.  ``url=None`` selects parity mode
    (append lines as text files under ``parity_dir``).

    Delivery semantics: checkpointing gives at-least-once into the
    sink.  WITHOUT ``timestamp_col`` the lines carry no timestamp
    (reference parity, SURVEY §1.3 — InfluxDB assigns server receive
    time), so a replayed micro-batch writes NEW points: at-least-once,
    duplicates possible — strictly better than the reference's
    at-most-once, but not exactly-once.  WITH ``timestamp_col`` each
    line is stamped with that event's nanosecond timestamp, making
    replays upsert the identical point — effectively exactly-once.
    A content-hash tag ``h`` rides alongside: series identity is
    (measurement, tags, time) and ``format`` is the only reference
    tag, so two DIFFERENT packets sharing an ingest timestamp (one
    recv() burst is stamped in a tight loop) would otherwise silently
    last-write-wins each other.
    """
    if timestamp_col is not None:
        from pyspark.sql import functions as F

        line = F.col(line_col)
        first_space = F.instr(line, " ")
        tagged = F.concat(
            F.substr(line, F.lit(1), first_space - 1),
            F.lit(",h="),
            F.substring(F.md5(line), 1, 8),
            F.substr(line, first_space),
        )
        ns = (F.unix_micros(F.col(timestamp_col)) * 1000).cast("string")
        lines_df = lines_df.withColumn(line_col, F.concat(tagged, F.lit(" "), ns))

    if url is None:
        if parity_dir is None:
            raise ValueError("parity mode needs parity_dir")
        writer = (
            lines_df.select(line_col)
            .writeStream.format("text")
            .option("path", parity_dir)
            .option("checkpointLocation", checkpoint)
        )
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        written, _ = write_partitions(
            batch_df.select(line_col), url, db, batch_size, user, password
        )
        _LOG.debug("batch %d: %d lines written", batch_id, written)

    writer = lines_df.writeStream.foreachBatch(_write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def influxdb_sink_broadcast_calibrated(
    packets_df: DataFrame, checkpoint: str, url: str, db: str = "mydb",
    batch_size: int = 5000, trigger_seconds: int | None = None,
    user: str | None = None, password: str | None = None,
):
    """The daemon's sink (``cli.start``): the PACKET stream arrives
    uncalibrated; each micro-batch joins the driver-held compacted
    equations dim (broadcast), renders line protocol, and POSTs — no
    keyed state operator, no state store.

    Why broadcast: the calibration state is ~9k keys × ≤15 doubles,
    broadcast-sized by orders of magnitude, and keyed state would pay a
    per-key shuffle and an Arrow state round-trip for it (the round-8
    1M-frame soak A/B: 4,475 rows/s here against 2,683 for
    ``applyInPandasWithState`` and 2,579 for ``transformWithState``,
    BASELINE.md round 8).  A key space too large to broadcast (tens of
    millions of senders) or strict WITHIN-batch equation application
    would need keyed state; the registry's ``streaming_asof_*``
    entries keep that form.

    One pass per batch: the un-persisted batch is joined to the dim
    (whose equations are parsed already), projected once to ``line``
    and the equation rows (``BroadcastCalibrator.lines``), and written
    by one partition function that POSTs the lines and returns the
    equation rows; after that job succeeds the driver folds them into
    the dim (``BroadcastCalibrator.fold``).  Two Spark jobs per data
    batch: the dim's broadcast and the write.  Nothing the plan needs
    is rebuilt per batch unless it changed: the serializer's Columns
    are memoized per SparkContext (each batch arrives in a new session
    wrapper, see ``functions.plancache``), and the calibrator keeps its
    dim frame until an absorbed equation differs from the stored one.
    Equations still take effect from the next batch on."""
    from aprs2influxdb_spark.streaming.calibration import BroadcastCalibrator

    calib = BroadcastCalibrator(packets_df.sparkSession)

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        written, eqns = write_partitions(
            calib.lines(batch_df), url, db, batch_size, user, password
        )
        calib.fold(eqns)
        _LOG.debug("batch %d: %d lines written", batch_id, written)

    writer = packets_df.writeStream.foreachBatch(_write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
