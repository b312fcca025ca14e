"""Streaming calibration (SURVEY.md §2.6 J1/J2, streaming form).

The reference's ``telemetryDictionary`` is per-callsign last-write-wins
state consulted at packet arrival (:115, :993).  The daemon's form is
:class:`BroadcastCalibrator`: a driver-held compacted equations dim
(one row per sender, ≤ 15 doubles) broadcast-joined onto each
micro-batch inside the sink's ``foreachBatch``.  It

- absorbs ``telemetry-message`` rows' equations (J2) and emits nothing
  for them (:1058 no-emit guard),
- scales every data row by the equations in effect at batch start
  (J1); a sender without equations gets null eqns, which the
  serializer's ``coalesce`` turns into identity (a=0, b=1, c=0,
  :117-125).

Keyed-state as-of calibration (``applyInPandasWithState`` and
``transformWithState``) lives in the registry's ``streaming_asof_*``
entries (``streaming.bounded``), oracle-gated there.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from aprs2influxdb_spark.schema import PACKET_SCHEMA

# :meth:`BroadcastCalibrator.apply`'s output = full packet schema +
# effective eqns as JSON (telemetry-message rows are absorbed, so
# tEQNS is all-null downstream)
OUTPUT_SCHEMA = StructType(
    list(PACKET_SCHEMA.fields) + [StructField("eqns_json", StringType(), True)]
)
_OUT_COLS = [f.name for f in OUTPUT_SCHEMA.fields]


class BroadcastCalibrator:
    """The daemon's calibration: a driver-held compacted equations dim,
    broadcast-joined onto the data rows inside ``foreachBatch`` — no
    keyed state operator, no state-store shuffle.  The natural fit when
    the key space is small (the reference's world: thousands of
    callsigns, ≤15 doubles each).

    Semantics note (the documented divergence from the batch as-of
    window): equations take effect at the NEXT micro-batch — the dim
    is applied as-of batch START, then updated from the batch's
    telemetry-message rows (last-write-wins in the batch-window as-of
    order).  Across batches the two agree; the reference's own
    granularity is coarser still (its dictionary applies at whatever
    packet arrives after the eqns message).

    One join, one fold: :meth:`lines` (the sink's single pass) and
    :meth:`apply` (the calibrated rows as a frame) both left-broadcast-
    join the batch to the dim, and both hand the batch's equation rows
    to :meth:`fold`, which compacts them on the driver.  The sink folds
    only after its write job succeeded, so a failed batch leaves the
    dim as it was for the replay.

    Dim reuse: the dim's Spark frame is kept across batches and rebuilt
    only before the first batch that follows an absorbed equation that
    differs from the stored one.  So the reuse pays only after batches
    with no new or changed EQNS; a batch carrying a sender's first or a
    changed EQNS costs a rebuild before the next batch.  The frame
    carries the equations both as ``eqns_json`` and already parsed as
    ``eqns_effective``, so no batch parses JSON.  The rows cross to the
    JVM from pandas through Arrow instead of being pickled from a
    Python list (9k rows, 4 cores, warm: a broadcast join against it
    takes 0.31-0.35 s against 0.70-0.74 s).  Spark's ``from_json``
    parses them once per rebuild: it reads back the ``"NaN"`` and
    ``"Infinity"`` that ``to_json`` writes for non-finite coefficients,
    which Python's ``json`` and Arrow's pandas conversion (NaN -> null)
    would not.

    Scale boundary: the dim must stay broadcast-sized (O(#keys) — at
    ~9k keys it is ~1 MB)."""

    EQNS_COL = "eqns_effective"

    def __init__(self, spark) -> None:
        self._spark = spark
        self._dim: dict[str, str] = {}
        self._dim_df: DataFrame | None = None  # None: stale, rebuild on use

    def _joined(self, batch_df: DataFrame) -> DataFrame:
        """``batch_df`` left-joined to the dim as of batch start
        (broadcast), adding ``eqns_json`` and ``eqns_effective``."""
        from pyspark.sql import functions as F

        if self._dim_df is None:
            dim = self._spark.createDataFrame(
                pd.DataFrame({"from_call": list(self._dim), "eqns_json": list(self._dim.values())}),
                "from_call string, eqns_json string",
            ).withColumn(self.EQNS_COL, F.from_json("eqns_json", "array<array<double>>"))
            # parsed here, once: kept as a local relation of the parsed
            # rows, so the optimizer of each batch does not re-parse them
            jdf = dim._jdf
            self._dim_df = DataFrame(
                self._spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()),
                self._spark,
            )
        return batch_df.join(F.broadcast(self._dim_df), "from_call", "left")

    @staticmethod
    def _eqns_row() -> tuple:
        """(predicate, value) of the rows :meth:`fold` takes: a
        telemetry-message carrying equations, as (from_call, ingest_ts
        in µs, raw, ``to_json(tEQNS)``)."""
        from pyspark.sql import functions as F

        return (
            (F.col("format") == "telemetry-message") & F.col("tEQNS").isNotNull(),
            F.struct(
                "from_call",
                F.unix_micros("ingest_ts").alias("ts"),
                "raw",
                F.to_json("tEQNS").alias("eqns_json"),
            ),
        )

    def lines(self, batch_df: DataFrame) -> DataFrame:
        """The sink's one projection over the joined batch: ``line``,
        the serializer's output (``projections._serializer``, the same
        memoized Columns ``to_line_protocol`` uses), null where nothing
        is written (unknown format, telemetry-message, malformed); and
        ``eqns``, the :meth:`fold` row of each equation row, else null."""
        from pyspark.sql import functions as F

        from aprs2influxdb_spark.operators.projections import _serializer

        _, well_formed, fields, _, line = _serializer(self._spark, self.EQNS_COL)
        is_eqns, eqns = self._eqns_row()
        return self._joined(batch_df).select("*", *fields).select(
            F.when(well_formed, line).alias("line"),
            F.when(is_eqns, eqns).alias("eqns"),
        )

    def fold(self, rows) -> None:
        """Absorb equation rows (from_call, ts, raw, eqns_json) into the
        dim: per sender the last by (ts, raw) wins — the batch window's
        as-of order, nulls first as in Spark's ordering — and a winner
        without equations (None, ``"[]"``) changes nothing.  The dim
        frame goes stale only when a stored equation really changes."""
        last: dict[str, tuple] = {}
        for call, ts, raw, eqns_json in rows:
            key = (ts is not None, ts or 0, raw is not None, raw or "")
            if call not in last or key > last[call][0]:
                last[call] = (key, eqns_json)
        for call, (_, eqns_json) in last.items():
            if eqns_json not in (None, "[]") and self._dim.get(call) != eqns_json:
                self._dim[call] = eqns_json
                self._dim_df = None

    def apply(self, batch_df: DataFrame, batch_id: int = 0) -> DataFrame:
        """The batch's data rows with the equations in effect at batch
        start as ``eqns_json`` (packet schema + ``eqns_json``); the
        batch's equation rows are folded into the dim (one collect of
        just those rows), so they apply from the next batch on."""
        from pyspark.sql import functions as F

        out = self._joined(
            batch_df.filter(F.col("format") != "telemetry-message")
        ).select(*_OUT_COLS)
        is_eqns, eqns = self._eqns_row()
        self.fold(r[0] for r in batch_df.filter(is_eqns).select(eqns).collect())
        return out
