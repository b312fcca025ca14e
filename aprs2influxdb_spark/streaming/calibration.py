"""Streaming calibration state (SURVEY.md §2.6 J1/J2, streaming form).

The reference's ``telemetryDictionary`` is per-callsign last-write-wins
state consulted at packet arrival (:115, :993).  Streaming twin: a
keyed stateful operator (``applyInPandasWithState`` keyed by
``from_call``) that

- upserts state from ``telemetry-message`` rows (J2) and emits nothing
  for them (:1058 no-emit guard),
- emits every data row with the equations in effect at its arrival
  (J1), identity semantics preserved by emitting null eqns (downstream
  ``coalesce`` applies a=0, b=1, c=0, :117-125).

Rows inside a micro-batch are processed in ``ingest_ts`` order per key
— the engine's deterministic refinement of the reference's single-
thread arrival order (SURVEY §3.2 divergence note).

Scale: state per key is ≤ 15 doubles (+pickle overhead) — O(#callsigns)
total, far under RocksDB comfort at any packet volume.  The shuffle is
hash(from_call), the same key the batch window uses.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StringType, StructField, StructType

from aprs2influxdb_spark.schema import PACKET_SCHEMA

STATE_SCHEMA = StructType([StructField("eqns_json", StringType(), True)])

# output = full packet schema + effective eqns as JSON (telemetry-
# message rows are absorbed, so tEQNS is all-null downstream)
OUTPUT_SCHEMA = StructType(
    list(PACKET_SCHEMA.fields) + [StructField("eqns_json", StringType(), True)]
)
_OUT_COLS = [f.name for f in OUTPUT_SCHEMA.fields]


def _apply_group_pdf(
    pdf: pd.DataFrame, eqns_json: str | None
) -> tuple[list[dict[str, Any]], str | None]:
    """Shared per-group body of the two keyed-state strategies: order
    the micro-batch's rows, absorb telemetry-message equations into
    the carried state, emit data rows with the equations in effect at
    their arrival.  Returns (emitted rows, new state)."""
    # same deterministic tie-break as the batch as-of window
    # (operators/calibration.py): equation rows before data rows on
    # equal timestamps, then raw — batch and streaming must agree
    pdf = pdf.copy()
    pdf["__eqn_first"] = (pdf["format"] != "telemetry-message").astype(int)
    pdf = pdf.sort_values(["ingest_ts", "__eqn_first", "raw"], kind="stable").drop(
        columns="__eqn_first"
    )
    out_rows: list[dict[str, Any]] = []
    for _, row in pdf.iterrows():
        teqns = row.get("tEQNS")
        if row["format"] == "telemetry-message":
            if teqns is not None and len(teqns) > 0:
                eqns_json = json.dumps([list(ch) for ch in teqns])
            continue  # no emit (:1058)
        out = {c: row.get(c) for c in _OUT_COLS if c != "eqns_json"}
        out["eqns_json"] = eqns_json
        out_rows.append(out)
    return out_rows, eqns_json


def _calibrate_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    eqns_json: str | None = state.get[0] if state.exists else None
    # a key's rows arrive as MULTIPLE Arrow chunks (split at
    # maxRecordsPerBatch); sorting per chunk would let an equation row
    # in a later chunk time-travel behind data rows of an earlier one —
    # concatenate first, then order the whole group.  Per-key state is
    # tiny; the hottest sender's micro-batch rows bound this concat.
    chunks = list(pdfs)
    if not chunks:  # timeout invocation — no rows for this key
        state.update((eqns_json,))
        return
    pdf = pd.concat(chunks, ignore_index=True)
    out_rows, eqns_json = _apply_group_pdf(pdf, eqns_json)
    if out_rows:
        yield pd.DataFrame(out_rows, columns=_OUT_COLS)
    state.update((eqns_json,))


def with_streaming_calibration(packets: DataFrame) -> DataFrame:
    """Attach as-of calibration to a packet stream; telemetry-message
    rows are absorbed into state and emit nothing.

    Output matches the packet schema (minus nested cols Arrow-
    transfers poorly in state ops) plus ``eqns_json``; parse with
    ``from_json(eqns_json, 'array<array<double>>')`` to feed the
    serializer's ``eqns`` argument.
    """
    return (
        packets.groupBy("from_call")
        .applyInPandasWithState(
            _calibrate_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def with_streaming_calibration_tws(packets: DataFrame) -> DataFrame:
    """:func:`with_streaming_calibration` on ``transformWithState``
    (Spark 4's successor stateful API, RocksDB-backed typed state):
    identical per-group semantics via the shared
    :func:`_apply_group_pdf` body — one of the three strategies the
    round-8 soak A/B measures (tools/soak.py --strategy tws).
    Requires ``google.protobuf`` (see ``bounded.tws_available``)."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _CalibProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._eqns = handle.getValueState("eqns", "eqns_json string")

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            got = self._eqns.get()
            eqns_json = got[0] if got is not None else None
            chunks = list(rows)
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            out_rows, eqns_json = _apply_group_pdf(pdf, eqns_json)
            if eqns_json is not None:
                self._eqns.update((eqns_json,))
            if out_rows:
                yield pd.DataFrame(out_rows, columns=_OUT_COLS)

        def close(self) -> None:
            pass

    return packets.groupBy("from_call").transformWithStateInPandas(
        _CalibProcessor(), OUTPUT_SCHEMA, "Append", "none"
    )


class BroadcastCalibrator:
    """The third strategy: a driver-held compacted equations dim,
    broadcast-joined onto the data rows inside ``foreachBatch`` — no
    keyed state operator, no state-store shuffle.  The natural fit when
    the key space is small (the reference's world: thousands of
    callsigns, ≤15 doubles each).

    Semantics note (the documented divergence from the keyed-state
    strategies): equations take effect at the NEXT micro-batch — the
    dim is applied as-of batch START, then updated from the batch's
    telemetry-message rows (last-write-wins in the batch-window
    as-of order).  Within-batch application would need the keyed
    operators above; across batches all three strategies agree.

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
    ~9k keys it is ~1 MB).  A key space that outgrows broadcast is
    exactly when the keyed-state strategies win; tools/soak.py
    measures the crossover's other side."""

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
