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

    Dim reuse: the dim's Spark frame is kept across batches and rebuilt
    only before the first batch that follows an absorbed equation that
    differs from the stored one.  So the reuse pays only after batches
    with no new or changed EQNS; a batch carrying a sender's first or a
    changed EQNS costs a rebuild before the next batch.  The frame is
    built from pandas: the rows cross to the JVM through Arrow as a
    local relation, where a Python list is pickled into an RDD (9k rows,
    4 cores, warm: a broadcast join against it takes 0.31-0.35 s
    against 0.70-0.74 s).

    Scale boundary: the dim must stay broadcast-sized (O(#keys) — at
    ~9k keys it is ~1 MB).  A key space that outgrows broadcast is
    exactly when the keyed-state strategies win; tools/soak.py
    measures the crossover's other side."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._dim: dict[str, str] = {}
        self._dim_df: DataFrame | None = None  # None: stale, rebuild on use

    def apply(self, batch_df: DataFrame, batch_id: int = 0) -> DataFrame:
        from pyspark.sql import functions as F

        # 1. data rows join the dim as of batch start (broadcast)
        if self._dim_df is None:
            self._dim_df = self._spark.createDataFrame(
                pd.DataFrame(list(self._dim.items()), columns=["from_call", "eqns_json"]),
                "from_call string, eqns_json string",
            )
        out = (
            batch_df.filter(F.col("format") != "telemetry-message")
            .join(F.broadcast(self._dim_df), "from_call", "left")
            .select(*_OUT_COLS)
        )
        # 2. refresh the dim from the batch's equation rows: tiny
        # (O(#senders with new equations)), compacted by the same
        # (ingest_ts, raw) as-of order the batch window uses
        upd = (
            batch_df.filter(
                (F.col("format") == "telemetry-message") & F.col("tEQNS").isNotNull()
            )
            .groupBy("from_call")
            .agg(
                F.max_by(
                    F.to_json("tEQNS"), F.struct("ingest_ts", "raw")
                ).alias("eqns_json")
            )
            .collect()
        )
        for r in upd:
            eqns_json = r["eqns_json"]
            if eqns_json not in (None, "[]") and self._dim.get(r["from_call"]) != eqns_json:
                self._dim[r["from_call"]] = eqns_json
                self._dim_df = None
        return out
