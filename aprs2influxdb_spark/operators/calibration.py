"""Telemetry calibration state (SURVEY.md §2.6 J1/J2), batch form.

Reference semantics (``aprs2influxdb/__main__.py``): a process-global
``telemetryDictionary`` keyed by sender callsign; ``telemetry-message``
packets upsert their ``tEQNS`` (:993) and emit no row; data packets
look up the *latest previously received* equations (:115), defaulting
to identity a=0, b=1, c=0 (:117-125).

Batch re-expression: an **as-of self-enrichment** via window function —
``last(tEQNS) IGNORE NULLS OVER (PARTITION BY from_call ORDER BY
<arrival> ROWS UNBOUNDED PRECEDING AND CURRENT ROW)``.  Because tEQNS
is only non-null on telemetry-message rows (which themselves emit
nothing), including CURRENT ROW is equivalent to "latest prior".

Ordering note (SURVEY §3.2 / §7.4.2): the reference's order is
processing-time arrival in one thread; the engine defines it as
per-key order on an explicit ``order_col`` (event time or a
monotonic ingest id) — deterministic and testable.

Scale: the shuffle is ``hash(from_call)`` — the engine's only wide
dependency on the packet path.  State per key is 15 doubles, so skew
is bounded by the hottest callsign's row count; AQE skew-join/salting
is unnecessary because this is a window, not a join.  The daemon's
streaming form (``streaming.calibration.BroadcastCalibrator``) avoids
even that shuffle: it folds each batch's equations into a compacted
per-callsign dimension and broadcast-joins it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def with_effective_equations(
    packets: DataFrame,
    order_col: str = "ingest_ts",
    out_col: str = "eqns_effective",
) -> DataFrame:
    """J1: attach the as-of calibration array to every packet row.

    The result column is null for senders with no prior equations —
    the serializer / scaler coalesces to identity, preserving :117-125.

    Ties on ``order_col`` are broken deterministically: equation rows
    sort before data rows (a data packet sharing its timestamp with an
    equation update sees the NEW equations — the defined refinement of
    the reference's arrival order), and ``raw`` breaks any remaining
    tie so repeated runs and batch-vs-streaming agree.
    """
    eqn_first = F.when(F.col("tEQNS").isNotNull(), 0).otherwise(1)
    w = (
        Window.partitionBy("from_call")
        .orderBy(F.col(order_col).asc(), eqn_first.asc(), F.col("raw").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return packets.withColumn(out_col, F.last(F.col("tEQNS"), ignorenulls=True).over(w))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
    strict: bool = False,
) -> DataFrame:
    """General cross-table AS-OF join: enrich each left row with the
    ``payload`` columns of the latest right row whose ``right_ts`` is
    ``<=`` (or ``<`` with ``strict``) the left row's ``left_ts``, per
    ``key`` — pandas ``merge_asof`` / QuestDB-DuckDB ``ASOF JOIN``
    semantics, which Spark lacks natively.  ``with_effective_equations``
    is the self-table special case; this is the two-table form
    (quotes-to-trades, orders-to-events).

    Implementation is the union-window technique, not a join: tag both
    inputs, union them, and run ``last(payload) IGNORE NULLS`` over a
    (key, time, side) window — right rows sort before (after, if
    strict) left rows at equal timestamps, encoding the <=/< boundary
    in the sort instead of a range predicate.

    Scale shape: ONE shuffle of left+right together on the key, one
    in-partition sort — versus the naive range-join formulation whose
    time-window predicate explodes to a per-pair comparison.  Skew is
    bounded by the hottest key's combined row count (same profile as
    any window; salting does not apply because the window is the
    semantics).  Right rows should be pre-compacted to one per
    (key, ts) so equal-timestamp winners are deterministic.

    Preconditions enforced below: ``payload`` names must not collide
    with left's columns — the union would merge them and
    ``last(... ignore nulls)`` would silently treat left's own values
    as right-side payload — and neither side may already carry the
    ``_is_left`` tag."""
    collisions = set(payload) & set(left.columns)
    if collisions:
        raise ValueError(
            f"asof_join payload columns {sorted(collisions)} already exist "
            "on the left frame; rename them before joining (the union-"
            "window fill would silently read left's values as payload)"
        )
    if "_is_left" in left.columns or "_is_left" in right.columns:
        raise ValueError("asof_join inputs must not contain a column named '_is_left'")
    l_tag = left.withColumn("_is_left", F.lit(0 if strict else 1))
    r_tag = right.select(
        F.col(key), F.col(right_ts).alias(left_ts), *payload
    ).withColumn("_is_left", F.lit(1 if strict else 0))
    u = l_tag.unionByName(r_tag, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(left_ts).asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *[c for c in u.columns if c not in payload],
        *[F.last(p, ignorenulls=True).over(w).alias(p) for p in payload],
    )
    left_marker = 0 if strict else 1
    return filled.filter(F.col("_is_left") == left_marker).drop("_is_left")
