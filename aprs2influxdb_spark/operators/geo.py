"""Spatial bucketed joins — the geohash/grid-cell LSH family.

The reference's domain is POSITION reports (lat/lon on every
uncompressed/mic-e/object/compressed packet, `__main__.py:248,:351,
:454,:642`); "who is near whom" is the canonical downstream query on
that data.  The operator here is the scalable shape of that query: a
radius self-join resolved through integer grid cells — the spatial
analog of the SRP/PAA bucket joins used everywhere else in this
engine (candidates = same or adjacent cell, never all pairs).

Determinism design: coordinates and the candidate FILTER are pure
int64 (microdegree deltas, squared), so the PAIR SET is bit-exact
across engines; the reported haversine distance is float trig,
rounded 4dp (the ln/sin house convention: a 1-ulp libm divergence is
absorbed by the rounding at anything but astronomically unlucky
values, and the fixed test data makes that a one-time check, not a
per-run gamble).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aprs2influxdb_spark.functions.hashing import portable_hash64, portable_hash64_sql
from aprs2influxdb_spark.functions.rounding import rhu, rhu_sql

MICRO = 1_000_000           # microdegrees per degree
CELL_MICRO = 300_000        # 0.3° grid cell == the join radius
TARGET_DENSITY = 15.0       # synthetic points per square degree
EARTH_KM = 6371.0088


def span_deg_for(n: int, density: float = TARGET_DENSITY) -> int:
    """Coverage span (whole degrees) for ``n`` synthetic points at
    constant density — ``ceil(sqrt(n/density))``, the scale-aware knob
    pattern (cf. srp_planes_for): a growing position corpus covers
    more area/time, it does not densify one fixed square, so the
    radius join's per-point candidate count — and hence total cost —
    stays LINEAR in n.  (Measured before this derivation: 33.7× on
    10× rows at fixed span, the density trap.)  Both engines compute
    the identical ceil-sqrt: IEEE sqrt is correctly rounded."""
    import math

    return max(1, math.ceil(math.sqrt(n / density)))


def synth_positions(df: DataFrame, key_col: str, span_deg: int | None = None) -> DataFrame:
    """Deterministic synthetic positions for a key column: lat/lon
    microdegrees in [0, span_deg)° derived from portable hashes, span
    scale-derived via :func:`span_deg_for` over the (memoized) corpus
    count when not given — the stand-in for the packet table's real
    lat/lon at the oracle gate (the operator itself never cares where
    the coordinates came from)."""
    from aprs2influxdb_spark.functions.plancache import corpus_count

    if span_deg is None:
        span_deg = span_deg_for(corpus_count(df))
    span = span_deg * MICRO
    lat = F.pmod(portable_hash64(F.concat(F.lit("lat_"), F.col(key_col).cast("string"))), F.lit(span))
    lon = F.pmod(portable_hash64(F.concat(F.lit("lon_"), F.col(key_col).cast("string"))), F.lit(span))
    return df.select(F.col(key_col).alias("pid"), lat.alias("lat_u"), lon.alias("lon_u"))


def geo_cell_pairs(
    points: DataFrame, span_deg: int, radius_micro: int = CELL_MICRO,
) -> DataFrame:
    """All point pairs within ``radius_micro`` microdegrees (planar),

    ``span_deg`` is REQUIRED (round-5 advice): it must equal the span
    the points were generated/observed under — a stale default would
    under-size the packed-cell stride, silently landing the 3×3 probe
    offsets on wrong cell ids and dropping true within-radius pairs.

    via grid-cell candidate buckets: one side expands to its 3×3 cell
    neighborhood, the other keeps its home cell, so every qualifying
    pair is generated EXACTLY once under the ``pid_a < pid_b`` filter
    (cell size == radius guarantees no pair spans further than one
    cell).  The exact filter is integer squared distance; haversine km
    is reported for the survivors only.

    Scale shape: the join keys on the packed cell id — candidate
    volume is Σ per-cell (9·n_cell·n̄), never n²; the 9× fan-out rides
    the small exploded side of a shuffle keyed by cell.  This is the
    geohash-prefix join every spatial engine runs, minus the base-32
    costume."""
    ncell = span_deg * MICRO // CELL_MICRO + 2  # +2: probe cells may sit 1 off-grid
    cell = (
        (F.col("lat_u") / CELL_MICRO).cast("long") * ncell
        + (F.col("lon_u") / CELL_MICRO).cast("long")
    )
    home = points.select("pid", "lat_u", "lon_u", cell.alias("cell"))
    probes = home.select(
        F.col("pid"), "lat_u", "lon_u",
        F.explode(
            F.array(*[F.col("cell") + dy * ncell + dx for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
        ).alias("cell"),
    )
    a = probes.select(
        F.col("pid").alias("pid_a"), F.col("lat_u").alias("la"), F.col("lon_u").alias("lo_a"), "cell"
    )
    b = home.select(
        F.col("pid").alias("pid_b"), F.col("lat_u").alias("lb"), F.col("lon_u").alias("lo_b"), "cell"
    )
    d2 = (F.col("la") - F.col("lb")) * (F.col("la") - F.col("lb")) + (
        F.col("lo_a") - F.col("lo_b")
    ) * (F.col("lo_a") - F.col("lo_b"))
    rad = F.radians
    lat1, lat2 = rad(F.col("la") / MICRO), rad(F.col("lb") / MICRO)
    dlat, dlon = lat2 - lat1, rad(F.col("lo_b") / MICRO) - rad(F.col("lo_a") / MICRO)
    hav = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(lat1) * F.cos(lat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    dist_km = 2 * EARTH_KM * F.asin(F.sqrt(hav))
    return (
        a.join(b, "cell")
        .filter(F.col("pid_a") < F.col("pid_b"))
        .withColumn("d2", d2)
        .filter(F.col("d2") <= radius_micro * radius_micro)
        .select("pid_a", "pid_b", "d2", rhu(dist_km, 4).alias("dist_km"))
        .distinct()  # a pair straddling a cell corner is probed from ≤2 cells
    )


def geo_cell_pairs_sql(src_sql: str, radius_micro: int = CELL_MICRO) -> str:
    """DuckDB twin — ``src_sql`` must yield one key column ``k``.  The
    coverage span derives from ``count(*)`` in a params CTE exactly as
    :func:`span_deg_for` does (same ceil-sqrt), so the oracle tracks
    the scale-aware density knob at every sf."""
    lat_h = portable_hash64_sql("'lat_' || k::VARCHAR")
    lon_h = portable_hash64_sql("'lon_' || k::VARCHAR")
    lat = f"({lat_h}) % par.span_u"
    lon = f"({lon_h}) % par.span_u"
    hav = (
        f"2 * {EARTH_KM!r} * asin(sqrt("
        f"sin((radians(b.lat_u / {MICRO}.0) - radians(a.lat_u / {MICRO}.0)) / 2)"
        f" * sin((radians(b.lat_u / {MICRO}.0) - radians(a.lat_u / {MICRO}.0)) / 2)"
        f" + cos(radians(a.lat_u / {MICRO}.0)) * cos(radians(b.lat_u / {MICRO}.0))"
        f" * sin((radians(b.lon_u / {MICRO}.0) - radians(a.lon_u / {MICRO}.0)) / 2)"
        f" * sin((radians(b.lon_u / {MICRO}.0) - radians(a.lon_u / {MICRO}.0)) / 2)))"
    )
    return f"""
WITH src AS ({src_sql}),
par AS (
  SELECT greatest(1, CAST(ceil(sqrt(count(*) / {TARGET_DENSITY!r})) AS BIGINT)) * {MICRO} AS span_u,
         greatest(1, CAST(ceil(sqrt(count(*) / {TARGET_DENSITY!r})) AS BIGINT)) * {MICRO} // {CELL_MICRO} + 2 AS ncell
  FROM src
),
pts AS (
  SELECT k AS pid, {lat} AS lat_u, {lon} AS lon_u, par.ncell AS ncell FROM src, par
),
home AS (
  SELECT pid, lat_u, lon_u, ncell,
         (lat_u // {CELL_MICRO}) * ncell + (lon_u // {CELL_MICRO}) AS cell
  FROM pts
),
probes AS (
  SELECT pid, lat_u, lon_u, cell + dy * ncell + dx AS cell
  FROM home, range(-1, 2) y(dy), range(-1, 2) x(dx)
)
SELECT DISTINCT a.pid AS pid_a, b.pid AS pid_b,
       (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
         + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS d2,
       {rhu_sql(hav, 4)} AS dist_km
FROM probes a JOIN home b USING (cell)
WHERE a.pid < b.pid
  AND (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
      + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) <= {radius_micro * radius_micro}
"""
