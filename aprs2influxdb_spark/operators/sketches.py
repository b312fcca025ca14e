"""Portable approximate-distinct sketches.

The reference engine exposes no sketches (aprs2influxdb __main__.py is
row-at-a-time serialization); these are part of the LLM-data-pipeline
surface.  Engine-native HLL (``F.approx_count_distinct``) remains the
production fast path (tested for error bounds in
tests/test_robustness.py), but its sketch is engine-specific so it can
never be oracle-checked.  The KMV (k-minimum-values / bottom-k) sketch
here is *cross-engine deterministic*: both Spark and DuckDB hash keys
through the shared md5-based :func:`portable_hash64`, keep the k
smallest distinct hash values per group, and apply the same IEEE-double
estimator — identical results bit-for-bit, so the driver's value-hash
gate passes while the semantics stay genuinely approximate
(error ~ 1/sqrt(k-2)).

Scale shape (100 TB): the ``row_number() <= k`` rank filter triggers
Spark's WindowGroupLimit pushdown (partial bottom-k per map task before
the shuffle), so each group moves at most k rows per input partition —
no per-group full sort materializes.  One shuffle for the distinct, one
for the window; the final groupBy reuses the window's hash partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aprs2influxdb_spark.functions.hashing import portable_hash64, portable_hash64_sql
from aprs2influxdb_spark.functions.partitioning import spread_for_compute
from aprs2influxdb_spark.functions.rounding import rhu

# portable_hash64 yields 15 hex chars = 60 bits; the KMV estimator
# normalizes the k-th smallest hash by this hash-space size.
HASH_SPACE = float(1 << 60)


def kmv_distinct(
    df: DataFrame,
    key_col: str = "user_id",
    group_cols: Sequence[str] = ("event_type",),
    k: int = 64,
    out_col: str = "approx_users",
) -> DataFrame:
    """Approximate distinct ``key_col`` per group via a bottom-k sketch.

    Estimator: with fewer than k distinct hashes the count is exact;
    otherwise ``floor((k-1) * 2^60 / kth_smallest_hash)``.  All
    arithmetic is IEEE-double in a fixed order, so DuckDB running
    :func:`kmv_distinct_sql` produces identical values.
    """
    groups = list(group_cols)
    h = portable_hash64(F.col(key_col).cast("string"))
    distinct = df.select(*groups, h.alias("h")).distinct()
    w = Window.partitionBy(*groups).orderBy(F.col("h").asc())
    bottom_k = distinct.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    est: Column = (
        F.when(F.count("*") < k, F.count("*"))
        .otherwise(
            F.floor(F.lit(float(k - 1)) * F.lit(HASH_SPACE) / F.max("h").cast("double")).cast("long")
        )
        .alias(out_col)
    )
    return bottom_k.groupBy(*groups).agg(est)


def kmv_distinct_sql(
    table: str = "events",
    key_expr: str = "user_id::VARCHAR",
    group_cols: Sequence[str] = ("event_type",),
    k: int = 64,
    out_col: str = "approx_users",
) -> str:
    """DuckDB twin of :func:`kmv_distinct` (same hash, same estimator)."""
    groups = ", ".join(group_cols)
    return f"""
WITH kmv_hashes AS (
  SELECT DISTINCT {groups}, {portable_hash64_sql(key_expr)} AS h
  FROM {table}
), kmv_ranked AS (
  SELECT {groups}, h,
         row_number() OVER (PARTITION BY {groups} ORDER BY h) AS rn
  FROM kmv_hashes
)
SELECT {groups},
       CASE WHEN count(*) < {k} THEN count(*)
            ELSE CAST(floor({float(k - 1)!r} * {HASH_SPACE!r} / CAST(max(h) AS DOUBLE)) AS BIGINT)
       END AS {out_col}
FROM kmv_ranked
WHERE rn <= {k}
GROUP BY {groups}
"""


def _hll_constants(p: int) -> tuple[int, float]:
    """(m, numerator) for the HLL estimate: numerator = α_m · m² ·
    2^51, computed ONCE in Python and embedded as the identical double
    literal in the Spark plan and the DuckDB oracle, so the single
    float division at the end uses the same operands on both
    engines."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    return m, alpha * m * m * float(1 << 51)


_LN2 = 0.6931471805599453  # shared literal: rho = floor(ln(lowbit)/LN2 + .5)


def hll_observations(df: DataFrame, key_col: str, p: int = 9) -> DataFrame:
    """Per-row HLL observations ``(idx, rho)`` — the pre-aggregation
    substrate shared by :func:`hll_portable` and the mergeability
    demo.  ``h div m`` MUST be integer arithmetic (a shift): float
    division of a 60-bit int64 loses low bits and corrupts the
    trailing-zero ranks."""
    m = 1 << p
    h = portable_hash64(F.col(key_col).cast("string"))
    rest = F.shiftright(h, p)
    lowbit = rest.bitwiseAND(-rest)
    rho = F.when(rest == 0, F.lit(51)).otherwise(
        F.least(
            F.lit(51),
            (F.floor(F.log(lowbit.cast("double")) / F.lit(_LN2) + F.lit(0.5)) + 1).cast("int"),
        )
    )
    return df.select(F.pmod(h, F.lit(m)).alias("idx"), rho.alias("rho"), "*")


def hll_portable(
    df: DataFrame, key_col: str, p: int = 9,
) -> DataFrame:
    """Register-array HyperLogLog with the portable md5 hash — the
    oracle-exact twin of Spark's native ``approx_count_distinct``.

    Determinism notes (why this hashes to the same value on Spark and
    DuckDB): bucket = h mod m and rest = h div m are int64; the rank
    is the trailing-zero count of ``rest`` via ``rest & −rest`` (the
    isolated lowest set bit, an exact power of two) with
    ``floor(ln(·)/ln2 + 0.5)`` absorbing any 1-ulp libm difference;
    ranks cap at 51 so every register term ``2^(51−M_j)`` is an exact
    int64 and their sum is ONE exact integer; the final division and
    the linear-counting ``m·ln(m/V)`` branch are single float ops on
    identical operands.  Returns one row: (m, v_zero, hll_est, exact,
    rel_err)."""
    m, num = _hll_constants(p)
    regs = (
        hll_observations(df, key_col, p)
        .groupBy("idx")
        .agg(F.max("rho").alias("mj"))
    )
    sketch = regs.agg(
        F.count("*").alias("n_present"),
        F.coalesce(F.sum(F.expr("CAST(power(2.0D, 51 - mj) AS BIGINT)")), F.lit(0).cast("long")).alias("s_present"),
    ).select(
        F.lit(m).alias("m"),
        (F.lit(m) - F.col("n_present")).alias("v_zero"),
        (F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(1 << 51)).alias("s_total"),
    )
    exact = df.agg(F.countDistinct(key_col).alias("exact"))
    est_raw = F.lit(num) / F.col("s_total")
    est = F.when(
        (est_raw <= 2.5 * m) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero")),
    ).otherwise(est_raw)
    return (
        sketch.crossJoin(F.broadcast(exact))
        .select(
            "m",
            "v_zero",
            rhu(est, 2).alias("hll_est"),
            "exact",
            # empty-corpus guard: exact=0 (est is 0 too) — ANSI mode
            # would otherwise make the report a DIVIDE_BY_ZERO crash
            F.when(F.col("exact") == 0, F.lit(0.0))
            .otherwise(rhu(F.abs(est - F.col("exact")) / F.col("exact"), 4))
            .alias("rel_err"),
        )
    )


def hll_merge_demo(
    df: DataFrame, key_col: str, group_col: str, p: int = 9,
) -> DataFrame:
    """Sketch MERGEABILITY, the property that makes HLL the 100 TB
    distinct-count tool: per-group register arrays combine by
    elementwise max into exactly the sketch a single global pass
    builds — so shards/partitions/days can be sketched independently
    and unioned later.  This entry computes the global estimate BOTH
    ways (direct, and per-``group_col`` sketches merged) and emits
    them side by side with the group count; the oracle reproduces
    both, and ``tests`` pin direct == merged."""
    m, num = _hll_constants(p)
    obs = hll_observations(df, key_col, p).localCheckpoint(eager=False)
    direct = obs.groupBy("idx").agg(F.max("rho").alias("mj"))
    grouped = (
        obs.groupBy(group_col, "idx").agg(F.max("rho").alias("gmj"))
    ).localCheckpoint(eager=False)  # feeds the merge AND the group count
    ng = grouped.agg(F.countDistinct(group_col).cast("int").alias("n_groups"))
    merged = grouped.groupBy("idx").agg(F.max("gmj").alias("mj"))

    def est(regs: DataFrame):
        sk = regs.agg(
            F.count("*").alias("np"),
            F.coalesce(F.sum(F.expr("CAST(power(2.0D, 51 - mj) AS BIGINT)")), F.lit(0).cast("long")).alias("sp"),
        ).select(
            (F.lit(m) - F.col("np")).alias("vz"),
            (F.col("sp") + (F.lit(m) - F.col("np")) * F.lit(1 << 51)).alias("st"),
        )
        raw = F.lit(num) / F.col("st")
        e = F.when(
            (raw <= 2.5 * m) & (F.col("vz") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("vz")),
        ).otherwise(raw)
        return sk.select(rhu(e, 2).alias("e"))

    d = est(direct).select(F.col("e").alias("direct_est"))
    g = est(merged).select(F.col("e").alias("merged_est"))
    return (
        d.crossJoin(g).crossJoin(F.broadcast(ng))
        .select(
            F.lit(m).alias("m"),
            "n_groups",
            "direct_est",
            "merged_est",
            (F.col("direct_est") == F.col("merged_est")).alias("merge_exact"),
        )
    )


def hll_merge_demo_sql(src_sql: str, p: int = 9) -> str:
    """DuckDB twin of :func:`hll_merge_demo` — ``src_sql`` must yield
    columns ``k`` and ``g``."""
    m, num = _hll_constants(p)
    h = portable_hash64_sql("k::VARCHAR")
    est_raw = f"({num!r} / st)"
    est = (
        f"CASE WHEN {est_raw} <= {2.5 * m} AND vz > 0 "
        f"THEN {float(m)!r} * ln({float(m)!r} / vz) ELSE {est_raw} END"
    )

    def fin(regs: str, alias: str) -> str:
        return f"""{alias}_s AS (
  SELECT count(*) AS np,
         CAST(coalesce(sum(CAST(power(2.0, 51 - mj) AS BIGINT)), 0) AS BIGINT) AS sp
  FROM {regs}
), {alias}_a AS (
  SELECT ({m} - np) AS vz, sp + ({m} - np) * {1 << 51} AS st FROM {alias}_s
), {alias}_e AS (
  SELECT (floor(({est}) * 100 + 0.5) / 100.0) AS e FROM {alias}_a
)"""

    return f"""
WITH src AS ({src_sql}),
hb AS (
  SELECT g, ({h}) % {m} AS idx,
         CASE WHEN ({h}) // {m} = 0 THEN 51
              ELSE least(51, CAST(floor(ln((({h}) // {m}) & (-(({h}) // {m}))) / {_LN2!r} + 0.5) AS INT) + 1)
              END AS rho
  FROM src
),
direct AS (SELECT idx, max(rho) AS mj FROM hb GROUP BY idx),
grouped AS (SELECT g, idx, max(rho) AS gmj FROM hb GROUP BY g, idx),
ng AS (SELECT count(DISTINCT g) AS n_groups FROM grouped),
merged AS (SELECT idx, max(gmj) AS mj FROM grouped GROUP BY idx),
{fin('direct', 'd')},
{fin('merged', 'mm')}
SELECT {m} AS m, CAST(n_groups AS INT) AS n_groups,
       d_e.e AS direct_est, mm_e.e AS merged_est,
       d_e.e = mm_e.e AS merge_exact
FROM d_e, mm_e, ng
"""


def hll_portable_sql(src_sql: str, p: int = 9) -> str:
    """DuckDB twin of :func:`hll_portable` — ``src_sql`` must yield
    one column ``k``."""
    m, num = _hll_constants(p)
    h = portable_hash64_sql("k::VARCHAR")
    est_raw = f"({num!r} / s_total)"
    est = (
        f"CASE WHEN {est_raw} <= {2.5 * m} AND v_zero > 0 "
        f"THEN {float(m)!r} * ln({float(m)!r} / v_zero) ELSE {est_raw} END"
    )
    return f"""
WITH src AS ({src_sql}),
hb AS (
  SELECT ({h}) % {m} AS idx, ({h}) // {m} AS rest FROM src
),
r AS (
  SELECT idx,
         max(CASE WHEN rest = 0 THEN 51
             ELSE least(51, CAST(floor(ln(rest & (-rest)) / {_LN2!r} + 0.5) AS INT) + 1)
             END) AS mj
  FROM hb GROUP BY idx
),
s AS (
  SELECT count(*) AS n_present,
         CAST(coalesce(sum(CAST(power(2.0, 51 - mj) AS BIGINT)), 0) AS BIGINT) AS s_present
  FROM r
),
agg AS (
  SELECT {m} AS m, ({m} - n_present) AS v_zero,
         s_present + ({m} - n_present) * {1 << 51} AS s_total
  FROM s
),
ex AS (SELECT count(DISTINCT k) AS exact FROM src)
SELECT m, v_zero,
       (floor(({est}) * 100 + 0.5) / 100.0) AS hll_est,
       CAST(exact AS BIGINT) AS exact,
       -- empty-corpus guard, mirroring the Spark side: exact=0 would
       -- otherwise divide by zero here while Spark emits 0.0
       CASE WHEN exact = 0 THEN 0.0
            ELSE (floor((abs(({est}) - exact) / exact) * 10000 + 0.5) / 10000.0)
       END AS rel_err
FROM agg, ex
"""


def sampled_percentiles(
    df: DataFrame,
    value_col: str = "value",
    key_col: str = "event_id",
    group_cols: Sequence[str] = ("event_type",),
    k: int = 256,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Approximate per-group percentiles from a DETERMINISTIC uniform
    sample: the bottom-``k`` rows by portable hash of the (unique) row
    key form the sample — reproducible across runs, engines, and
    retries, unlike ``rand()``- or t-digest-based sketches — and each
    requested quantile is the exact lower-rank order statistic of the
    sampled values (no interpolation arithmetic, so the emitted value
    is a REAL data point both engines select identically).

    Scale shape: identical to :func:`kmv_distinct` — the rank filter
    triggers WindowGroupLimit partial bottom-k per map task, so at
    most k rows per group per input partition cross the wire; the
    per-group sample (≤ k doubles) then aggregates in one pass.
    Sampling error ~ O(1/sqrt(k)) on quantile rank."""
    groups = list(group_cols)
    h = portable_hash64(F.col(key_col).cast("string"))
    w = Window.partitionBy(*groups).orderBy(F.col("h").asc())
    sampled = (
        df.select(*groups, F.col(value_col).alias("v"), h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )
    agg = sampled.groupBy(*groups).agg(
        F.sort_array(F.collect_list("v")).alias("vals"),
        F.count("*").alias("n_sample"),
    )
    cols = [F.col(c) for c in groups] + [F.col("n_sample")]
    for p in probs:
        idx = (F.floor((F.col("n_sample") - 1) * F.lit(p)).cast("int") + 1)
        cols.append(F.element_at("vals", idx).alias(f"p{int(p * 100)}"))
    return agg.select(*cols)


def sampled_percentiles_sql(
    table: str = "events",
    value_col: str = "value",
    key_expr: str = "event_id::VARCHAR",
    group_cols: Sequence[str] = ("event_type",),
    k: int = 256,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB twin of :func:`sampled_percentiles` (same hash-sample,
    same order statistics)."""
    groups = ", ".join(group_cols)
    picks = ",\n       ".join(
        f"vals[CAST(floor((n_sample - 1) * {p}) AS INT) + 1] AS p{int(p * 100)}"
        for p in probs
    )
    return f"""
WITH hashed AS (
  SELECT {groups}, {value_col} AS v, {portable_hash64_sql(key_expr)} AS h
  FROM {table}
), ranked AS (
  SELECT {groups}, v,
         row_number() OVER (PARTITION BY {groups} ORDER BY h) AS rn
  FROM hashed
), agg AS (
  SELECT {groups}, list(v ORDER BY v) AS vals, count(*) AS n_sample
  FROM ranked WHERE rn <= {k} GROUP BY {groups}
)
SELECT {groups}, n_sample,
       {picks}
FROM agg
"""


# count-min sketch geometry, shared with the oracle SQL
CMS_DEPTH = 4
CMS_WIDTH = 1024


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str = "user_id",
    top_n: int = 20,
) -> DataFrame:
    """Count-min-sketch frequency estimates (Cormode & Muthukrishnan,
    J.Alg 2005) for the exact top-``top_n`` heavy-hitter keys, reported
    beside their true counts — the sketch-accuracy report that sizes a
    production CMS (est >= exact always; inflation = collision mass at
    this depth×width).

    Cross-engine exactness: bucket hashes go through the shared
    md5-based :func:`portable_hash64` (row-salted ``'cms<d>#' || key``)
    and every counter is integer addition — both engines build the
    bit-identical sketch, so even the *approximation* is value-exact
    under the driver's gate while remaining a genuine CMS (collisions
    and all).

    Scale shape: counters aggregate from the per-key count table, NOT
    raw rows (CMS is additive, so pre-combining by key first is
    lossless); the sketch is depth×width = 4096 cells — broadcast to
    the candidates join.  Two shuffles total: the per-key count
    groupBy, then the 4096-cell aggregate; candidate ranking reuses
    the per-key table with a WindowGroupLimit top-n."""
    per_key = (
        df.select(F.col(key_col).cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("exact_n"))
        .localCheckpoint(eager=False)
    )

    def bucket(d: int) -> Column:
        return F.pmod(
            portable_hash64(F.concat(F.lit(f"cms{d}#"), F.col("k"))), F.lit(CMS_WIDTH)
        )

    cells = (
        per_key.select(
            F.col("exact_n"),
            F.explode(
                F.array(*[
                    F.struct(F.lit(d).alias("d"), bucket(d).alias("b"))
                    for d in range(CMS_DEPTH)
                ])
            ).alias("x"),
        )
        .groupBy("x.d", "x.b")
        .agg(F.sum("exact_n").alias("counter"))
    )
    w = Window.orderBy(F.col("exact_n").desc(), F.col("k").asc())
    cand = (
        per_key.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select("k", "exact_n", "rk")
    )
    probes = cand.select(
        "k", "exact_n", "rk",
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("d"), bucket(d).alias("b"))
                for d in range(CMS_DEPTH)
            ])
        ).alias("x"),
    ).select("k", "exact_n", "rk", "x.d", "x.b")
    return (
        probes.join(cells, ["d", "b"])
        .groupBy("k", "exact_n", "rk")
        .agg(F.min("counter").alias("cms_est"))
        .select(
            F.col("k").alias(key_col), "rk", "exact_n", "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("inflation"),
        )
    )


def cms_heavy_hitters_sql(
    table: str = "events", key_col: str = "user_id", top_n: int = 20,
) -> str:
    """DuckDB twin of :func:`cms_heavy_hitters`."""
    bsql = [
        "(" + portable_hash64_sql("'cms%d#' || k" % d) + ") %% %d" % CMS_WIDTH
        for d in range(CMS_DEPTH)
    ]
    bsql = [s.replace("%%", "%") for s in bsql]
    probes = " UNION ALL ".join(
        f"SELECT k, exact_n, rk, {d} AS d, {bsql[d]} AS b FROM cand"
        for d in range(CMS_DEPTH)
    )
    cells = " UNION ALL ".join(
        f"SELECT {d} AS d, {bsql[d]} AS b, exact_n FROM per_key"
        for d in range(CMS_DEPTH)
    )
    return f"""
WITH per_key AS (
  SELECT {key_col}::VARCHAR AS k, count(*) AS exact_n FROM {table} GROUP BY 1
), cellrows AS (
  {cells}
), cells AS (
  SELECT d, b, CAST(sum(exact_n) AS BIGINT) AS counter FROM cellrows GROUP BY d, b
), cand AS (
  SELECT k, exact_n, rk FROM (
    SELECT k, exact_n, row_number() OVER (ORDER BY exact_n DESC, k) AS rk FROM per_key
  ) WHERE rk <= {top_n}
), probes AS (
  {probes}
)
SELECT k AS {key_col}, rk, exact_n, CAST(min(counter) AS BIGINT) AS cms_est,
       CAST(min(counter) - exact_n AS BIGINT) AS inflation
FROM probes JOIN cells USING (d, b)
GROUP BY k, rk, exact_n
"""


def cms_join_estimate(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "k",
) -> DataFrame:
    """Join-cardinality estimation from count-min sketches (Cormode &
    Muthukrishnan 2005 §4.2): ``|A ⋈ B|`` is upper-bounded by
    ``min_d Σ_b cmsA[d][b] · cmsB[d][b]`` — the sketch inner product.
    Reported beside the exact join size, this is the optimizer
    statistic that decides broadcast-vs-shuffle or flags a blow-up
    join BEFORE running it at 100 TB: two 4 KB sketches answer what
    would otherwise need the join itself.

    Both inputs must expose ``key_col``; output is one row with the
    exact size, the CMS estimate (>= exact always), and the relative
    inflation.  Same portable row-salted hashing and integer counters
    as :func:`cms_heavy_hitters`, so both engines build identical
    sketches and the entry is value-exact.

    Scale shape: each side aggregates per key (the shuffle a join
    would do anyway, but emitting one row per key), then to
    depth×width cells; the inner product joins two 4096-cell tables —
    driver-free and O(sketch), not O(data)."""

    def per_key(df: DataFrame) -> DataFrame:
        # one keyed aggregate per side feeds BOTH the sketch cells and
        # the exact join — lazily checkpointed so the two consumers
        # share the shuffle instead of recomputing it
        return (
            df.select(F.col(key_col).cast("string").alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=False)
        )

    def cells(pk: DataFrame, n_col: str) -> DataFrame:
        return (
            pk.select(
                F.col("n"),
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.pmod(
                                portable_hash64(F.concat(F.lit(f"cms{d}#"), F.col("k"))),
                                F.lit(CMS_WIDTH),
                            ).alias("b"),
                        )
                        for d in range(CMS_DEPTH)
                    ])
                ).alias("x"),
            )
            .groupBy("x.d", "x.b")
            .agg(F.sum("n").alias(n_col))
        )
    la, rb = per_key(left), per_key(right)
    ca = cells(la, "na")
    cb = cells(rb, "nb")
    inner = (
        ca.join(cb, ["d", "b"])
        .groupBy("d")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("ip"))
        .agg(F.min("ip").alias("cms_join_est"))
    )
    exact = (
        la.withColumnRenamed("n", "na")
        .join(rb.withColumnRenamed("n", "nb"), "k")
        .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0)).alias("exact_join_n"))
    )
    from aprs2influxdb_spark.functions.rounding import rhu

    return exact.crossJoin(inner).select(
        "exact_join_n", "cms_join_est",
        rhu(F.col("cms_join_est") / F.col("exact_join_n"), 6).alias("inflation_ratio"),
    )


def cms_join_estimate_sql(left_sql: str, right_sql: str, key_col: str = "k") -> str:
    """DuckDB twin of :func:`cms_join_estimate`; ``left_sql`` /
    ``right_sql`` are subqueries exposing ``key_col``."""
    bsql = [
        "(" + portable_hash64_sql("'cms%d#' || k" % d) + ") %% %d" % CMS_WIDTH
        for d in range(CMS_DEPTH)
    ]
    bsql = [s.replace("%%", "%") for s in bsql]

    def cell_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT {d} AS d, {bsql[d]} AS b, n FROM {src}" for d in range(CMS_DEPTH)
        )

    return f"""
WITH la AS (
  SELECT {key_col}::VARCHAR AS k, count(*) AS n FROM ({left_sql}) GROUP BY 1
), rb AS (
  SELECT {key_col}::VARCHAR AS k, count(*) AS n FROM ({right_sql}) GROUP BY 1
), ca AS (
  SELECT d, b, CAST(sum(n) AS BIGINT) AS na FROM ({cell_rows('la')}) GROUP BY d, b
), cb AS (
  SELECT d, b, CAST(sum(n) AS BIGINT) AS nb FROM ({cell_rows('rb')}) GROUP BY d, b
), inner_p AS (
  SELECT CAST(min(ip) AS BIGINT) AS cms_join_est FROM (
    SELECT d, sum(na * nb) AS ip FROM ca JOIN cb USING (d, b) GROUP BY d
  )
), exact AS (
  SELECT CAST(coalesce(sum(la.n * rb.n), 0) AS BIGINT) AS exact_join_n
  FROM la JOIN rb USING (k)
)
SELECT exact_join_n, cms_join_est,
       (floor((cms_join_est / CAST(exact_join_n AS DOUBLE)) * 1000000 + 0.5) / 1000000.0) AS inflation_ratio
FROM exact CROSS JOIN inner_p
"""


# Poisson-bootstrap geometry, shared with the oracle SQL: per-replica
# uniforms derive from ONE md5 per row plus a cheap per-replica
# linear shift (Knuth multiplicative constant), quantized to
# BOOT_M; the Poisson(1) weight is an integer threshold ladder on
# that uniform (cumulative pmf * BOOT_M, truncated at 7 — P(X>7) <
# 1e-5 at lambda=1).
BOOT_M = 1_000_003
BOOT_SHIFT = 2_654_435_761
BOOT_POISSON_CUM = [367879, 735758, 919698, 981011, 996339, 999405, 999916, 1_000_003]


def _poisson_weight(v):
    """Integer Poisson(1) draw from an integer uniform in [0, BOOT_M):
    CASE ladder over the cumulative thresholds (pure integer
    comparisons — deterministic on any engine)."""
    from pyspark.sql import functions as F

    w = F.lit(len(BOOT_POISSON_CUM)).cast("long")
    for k in reversed(range(len(BOOT_POISSON_CUM))):
        w = F.when(v < BOOT_POISSON_CUM[k], F.lit(k).cast("long")).otherwise(w)
    return w


def bootstrap_ci(
    df, value_col: str, key_cols: list[str], n_replicas: int = 100,
    lo_rank: int = 3, hi_rank: int = 98, salt: str = "boot",
):
    """Poisson-bootstrap confidence interval for the mean of
    ``value_col`` (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", Google 2012): each row joins replica ``b``
    with an independent Poisson(1) multiplicity, so a replica's
    weighted mean is a with-replacement resample WITHOUT materializing
    resamples — ONE scan, explode ×``n_replicas``, and the per-replica
    partial sums combine map-side (the only shuffle carries
    ``n_replicas`` groups).  The CI is the (lo_rank, hi_rank) order
    statistics of the replica means (3rd/98th of 100 ≈ a 95% interval).

    Determinism discipline: one md5 per ROW (hash of the ``key_cols``
    identity), then per-replica uniforms via an integer linear shift —
    NOT one md5 per (row, replica), which costs ``n_replicas``× the
    hash work for no statistical gain at this use; values are summed
    as integer cents (money doubles are exact at 2 decimals), so
    replica means are identical in any summation order; means are
    rounded to 4dp before ranking, ties broken on the replica id.

    Plan note: the explode ×``n_replicas`` feeds a map-side-combined
    100-group aggregate — measured 2.8 s at sf0.1.  The explode-free
    alternative (one wide aggregate of 2·n_replicas sum columns, each
    evaluating its own weight ladder per row) measured 9.6 s: two
    hundred CASE ladders per row lose to one ladder per exploded row,
    so the explode stays.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.functions.hashing import portable_hash64
    from aprs2influxdb_spark.functions.rounding import rhu

    ident = F.concat_ws("_", F.lit(salt), *[F.col(c).cast("string") for c in key_cols])
    # spread BEFORE the per-row md5 AND the ×n_replicas explode: the
    # hash, ladder and partial aggregate all live below the first
    # exchange, so on a byte-small scan (one row group) the whole
    # stage ran on ONE core (measured 2.4 s at sf0.1).  The spread
    # shuffles only the raw key/value columns (~20 bytes/row); the
    # 600k md5s and the 100× expansion then use every core.
    rows = spread_for_compute(df.select(*key_cols, value_col)).select(
        portable_hash64(ident).alias("h"),
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
    )
    rep = rows.select(
        "h", "cents", F.explode(F.sequence(F.lit(1), F.lit(n_replicas))).alias("b")
    ).select(
        "b", "cents",
        _poisson_weight(F.pmod(F.col("h") + F.col("b") * F.lit(BOOT_SHIFT), F.lit(BOOT_M))).alias("w"),
    )
    means = (
        rep.groupBy("b")
        .agg(F.sum(F.col("w") * F.col("cents")).alias("s"), F.sum("w").alias("n"))
        .withColumn("mean", rhu(F.col("s") / (F.col("n") * F.lit(100.0)), 4))
    )
    w_rk = Window.orderBy(F.col("mean").asc(), F.col("b").asc())
    ranked = means.withColumn("rk", F.row_number().over(w_rk))
    point = df.agg(
        rhu(F.sum(F.round(F.col(value_col) * 100).cast("long")) / (F.count("*") * F.lit(100.0)), 4).alias("point_mean")
    )
    return (
        ranked.filter(F.col("rk").isin([lo_rank, hi_rank]))
        .groupBy()
        .agg(
            F.min(F.when(F.col("rk") == lo_rank, F.col("mean"))).alias("ci_lo"),
            F.min(F.when(F.col("rk") == hi_rank, F.col("mean"))).alias("ci_hi"),
        )
        .crossJoin(F.broadcast(point))
        .select("point_mean", "ci_lo", "ci_hi")
    )


def kmv_set_overlap(
    df, key_col: str = "user_id", type_col: str = "event_type",
    type_a: str = "view", type_b: str = "purchase", k: int = 256,
):
    """Theta-sketch set operations over two key populations (audience
    overlap): distinct-count estimates for A, B, A∪B and A∩B from ONE
    bottom-k sketch of the union hash space, beside the exact values
    so the entry self-reports its error — the Datasketches
    theta-sketch intersection recipe (sample = union hashes below
    θ = k-th smallest; every population is estimated by its members
    inside that sample, scaled by 2^60/θ).

    Exact-mode guard: with fewer than k distinct union hashes every
    estimate IS the exact count (θ never applies) — same rule as
    :func:`kmv_distinct`.  All arithmetic is integer or fixed-order
    IEEE double, oracle-exact.

    Scale shape: membership flags fold into the per-hash distinct
    aggregate (one shuffle on the 8-byte hash); the bottom-k rank is
    a WindowGroupLimit (partial bottom-k per map task); everything
    after operates on ≤ k rows plus three scalar exact aggregates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aprs2influxdb_spark.functions.hashing import portable_hash64

    flagged = (
        df.filter(F.col(type_col).isin([type_a, type_b]))
        .select(
            portable_hash64(F.col(key_col).cast("string")).alias("h"),
            (F.col(type_col) == type_a).cast("int").alias("in_a"),
            (F.col(type_col) == type_b).cast("int").alias("in_b"),
        )
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    exact = flagged.agg(
        F.sum("in_a").alias("exact_a"),
        F.sum("in_b").alias("exact_b"),
        F.count("*").alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_inter"),
    )
    w = Window.orderBy(F.col("h").asc())
    bottom = flagged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    sk = bottom.agg(
        F.count("*").alias("n_sk"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("theta"),
        F.sum(F.when(F.col("rn") < k, F.col("in_a"))).alias("sa"),
        F.sum(F.when(F.col("rn") < k, F.col("in_b"))).alias("sb"),
        F.sum(F.when(F.col("rn") < k, F.col("in_a") * F.col("in_b"))).alias("sab"),
    )
    scale = F.lit(HASH_SPACE) / F.col("theta").cast("double")

    def est(cnt_col, exact_col):
        return F.when(
            F.col("n_sk") < k, F.col(exact_col)
        ).otherwise(F.floor(cnt_col.cast("double") * scale).cast("long"))

    return (
        sk.crossJoin(F.broadcast(exact))
        .select(
            "exact_a", "exact_b", "exact_union", "exact_inter",
            est(F.col("sa"), "exact_a").alias("est_a"),
            est(F.col("sb"), "exact_b").alias("est_b"),
            est(F.lit(k - 1), "exact_union").alias("est_union"),
            est(F.col("sab"), "exact_inter").alias("est_inter"),
        )
    )
