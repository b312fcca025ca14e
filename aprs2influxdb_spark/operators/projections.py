"""Per-format projections P1-P9 + line-protocol assembly (SURVEY.md §2.3).

The reference implements nine near-identical parsers (parseUncompressed
:190-305, parseMicE :308-397, parseObject :400-507, parseStatus
:510-583, parseCompressed :586-692, parseWX :695-770, parseBeacon
:773-829, parseBulletin :832-902, parseMessage :905-976 in
``aprs2influxdb/__main__.py``).  Each emits
``"packet,format=<f> " + ",".join(fields)`` with a per-format field
list in a fixed order.  Here each parser is a *data* spec; one shared
builder turns a spec into a single native column expression, so all
nine projections compile into one narrow, shuffle-free, codegen'd
``select`` — per-format branching is a CASE chain, not a 9-way scan.

Field-order and quirk parity (each verified against the cited lines):
  - numeric keys first, then text keys, then path, then the per-format
    escaped tail, with telemetry/weather interleaved exactly where the
    reference calls parseTelemetry/parseWeather;
  - plain text keys presence-gated only; escaped fields empty-suppressed;
  - ``bits`` emitted *unquoted* (numeric style) though it's a string
    (:112 ``bits={0}``);
  - booleans as ``"True"``/``"False"`` text (:249, :455);
  - ``path`` joined but never escaped (:1032-1044);
  - analog1..5 = a*v^2+b*v+c with per-sender calibration (:129-133),
    identity a=0,b=1,c=0 when unknown (:117-125).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aprs2influxdb_spark.functions.scalars import (
    bool_text_field,
    double_str,
    num_field,
    path_field,
    telemetry_poly,
    text_field,
)
from aprs2influxdb_spark.schema import KNOWN_FORMATS, OUTPUT_FORMATS, PACKET_SCHEMA, WEATHER_KEYS

# double-typed packet columns render Python-style (see scalars.double_str)
_DOUBLE_COLS = {f.name for f in PACKET_SCHEMA.fields if f.dataType.typeName() == "double"}

# engine column name -> emitted field name (reference uses "from"/"to")
_EMIT_NAME = {"from_call": "from", "to_call": "to"}
_BOOL_COLS = {"messagecapable", "alive"}


@dataclass
class FormatSpec:
    """Ordered field plan for one packet format."""

    format: str
    num_keys: list[str] = dc_field(default_factory=list)
    text_keys: list[str] = dc_field(default_factory=list)
    # tail entries: ("esc", col) escaped text field, "telemetry", "weather"
    tail: list = dc_field(default_factory=list)


# Specs transcribed from the reference parsers (key lists + call order).
FORMAT_SPECS: dict[str, FormatSpec] = {
    s.format: s
    for s in [
        FormatSpec(  # parseUncompressed :190-305
            "uncompressed",
            num_keys=["latitude", "longitude", "posambiguity", "altitude", "speed", "course"],
            text_keys=["from_call", "to_call", "messagecapable", "phg", "rng", "via"],
            tail=[("esc", "comment"), ("esc", "raw"), ("esc", "symbol"), ("esc", "symbol_table"),
                  ("esc", "raw_timestamp"), "telemetry", "weather"],
        ),
        FormatSpec(  # parseMicE :308-397
            "mic-e",
            num_keys=["latitude", "longitude", "posambiguity", "altitude", "speed", "course", "mbits"],
            text_keys=["from_call", "via", "to_call", "mtype", "daodatumbyte"],
            tail=[("esc", "comment"), ("esc", "raw"), ("esc", "symbol"), ("esc", "symbol_table")],
        ),
        FormatSpec(  # parseObject :400-507
            "object",
            num_keys=["latitude", "longitude", "posambiguity", "speed", "course", "timestamp", "altitude"],
            text_keys=["from_call", "alive", "via", "to_call", "object_format", "object_name", "rng", "daodatumbyte"],
            tail=[("esc", "comment"), "telemetry", ("esc", "raw"), ("esc", "symbol"),
                  ("esc", "symbol_table"), ("esc", "raw_timestamp")],
        ),
        FormatSpec(  # parseStatus :510-583
            "status",
            num_keys=["timestamp"],
            text_keys=["from_call", "via", "to_call"],
            tail=["telemetry", ("esc", "status"), ("esc", "raw"), ("esc", "raw_timestamp")],
        ),
        FormatSpec(  # parseCompressed :586-692
            "compressed",
            num_keys=["latitude", "longitude", "gpsfixstatus", "altitude", "speed", "course", "timestamp"],
            text_keys=["from_call", "to_call", "messagecapable", "phg", "via"],
            tail=[("esc", "comment"), "telemetry", "weather", ("esc", "raw"),
                  ("esc", "symbol"), ("esc", "symbol_table")],
        ),
        FormatSpec(  # parseWX :695-770
            "wx",
            text_keys=["from_call", "to_call", "via"],
            tail=[("esc", "comment"), ("esc", "raw"), ("esc", "wx_raw_timestamp"), "weather"],
        ),
        FormatSpec(  # parseBeacon :773-829
            "beacon",
            text_keys=["from_call", "to_call", "via"],
            tail=[("esc", "text"), ("esc", "raw")],
        ),
        FormatSpec(  # parseBulletin :832-902
            "bulletin",
            num_keys=["bid"],
            text_keys=["from_call", "to_call", "via"],
            tail=[("esc", "message_text"), ("esc", "identifier"), ("esc", "raw")],
        ),
        FormatSpec(  # parseMessage :905-976
            "message",
            num_keys=["msgNo"],
            text_keys=["from_call", "to_call", "via", "addresse"],
            tail=[("esc", "message_text"), ("esc", "response"), ("esc", "raw")],
        ),
    ]
}


def _telemetry_fields(eqns: Column) -> list[Column]:
    """parseTelemetry (:92-136): seq, bits (unquoted), analog1..5.

    ``eqns`` is the effective calibration array<array<double>> for this
    row (already coalesced to identity by the caller or null ⇒ identity
    here).  All telemetry fields are null when ``telemetry`` is null.
    """
    t = F.col("telemetry")
    out = [
        F.when(t.isNotNull() & t["seq"].isNotNull(), F.concat(F.lit("seq="), t["seq"].cast("string"))),
        F.when(t.isNotNull() & t["bits"].isNotNull(), F.concat(F.lit("bits="), t["bits"])),
    ]
    for i in range(5):
        # F.get (not []) — null-tolerant on short arrays so one malformed
        # packet can't fail the job under ANSI mode; rows with short
        # vals/eqns are dead-lettered by `malformed_predicate` (D3).
        a = F.coalesce(F.get(F.get(eqns, i), 0), F.lit(0.0))
        b = F.coalesce(F.get(F.get(eqns, i), 1), F.lit(1.0))
        c = F.coalesce(F.get(F.get(eqns, i), 2), F.lit(0.0))
        v = F.get(t["vals"], i)
        scaled = telemetry_poly(v, a, b, c)
        out.append(
            F.when(
                t.isNotNull() & t["vals"].isNotNull(),
                # double_str: a*v^2 exceeds 1e7 with real calibrations,
                # where Java's cast would emit "4.0E7" vs Python "40000000.0"
                F.concat(F.lit(f"analog{i + 1}="), double_str(scaled)),
            )
        )
    return out


def _weather_fields() -> list[Column]:
    """parseWeather (:165-187): 9 whitelisted numeric keys, in order."""
    w = F.col("weather")
    return [
        F.when(w.isNotNull() & w[k].isNotNull(), F.concat(F.lit(f"{k}="), double_str(w[k])))
        for k in WEATHER_KEYS
    ]


def _field_tokens(spec: FormatSpec) -> list[str]:
    """Intermediate-column names for one format's fields, in reference
    emit order.  Tokens are shared across formats so each field
    expression is computed exactly once per row."""
    toks: list[str] = []
    toks += [f"__lp_n_{k}" for k in spec.num_keys]
    toks += [f"__lp_t_{k}" for k in spec.text_keys]
    toks.append("__lp_path")
    for entry in spec.tail:
        if entry == "telemetry":
            toks += [f"__lp_tel_{i}" for i in range(7)]
        elif entry == "weather":
            toks += [f"__lp_wx_{k}" for k in WEATHER_KEYS]
        else:
            toks.append(f"__lp_e_{entry[1]}")
    return toks


def field_exprs(eqns: Column | None = None) -> dict[str, Column]:
    """Every serialized-field expression used by any format, keyed by
    token — the shared lower Project of the two-stage serializer."""
    if eqns is None:
        eqns = F.lit(None).cast("array<array<double>>")
    out: dict[str, Column] = {"__lp_path": path_field("path")}
    for spec in FORMAT_SPECS.values():
        for k in spec.num_keys:
            out.setdefault(f"__lp_n_{k}", num_field(_EMIT_NAME.get(k, k), k, double=k in _DOUBLE_COLS))
        for k in spec.text_keys:
            if k in _BOOL_COLS:
                out.setdefault(f"__lp_t_{k}", bool_text_field(_EMIT_NAME.get(k, k), k))
            else:
                out.setdefault(f"__lp_t_{k}", text_field(_EMIT_NAME.get(k, k), k))
        for entry in spec.tail:
            if entry not in ("telemetry", "weather"):
                k = entry[1]
                out.setdefault(f"__lp_e_{k}", text_field(k, k, escape=True))
    for i, c in enumerate(_telemetry_fields(eqns)):
        out[f"__lp_tel_{i}"] = c
    for k, c in zip(WEATHER_KEYS, _weather_fields()):
        out[f"__lp_wx_{k}"] = c
    return out


def line_case() -> Column:
    """Upper stage of the serializer: the 9-way format CASE, assembling
    ``measurement + "," + tagStr + " " + fieldsStr`` with measurement
    ``packet`` and single tag ``format=<v>`` (:238-245, :302-305) by
    *referencing* the precomputed ``__lp_*`` field columns.

    ``concat_ws`` skips null entries natively — exactly the reference's
    "append only if present" list building (D4/D5).  (Not
    ``array_compact``: that rewrites to a higher-order ``ArrayFilter``,
    which knocks the projection out of whole-stage codegen.)

    Two stages, not one: inlining the field expressions into every
    branch multiplies the escape chains ×9 and the generated Java
    breaks janino's compile limits — Spark then silently falls back to
    interpreted projection.  Referencing shared columns keeps each
    generated method small, and CollapseProject leaves the split alone
    because the field columns are non-cheap and multiply referenced.
    """
    expr: Column | None = None
    for fmt in OUTPUT_FORMATS:
        fields = F.concat_ws(",", *[F.col(t) for t in _field_tokens(FORMAT_SPECS[fmt])])
        branch = F.concat(F.lit("packet,format=" + fmt + " "), fields)
        expr = F.when(F.col("format") == fmt, branch) if expr is None else expr.when(F.col("format") == fmt, branch)
    return expr


def malformed_predicate(eqns: Column | None = None) -> Column:
    """D3 per-record error isolation (:86-89): rows the reference would
    drop via ``except StandardError`` — telemetry vals present but
    shorter than 5 (IndexError at :129-133), or calibration equations
    with fewer than 5 channels OR any channel shorter than 3
    coefficients while vals are being scaled (IndexError at :157-159 /
    :130 — a 1-coefficient channel must dead-letter the row, not emit a
    hybrid of sender-a and identity-b/c)."""
    vals = F.col("telemetry")["vals"]
    bad_vals = vals.isNotNull() & (F.size(vals) < 5)
    if eqns is None:
        return F.coalesce(bad_vals, F.lit(False))
    short_channel = F.exists(eqns, lambda ch: F.size(ch) < 3)
    bad_eqns = vals.isNotNull() & eqns.isNotNull() & ((F.size(eqns) < 5) | short_channel)
    return F.coalesce(bad_vals | bad_eqns, F.lit(False))


def _serializer(spark, eqns_col: str | None) -> tuple:
    """The serializer's unresolved Columns for ``eqns_col``: the known-
    format and well-formed filters, the aliased field columns of the
    lower stage, their names and the ``line_case`` upper stage.
    Building them takes ~17,000 py4j calls (1.9-2.7 s of driver time on
    a 4-core VM, every micro-batch of the daemon's sink); they are the
    same for every batch, so they are built once per SparkContext (see
    ``functions.plancache.memo``) and ``to_line_protocol`` then
    makes ~120 calls."""
    from aprs2influxdb_spark.functions.plancache import memo

    def _build() -> tuple:
        eqns = F.col(eqns_col) if eqns_col else None
        exprs = field_exprs(eqns)
        return (
            F.col("format").isin(OUTPUT_FORMATS),
            ~malformed_predicate(eqns),
            [c.alias(t) for t, c in exprs.items()],
            list(exprs),
            line_case(),
        )

    return memo(spark, ("line_protocol", eqns_col), _build)


def to_line_protocol(packets: DataFrame, eqns_col: str | None = None, drop_malformed: bool = True) -> DataFrame:
    """D1/D2 dispatch + P1-P9 projection: known output formats only
    (unknown formats dropped, :83-84; telemetry-message emits nothing,
    :1058), one ``line`` string per packet.  Rows the reference's
    error handler would drop (D3) are filtered here — route them to a
    dead-letter sink with ``dead_letters`` instead of the reference's
    log-and-forget.  Works on batch and streaming DataFrames alike —
    both serializer stages are stateless narrow projections."""
    known, well_formed, fields, tokens, line = _serializer(packets.sparkSession, eqns_col)
    out = packets.filter(known)
    if drop_malformed:
        out = out.filter(well_formed)
    return out.select("*", *fields).withColumn("line", line).drop(*tokens)


def dead_letters(packets: DataFrame, eqns_col: str | None = None) -> DataFrame:
    """Rows silently dropped by the reference, surfaced as a table:
    unknown formats (D2) + per-record parse errors (D3)."""
    eqns = F.col(eqns_col) if eqns_col else None
    unknown = ~F.col("format").isin(KNOWN_FORMATS) | F.col("format").isNull()
    return packets.filter(unknown | malformed_predicate(eqns))
