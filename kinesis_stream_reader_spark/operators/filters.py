"""Predicate filters over nested events — the reference's query semantics.

Reference: app/server/my_modules/objectFilter/index.js:5-68. Semantics
preserved exactly:

- each numeric-id filter matches *primary OR alternate* id
  (objectFilter/index.js:15-16, 27-28, 48-49, 60-61);
- any missing path / NULL wrapper is a non-match — the reference does
  try/catch -> false (objectFilter/index.js:17-19); in Spark the NULL
  simply propagates through `==` and `filter` drops the NULL predicate,
  which is the same behavior with zero custom code;
- serverName comparison is case-insensitive (objectFilter/index.js:37);
- query params are strings coerced parseInt-style
  (objectFilter/index.js:9,24,45,56) — a non-numeric value matches
  nothing (NaN semantics);
- filters compose conjunctively, applied only when their param is
  present (objectFilter/index.js:5-68);
- the time window is a lookback bound (app/server/index.js:28-34,58)
  — here a Column predicate; Catalyst pushes it to the parquet scan /
  Kinesis startingPosition only when its anchor is a literal (see
  time_range_predicate).

All filters are pure Column expressions: no UDFs, no shuffles; Catalyst
merges the conjunction into a single Filter node and pushes eligible
predicates into the scan.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import (
    AGENT_EVENT,
    CONTACT_EVENT,
    DEFAULT_DURATION_MINUTES,
    MAX_DURATION_MINUTES,
)

_CONTACT = f"baseEventData.`{CONTACT_EVENT}`.mediaScopeIdentification.contactIdentification"
_SHIFT = f"baseEventData.`{AGENT_EVENT}`.agentShiftIdentification"


def parse_int_param(value: object) -> int | None:
    """JS ``parseInt`` semantics for query params: leading integer or None.

    parseInt('12ab') == 12, parseInt('ab') is NaN (matches nothing).
    """
    s = str(value).strip()
    sign = 1
    if s[:1] in ("+", "-"):
        sign = -1 if s[0] == "-" else 1
        s = s[1:]
    # radix-less JS parseInt auto-detects 0x/0X hex prefixes
    alphabet, base = "0123456789", 10
    if s[:2] in ("0x", "0X"):
        s, alphabet, base = s[2:], "0123456789abcdefABCDEF", 16
    digits = ""
    for ch in s:
        # explicit alphabet only: str.isdigit() accepts Unicode numerals
        # (e.g. '²') that int() rejects and JS parseInt ignores
        if ch in alphabet:
            digits += ch
        else:
            break
    return sign * int(digits, base) if digits else None


def _or_over_alt(primary: str, alt: str, value: object) -> Column:
    v = parse_int_param(value)
    if v is None:
        return F.lit(False)  # NaN matches nothing
    return (F.col(primary) == F.lit(v)) | (F.col(alt) == F.lit(v))


def contact_id_predicate(value: object) -> Column:
    # objectFilter/index.js:7-21
    return _or_over_alt(f"{_CONTACT}.contactId.long", f"{_CONTACT}.contactIdAlt.long", value)


def agent_id_predicate(value: object) -> Column:
    # objectFilter/index.js:22-33
    return _or_over_alt(
        f"{_SHIFT}.agentIdentification.agentId.long",
        f"{_SHIFT}.agentIdentification.agentIdAlt.long",
        value,
    )


def server_name_predicate(value: object) -> Column:
    # objectFilter/index.js:34-42 — case-insensitive equality.
    return F.lower(F.col("tenantId.serverName.string")) == F.lit(str(value).lower())


def tenant_id_predicate(value: object) -> Column:
    # objectFilter/index.js:43-54
    return _or_over_alt("tenantId.tenantId.long", "tenantId.tenantIdAlt.long", value)


def agent_shift_id_predicate(value: object) -> Column:
    # objectFilter/index.js:55-66
    return _or_over_alt(f"{_SHIFT}.agentShiftId.long", f"{_SHIFT}.agentShiftIdAlt.long", value)


# Applied in the reference's fixed order (objectFilter/index.js:7-66);
# order is semantically irrelevant for AND but kept for parity.
PREDICATE_BUILDERS = (
    ("contactId", contact_id_predicate),
    ("agentId", agent_id_predicate),
    ("serverName", server_name_predicate),
    ("tenantId", tenant_id_predicate),
    ("agentShiftId", agent_shift_id_predicate),
)


def filter_records(df: DataFrame, query: Mapping[str, object]) -> DataFrame:
    """Dynamic conjunctive composition (objectFilter/index.js:5-68):
    apply each filter iff its query param is present AND truthy — the
    reference gates on JS truthiness (`if (query.contactId)`), so an
    empty-string param disables that filter rather than matching
    nothing."""
    for param, builder in PREDICATE_BUILDERS:
        value = query.get(param)
        if value is not None and value != "":
            df = df.filter(builder(value))
    return df


def clamp_duration(duration: object | None) -> int:
    """app/server/index.js:28-34 — default 10, silently clamped to 960.

    Deliberate deviation for malformed durations: the reference feeds
    `Math.min(Number(duration), 960)` into `new Date(...)`, so a
    non-numeric duration produces an Invalid Date and the AWS call
    rejects the whole query. Here a malformed duration falls back to
    the 10-minute default instead — strictly more useful, and the
    well-formed paths (default, numeric, over-cap clamp) are
    bit-identical."""
    v = parse_int_param(duration) if duration is not None else None
    if v is None:
        v = DEFAULT_DURATION_MINUTES
    return min(v, MAX_DURATION_MINUTES)


def time_range_predicate(now: Column, duration: object | None = None) -> Column:
    """Lookback window: event_time >= now - clamp(duration) minutes.

    ``now`` is a Column so batch queries can anchor on a deterministic
    bound (e.g. max(event_time)) while a live deployment passes
    F.current_timestamp(). Only a literal anchor (a constant, or
    current_timestamp(), which the optimizer replaces by one) lets
    Catalyst fold the interval and push the bound into the parquet scan
    (row-group min/max skipping) — the same pushdown the reference gets
    from Kinesis AT_TIMESTAMP (kinesisReader/index.js:77-81). A column
    anchor, such as the joined ``_now`` of with_data_relative_window, is
    compared row by row above the scan.
    """
    minutes = clamp_duration(duration)
    return F.col("event_time") >= now - F.expr(f"INTERVAL {minutes} MINUTES")


def with_data_relative_window(df: DataFrame, duration: object | None = None) -> DataFrame:
    """Apply the lookback window anchored at the dataset's max event_time.

    The anchor is computed as a 1-row aggregate broadcast-joined onto the
    stream — fully declarative, no driver-side collect, safe at any
    scale (the broadcast side is one row). The bound is a joined column,
    not a literal, so it is NOT pushed into the parquet scan: every run
    reads the events twice, once for the max and once for the window,
    with no row-group skipping. A caller that can hold the anchor as a
    literal passes it to ``time_range_predicate`` instead (see
    http_server.spark_records_fn).
    """
    anchor = df.agg(F.max("event_time").alias("_now"))
    return (
        df.join(F.broadcast(anchor))
        .filter(time_range_predicate(F.col("_now"), duration))
        .drop("_now")
    )
