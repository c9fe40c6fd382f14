"""The storm-report enrichment dataflow as pure Catalyst column expressions.

Each function mirrors one scalar operator of the reference's enrichment
pipeline (/root/reference/internal/domain/transform.go — file:line cited per
function). Everything compiles to Spark built-ins: zero Python UDFs, so the
whole enrichment fuses into one WholeStageCodegen pass per record — the Spark
analog of the reference's single-pass per-row transform.

Fixed pipeline order (transform.go:148-161): normalize type → normalize unit
→ normalize magnitude → derive severity → extract office → parse location →
time bucket → processed-at. `enrich()` composes them in exactly that order.

The 8 KB rule: the fused stage is only fast if HotSpot JIT-compiles its
generated methods, and HotSpot never compiles a method over 8,000 bytes of
bytecode (HugeMethodLimit) — such a method runs every row in the
interpreter. So no expression may be generated twice: shared
intermediates are staged once as columns (see enrich_raw), and a builder
picks its input before parsing it rather than carrying one parse chain per
branch. Check: ``maxMethodCodeSize`` of every stage in
``debug.package$.MODULE$.codegenStringSeq(executedPlan)`` stays below 8000
(tests/test_enrich.py::test_etl_codegen_methods_fit_the_jit).

Sentinels: invalid type/unit/office → '' (not NULL); severity / distance /
direction → NULL; zero time → NULL timestamp.

Known divergences from the Go reference, all outside the NOAA input domain
(found by property-based testing, pinned in tests/test_property.py):
- trim: Spark's trim strips all chars ≤ U+0020 (Java semantics); Go's
  TrimSpace strips only Unicode whitespace — differs for control-char input.
- HHMM digits: Go's Atoi accepts a leading sign (range check still rejects
  negatives); the digits-only regex here rejects sign-prefixed strings.
- %g formatting (fmt_g): Go switches to scientific notation at |x|≥1e21 or
  exponent < -4; Java at ≥1e7 or < 1e-3 — identical in the plain-decimal
  range that magnitudes/coordinates occupy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from storm_data_etl_spark.schema import RAW_SCHEMA
from storm_data_etl_spark.session import per_context

ColumnOrName = Column | str

#: NWS office code at end of comments, e.g. "Quarter hail reported. (FWD)".
#: transform.go:14-17. RE2 pattern is Java-regex compatible verbatim.
SOURCE_OFFICE_RE = r"\(([A-Z]{3,5})\)\s*$"

#: NWS relative location "<distance> <compass> <name>", e.g. "8 ESE Chappel".
#: transform.go:19-21. [NSEW]{1,3} deliberately admits nonsense like "EEE".
LOCATION_RE = r"^(\d+(?:\.\d+)?)\s+([NSEW]{1,3})\s+(.+)$"

#: Go time.RFC3339 shape: strict 'T', seconds required, 'Z' or ±HH:MM zone,
#: optional fractional seconds. Spark's plain string→timestamp cast is far
#: looser (accepts dates, space separators), so we gate the cast on this
#: regex to replicate Go's accept/reject behavior (transform.go:124).
RFC3339_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})$"


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def parse_float_or_zero(col: ColumnOrName) -> Column:
    """Lenient float parse: trim; ''→0; parse failure→0 (transform.go:51-61).

    try_cast('' as double) is NULL, so one coalesce covers both the empty
    and the malformed case.
    """
    return F.coalesce(F.trim(_c(col)).try_cast("double"), F.lit(0.0))


def _parse_trimmed_magnitude(t: Column) -> Column:
    """''/'UNK' (case-insens.)→0; strip one EF/F prefix; parse-or-0.

    transform.go:78-89. Go strips TrimPrefix("EF") then TrimPrefix("F"):
    "EF2"→"2" (the second trim sees "2", no F), "F3"→"3", "FF3"→"F3"→parse
    fail→0. The regex ^(EF|F) with a single replacement is equivalent. A
    NULL input (no source field for the type) also yields 0.
    """
    stripped = F.regexp_replace(t, r"^(EF|F)", "")
    return (
        F.when((t == "") | (F.upper(t) == "UNK"), F.lit(0.0))
        .otherwise(F.coalesce(stripped.try_cast("double"), F.lit(0.0)))
    )


def _magnitude_source(et: Column, size: Column, f_scale: Column, speed: Column) -> Column:
    """The raw field the type's magnitude comes from; NULL for other types."""
    return F.when(et == "hail", size).when(et == "tornado", f_scale).when(et == "wind", speed)


def magnitude_raw(
    event_type: ColumnOrName,
    size: ColumnOrName,
    f_scale: ColumnOrName,
    speed: ColumnOrName,
) -> Column:
    """Type-dispatched raw magnitude (transform.go:65-90).

    hail→Size, tornado→F_Scale, wind→Speed, other→0. Dispatch is on the RAW
    (pre-normalization) event type, exact match. The source field is picked
    first and parsed once, so the plan carries one parse chain, not three.
    """
    src = _magnitude_source(_c(event_type), _c(size), _c(f_scale), _c(speed))
    return _parse_trimmed_magnitude(F.trim(src))


def _pad_hhmm(t: Column) -> Column:
    """Trimmed HHMM → 4+ chars: a 3-char string gets a leading zero."""
    return F.when(F.length(t) == 3, F.concat(F.lit("0"), t)).otherwise(t)


def _hhmm_hour(padded: Column) -> Column:
    return F.substring(padded, 1, 2).try_cast("int")


def _hhmm_minute(padded: Column) -> Column:
    return F.substr(padded, F.lit(3)).try_cast("int")


def _hhmm_on_date(ts: Column, t: Column, hour: Column, minute: Column) -> Column:
    """HH:MM of trimmed string ``t`` on ``ts``'s date; invalid → ``ts``."""
    valid = t.rlike(r"^\d{3,}$") & (hour <= 23) & (minute.isNotNull()) & (minute <= 59)
    return F.when(
        valid,
        F.make_timestamp(
            F.year(ts), F.month(ts), F.dayofmonth(ts), hour, minute, F.lit(0)
        ),
    ).otherwise(ts)


def _event_time_of(ts: Column, t: Column, hhmm_time: Column) -> Column:
    """'' → ``ts``; strict RFC-3339 parse of trimmed ``t``; else ``hhmm_time``."""
    rfc = F.when(t.rlike(RFC3339_RE), t.try_cast("timestamp"))
    return F.when(t == "", ts).otherwise(F.coalesce(rfc, hhmm_time))


def parse_hhmm(base_ts: ColumnOrName, hhmm: ColumnOrName) -> Column:
    """HHMM → timestamp on base date; invalid → base timestamp unchanged.

    transform.go:93-112: trim; len<3 → base; len==3 → zero-pad; then
    hour = Atoi(s[:2]), minutes = Atoi(s[2:]) — the minute slice runs TO
    THE END, so len>4 digit strings stay in Go's domain when the tail
    parses ≤59 ("00001" → 00:01; hypothesis found the earlier
    `lpad(t,4)` formulation silently truncating those). Digit-only gate ≡
    Atoi failure on other chars; try_cast null on >int tails ≡ Atoi
    range error. Known pinned divergence (out-of-domain): Go's Atoi also
    accepts a leading sign inside the slices ("+100" → 01:00) — kept out
    of scope like the other sign cases (see module notes).
    """
    t = F.trim(_c(hhmm))
    padded = _pad_hhmm(t)
    return _hhmm_on_date(_c(base_ts), t, _hhmm_hour(padded), _hhmm_minute(padded))


def event_time(base_ts: ColumnOrName, time_str: ColumnOrName) -> Column:
    """Resolve event time (transform.go:118-129).

    '' → Kafka timestamp; strict RFC-3339 parse if valid; else HHMM+base
    date. The RFC3339 path is regex-gated so Spark's lenient cast cannot
    accept strings Go would reject (e.g. bare dates).
    """
    ts = _c(base_ts)
    t = F.trim(_c(time_str))
    return _event_time_of(ts, t, parse_hhmm(ts, t))


def fmt_g(col: ColumnOrName) -> Column:
    """Go ``%g`` float formatting: shortest round-trip representation.

    transform.go:135 feeds magnitude through %g in the ID hash input:
    125→"125", 1.25→"1.25", 0→"0", 2.5→"2.5". Integral values print with no
    decimal point; non-integral print shortest decimal (Java's shortest-
    round-trip Double.toString matches Go for the plain-decimal range).
    Documented limitation: Go switches to exponent notation at |x|≥1e21 /
    exp<-4, Java at ≥1e7 / <1e-3 — storm magnitudes (0..300) never reach
    either, and the unit test pins the full fixture magnitude domain.
    """
    c = _c(col)
    return F.when(
        (c == F.floor(c)) & (F.abs(c) < F.lit(1e15)),
        c.cast("long").cast("string"),
    ).otherwise(c.cast("string"))


def event_id(
    event_type: ColumnOrName,
    state: ColumnOrName,
    lat: ColumnOrName,
    lon: ColumnOrName,
    time_str: ColumnOrName,
    magnitude: ColumnOrName,
) -> Column:
    """Deterministic event ID (transform.go:134-142).

    sha256("type|state|%.4f(lat)|%.4f(lon)|time|%g(mag)"), first 8 bytes hex
    (16 hex chars), prefixed "{type}-" unless type is ''. Parity notes: uses
    the RAW event type (ID is computed in ParseRawEvent, before
    normalization), the RAW time string (pre-parse), and the RAW magnitude
    (pre-hundredths-normalization) — transform.go:34-38.
    """
    et = _c(event_type)
    payload = F.concat_ws(
        "|",
        et,
        _c(state),
        F.format_string("%.4f", _c(lat)),
        F.format_string("%.4f", _c(lon)),
        _c(time_str),
        fmt_g(magnitude),
    )
    short = F.substring(F.sha2(payload, 256), 1, 16)
    # one hash chain: the type only picks the prefix
    prefix = F.when(et == "", F.lit("")).otherwise(F.concat(et, F.lit("-")))
    return F.concat(prefix, short)


def normalize_event_type(col: ColumnOrName) -> Column:
    """Exact-match whitelist {hail,wind,tornado} else '' — no case folding,
    no trim ("HAIL"→'', "  hail "→''). transform.go:166-173."""
    c = _c(col)
    return F.when(c.isin("hail", "wind", "tornado"), c).otherwise(F.lit(""))


def normalize_unit(event_type_norm: ColumnOrName, unit: ColumnOrName) -> Column:
    """lower(trim(unit)) if non-empty, else default by NORMALIZED type:
    hail→in, wind→mph, tornado→f_scale, other→''. transform.go:177-193."""
    u = F.lower(F.trim(_c(unit)))
    et = _c(event_type_norm)
    return F.when(u != "", u).otherwise(
        F.when(et == "hail", F.lit("in"))
        .when(et == "wind", F.lit("mph"))
        .when(et == "tornado", F.lit("f_scale"))
        .otherwise(F.lit(""))
    )


def normalize_magnitude(
    event_type_norm: ColumnOrName,
    magnitude: ColumnOrName,
    unit_norm: ColumnOrName,
) -> Column:
    """Legacy hundredths-of-inch fix: hail ∧ unit=='in' ∧ mag≥10 → mag/100;
    0 stays 0. transform.go:200-208."""
    mag = _c(magnitude)
    return F.when(
        (mag != 0.0) & (_c(event_type_norm) == "hail") & (_c(unit_norm) == "in") & (mag >= 10.0),
        mag / 100.0,
    ).otherwise(mag)


def derive_severity(event_type_norm: ColumnOrName, magnitude_norm: ColumnOrName) -> Column:
    """Four-level severity from NWS/EF thresholds; NULL when magnitude==0 or
    type unrecognized. transform.go:218-262. Exact boundaries: hail
    0.75→moderate, 1.5→severe, 2.5→extreme; wind 50→moderate, 74→severe,
    96→extreme; tornado ≤1 minor, ==2 moderate, ≤4 severe (so 1.5 and 2.5
    → severe), else extreme."""
    et = _c(event_type_norm)
    m = _c(magnitude_norm)
    hail = (
        F.when(m < 0.75, "minor")
        .when(m < 1.5, "moderate")
        .when(m < 2.5, "severe")
        .otherwise("extreme")
    )
    wind = (
        F.when(m < 50.0, "minor")
        .when(m < 74.0, "moderate")
        .when(m < 96.0, "severe")
        .otherwise("extreme")
    )
    tornado = (
        F.when(m <= 1.0, "minor")
        .when(m == 2.0, "moderate")
        .when(m <= 4.0, "severe")
        .otherwise("extreme")
    )
    return F.when(m == 0.0, F.lit(None).cast("string")).otherwise(
        F.when(et == "hail", hail)
        .when(et == "wind", wind)
        .when(et == "tornado", tornado)
        .otherwise(F.lit(None).cast("string"))
    )


def extract_source_office(comments: ColumnOrName) -> Column:
    """NWS office code in parens at end of trimmed comments, else ''.

    transform.go:266-278. Spark regexp_extract returns '' on no-match, which
    is exactly the reference's no-match sentinel.
    """
    return F.regexp_extract(F.trim(_c(comments)), SOURCE_OFFICE_RE, 1)


def _location_name(t: Column, matched: Column) -> Column:
    return F.when(matched, F.trim(F.regexp_extract(t, LOCATION_RE, 3))).otherwise(t)


def _location_distance(t: Column, matched: Column) -> Column:
    return F.when(matched, F.regexp_extract(t, LOCATION_RE, 1).cast("double"))


def _location_direction(t: Column, matched: Column) -> Column:
    return F.when(matched, F.regexp_extract(t, LOCATION_RE, 2))


def parse_location_name(raw: ColumnOrName) -> Column:
    """Parsed place name; unparsed → the (trimmed) raw string; '' → ''.

    transform.go:283-301. Go trims the captured name; the input was already
    trimmed so group 3 has no trailing spaces, but we mirror with trim().
    """
    t = F.trim(_c(raw))
    return _location_name(t, t.rlike(LOCATION_RE))


def parse_location_distance(raw: ColumnOrName) -> Column:
    """Parsed distance (miles) or NULL. Group 1 is ^\\d+(\\.\\d+)? so the
    float parse cannot fail — NULL iff the pattern doesn't match."""
    t = F.trim(_c(raw))
    return _location_distance(t, t.rlike(LOCATION_RE))


def parse_location_direction(raw: ColumnOrName) -> Column:
    """Parsed compass direction or NULL."""
    t = F.trim(_c(raw))
    return _location_direction(t, t.rlike(LOCATION_RE))


def time_bucket(event_time_col: ColumnOrName) -> Column:
    """Truncate event time to the hour, UTC (session TZ is pinned UTC).
    transform.go:309-315; zero time → NULL propagates naturally."""
    return F.date_trunc("hour", _c(event_time_col))


#: RAW_SCHEMA plus the PERMISSIVE parse's corrupt-record column.
_PARSE_SCHEMA = T.StructType(
    [*RAW_SCHEMA.fields, T.StructField("_corrupt", T.StringType())]
)


def _parse_json(value: Column) -> Column:
    return F.from_json(
        value.cast("string"),
        _PARSE_SCHEMA,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
    )


def _parsed_ok(parsed: Column) -> Column:
    return parsed.isNotNull() & parsed["_corrupt"].isNull()


@per_context
def json_valid(value_col: ColumnOrName = "value") -> Column:
    """Predicate: the envelope value parses as a RAW_SCHEMA JSON object.
    Applied to the raw envelope it selects the poison-pill rows' complement
    without materializing the parse twice (Catalyst dedups the from_json)."""
    return _parsed_ok(_parse_json(_c(value_col)))


@per_context
def _parse_columns(value_col: str, ts_col: str) -> tuple[Column, list[Column]]:
    """(the parsed struct column, parse_raw_events' output columns)."""
    raw_cols = [
        F.coalesce(F.col(f"parsed.{f.name}"), F.lit("")).alias(f.name)
        for f in RAW_SCHEMA.fields
    ]
    return _parse_json(F.col(value_col)), [
        _parsed_ok(F.col("parsed")).alias("_valid"),
        F.col(ts_col).alias("_base_ts"),
        *raw_cols,
    ]


def parse_raw_events(df: DataFrame, value_col: str = "value", ts_col: str = "timestamp") -> DataFrame:
    """ParseRawEvent (transform.go:26-48) over an envelope DataFrame.

    Expects Kafka-envelope columns (`value` binary/string JSON, `timestamp`).
    Malformed JSON → `_valid = false` (the poison-pill marker — callers route
    invalid rows to the dead-letter path, ST3). Spark's PERMISSIVE from_json
    returns an all-null struct (not a NULL struct) for malformed input, so a
    bare isNotNull misses poison pills — we detect them via a
    columnNameOfCorruptRecord field instead. Unknown JSON keys are dropped
    and missing keys are NULL, matching json.Unmarshal.

    from_json yields NULL (not '') for missing/null string fields, while Go
    unmarshals into zero-value "" — so every raw field is coalesced to ''.
    """
    parsed, cols = _parse_columns(value_col, ts_col)
    return df.withColumn("parsed", parsed).select(*cols)


@per_context
def _enrich_plan(
    processed_at: str | None, base_ts_col: str
) -> tuple[list[dict[str, Column]], list[Column]]:
    """enrich_raw's column stages and final select list.

    Each intermediate is computed once in its own stage and read by name
    after it, so no expression's code is generated twice. A stage stays a
    separate Project (CollapseProject keeps it) because its consumers read
    each non-trivial alias more than once.
    """
    col = F.col
    ts = col(base_ts_col)
    stages = [
        {
            "_lat": parse_float_or_zero("Lat"),
            "_lon": parse_float_or_zero("Lon"),
            "_mag_t": F.trim(
                _magnitude_source(
                    col("EventType"), col("Size"), col("F_Scale"), col("Speed")
                )
            ),
            "_et_norm": normalize_event_type("EventType"),
            "_time_t": F.trim(col("Time")),
            # location parse staging: one trim + one regex-match per row;
            # the three field extracts branch on the staged flag
            "_loc_t": F.trim(col("Location")),
        },
        {
            "_raw_mag": _parse_trimmed_magnitude(col("_mag_t")),
            "_hhmm": _pad_hhmm(col("_time_t")),
            "_loc_m": col("_loc_t").rlike(LOCATION_RE),
            # Raw input had no unit field — unit derives purely from
            # normalized type.
            "_unit": normalize_unit("_et_norm", F.lit("")),
        },
        {
            "_hour": _hhmm_hour(col("_hhmm")),
            "_minute": _hhmm_minute(col("_hhmm")),
            "_mag": normalize_magnitude("_et_norm", "_raw_mag", "_unit"),
        },
        {
            "_etime": _event_time_of(
                ts,
                col("_time_t"),
                _hhmm_on_date(ts, col("_time_t"), col("_hour"), col("_minute")),
            ),
        },
    ]
    loc_t, loc_m = col("_loc_t"), col("_loc_m")
    proc = (
        F.lit(processed_at).cast("timestamp")
        if processed_at is not None
        else F.current_timestamp()
    )
    out = [
        event_id("EventType", "State", "_lat", "_lon", "Time", "_raw_mag").alias("id"),
        col("_et_norm").alias("event_type"),
        F.struct(col("_lat").alias("lat"), col("_lon").alias("lon")).alias("geo"),
        F.struct(
            col("_mag").alias("magnitude"),
            col("_unit").alias("unit"),
            derive_severity("_et_norm", "_mag").alias("severity"),
        ).alias("measurement"),
        col("_etime").alias("event_time"),
        F.struct(
            col("Location").alias("raw"),
            _location_name(loc_t, loc_m).alias("name"),
            _location_distance(loc_t, loc_m).alias("distance"),
            _location_direction(loc_t, loc_m).alias("direction"),
            col("State").alias("state"),
            col("County").alias("county"),
        ).alias("location"),
        col("Comments").alias("comments"),
        extract_source_office("Comments").alias("source_office"),
        time_bucket("_etime").alias("time_bucket"),
        proc.alias("processed_at"),
    ]
    return stages, out


def enrich_raw(
    df: DataFrame,
    processed_at: str | None = None,
    base_ts_col: str = "_base_ts",
) -> DataFrame:
    """Full ParseRawEvent + EnrichStormEvent as ONE declarative select.

    Input: a DataFrame with the 11 RAW_SCHEMA string columns plus a base
    timestamp column (Kafka message time / fixture base date). Output: the
    nested EVENT_SCHEMA layout (transform.go:37-47,148-161).

    ``processed_at``: ISO timestamp string to freeze the clock (genmock
    pattern, cmd/genmock/main.go:60-64); None → current_timestamp(), which
    Spark evaluates once per query.
    Catalyst fuses all of this into a single WholeStageCodegen stage — no
    shuffle, no UDF, scales linearly with input splits.

    The intermediates (trimmed time, padded HHMM, hour, minute, raw
    magnitude source and value, normalized type/unit/magnitude, event time,
    location match) are materialized as staged columns rather than inlined
    Column trees. Inlining duplicates each when-chain into every consumer
    branch (derive_severity alone would carry ~7 copies of the magnitude
    chain), and codegen subexpression elimination does not reach into
    conditional branches — measured 2.3× slower than the staged form at
    sf0.1.

    The 8 KB rule: HotSpot never JIT-compiles a method over 8,000 bytes of
    bytecode (HugeMethodLimit), so a larger generated method runs every row
    in the interpreter. Keep every codegen stage of
    ``serialize_events(enrich_raw(parse_raw_events(env)))`` under it;
    tests/test_enrich.py checks ``maxMethodCodeSize`` of each stage via
    ``org.apache.spark.sql.execution.debug.package$.MODULE$
    .codegenStringSeq(df._jdf.queryExecution().executedPlan())``.

    The stages and select list are built once per SparkContext and
    argument pair (session.per_context) and reused on every DataFrame.
    """
    # All reference time math is UTC (transform.go:108-111,313): HHMM
    # expansion, RFC-3339 parse, and hourly buckets silently shift under a
    # non-UTC session (observed: a 4-hour offset under America/New_York).
    # Pin it here so every caller — CLI, streaming, the driver's own
    # session — gets reference semantics.
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    stages, out = _enrich_plan(processed_at, base_ts_col)
    for stage in stages:
        df = df.withColumns(stage)
    return df.select(*out)


def enrich_envelope(
    df: DataFrame, processed_at: str | None = None, drop_invalid: bool = True
) -> DataFrame:
    """Kafka envelope → enriched events (the [core] hot path, P1→P15).

    Malformed-JSON rows are dropped (poison-pill skip, pipeline.go:127-139)
    when ``drop_invalid``; pass False to keep the `_valid` flag and split a
    dead-letter stream yourself.
    """
    parsed = parse_raw_events(df)
    if drop_invalid:
        parsed = parsed.filter(F.col("_valid"))
    return enrich_raw(parsed, processed_at=processed_at)
