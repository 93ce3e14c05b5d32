"""Scalar function library — SURVEY.md §2.7 (F1-F22).

Every custom scalar the reference applies row-at-a-time in Python is
re-expressed here as a **native Column expression** (JVM-side, inside
whole-stage codegen — zero Python UDFs). Each helper's docstring cites the
reference implementation it is behaviour-parity with.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F1 — property-name sanitize
# ---------------------------------------------------------------------------


def sanitize_prop_name(col: Column | str) -> Column:
    """Lowercase, collapse every non-``[a-z0-9_]`` run to ``_``.

    Parity: ``_sanitize`` in /root/reference/app/graph_weather_day.py:46-51
    (and its 4 clones in soil/irrigation/canopy/sap day modules).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), r"[^a-z0-9_]+", "_")


# ---------------------------------------------------------------------------
# F2 — depth-from-label
# ---------------------------------------------------------------------------


def depth_from_label(label: Column | str) -> Column:
    """Extract the first 1-3 digit number (decimal comma tolerated, e.g.
    ``"22,5"``) from a sensor label, round to int; else -1.

    Parity: ``_depth_from_label`` /root/reference/app/graph_soil_layer.py:28-42
    and the sensor_detail fallback at :142-151.
    """
    c = F.col(label) if isinstance(label, str) else label
    token = F.regexp_extract(c, r"(?<!\d)(\d{1,3}(?:[.,]\d+)?)", 1)
    num = F.regexp_replace(token, ",", ".").try_cast("double")
    # bround = half-even, matching the reference's Python int(round(x))
    # (banker's rounding: 22.5→22, 23.5→24); F.round would be HALF_UP.
    depth = F.bround(num).cast("int")
    return F.coalesce(depth, F.lit(-1))


# ---------------------------------------------------------------------------
# F3 — loose number parse
# ---------------------------------------------------------------------------


def loose_number(col: Column | str) -> Column:
    """First ``[-+]?\\d+([.,]\\d+)?`` token anywhere in the string, decimal
    comma normalized — tolerates ``~12``, ``>= 3,5``, ``12%``, units.

    Parity: ``_to_float`` /root/reference/app/graph_sap_element_result.py:16-29
    and ``_num`` /root/reference/app/graph_app_nutrient_content.py:91-106.
    """
    c = F.col(col) if isinstance(col, str) else col
    token = F.regexp_extract(c.cast("string"), r"([-+]?\d+(?:[.,]\d+)?)", 1)
    return F.regexp_replace(token, ",", ".").try_cast("double")


# ---------------------------------------------------------------------------
# F4 — inequality-trimmed float
# ---------------------------------------------------------------------------


def ineq_trimmed_float(col: Column | str) -> Column:
    """``try_cast(v)``; on failure strip leading ``<>=`` / whitespace and retry.

    Parity: ``_to_float`` /root/reference/app/graph_tnd_analysis.py:24-37,
    /root/reference/app/graph_soil_analysis.py:24-37.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    direct = c.try_cast("double")
    stripped = F.regexp_replace(c, r"^[<>=\s]+", "").try_cast("double")
    return F.coalesce(direct, stripped)


# ---------------------------------------------------------------------------
# F5 — range-string parse
# ---------------------------------------------------------------------------


def parse_range(col: Column | str) -> Column:
    """Parse optimum-range strings to ``struct<range_min double, range_max
    double>``: ``"1-4"``→(1,4); ``"3"``→(3,3); ``">=2.5"``→(2.5,NULL);
    ``"<=7"``→(NULL,7); unparsable→(NULL,NULL).

    Parity: ``_parse_range`` /root/reference/app/graph_optimum_element_range.py:16-61.
    """
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    norm = F.regexp_replace(c, ",", ".")
    num = r"[-+]?\d+(?:\.\d+)?"
    lo_hi = F.regexp_extract(norm, rf"^({num})\s*-\s*({num})$", 1)
    hi_of = F.regexp_extract(norm, rf"^({num})\s*-\s*({num})$", 2)
    ge = F.regexp_extract(norm, rf"^>=?\s*({num})$", 1)
    le = F.regexp_extract(norm, rf"^<=?\s*({num})$", 1)
    single = F.regexp_extract(norm, rf"^({num})$", 1)
    d = lambda s: F.nullif(s, F.lit("")).try_cast("double")  # noqa: E731
    rmin = F.coalesce(d(lo_hi), d(ge), d(single))
    rmax = F.coalesce(d(hi_of), d(le), d(single))
    return F.struct(rmin.alias("range_min"), rmax.alias("range_max"))


# ---------------------------------------------------------------------------
# F7 — datetime coercion
# ---------------------------------------------------------------------------


def coerce_datetime(col: Column | str) -> Column:
    """Accept ISO date, ISO datetime, or ``%Y-%m-%d %H:%M``; first match wins.

    Parity: ``_coerce_dt`` /root/reference/app/utils.py:19-32.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    return F.coalesce(
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm:ss")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd HH:mm")),
        F.try_to_timestamp(c, F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(F.substring(c, 1, 10), F.lit("yyyy-MM-dd")),
    )


# ---------------------------------------------------------------------------
# F8 — timezone → fixed offset
# ---------------------------------------------------------------------------

_TZ_OFFSETS = {
    "utc": "+00:00",
    "gmt": "+00:00",
    "europe/istanbul": "+03:00",
    "asia/istanbul": "+03:00",
    "turkey": "+03:00",
}


def tz_offset(col: Column | str) -> Column:
    """The reference's lossy tz map (UTC/GMT→+00:00, Istanbul aliases→+03:00,
    else NULL) — /root/reference/app/utils.py:34-43. Kept for parity; real
    pipelines should use :func:`pyspark.sql.functions.convert_timezone`.
    """
    c = F.lower(F.trim((F.col(col) if isinstance(col, str) else col).cast("string")))
    expr = F.lit(None).cast("string")
    mapping = F.create_map(*[F.lit(x) for kv in _TZ_OFFSETS.items() for x in kv])
    # mapping[c] (element_at semantics) — getItem(Column) is deprecated
    return F.coalesce(mapping[c], expr)


# ---------------------------------------------------------------------------
# F9 — datetime → component struct (Neo4j-export edge only)
# ---------------------------------------------------------------------------


def datetime_components(col: Column | str, tz: Column | None = None) -> Column:
    """``struct{year..second[,timezone]}`` — only needed when exporting to a
    Neo4j-compatible sink; internally the engine keeps TimestampType.

    Parity: ``dt_components`` /root/reference/app/utils.py:45-63.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("timestamp")
    fields = [
        F.year(c).alias("year"),
        F.month(c).alias("month"),
        F.dayofmonth(c).alias("day"),
        F.hour(c).alias("hour"),
        F.minute(c).alias("minute"),
        F.second(c).alias("second"),
    ]
    if tz is not None:
        fields.append(tz.alias("timezone"))
    return F.struct(*fields)


# ---------------------------------------------------------------------------
# F10 — unit → liters
# ---------------------------------------------------------------------------


def to_liters(amount: Column | str, unit: Column | str) -> Column:
    """L/lt/ltr → ×1, ml → ÷1000, unknown → NULL.

    Parity: ``_unit_to_liters`` /root/reference/app/graph_application_event.py:51-60,
    /root/reference/app/graph_product_application.py:49-58.
    """
    a = (F.col(amount) if isinstance(amount, str) else amount).try_cast("double")
    u = F.lower(F.trim((F.col(unit) if isinstance(unit, str) else unit).cast("string")))
    return (
        F.when(u.isin("l", "lt", "ltr", "liter", "litre"), a)
        .when(u == "ml", a / F.lit(1000.0))
        .otherwise(F.lit(None).cast("double"))
    )


# ---------------------------------------------------------------------------
# F11 — area unit → decare factor
# ---------------------------------------------------------------------------


def area_decare_factor(unit: Column | str) -> Column:
    """da→1, ha→10, m²/m2→0.01, unknown→NULL.

    Parity: ``_area_to_da`` /root/reference/app/graph_application_event.py:38-49.
    """
    u = F.lower(F.trim((F.col(unit) if isinstance(unit, str) else unit).cast("string")))
    return (
        F.when(u.isin("da", "daa", "decare"), F.lit(1.0))
        .when(u.isin("ha", "hectare"), F.lit(10.0))
        .when(u.isin("m2", "m²", "sqm"), F.lit(0.01))
        .otherwise(F.lit(None).cast("double"))
    )


# ---------------------------------------------------------------------------
# F12 — nutrient alias map
# ---------------------------------------------------------------------------

NUTRIENT_ALIASES = {
    "c": "total_carbon",
    "carbon": "total_carbon",
    "n": "total_nitrogen",
    "nitrogen": "total_nitrogen",
    "p": "total_phosphorus",
    "phosphorus": "total_phosphorus",
    "k": "total_potassium",
    "potassium": "total_potassium",
    "ca": "total_calcium",
    "calcium": "total_calcium",
    "mg": "total_magnesium",
    "magnesium": "total_magnesium",
    "s": "total_sulfur",
    "sulfur": "total_sulfur",
    "na": "total_sodium",
    "sodium": "total_sodium",
    "fe": "total_iron",
    "iron": "total_iron",
    "mn": "total_manganese",
    "manganese": "total_manganese",
    "zn": "total_zinc",
    "zinc": "total_zinc",
    "cu": "total_copper",
    "copper": "total_copper",
    "b": "total_boron",
    "boron": "total_boron",
    "mo": "total_molybdenum",
    "molybdenum": "total_molybdenum",
    "si": "total_silicon",
    "silicon": "total_silicon",
}


def nutrient_canonical(col: Column | str) -> Column:
    """Element alias → canonical ``total_*`` column name; unknown → NULL.

    Parity: alias table /root/reference/app/graph_tnd_analysis.py:66-114.
    """
    c = F.lower(F.trim((F.col(col) if isinstance(col, str) else col).cast("string")))
    mapping = F.create_map(*[F.lit(x) for kv in NUTRIENT_ALIASES.items() for x in kv])
    return mapping[c]


# ---------------------------------------------------------------------------
# F13 — mineral-name normalize
# ---------------------------------------------------------------------------


def mineral_norm(col: Column | str) -> Column:
    """lowercase/trim a mineral name; the alias-set membership tests (ph /
    ec-variants / sugar-variants) then use plain ``isin``.

    Parity: /root/reference/app/graph_sap_analysis.py:25-71.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c.cast("string")))


# ---------------------------------------------------------------------------
# F14 — first-non-empty app_type pick
# ---------------------------------------------------------------------------


def first_non_empty(*cols: Column | str) -> Column:
    """First non-null, non-empty (after trim) of ``cols``, else ``"unknown"``.

    Parity: ``_app_type`` /root/reference/app/graph_application_event.py:30-36
    (also covers F17 ``_safe_get`` alias-column coalescing).
    """
    normed = [
        F.nullif(F.trim((F.col(c) if isinstance(c, str) else c).cast("string")), F.lit(""))
        for c in cols
    ]
    return F.coalesce(*normed, F.lit("unknown"))


# ---------------------------------------------------------------------------
# F15 — stable composite id
# ---------------------------------------------------------------------------


def composite_id(*cols: Column | str) -> Column:
    """``f"{a}:{b}:..."`` natural-key string id.

    Parity: /root/reference/app/graph_sap_element_result.py:65-67 and 4 more.
    """
    cs = [(F.col(c) if isinstance(c, str) else c).cast("string") for c in cols]
    return F.concat_ws(":", *cs)


# ---------------------------------------------------------------------------
# F16 — JSON encode (export edge only)
# ---------------------------------------------------------------------------


def json_encode(col: Column | str) -> Column:
    """``to_json`` of a struct/array/map column. Internally the engine keeps
    native nested types (fixes SURVEY §1.4 stringification); JSON only at the
    Neo4j-compat export edge.

    Parity: json.dumps packing /root/reference/app/graph_irrigation_event.py:33-41.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.to_json(c)


# ---------------------------------------------------------------------------
# F19 — depth difference
# ---------------------------------------------------------------------------


def depth_diff(ending: Column | str, beginning: Column | str) -> Column:
    """``sample_depth_cm = ending - beginning``.

    Parity: /root/reference/app/graph_haney_analysis.py:99-102.
    """
    e = (F.col(ending) if isinstance(ending, str) else ending).try_cast("double")
    b = (F.col(beginning) if isinstance(beginning, str) else beginning).try_cast("double")
    return e - b


# ---------------------------------------------------------------------------
# F20 — Z-suffix ISO parse with midnight fallback
# ---------------------------------------------------------------------------


def iso_z_timestamp(col: Column | str) -> Column:
    """Parse ISO timestamps tolerating a ``Z`` suffix; NULL when none of
    the formats parse.

    Parity: ``_to_datetime`` /root/reference/app/graph_product_application.py:26-38.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    cleaned = F.regexp_replace(c, r"Z$", "+00:00")
    parsed = F.coalesce(
        F.try_to_timestamp(cleaned, F.lit("yyyy-MM-dd'T'HH:mm:ssxxx")),
        F.try_to_timestamp(cleaned, F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        F.try_to_timestamp(cleaned),
    )
    return parsed


# ---------------------------------------------------------------------------
# F21 — Postgres point "(x,y)" parse
# ---------------------------------------------------------------------------


def parse_point(col: Column | str) -> Column:
    """``"(x,y)"`` → ``struct<lon double, lat double>``; NULL on empty.

    Parity: the monkey-patched point loader /root/reference/app/patches.py:17-27,
    flattened to lat/lon at graph_fields.py:7-11.
    """
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    num = r"([-+]?\d+(?:\.\d+)?)"
    x = F.regexp_extract(c, rf"^\({num}\s*,", 1).try_cast("double")
    y = F.regexp_extract(c, rf",\s*{num}\)$", 1).try_cast("double")
    return F.struct(x.alias("lon"), y.alias("lat"))


# ---------------------------------------------------------------------------
# F22 — epoch seconds
# ---------------------------------------------------------------------------


def epoch_seconds(col: Column | str) -> Column:
    """Timestamp → epoch seconds (double). After ingest everything is a
    single TimestampType, so the reference's heterogenous branching
    (/root/reference/app/graph_product_application.py:179-197) collapses.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("timestamp")
    return F.unix_timestamp(c).cast("double")


# ---------------------------------------------------------------------------
# P7 — null-if-empty normalize (used by filters)
# ---------------------------------------------------------------------------


def norm_str(col: Column | str) -> Column:
    """trim; empty string → NULL.

    Parity: ``_norm_str`` /root/reference/app/graph_application_event.py:23-28.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c.cast("string")), F.lit(""))
