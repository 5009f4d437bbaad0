"""Core scalar functions from the reference's ETL surface (SURVEY.md §2A),
re-expressed as Catalyst-visible Column functions.

Every function here returns a ``pyspark.sql.Column`` built from JVM-side
builtins — no Python in the row path — so they inline into whole-stage
codegen and survive pushdown/pruning at any scale.

Reference parity (cited per function):
  * value/unit split        fox_hfm_parser.py:29-33, 149-154
  * strict date parse       fox_hfm_parser.py:20-26
  * fuzzy-ish date cascade  netzsch_sta_parser.py:278-291; faa_mcc_parser.py:90
  * typing ladder           faa_mcc_parser.py:82-92; deatak_cone_parser.py:151-158
  * unit normalization      faa_mcc_parser.py:95-106,182; deatak_cone_parser.py:72
  * key normalization       faa_mcc_parser.py:77,102-105; netzsch_sta_parser.py:126-131
  * segment/mfc/crucible    netzsch_sta_parser.py:187-259
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Value/unit extraction (op_parse_value_unit)
# ---------------------------------------------------------------------------

#: number (int or decimal, optional sign/exponent) at the start of a string
_NUM_RE = r"^\s*([+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
#: trailing unit token: letters, %, °, µ, /, digits in denominators (W/mK, °C/s)
_UNIT_RE = r"([%°µa-zA-Z][%°µa-zA-Z0-9/.*^-]*)\s*$"


def parse_value(col: Column | str) -> Column:
    """Numeric part of strings like ``'8.67mm'`` / ``'0.1497 W/mK'`` as double.

    NULL when no leading number exists (matches the reference's regex-miss
    behavior, fox_hfm_parser.py:29-33).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_extract(c, _NUM_RE, 1), F.lit("")).cast("double")


def parse_unit(col: Column | str) -> Column:
    """Unit suffix of a value-with-unit string (``'8.67mm'`` → ``'mm'``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_extract(c, _UNIT_RE, 1), F.lit(""))


def parse_value_unit(col: Column | str) -> Column:
    """``struct(value double, unit string)`` — the reference's
    ``{value, unit}`` metadata dicts (fox_hfm_parser.py:29-33)."""
    return F.struct(
        parse_value(col).alias("value"), parse_unit(col).alias("unit")
    )


# ---------------------------------------------------------------------------
# Date parsing (op_parse_date_strict / op_parse_date_fuzzy)
# ---------------------------------------------------------------------------

#: formats observed across the reference's five formats, most-specific first.
#: (Spark 3+ forbids day-of-week fields in *parsing* patterns, so the HFM
#: "Monday, " prefix is stripped by regex before the cascade runs.)
_DATE_FORMATS = [
    "MMMM d, yyyy, 'Time' H:mm",        # HFM: "March 4, 2024, Time 13:12"
    "M/d/yyyy H:mm:ss",                 # STA: "2/11/2024 13:12:51"
    "yyyy-MM-dd'T'HH:mm:ss",            # already-ISO
    "yyyy-MM-dd HH:mm:ss",
    "M/d/yyyy",
    "yyyy-MM-dd",
]

_DOW_PREFIX = r"^(Monday|Tuesday|Wednesday|Thursday|Friday|Saturday|Sunday),\s*"


def parse_date_cascade(col: Column | str, formats: list[str] | None = None) -> Column:
    """First successful parse across known formats → timestamp, else NULL.

    Deterministic replacement for the reference's ``dateutil`` fuzzy parse
    (netzsch_sta_parser.py:278-291): ``try_to_timestamp`` swallows per-format
    failures exactly like the reference's try/except ladder. Strings with a
    trailing timezone remark like ``'(UTC-5)'`` are stripped first (the
    reference's fuzzy=True ignores them).
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.trim(F.regexp_replace(c, r"\s*\((UTC|GMT)[^)]*\)\s*", " "))
    cleaned = F.regexp_replace(cleaned, _DOW_PREFIX, "")
    attempts = [F.try_to_timestamp(cleaned, F.lit(f)) for f in (formats or _DATE_FORMATS)]
    return F.coalesce(*attempts)


#: additional formats reachable only through the fuzzy token extraction
#: (12-hour clocks, European dotted dates, bare month-name dates).
_FUZZY_EXTRA_FORMATS = [
    "M/d/yyyy h:mm:ss a",
    "M/d/yyyy h:mm a",
    "d.M.yyyy H:mm:ss",
    "d.M.yyyy H:mm",
    "d.M.yyyy",
    "MMMM d, yyyy H:mm:ss",
    "MMMM d, yyyy H:mm",
    "MMMM d, yyyy",
    "MMMM d yyyy",
    "yyyy-MM-dd H:mm",
]

_MONTHS = (
    "January|February|March|April|May|June|July|August|September|October|"
    "November|December"
)
#: a numeric or month-name date token embedded anywhere in the string
_FUZZY_DATE_TOKEN = (
    r"(\d{1,4}[/.-]\d{1,2}[/.-]\d{1,4}"
    rf"|(?:{_MONTHS})\s+\d{{1,2}},?\s+\d{{4}})"
)
#: a clock token, optionally 12-hour
_FUZZY_TIME_TOKEN = r"(\d{1,2}:\d{2}(?::\d{2})?(?:\s?[APap][Mm])?)"


def parse_date_fuzzy(col: Column | str) -> Column:
    """Cascade parse with a fuzzy fallback for novel strings: when no known
    format matches the whole input, extract the embedded date token and
    clock token by regex — ignoring arbitrary surrounding words, exactly the
    contract of the reference's ``dateutil.parser.parse(fuzzy=True)``
    (netzsch_sta_parser.py:278-291) — and re-run the cascade on the
    recombined ``'<date> <time>'`` with an extended format list.  Stays
    fully deterministic (no locale guessing): an input matching none of the
    known shapes returns NULL rather than a speculative parse.
    """
    c = F.col(col) if isinstance(col, str) else col
    strict = parse_date_cascade(c)
    date_tok = F.nullif(
        F.regexp_extract(c, _FUZZY_DATE_TOKEN, 1), F.lit("")
    )
    time_tok = F.nullif(
        F.regexp_extract(c, _FUZZY_TIME_TOKEN, 1), F.lit("")
    )
    recombined = F.when(
        date_tok.isNotNull(),
        F.trim(F.concat_ws(" ", date_tok, F.upper(time_tok))),
    )
    fuzzy = parse_date_cascade(
        recombined, formats=_DATE_FORMATS + _FUZZY_EXTRA_FORMATS
    )
    return F.coalesce(strict, fuzzy)


def parse_epoch_seconds(col: Column | str) -> Column:
    """int32 epoch seconds → timestamp (netzsch_sta_ngb_parser.py:164-169)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_seconds(c.cast("long"))


# ---------------------------------------------------------------------------
# Typing ladder (op_type_coercion_cascade)
# ---------------------------------------------------------------------------


def coerce_typed(col: Column | str) -> Column:
    """The reference's value-typing ladder: int → float → date → string.

    Returns ``struct(kind string, long_val, double_val, ts_val, str_val)``
    with exactly one non-null payload — a tagged union, since a Column must
    have one type. ``try_cast`` swallows failures exactly like the
    reference's try/except (faa_mcc_parser.py:82-92).
    """
    c = F.col(col) if isinstance(col, str) else col
    as_long = c.try_cast("long")
    as_double = c.try_cast("double")
    as_ts = parse_date_cascade(c)
    kind = (
        F.when(as_long.isNotNull(), "int")
        .when(as_double.isNotNull(), "float")
        .when(as_ts.isNotNull(), "date")
        .otherwise("string")
    )
    return F.struct(
        kind.alias("kind"),
        as_long.alias("long_val"),
        F.when(as_long.isNull(), as_double).alias("double_val"),
        F.when(as_long.isNull() & as_double.isNull(), as_ts).alias("ts_val"),
        F.when(
            as_long.isNull() & as_double.isNull() & as_ts.isNull(), c
        ).alias("str_val"),
    )


# ---------------------------------------------------------------------------
# Unit / key normalization (op_unit_normalize, op_key_normalize)
# ---------------------------------------------------------------------------

#: canonical unit spellings (faa_mcc_parser.py:95-106; deatak_cone_parser.py:72)
UNIT_MAP = {
    "(c)": "°C",
    "c": "°C",
    "cc/min": "ml/min",
    "c/s": "°C/s",
    "sec": "s",
    "/m": "1/m",
    "k/min": "K/min",
}


def normalize_unit(col: Column | str) -> Column:
    """Canonicalize unit spellings via a literal CASE chain (broadcast-free:
    the map is tiny and constant-folds into codegen)."""
    c = F.col(col) if isinstance(col, str) else col
    lc = F.lower(F.trim(c))
    out = None
    for raw, canon in UNIT_MAP.items():
        cond = lc == raw
        out = F.when(cond, canon) if out is None else out.when(cond, canon)
    return out.otherwise(F.trim(c))


def normalize_key(col: Column | str) -> Column:
    """Controlled-vocabulary key shape: trim, lowercase, strip a ``/unit``
    suffix, strip parentheticals, spaces/dashes → underscores.

    ``'SAMPLE MASS /mg'`` → ``'sample_mass'`` (faa_mcc_parser.py:77,102-105;
    netzsch_sta_parser.py:126-131, 352-355).
    """
    c = F.col(col) if isinstance(col, str) else col
    # parentheticals first — a "(K/min)" unit contains a slash that would
    # otherwise confuse the /unit-suffix strip
    no_paren = F.regexp_replace(F.trim(c), r"\([^)]*\)", "")
    no_unit = F.regexp_replace(F.trim(no_paren), r"\s*/[^/]*$", "")
    snake = F.regexp_replace(F.lower(F.trim(no_unit)), r"[\s.-]+", "_")
    return F.regexp_replace(snake, r"_+$|^_+", "")


# ---------------------------------------------------------------------------
# Domain micro-parsers (op_string_struct_parse)
# ---------------------------------------------------------------------------


def parse_mfc(col: Column | str) -> Column:
    """``'NITROGEN,250.0 ml/min'`` → struct(gas, range{value,unit})
    (netzsch_sta_parser.py:187-200)."""
    c = F.col(col) if isinstance(col, str) else col
    gas = F.trim(F.substring_index(c, ",", 1))
    rest = F.trim(F.substring_index(c, ",", -1))
    return F.struct(
        F.lower(gas).alias("gas"), parse_value_unit(rest).alias("range")
    )


def parse_segment(col: Column | str) -> Column:
    """Temperature-program segment string → struct.

    Two regimes (netzsch_sta_parser.py:224-259):
      ramp  ``'25°C/20.0(K/min)/250°C'`` → start/end temperature + heating_rate
      dwell ``'25°C/00:20/25°C'``        → start/end temperature + time
    """
    c = F.col(col) if isinstance(col, str) else col
    # Full-string regexes, not split('/'): the ramp's "(K/min)" unit contains
    # a slash, so naive slash-splitting misparses (the reference hits the
    # same subtlety with its two-regime regex, netzsch_sta_parser.py:246,253).
    ramp_re = r"^(.*?)/(\d*\.?\d+)\(([^)]*)\)/(.*)$"
    dwell_re = r"^(.*?)/(\d+:\d+)/(.*)$"
    is_ramp = c.rlike(r"/\d*\.?\d+\([^)]*\)/")
    start = F.when(is_ramp, F.regexp_extract(c, ramp_re, 1)).otherwise(
        F.regexp_extract(c, dwell_re, 1)
    )
    end = F.when(is_ramp, F.regexp_extract(c, ramp_re, 4)).otherwise(
        F.regexp_extract(c, dwell_re, 3)
    )
    rate = F.struct(
        F.regexp_extract(c, ramp_re, 2).cast("double").alias("value"),
        F.regexp_extract(c, ramp_re, 3).alias("unit"),
    )
    dwell_time = F.regexp_extract(c, dwell_re, 2)
    return F.struct(
        parse_value_unit(start).alias("start_temperature"),
        parse_value_unit(end).alias("end_temperature"),
        F.when(is_ramp, rate).alias("heating_rate"),
        F.when(~is_ramp, dwell_time).alias("time"),
    )


def parse_crucible(col: Column | str) -> Column:
    """``'PtRh20 85 µl, with lid'`` → struct(material, volume{value,unit},
    extra) (netzsch_sta_parser.py:203-221)."""
    c = F.col(col) if isinstance(col, str) else col
    head = F.trim(F.substring_index(c, ",", 1))
    extra = F.when(
        F.instr(c, ",") > 0, F.trim(F.substr(c, F.instr(c, ",") + 1))
    )
    material = F.substring_index(head, " ", 1)
    vol = F.trim(F.substr(head, F.length(material) + 1))
    return F.struct(
        material.alias("material"),
        parse_value_unit(vol).alias("volume"),
        extra.alias("extra"),
    )
