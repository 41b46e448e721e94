"""Typed value conversion as pure column expressions — no UDFs.

Ports the semantics of the reference conversion layer
(``ocr_backend/app/utils/data_conversion.py``) to vectorized Spark
expressions. Every converter returns a ``struct(value STRING, error STRING)``
column: on success ``(converted_stringified, NULL)``, on failure
``(original_value, error_message)`` — the reference's safe-convert contract
(``data_conversion.py:261-302``): *never fail the row; carry the error as
data*.

Values are stringified like the reference stores them
(``ocr_routes.py:585,684`` stringify before insert); typed companions
(timestamp / double / decimal / boolean) are available via the ``*_typed``
helpers for query use.

Semantic deltas vs the reference (documented, fixture-pinned):
- error message *texts* are stable engine messages, not Python exception
  reprs (parity is at the level of "error or not + original passthrough");
- booleans stringify lowercase ``true``/``false`` (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# The reference's 15 strptime formats (data_conversion.py:176-192), in the
# same precedence order, translated to Spark datetime patterns, plus the
# ISO-with-timezone fallback (:200-204).
DATE_FORMATS = [
    "yyyy-MM-dd",            # 2024-01-15
    "dd/MM/yyyy",            # 15/01/2024
    "MM/dd/yyyy",            # 01/15/2024
    "dd-MM-yyyy",            # 15-01-2024
    "MM-dd-yyyy",            # 01-15-2024
    "dd-MMM-yyyy",           # 24-Jun-2025
    "dd-MMMM-yyyy",          # 24-June-2025
    "dd.MM.yyyy",            # 15.01.2024
    "yyyy/MM/dd",            # 2024/01/15
    "MMMM d, yyyy",          # January 15, 2024
    "MMM d, yyyy",           # Jan 15, 2024
    "d MMMM yyyy",           # 15 January 2024
    "d MMM yyyy",            # 15 Jan 2024
    "yyyy-MM-dd HH:mm:ss",   # 2024-01-15 14:30:00
    "dd/MM/yyyy HH:mm",      # 15/01/2024 14:30
]

TRUE_TOKENS = ["true", "1", "yes", "y", "on", "enable", "enabled", "active"]
FALSE_TOKENS = ["false", "0", "no", "n", "off", "disable", "disabled", "inactive"]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _is_blank(s: Column) -> Column:
    # None or whitespace-only → null result, no error (data_conversion.py:43-44)
    return s.isNull() | (F.trim(s) == F.lit(""))


def _result(s: Column, ok: Column, value: Column, error_msg: Column) -> Column:
    """Assemble the (value, error) struct with blank→(null,null) handling."""
    return (
        F.when(_is_blank(s), F.struct(F.lit(None).cast("string").alias("value"),
                                      F.lit(None).cast("string").alias("error")))
        .when(ok, F.struct(value.alias("value"), F.lit(None).cast("string").alias("error")))
        .otherwise(F.struct(_c(s).alias("value"), error_msg.alias("error")))
    )


# --- text / select --------------------------------------------------------
def convert_text(col: Column | str) -> Column:
    """TEXT/STRING/SELECT: trim only (data_conversion.py:54-59,123-128)."""
    s = _c(col)
    return _result(s, F.lit(True), F.trim(s), F.lit(None))


# --- number ----------------------------------------------------------------
def convert_number(col: Column | str) -> Column:
    """NUMBER: comma-stripped; int unless '.'/'e' present
    (data_conversion.py:61-66). Stringified without trailing ``.0`` for the
    integer branch, like Python ``str(int(...))``."""
    s = _c(col)
    cleaned = F.regexp_replace(F.trim(s), ",", "")
    is_float = cleaned.rlike("[.eE]")
    as_long = (cleaned).try_cast("long")
    as_double = (cleaned).try_cast("double")
    ok = F.when(is_float, as_double.isNotNull()).otherwise(as_long.isNotNull())
    value = F.when(is_float, as_double.cast("string")).otherwise(as_long.cast("string"))
    err = F.concat(F.lit("Failed to convert '"), s, F.lit("' to number"))
    return _result(s, ok, value, err)


# --- date ------------------------------------------------------------------
def date_typed(col: Column | str) -> Column:
    """Multi-format parse → TIMESTAMP, trying the reference's 15 formats in
    order, then ISO-8601 (with optional timezone). Fully vectorized
    ``coalesce(try_to_timestamp(...))`` chain."""
    s = F.trim(_c(col))
    attempts = [F.try_to_timestamp(s, F.lit(fmt)) for fmt in DATE_FORMATS]
    # ISO fallback: fromisoformat with 'Z'→'+00:00' (data_conversion.py:200-204)
    iso = F.try_to_timestamp(F.regexp_replace(s, "Z$", "+00:00"))
    return F.coalesce(*attempts, iso)


def convert_date(col: Column | str) -> Column:
    """DATE: parse then render back as DD/MM/YYYY string
    (data_conversion.py:73,141); unparsable → error carried, original kept."""
    s = _c(col)
    ts = date_typed(s)
    err = F.concat(F.lit("Unable to parse date: '"), F.trim(s), F.lit("'"))
    return _result(s, ts.isNotNull(), F.date_format(ts, "dd/MM/yyyy"), err)


# --- email -----------------------------------------------------------------
def convert_email(col: Column | str) -> Column:
    """EMAIL: must contain '@' and '.'; lowercased (data_conversion.py:76-80)."""
    s = _c(col)
    t = F.trim(s)
    ok = t.contains("@") & t.contains(".")
    err = F.concat(F.lit("Invalid email format: "), t)
    return _result(s, ok, F.lower(t), err)


# --- currency ---------------------------------------------------------------
_CURRENCY_KEEP = r"[^0-9,.\-]"
_DECIMAL_SHAPE = r"^-?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$"


def currency_cleaned(col: Column | str) -> Column:
    """Symbol strip + de-comma (data_conversion.py:223-227): the exact string
    Python's ``Decimal`` would see."""
    return F.regexp_replace(
        F.regexp_replace(F.trim(_c(col)), _CURRENCY_KEEP, ""), ",", ""
    )


def convert_currency(col: Column | str) -> Column:
    """CURRENCY: '$1,234.56' → '1234.56'; '₹1,23,456.78' → '123456.78'.
    String form is the cleaned digit string (Python ``str(Decimal(x))``
    preserves the input scale, so the cleaned string IS the reference
    rendering); typed companion: ``currency_typed``."""
    s = _c(col)
    cleaned = currency_cleaned(s)
    ok = cleaned.rlike(_DECIMAL_SHAPE)
    # normalize leading zeros like Decimal does ("007.5" → "7.5")
    normalized = F.when(
        cleaned.rlike(r"^-?0+\d"),
        F.regexp_replace(cleaned, r"^(-?)0+(?=\d)", r"$1"),
    ).otherwise(cleaned)
    err = F.concat(F.lit("Unable to parse currency: '"), F.trim(s), F.lit("'"))
    return _result(s, ok, normalized, err)


def currency_typed(col: Column | str) -> Column:
    """Typed companion: DECIMAL(38,6) — exact monetary arithmetic."""
    return currency_cleaned(_c(col)).try_cast("decimal(38,6)")


# --- boolean -----------------------------------------------------------------
def boolean_typed(col: Column | str) -> Column:
    """8 truthy / 8 falsy tokens (data_conversion.py:248-258); else null."""
    t = F.lower(F.trim(_c(col)))
    return (
        F.when(t.isin(TRUE_TOKENS), F.lit(True))
        .when(t.isin(FALSE_TOKENS), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def convert_boolean(col: Column | str) -> Column:
    s = _c(col)
    b = boolean_typed(s)
    err = F.concat(F.lit("Unable to parse boolean: '"), F.trim(s), F.lit("'"))
    return _result(s, b.isNotNull(), F.when(b, "true").otherwise("false"), err)


# --- integer / float (sub-field data types, data_conversion.py:130-134) -----
def convert_integer(col: Column | str) -> Column:
    s = _c(col)
    cleaned = F.regexp_replace(F.trim(s), ",", "")
    as_long = (cleaned).try_cast("long")
    err = F.concat(F.lit("Failed to convert '"), s, F.lit("' to integer"))
    return _result(s, as_long.isNotNull(), as_long.cast("string"), err)


def convert_float(col: Column | str) -> Column:
    s = _c(col)
    cleaned = F.regexp_replace(F.trim(s), ",", "")
    as_double = (cleaned).try_cast("double")
    err = F.concat(F.lit("Failed to convert '"), s, F.lit("' to float"))
    return _result(s, as_double.isNotNull(), as_double.cast("string"), err)


# --- dispatch by field_type (convert_template_field_value, :32-101) ---------
_CONVERTERS = {
    "text": convert_text,
    "string": convert_text,
    "select": convert_text,
    "number": convert_number,
    "integer": convert_integer,
    "float": convert_float,
    "date": convert_date,
    "email": convert_email,
    "currency": convert_currency,
    "boolean": convert_boolean,
}


def convert_by_type(value_col: Column | str, type_col: Column | str) -> Column:
    """CASE over field_type — the schema-driven dispatch of
    ``convert_template_field_value`` as one vectorized expression."""
    t = F.lower(F.trim(_c(type_col)))
    expr = convert_text(value_col)  # unknown type → string passthrough (:97-99)
    for name, fn in _CONVERTERS.items():
        expr = F.when(t == name, fn(value_col)).otherwise(expr)
    return expr
