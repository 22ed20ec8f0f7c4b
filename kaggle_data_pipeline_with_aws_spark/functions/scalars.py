"""Scalar function library — SURVEY §2.8 (F1–F19), one named wrapper
per reference function so parity is line-auditable.

Every function is a pure built-in column expression (JVM-side, inside
whole-stage codegen); none require a UDF. Where the reference's Python
has defaulting/coercion semantics (``.get(k, 0)``, ``errors='coerce'``),
the Spark expression reproduces them exactly — these are the semantics
the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return col if isinstance(col, Column) else F.col(col)


# F1 — lower (analysis.ipynb cells 12, 17: winner.str.lower())
def lower(col: str | Column) -> Column:
    return F.lower(_c(col))


# F2 — to-date with coercion (cell 8: pd.to_datetime(..., errors='coerce');
# invalid inputs become null, exactly F.to_date's non-ANSI behavior)
def to_date_coerce(col: str | Column, fmt: str = "yyyy-MM-dd") -> Column:
    return F.try_to_timestamp(_c(col), F.lit(fmt)).cast("date")


# F3 — year extract (cell 10: date.dt.year)
def year(col: str | Column) -> Column:
    return F.year(_c(col))


# F4 — date parse + reformat (upload...py:61: strptime '%Y-%m-%d' →
# strftime '%d/%m/%Y')
def reformat_date(
    col: str | Column, in_fmt: str = "yyyy-MM-dd", out_fmt: str = "dd/MM/yyyy"
) -> Column:
    return F.date_format(F.to_date(_c(col), in_fmt), out_fmt)


# F6 — coalesce / null-default (extract_matchwise...py:71: winner or
# result; extract_deliverywise...py:159-169: .get(k, 0))
def coalesce(*cols: str | Column) -> Column:
    return F.coalesce(*[_c(c) for c in cols])


def zero_default(col: str | Column) -> Column:
    return F.coalesce(_c(col), F.lit(0))


# F7 — safe nested access (.get('info',{}).get('toss',{}).get('winner')
# chains, extract_matchwise...py:56-76). With a declared schema, nested
# struct refs are null-safe by construction; this names that idiom.
def nested(path: str) -> Column:
    return F.col(path)


# F8 — first array element w/ default (dates[0], player_of_match[0]...)
def first_element(col: str | Column) -> Column:
    return F.try_element_at(_c(col), F.lit(1))


# F9 — conditional second element (teams[1] if len(teams) > 1 else None)
def second_element(col: str | Column) -> Column:
    return F.try_element_at(_c(col), F.lit(2))


# F12 — equality-derived boolean (cell 17: toss_winner == winner)
def eq_flag(left: str | Column, right: str | Column) -> Column:
    return _c(left) == _c(right)


# F13 — composite key build (extract_deliverywise...py:76-78)
def composite_key(*cols: str | Column, sep: str = "-") -> Column:
    return F.concat_ws(sep, *[_c(c) for c in cols])


# F14 — dict value recode (cell 19: .map({True: 'Won Match', ...}))
def recode_bool(
    col: str | Column, if_true: str = "Won Match", if_false: str = "Lost Match"
) -> Column:
    return F.when(_c(col), if_true).otherwise(if_false)


# F15 — filename → key parse (utils.py:101: splitext(basename(key))[0])
def file_id_from_name() -> Column:
    """``match_id`` from the scanned file's name (``<digits>.json``)."""
    name = F.input_file_name()
    return F.regexp_extract(name, r"(\d+)\.json$", 1).cast("int")


# F16 — string endswith (download...py:90)
def endswith(col: str | Column, suffix: str) -> Column:
    return _c(col).endswith(suffix)


# F17 — string format/template (constants.py:42-55, upload...py:66)
def format_string(fmt: str, *cols: str | Column) -> Column:
    return F.format_string(fmt, *[_c(c) for c in cols])


# F18 — JSON serialize (upload...py:78-99)
def to_json(col: str | Column) -> Column:
    return F.to_json(_c(col))


# F19 — sum accumulate (extract_matchwise...py:92-97: += runs.total —
# as an aggregate post-explode, or fully nested without a shuffle)
def nested_sum(arr: str | Column) -> Column:
    """Sum over an array column without exploding (higher-order fold)."""
    return F.aggregate(
        _c(arr), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def epoch_micros(col: str | Column) -> Column:
    """``unix_micros`` that tolerates TIMESTAMP_NTZ inputs.

    Every parquet timestamp in the harness (``events.parquet`` stores
    ``ts`` as ``timestamp[us]`` with no timezone) reads back as
    TIMESTAMP_NTZ, and ``F.unix_micros`` is type-strict — it raises
    ``DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE`` at analysis time.
    Casting to TIMESTAMP first is a no-op on TIMESTAMP inputs and
    interprets NTZ values in the session timezone (the repo pins
    ``spark.sql.session.timeZone=UTC``, so the mapping is
    deterministic). Route EVERY ``unix_micros`` call through here.
    """
    return F.unix_micros(_c(col).cast("timestamp"))


def round6_pos_portable(col: str | Column) -> Column:
    """Cross-engine-stable round-half-up to 6 dp for NON-NEGATIVE
    doubles: ``floor(x*1e6 + 0.5)/1e6`` — every step is an IEEE double
    op, so Spark and DuckDB (``ROUND6_POS_SQL``) produce bit-identical
    results even on exact .5 ties, where Spark's BigDecimal HALF_UP and
    DuckDB's native double rounding disagree (found by the round-5
    sf0.1 robustness sweep: q61's n=1 group mean 1046.3109375 rounded
    to ...938 on Spark and ...937 on DuckDB). Use this instead of
    ``F.round(x, 6)`` when a tie at the 7th decimal is plausible; the
    caller must guarantee x >= 0 (floor(+0.5) rounds negatives toward
    +inf, unlike half-up).
    """
    return (
        F.floor(_c(col) * F.lit(1e6) + F.lit(0.5)).cast("double")
        / F.lit(1e6)
    )


# DuckDB twin of round6_pos_portable — same IEEE ops, same result.
ROUND6_POS_SQL = "(floor({x} * 1000000.0 + 0.5) / 1000000.0)"
