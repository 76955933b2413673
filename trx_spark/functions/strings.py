"""Delay-string codec and filename helpers as Column expressions.

Mirrors trx/utils/string.py and trx/utils/files.py (semantics only; the
reference uses compiled regexes + Python floats — here it is
regexp_extract + CASE, fully codegen'd JVM-side).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# trx/utils/string.py:15 — (-?\d+\.?\d*)((?:s|fs|ms|ns|ps|us)?)
_TIME_RE = r"(-?\d+\.?\d*)((?:s|fs|ms|ns|ps|us)?)"
# trx/utils/string.py:9 — _(-?\d+\.?\d*(?:ps|ns|us|ms)?)
_DELAY_TOKEN_RE = r"_(-?\d+\.?\d*(?:ps|ns|us|ms)?)"


def str_to_time(col: Column | str) -> Column:
    """'100ps' → 1e-10 s (trx/utils/string.py:17-27 ``strToTime``).

    Unknown/missing unit multiplies by 1 (the reference's dict .get
    default); a string with no numeric match yields NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    num = F.regexp_extract(c, _TIME_RE, 1)
    unit = F.regexp_extract(c, _TIME_RE, 2)
    mult = (
        F.when(unit == "fs", 1e-15)
        .when(unit == "ps", 1e-12)
        .when(unit == "ns", 1e-9)
        .when(unit == "us", 1e-6)
        .when(unit == "ms", 1e-3)
        .otherwise(1.0)
    )
    return F.when(num != "", num.cast("double") * mult)


def delay_to_num(col: Column | str) -> Column:
    """'off' → −10.0 else strToTime (trx/id9.py:62-67 ``_delayToNum``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == "off", F.lit(-10.0)).otherwise(str_to_time(c))


def time_to_str(col: Column | str, digits: int = 0) -> Column:
    """float seconds → '+100ps' with magnitude-appropriate unit
    (trx/utils/string.py:29-47 ``timeToStr``; default fmt '%+.0f').

    Note the reference's own quirk: the fs and as branches scale by 1e12
    (not 1e15/1e18) — reproduced for parity.
    """
    c = F.col(col) if isinstance(col, str) else col
    a = F.abs(c)
    fmt = f"%+.{digits}f"

    def part(scale: float, suffix: str) -> Column:
        return F.concat(F.format_string(fmt, c * scale), F.lit(suffix))

    return (
        F.when(a >= 1, part(1.0, "s"))
        .when((a >= 1e-3) & (a < 1), part(1e3, "ms"))
        .when((a >= 1e-6) & (a < 1e-3), part(1e6, "us"))
        .when((a >= 1e-9) & (a < 1e-6), part(1e9, "ns"))
        .when((a >= 1e-12) & (a < 1e-9), part(1e12, "ps"))
        .when((a >= 1e-15) & (a < 1e-12), part(1e12, "fs"))
        .when((a >= 1e-18) & (a < 1e-15), part(1e12, "as"))
        .otherwise(F.concat(c.cast("string"), F.lit("s")))
    )


def get_delay_from_string(col: Column | str) -> Column:
    """Extract the '_<delay>' token from a filename
    (trx/utils/string.py:11-13); NULL when absent."""
    c = F.col(col) if isinstance(col, str) else col
    tok = F.regexp_extract(c, _DELAY_TOKEN_RE, 1)
    return F.when(tok != "", tok)


def remove_ext(col: Column | str) -> Column:
    """Strip '.gz' then the extension (trx/utils/files.py:23-27)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, r"\.gz$", ""), r"\.[^.]*$", "")


def basename(col: Column | str) -> Column:
    """Basename without extension (trx/utils/files.py:28-29)."""
    c = F.col(col) if isinstance(col, str) else col
    return remove_ext(F.element_at(F.split(c, "/"), -1))


def ws_parts(col: Column | str) -> Column:
    """Whitespace-tokenize a text line into its field array (tabs and
    runs of spaces collapse to one separator) — the genfromtxt
    field-splitting idiom shared by every text-log/chi reader. One
    definition so a tokenization fix (tab handling, trailing comments)
    lands everywhere at once. Whitespace collapses BEFORE the trim
    (which strips spaces only), so a leading or trailing tab yields no
    empty field."""
    return F.split(F.trim(F.regexp_replace(col, r"\s+", " ")), " ")
