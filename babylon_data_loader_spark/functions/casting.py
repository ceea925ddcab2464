"""Validation / casting expressions with reference drop-vs-default parity.

The reference's per-row loop (reference datalake/datalake.go:208-271)
collapses into these column expressions; the asymmetry between required
fields (invalid ⇒ row dropped) and optional ones (invalid ⇒ default,
row kept) is the core semantic to preserve:

- posting date: strict parse, invalid/empty ⇒ DROP (datalake.go:218-233)
- amount: float parse, invalid ⇒ DROP (datalake.go:235-240)
- balance: float parse, invalid/missing ⇒ 0.0, KEEP (datalake.go:242-255)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Go's time.Parse("01/02/2006") accepts both zero-padded and bare
# month/day ("1/2/2024" and "01/02/2024"); Spark's M/d pattern matches
# that surface. CORRECTED parser policy makes out-of-range dates
# (13/40/2024) fail -> try_to_date yields NULL.
GO_DATE_FORMAT = "M/d/yyyy"
# Output format is always zero-padded (Go Format("01/02/2006")).
OUT_DATE_FORMAT = "MM/dd/yyyy"


def nonempty(col: Column) -> Column:
    """NULL when the string is NULL or empty ('' is 'absent' in the
    reference's map-of-strings row representation)."""
    return F.nullif(col, F.lit(""))


def coalesce_nonempty(*cols: Column) -> Column:
    """First non-NULL, non-empty value, in priority order — the
    multi-alias lookup of getPostingDate (datalake.go:167-174)."""
    return F.coalesce(*[nonempty(c) for c in cols])


def strict_date(col: Column) -> Column:
    """Strict Go-style date parse: DATE on success, NULL on failure."""
    return F.try_to_date(col, GO_DATE_FORMAT)


def reformat_date(col: Column) -> Column:
    """Parsed date re-emitted as the zero-padded MM/dd/yyyy string the
    reference stores (datalake.go:259)."""
    return F.date_format(strict_date(col), OUT_DATE_FORMAT)


def go_float(col: Column) -> Column:
    """strconv.ParseFloat surface: accepts 1e3 / +5 / .5, rejects
    surrounding whitespace (Spark's try_cast trims, Go does not).
    NULL on failure."""
    trimmed_ok = col == F.trim(col)
    return F.when(trimmed_ok, col.try_cast("double"))


def required_double(col: Column) -> Column:
    """Amount semantics: NULL (⇒ caller drops row) when unparseable."""
    return go_float(col)


def optional_double(col: Column) -> Column:
    """Balance semantics: value when parseable, else 0.0 — row is
    always kept."""
    return F.coalesce(go_float(col), F.lit(0.0))
