"""Cleaning/casting expressions — the reference's `cleaner` semantics.

Reference parity map (SURVEY §2.3; citations into /root/reference/):

- P3  snake_case rename        — EIA930PipelineHourlyData.py:145-155
- P4  numeric coerce-to-null   — EIA930PipelineHourlyData.py:114,124,137
- P5  timestamp coerce-to-null — EIA930PipelineHourlyData.py:101;
      quarterly 'YYYY-Qn' parse  EIA7APipelineQuarterlyData.py:76,90;
      monthly 'YYYY-MM'          EIA814PipelineMonthlyData.py:66
- P6  month-end snap           — EIA814PipelineMonthlyData.py:66
- P14 conditional column fallback (respondent/fromba schema drift)
                               — EIA930PipelineHourlyData.py:105

Everything is a Column expression (Catalyst-optimizable, codegen'd);
`to_snake_case` is driver-side Python because it operates on column
*names*, exactly as the reference does.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# P3 — bulk snake_case rename (driver-side: names, not data)
# ---------------------------------------------------------------------------


def to_snake_case(name: str) -> str:
    """snake_case a column name: separators → '_', split camelCase,
    lowercase. Same observable behavior as the reference's renamer
    (EIA930PipelineHourlyData.py:145-155), reimplemented.
    Idempotent (property-tested)."""
    s = re.sub(r"[-\s/]+", "_", name.strip())
    s = re.sub(r"(?<=[a-z0-9])(?=[A-Z])", "_", s)
    s = re.sub(r"(?<=[A-Z])(?=[A-Z][a-z])", "_", s)
    s = re.sub(r"_+", "_", s)
    return s.lower().strip("_")


def snake_case_columns(df: DataFrame) -> DataFrame:
    """Apply to_snake_case to every column (reference applies it to all
    8 frames before load, EIA930PipelineHourlyData.py:231-243)."""
    return df.toDF(*[to_snake_case(c) for c in df.columns])


# ---------------------------------------------------------------------------
# P4/P5 — null-on-error coercion (pd.to_numeric/to_datetime errors='coerce')
# ---------------------------------------------------------------------------


def try_double(col: Column | str) -> Column:
    """String→double, null on garbage — pd.to_numeric(errors='coerce')."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def try_ts(col: Column | str, fmt: str | None = None) -> Column:
    """String→timestamp, null on garbage — pd.to_datetime(errors='coerce').
    EIA hourly format '2025-01-31T05' needs an explicit pattern."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit(fmt)) if fmt else F.try_to_timestamp(c)


HOURLY_FMT = "yyyy-MM-dd'T'HH"  # EIA-930 period strings
MONTHLY_FMT = "yyyy-MM"  # EIA-814 period strings


def parse_quarter_period(col: Column | str) -> Column:
    """'YYYY-Qn' → timestamp at the first day of that quarter.

    The reference round-trips through pandas Period('Q')
    (EIA7APipelineQuarterlyData.py:76,90). No Spark built-in parses
    quarter strings, so: regexp_extract year + quarter → make_date.
    Invalid input → null (coerce semantics).
    """
    c = F.col(col) if isinstance(col, str) else col
    year = F.regexp_extract(c, r"^(\d{4})-Q([1-4])$", 1).try_cast("int")
    q = F.regexp_extract(c, r"^(\d{4})-Q([1-4])$", 2).try_cast("int")
    return F.to_timestamp(F.make_date(year, (q - F.lit(1)) * F.lit(3) + F.lit(1), F.lit(1)))


# ---------------------------------------------------------------------------
# P6 — month-end snap
# ---------------------------------------------------------------------------


def month_end(col: Column | str) -> Column:
    """Snap to last day of month (pd.offsets.MonthEnd(0),
    EIA814PipelineMonthlyData.py:66) → last_day built-in."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(F.last_day(c))


# ---------------------------------------------------------------------------
# P14 — conditional column fallback (schema drift across endpoints)
# ---------------------------------------------------------------------------


def coalesce_columns(df: DataFrame, out: str, *candidates: str) -> DataFrame:
    """Normalize schema drift: the reference picks 'respondent' if
    present else 'fromba' (EIA930PipelineHourlyData.py:105). Here: one
    fixed output column coalescing whichever candidates exist."""
    present = [c for c in candidates if c in df.columns]
    if not present:
        raise ValueError(f"none of {candidates} present in {df.columns}")
    res = df.withColumn(out, F.coalesce(*[F.col(c) for c in present]))
    return res.drop(*[c for c in present if c != out])
