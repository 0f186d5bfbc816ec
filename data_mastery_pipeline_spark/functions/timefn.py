"""Date/time scalar functions (SURVEY §2.C: D1-D7, D11, D14).

Every function the reference uses maps to a native Spark function
(silver_processor.py:235-241, schema.sql:106,151-153,245-264,
gold_loader.py:130,158). ``time_parts`` is the bundled projection the
Silver stage applies before aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

# D1-D7: calendar part extractors keyed by output column name.
TIME_PART_FNS = {
    "year": F.year,          # D1
    "month": F.month,        # D2
    "day": F.dayofmonth,     # D3
    "hour": F.hour,          # D4
    "day_of_week": F.dayofweek,  # D5 (1=Sunday, Spark == Postgres DOW+1 convention used by reference)
    "week_of_year": F.weekofyear,  # D6
    "quarter": F.quarter,    # D7
}


def time_parts(df: DataFrame, ts_col: str, parts: list[str] | None = None) -> DataFrame:
    """D1-D7 — add calendar-part columns derived from ``ts_col``
    (silver_processor.py:235-241)."""
    parts = parts or list(TIME_PART_FNS)
    return df.withColumns({p: TIME_PART_FNS[p](F.col(ts_col)) for p in parts})


def make_date(y: Column, m: Column, d: Column) -> Column:
    """D11 — construct a date from parts (schema.sql:106)."""
    return F.make_date(y, m, d)


def duration_seconds(start: str | Column, end: str | Column) -> Column:
    """D14 — EXTRACT(EPOCH FROM (end-start)) (gold_loader.py:130,158).

    Microsecond-exact (review r6, verified): ``unix_timestamp()``
    TRUNCATES each endpoint to whole seconds before subtracting, so
    sub-second timestamps were off by up to ±1 s vs the EPOCH semantic
    — the same pitfall operators/joins.py:171 documents and avoids."""
    return (F.unix_micros(end) - F.unix_micros(start)) / F.lit(1_000_000.0)
