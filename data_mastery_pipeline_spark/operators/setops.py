"""Set operations + sort/limit/top-k (SURVEY §2.G/§2.H).

  U1 UNION ALL of scalar aggregates (get_database_stats, schema.sql:295-309)
  ∅→native: INTERSECT / EXCEPT, explicit LIMIT / top-k.

Scale: `orderBy().limit(k)` plans as TakeOrderedAndProject — a per-
partition heap + driver-side merge of k rows, never a global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """U1 — UNION ALL by column name (unionByName avoids silent positional
    mismatches the reference's hand-stacked SELECTs risk)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def table_stats(dfs: dict[str, DataFrame]) -> DataFrame:
    """U1 concretely — the reference's get_database_stats() shape
    (schema.sql:295-309): one (table_name, row_count) row per table."""
    parts = [
        df.agg(F.count("*").alias("row_count")).select(
            F.lit(name).alias("table_name"), "row_count"
        )
        for name, df in dfs.items()
    ]
    return union_all(parts)


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    """INTERSECT (distinct semantics) — ∅ in reference, engine-native."""
    return a.intersect(b)


def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """O1+O2 — global top-k: orderBy + limit, planned as
    TakeOrderedAndProject (no full sort, no single-task shuffle)."""
    return df.orderBy(*order_by).limit(k)
