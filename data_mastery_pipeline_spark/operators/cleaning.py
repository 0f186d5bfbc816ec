"""Cleaning operators — null/range filters, dedup, quality score.

Generalizes the reference's Silver-stage cleaning (SURVEY §2.B):
  P2 null-rejection filter       (silver_processor.py:177-182)
  P3 range predicate             (silver_processor.py:185-188)
  P4 column-subset dedup         (silver_processor.py:191)
  P6 chained conditional scoring (silver_processor.py:203-220)
  S14 idempotent anti-join upsert (gold_loader.py:296-319)

Scale notes: every function stays a Catalyst expression (no UDFs), so
filters push to the parquet scan and dedup/upsert shuffle only on their
key columns. The deterministic dedup variant is a window + row_number —
one shuffle on the key, same as dropDuplicates, but with a defined
keep-policy so results are oracle-reproducible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def drop_null_rows(df: DataFrame, required: Sequence[str]) -> DataFrame:
    """P2 — reject rows with nulls in any required column.

    Conjunction of isNotNull predicates (silver_processor.py:177-182);
    pushes down to the parquet scan as IsNotNull filters.
    """
    cond = F.lit(True)
    for c in required:
        cond = cond & F.col(c).isNotNull()
    return df.filter(cond)


def range_filter(df: DataFrame, column: str, lo: float, hi: float) -> DataFrame:
    """P3 — keep rows where ``lo <= column <= hi``.

    Reference: temperature BETWEEN -100 AND 60 (silver_processor.py:
    185-188, CHECK twin schema.sql:75-77). Pushes down as GtEq/LtEq.
    """
    return df.filter(F.col(column).between(lo, hi))


def dedup_deterministic(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """P4 (deterministic variant) — keep exactly the first row per key
    under an explicit ordering.

    SURVEY §7 hard-parts: the reference keeps an *arbitrary* row; an
    oracle-checkable engine needs a defined keep-policy. Implemented as
    row_number()=1 over a window — single shuffle on ``keys``.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def quality_score(
    scored_columns: Sequence[str],
    base: int = 100,
    penalty: int = 10,
) -> Column:
    """P6 — per-row quality score: ``base - penalty`` per null among the
    scored optional columns.

    The reference implements this as a CASE WHEN cascade
    (silver_processor.py:203-220); the closed form
    ``base - penalty * sum(isnull(c))`` is one vectorized expression and
    produces identical values.
    """
    null_count = sum(F.col(c).isNull().cast("int") for c in scored_columns)
    return (F.lit(base) - F.lit(penalty) * null_count).alias("quality_score")


def idempotent_append(new_rows: DataFrame, existing: DataFrame, keys: Sequence[str]) -> DataFrame:
    """S14 — idempotent upsert-by-key: rows of ``new_rows`` whose key is
    not already present in ``existing``.

    The reference achieves idempotency by appending under a UNIQUE index
    and swallowing duplicate-key errors (gold_loader.py:296-319,
    schema.sql:86). The engine-native form is a left-anti join *before*
    the append — no error-path dependence, and at scale the anti join
    shuffles only on the key (or broadcasts when ``existing``'s key
    projection is small).
    """
    key_list = list(keys)
    return new_rows.join(existing.select(*key_list).distinct(), on=key_list, how="left_anti")
