"""Window operators — parity with the reference's window inventory
(SURVEY.md §2.5) with one deliberate semantic upgrade: every ordering takes a
total tiebreak column. The reference orders only by timestamp
(``feature_engineering.py:80,104``), so equal timestamps give
nondeterministic results; the north rule's "stable turn ordering" forbids
inheriting that.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mimic_iv_etl_spark.lake.merge import lww_reduce


def _ordered(key_cols: Sequence[str], order_cols: Sequence[str]) -> Window:
    return Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])


def cumulative_prior_count(df: DataFrame, key_cols: Sequence[str],
                           order_cols: Sequence[str],
                           alias: str = "prior_events") -> DataFrame:
    """Running count of *prior* rows per key (W1;
    ``feature_engineering.py:79-88``): default frame unboundedPreceding →
    currentRow, minus one to exclude the current row."""
    w = _ordered(key_cols, order_cols)
    return df.withColumn(alias, F.count("*").over(w) - 1)


def event_within_timeframe(df: DataFrame, key_cols: Sequence[str],
                           ts_col: str, order_cols: Sequence[str],
                           days: int, alias: str | None = None) -> DataFrame:
    """Lead-lookahead flag: 1 if the key's next row is within ``days`` days
    (W3; ``feature_engineering.py:104-123`` — the 30/90/180-day readmission
    labels). Emits ``days_to_next`` and the flag column."""
    alias = alias or f"within_{days}d"
    w = _ordered(key_cols, order_cols)
    nxt = F.lead(F.col(ts_col), 1).over(w)
    gap = F.datediff(nxt, F.col(ts_col))
    return (
        df.withColumn("days_to_next", gap)
        .withColumn(
            alias,
            F.when(F.col("days_to_next").isNotNull()
                   & (F.col("days_to_next") <= days), 1).otherwise(0),
        )
    )


def latest_record_per_key(df: DataFrame, key_cols: Sequence[str],
                          order_cols: Sequence[str]) -> DataFrame:
    """Latest record per key (J7/W4; ``feature_engineering.py:238-240``
    emulates this with a max-aggregate + join-back + equality filter — two
    shuffles and wrong under ties). Single skew-proof ``max_by`` partial agg:
    the same kernel the CDC engine uses for LWW dedup."""
    return lww_reduce(df, key_cols, stamp_cols=order_cols)


def ratio_to_group_total(df: DataFrame, group_cols: Sequence[str],
                         value_col: str, alias: str = "ratio") -> DataFrame:
    """value / sum(value) over group (W2; ``analysis_utils.py:178-182``)."""
    w = Window.partitionBy(*group_cols)
    return df.withColumn(alias, F.col(value_col) / F.sum(value_col).over(w))


def top_k_per_group(df: DataFrame, key_cols: Sequence[str],
                    order_cols: Sequence[str], k: int,
                    descending: bool = True) -> DataFrame:
    """Top-k rows per key (L3 extension — the reference has no sort operator;
    this is the standard OLAP pattern its LIMIT-only surface lacks)."""
    cols = [F.col(c).desc() if descending else F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def as_of_carry(df: DataFrame, key_cols: Sequence[str],
                order_cols: Sequence[str], value_col: str, cond,
                alias: str = "as_of_value") -> DataFrame:
    """As-of lookup inside one stream: for each row, the most recent prior
    ``value_col`` among rows matching ``cond`` in the same key, in
    ``order_cols`` order (J9 gap in the reference — as-of logic only ever via
    ad-hoc windows). ``last(when(cond, value), ignorenulls)`` over an
    unbounded-preceding frame: one shuffle, no self-join."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        alias, F.last(F.when(cond, F.col(value_col)), ignorenulls=True).over(w)
    )
