"""Window-based operators: sessionization, top-k per group, dedup-pick-first.

All pure window functions — one shuffle on the partition key, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key: str | list[str],
    time_col: str,
    gap_seconds: int,
    *,
    tiebreak: list[str] | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign batch session ids: a new session starts when the gap from the
    previous event (per key) exceeds ``gap_seconds``.

    lag + cumulative-sum over an integer flag — exact integer arithmetic, so
    results are deterministic and oracle-comparable. Timestamp columns
    compare at MICROSECOND precision (whole-second truncation merged
    sessions whose sub-second gap exceeded the threshold and split ones
    that didn't); numeric time columns compare raw. The window lags the
    raw time column once, and the gap is taken above the window, so the
    one exchange ships only the frame's own columns (a derived micros
    column under the window would ride the shuffle beside its source).
    Streaming equivalent: ``F.session_window`` (see
    artigraph_spark.streaming).
    """
    from pyspark.sql import types as T

    keys = [key] if isinstance(key, str) else list(key)
    if session_col in {time_col, *keys, *(tiebreak or [])}:
        raise ValueError(f"session_col {session_col!r} names an input of the window")
    order = [F.col(time_col).asc()] + [F.col(c).asc() for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    timelike = isinstance(
        df.schema[time_col].dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
    )

    def units(c: Column) -> Column:
        return F.unix_micros(c.cast("timestamp")) if timelike else c.cast("long")

    gap = gap_seconds * 1_000_000 if timelike else gap_seconds
    # the previous time rides in the output column until the sum replaces it
    prev = F.col(session_col)
    new_sess = (
        F.when(units(prev).isNull(), 1)
        .when(units(F.col(time_col)) - units(prev) > gap, 1)
        .otherwise(0)
    )
    return df.withColumn(session_col, F.lag(time_col).over(w)).withColumn(
        session_col,
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


def top_k_per_group(
    df: DataFrame,
    key: str | list[str],
    order: list[Column],
    k: int,
    *,
    rank_col: str = "rn",
    method: str = "row_number",
) -> DataFrame:
    """Top-k rows per group via rank-filter. ``order`` must be a total order
    (include tiebreak columns) for deterministic output.

    Scale note: Spark pushes a per-partition rank limit below the shuffle
    (WindowGroupLimit), so each map task emits ≤ k rows per local key before
    the exchange.
    """
    keys = [key] if isinstance(key, str) else list(key)
    ranker = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[method]
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn(rank_col, ranker().over(w)).filter(F.col(rank_col) <= k)


def dedup_pick_first(
    df: DataFrame,
    subset: list[str],
    order: list[Column],
    *,
    keep_rank: bool = False,
) -> DataFrame:
    """Deterministic ``dropDuplicates``: keep, per ``subset`` group, the first
    row under ``order`` (a total order). Unlike ``dropDuplicates`` the
    survivor is well-defined, so results are reproducible and oracle-checkable.
    """
    w = Window.partitionBy(*subset).orderBy(*order)
    out = df.withColumn("__dd_rn__", F.row_number().over(w)).filter(F.col("__dd_rn__") == 1)
    return out if keep_rank else out.drop("__dd_rn__")
