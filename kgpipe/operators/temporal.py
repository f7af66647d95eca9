"""Temporal operators Spark lacks natively: as-of join and
sessionization.

As-of join (nearest earlier-or-equal match per key): Spark has no
native operator. Composition strategy (guide §Common OLAP patterns):
UNION both sides tagged, one window sort per (key), then a
last-non-null carry-forward — a single shuffle, no UDF, no
per-group pandas. This beats the cogrouped `pd.merge_asof` form
at scale because it stays in Tungsten and inherits AQE; the
merge_asof variant is also provided for parity/benchmarking.

Sessionization: gap-based session ids per user via lag + cumulative
sum over an event-time window — the standard batch formulation
(the streaming equivalent is Spark's session_window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    `on` value ≤ left's `on`, within the same `by` group.

    Implementation: tag and union both inputs, window-sort once per
    `by` on (`on`, side) and carry the latest right values forward
    with last(..., ignorenulls=True); then keep left rows. One
    shuffle total (the window), skew-safe via AQE.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, by)]
    left_other = [c for c in left.columns if c not in (by, on)]
    ltypes, rtypes = dict(left.dtypes), dict(right.dtypes)
    l = left.select(
        by, on, *left_other,
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in right_cols],
        F.lit(1).alias("__side"),
    )
    r = right.select(
        by, on,
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in left_other],
        *right_cols,
        F.lit(0).alias("__side"),
    )
    unioned = l.unionByName(r)

    # right rows sort before left rows at equal timestamps so an
    # exact-timestamp match is visible to the left row (<= semantics)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned
    for c in right_cols:
        carried = carried.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return carried.where(F.col("__side") == 1).drop("__side")


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
) -> DataFrame:
    """Cogrouped `pd.merge_asof` variant — per-group pandas; provided
    for parity checks and as the fallback when the carry-forward
    column set is impractical."""
    import pandas as pd

    out_fields = left.schema.fields + [
        f for f in right.schema.fields if f.name not in (on, by)
    ]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in out_fields)

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        l = l.sort_values(on)
        r = r.sort_values(on)
        return pd.merge_asof(l, r, on=on, by=by)

    return left.groupBy(by).cogroup(right.groupBy(by)).applyInPandas(merge, schema=schema)


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the
    time since the user's previous event exceeds the gap. Adds
    `session_seq` (per-user session ordinal) and `session_id`.
    Pass tiebreak_col when (user, ts) can repeat — the lag order,
    and hence the session numbering, must be total to be
    deterministic across engines and runs."""
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(user_col).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    # unix_timestamp handles both TIMESTAMP and TIMESTAMP_NTZ (the
    # latter can't cast straight to long); session TZ is pinned UTC
    gap_s = F.unix_timestamp(F.col(ts_col).cast("timestamp")) - F.unix_timestamp(
        prev.cast("timestamp")
    )
    is_new = (prev.isNull() | (gap_s > gap_minutes * 60)).cast("long")
    seq = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return events.withColumn("session_seq", seq).withColumn(
        "session_id", F.concat_ws("#", F.col(user_col).cast("string"), F.col("session_seq").cast("string"))
    )
