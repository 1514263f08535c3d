"""As-of (most-recent-prior) join.

Spark has no native as-of join (the reference has none either —
SURVEY.md §2.3 J6 exposes it as an engine extension). Two strategies:

- ``window`` (default): union both sides tagged left/right, one hash
  shuffle on the key, then ``last(<right payload struct>, ignorenulls)``
  over a running row frame ordered by (ts, side). Entirely JVM-side —
  no Python workers, whole-stage codegen, one shuffle + one sort. At
  100 TB this is a single repartition+sort per side, the same cost as
  any keyed window.
- ``pandas``: per-key cogrouped ``applyInPandas`` running
  ``pd.merge_asof``. Kept for ``tolerance`` (time-bounded matches),
  which the window form can't express cheaply. ~20× slower at 100k
  rows on local[32] (one Python call per key group), so only chosen
  when tolerance is requested.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str] | None = None,
    direction: str = "backward",
    tolerance: pd.Timedelta | None = None,
    strategy: str = "window",
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts <= left_ts`` (direction='backward'; 'forward' symmetric:
    smallest ``right_ts >= left_ts``) sharing the same ``on`` key. Left
    rows with no match keep NULLs.

    Returns all left columns plus ``asof_<right_ts>`` and the requested
    ``right_values`` columns. Rows with a NULL timestamp match nothing:
    a null right_ts satisfies no ``right_ts <= left_ts`` predicate and a
    null left_ts has nothing to compare against.
    """
    right_values = right_values or []
    collisions = (set(right_values) | {f"asof_{right_ts}"}) & set(left.columns)
    if collisions:
        raise ValueError(
            f"right_values collide with left columns: {sorted(collisions)}; "
            "rename on one side first (the output carries all left columns)"
        )
    if tolerance is not None or strategy == "pandas":
        return _asof_pandas(
            left, right, on, left_ts, right_ts, right_values, direction, tolerance
        )
    return _asof_window(left, right, on, left_ts, right_ts, right_values, direction)


def _asof_window(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    direction: str,
) -> DataFrame:
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    left_cols = [f.name for f in left.schema.fields]
    ts_type = next(f.dataType for f in left.schema.fields if f.name == left_ts)
    # a NULL right_ts matches no predicate, but asc ordering sorts nulls
    # FIRST — last(ignorenulls) would hand its payload to every early
    # left row. Drop them before the union.
    right = right.filter(F.col(right_ts).isNotNull())

    # The right payload travels as ONE struct so `last(ignorenulls)` picks
    # every field from the same matched row (independent per-column lasts
    # would mix rows when a right value is legitimately NULL).
    payload = F.struct(
        F.col(right_ts).alias("ts"), *[F.col(c).alias(c) for c in right_values]
    )
    tagged_r = right.select(
        F.col(on),
        F.col(right_ts).cast(ts_type).alias("__t"),
        F.lit(0).alias("__side"),
        payload.alias("__rv"),
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in left.schema.fields
            if f.name != on
        ],
    )
    tagged_l = left.select(
        F.col(on),
        F.col(left_ts).cast(ts_type).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(tagged_r.schema["__rv"].dataType).alias("__rv"),
        *[F.col(c) for c in left_cols if c != on],
    )
    u = tagged_l.unionByName(tagged_r)

    # backward: rights must be visible to lefts at the same ts (<=), so
    # rights sort first (side 0). forward mirrors by descending ts.
    order = (
        [F.col("__t").asc(), F.col("__side").asc()]
        if direction == "backward"
        else [F.col("__t").desc(), F.col("__side").asc()]
    )
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # a NULL left_ts row sorts to one end of the frame (nulls-first under
    # asc, nulls-last under desc) — either way it must match NOTHING,
    # not whatever payload happens to precede it there
    matched = u.withColumn(
        "__m",
        F.when(
            F.col("__t").isNotNull(),
            F.last("__rv", ignorenulls=True).over(w),
        ),
    ).filter(F.col("__side") == 1)
    out = matched.select(
        *left_cols, F.col("__m.ts").alias(f"asof_{right_ts}"),
        *[F.col(f"__m.{c}").alias(c) for c in right_values],
    )
    return out


def _asof_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    direction: str,
    tolerance: pd.Timedelta | None,
) -> DataFrame:
    ts_field = next(f for f in right.schema.fields if f.name == right_ts)
    out_fields = list(left.schema.fields)
    out_fields.append(T.StructField(f"asof_{right_ts}", ts_field.dataType, True))
    for c in right_values:
        f = next(f for f in right.schema.fields if f.name == c)
        out_fields.append(T.StructField(c, f.dataType, True))
    out_schema = T.StructType(out_fields)

    right_needed = [on, right_ts] + right_values

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        # pd.merge_asof raises on null merge keys; null-ts rows match
        # nothing by the operator contract (same as the window path), so
        # segregate null-ts LEFT rows (kept, unmatched) and drop null-ts
        # RIGHT rows before the merge
        null_l = lpdf[lpdf[left_ts].isna()]
        lpdf = lpdf[lpdf[left_ts].notna()].sort_values(left_ts, kind="mergesort")
        rpdf = rpdf[rpdf[right_ts].notna()]
        rpdf = rpdf[[right_ts] + right_values].sort_values(right_ts, kind="mergesort")
        rpdf = rpdf.rename(columns={right_ts: f"asof_{right_ts}"})
        merged = pd.merge_asof(
            lpdf,
            rpdf,
            left_on=left_ts,
            right_on=f"asof_{right_ts}",
            direction=direction,
            tolerance=tolerance,
        )
        if len(null_l):
            unmatched = null_l.reindex(
                columns=[f.name for f in out_fields]
            )
            merged = pd.concat([merged, unmatched], ignore_index=True)
        return merged[[f.name for f in out_fields]]

    return (
        left.groupBy(on)
        .cogroup(right.select(*right_needed).groupBy(on))
        .applyInPandas(merge, schema=out_schema)
    )
