"""Trajectory analytics over user event streams: OD flows + stay points.

The mobility counterpart of the engine's tile layer (reference
maptile/tile.go At/Range semantics assign the cells; these operators
aggregate MOVEMENT between cells).  Both are classic large-scale
trajectory primitives a geocoded event log needs:

- **OD (origin-destination) matrix**: consecutive positions per user
  become directed (origin cell -> destination cell) trips; the matrix
  aggregates trip counts and distinct travellers per cell pair.
- **Stay-point detection**: maximal runs of consecutive events at the
  same cell become one "stay" row (cell, enter/exit time, dwell);
  gaps-and-islands segmentation, the standard SQL formulation.

Spark-first shapes (both operators):

- ONE user-keyed shuffle (the order-by window); every downstream
  aggregation is a map-side-combinable groupBy.  At 10^12 events the
  shuffle volume is the event count once — there is no self-join and
  no per-user collect; a user's history never has to fit in memory
  beyond a single window frame row (lag(1) / running sum).
- Pure column math end-to-end (lag / sum-over / groupBy) — zero
  Python, whole-stage codegen.
- Skew = a single mega-user's events land in one task's sort.  Cap is
  the per-user event count, not the corpus; pathological bot users
  should be pre-filtered (a scan-side WHERE) or range-salted per epoch
  before the window.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cols(xs: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in xs]


def od_flows(
    df: DataFrame,
    user_col: str,
    order_cols: Sequence[str | Column],
    cell_x: str = "cell_x",
    cell_y: str = "cell_y",
) -> DataFrame:
    """Directed origin->destination cell flows from per-user event order.

    Each user's events sort by ``order_cols``; every consecutive pair
    whose cell CHANGED is one trip from the previous cell to the
    current one.  Returns one row per (origin, destination) cell pair:

        o_x, o_y, d_x, d_y, n_trips, n_users

    ``n_users`` is the distinct-traveller count (countDistinct — at
    extreme scale swap for approx_count_distinct or the engine's KMV
    sketch; exactness is the oracle contract here).
    """
    w = Window.partitionBy(user_col).orderBy(*_cols(order_cols))
    x, y = F.col(cell_x), F.col(cell_y)
    steps = df.select(
        F.col(user_col).alias("u"),
        F.lag(x).over(w).alias("o_x"),
        F.lag(y).over(w).alias("o_y"),
        x.alias("d_x"),
        y.alias("d_y"),
    ).where(
        F.col("o_x").isNotNull()
        & ((F.col("o_x") != F.col("d_x")) | (F.col("o_y") != F.col("d_y")))
    )
    return steps.groupBy("o_x", "o_y", "d_x", "d_y").agg(
        F.count(F.lit(1)).cast("long").alias("n_trips"),
        F.countDistinct("u").cast("long").alias("n_users"),
    )


def stay_points(
    df: DataFrame,
    user_col: str,
    order_cols: Sequence[str | Column],
    ts_col: str,
    cell_x: str = "cell_x",
    cell_y: str = "cell_y",
    min_events: int = 3,
) -> DataFrame:
    """Maximal same-cell runs per user -> one stay row per run.

    Gaps-and-islands: a run boundary is any row whose cell differs from
    the previous row's (or the user's first row); the running sum of
    boundary flags is the island id; one groupBy per (user, island)
    collapses the run.  Runs shorter than ``min_events`` are transient
    passes, not stays, and are filtered AFTER aggregation (the filter
    is on the aggregated count — cheap, and keeps the island ids
    identical to the oracle's).

    Returns: user, stay_seq (1-based per user), cell x/y, n_events,
    enter_ts, exit_ts, dwell_us.
    """
    order = _cols(order_cols)
    w = Window.partitionBy(user_col).orderBy(*order)
    x, y = F.col(cell_x), F.col(cell_y)
    moved = (
        F.lag(x).over(w).isNull()
        | (F.lag(x).over(w) != x)
        | (F.lag(y).over(w) != y)
    ).cast("long")
    run = df.select(
        F.col(user_col).alias("u"),
        x.alias("sx"),
        y.alias("sy"),
        F.col(ts_col).alias("ts"),
        F.sum(moved).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("seg"),
    )
    stays = run.groupBy("u", "seg").agg(
        F.min("sx").alias("cell_x"),
        F.min("sy").alias("cell_y"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ts").alias("enter_ts"),
        F.max("ts").alias("exit_ts"),
    ).where(F.col("n_events") >= int(min_events))
    # stay_seq: dense per-user order of surviving stays (seg is already
    # monotone in event order, so ranking by seg preserves time order).
    w2 = Window.partitionBy("u").orderBy("seg")
    return stays.select(
        F.col("u").alias("user_id"),
        F.row_number().over(w2).cast("long").alias("stay_seq"),
        "cell_x",
        "cell_y",
        "n_events",
        "enter_ts",
        "exit_ts",
        (
            F.unix_micros(F.col("exit_ts").cast("timestamp"))
            - F.unix_micros(F.col("enter_ts").cast("timestamp"))
        ).cast("long").alias("dwell_us"),
    )
