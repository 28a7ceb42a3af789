"""Top-k per key (or globally): the engine's one ranking primitive."""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk(
    df: DataFrame, by: Sequence[str], order: Sequence[Column], k: int
) -> DataFrame:
    """``df`` plus ``rank`` = row_number() OVER (PARTITION BY ``by``
    ORDER BY ``order``), keeping rank <= ``k``; ``by=[]`` ranks the
    whole frame.

    The filter sits directly on the window output, so Spark prunes
    every map partition to its own top ``k`` before anything shuffles.
    Keyed, the plan is WindowGroupLimit Partial -> Exchange
    hashpartitioning(by) -> WindowGroupLimit Final -> Window, so a hot
    key ships at most ``k`` rows per input partition; global, it is
    TakeOrderedAndProject, with no single-partition sort of the input.
    Exact for any partitioning: a row in the true top ``k`` has fewer
    than ``k`` better rows anywhere, hence in its own partition.  The
    rewrite needs two things:

    - ``order`` is a total order, so every partitioning (and the SQL
      oracle) picks the same rows;
    - ``k`` <= ``spark.sql.optimizer.windowGroupLimitThreshold``
      (default 1000); above it Spark sorts every row of a key in one
      task.
    """
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
