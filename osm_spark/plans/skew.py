"""Hot-key skew profiling — the diagnostic the engine's own salting
and AQE knobs are tuned WITH.

Every shuffle-keyed operator in this engine documents a skew story
(salt on hot PIP cells, AQE on hot city tiles, per-host top-B in the
frontier).  This operator produces the evidence: given any keyed
frame, the hottest keys, their traffic share, and distribution
statistics of the per-key counts — what an operator owner reads
BEFORE picking a salt factor, and what a 100 TB pipeline alerts on
when a new hot key appears (a viral page, a misbehaving host, the
default tile at (0, 0) swallowing null geocodes).

Scale shape:

- per-key counts: ONE map-side-combinable shuffle (|keys| rows out);
- top-k: plans/topk.py, a per-partition top-k merged from k rows per
  partition, so no single reducer ever sorts the full key population;
- the distribution stats (distinct keys, max, total) are one more
  aggregation over the counts frame, and the count-of-count
  quantiles ride the bounded-histogram trick from text/quantiles.py
  — |distinct count values| rows, corpus-independent.

Everything integer (shares in ppm via DIV), zero Python.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_spark.plans.topk import topk


def key_counts(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """(key..., n) per distinct key — one partial-aggregated shuffle."""
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def skew_profile(
    df: DataFrame,
    key_cols: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """Top-k hottest keys + population stats, one row per hot key:

        rank, <key cols>, n, share_ppm, n_keys, total, p50_n, p99_n,
        skew_x_e3

    share_ppm  = key traffic in parts-per-million of the total;
    p50_n/p99_n = median / p99 of per-key counts (inverted CDF);
    skew_x_e3  = how many times hotter the top key is than the mean
                 key (n * n_keys * 1000 DIV total) — 1000 = perfectly
                 uniform; the salt factor an operator needs is
                 roughly this over 1000.
    """
    counts = key_counts(df, key_cols)
    order = [F.col("n").desc(), *[F.col(c).asc() for c in key_cols]]
    top = topk(counts, [], order, k)
    stats = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("total"),
    )
    # count-of-counts quantiles over the bounded histogram: |distinct
    # per-key count values| rows (<= sqrt(2 * total)), never |keys|
    hist = counts.groupBy("n").agg(F.count(F.lit(1)).alias("_f"))
    wcum = (
        Window.orderBy(F.col("n").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_cum", F.sum("_f").over(wcum)).crossJoin(
        F.broadcast(
            hist.agg(F.sum("_f").alias("_tot"))
        )
    )
    pct = cum.agg(*[
        F.min(F.when(F.col("_cum") * 100 >= q * F.col("_tot"), F.col("n")))
        .cast("long").alias(f"p{q}_n")
        for q in (50, 99)
    ])
    return (
        top.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(pct))
        .select(
            F.col("rank").cast("long").alias("rank"),
            *key_cols,
            "n",
            F.expr("(n * 1000000) DIV total").cast("long")
            .alias("share_ppm"),
            "n_keys",
            "total",
            "p50_n",
            "p99_n",
            F.expr("(n * n_keys * 1000) DIV total").cast("long")
            .alias("skew_x_e3"),
        )
    )
