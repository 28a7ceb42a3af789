"""Crawl-frontier politeness scheduling.

The acquisition-side counterpart of the recrawl diff (text/crawldiff.py):
given a frontier of candidate URLs with priorities, emit the next crawl
epoch's fetch schedule under the standard politeness contract — at most
``budget`` fetches per host per epoch, one fetch per host per slot, the
host's best-priority URLs first.  This is the webtext analogue of the
reference's replication sequence scheduling (paulmach/osm
replication/replication.go: the minutely/hourly feed is fetched one
sequence per interval per endpoint — a fixed per-origin request budget
over an ordered stream); here the "origin" is a web host and the order
is a priority score instead of a sequence number.

Spark-first shape, sized for a 10^12-row frontier:

- **Per-host top-B is plans/topk.py**, which Spark prunes to B rows
  per host in every map partition before the host shuffle, so a hot
  host with 10^9 frontier URLs never funnels them into one task.
- **Slot = per-host rank**: the r-th best URL of each host is fetched
  in slot r, so no host sees two concurrent fetches and every slot is
  maximally parallel across hosts (the frontier's natural parallel
  unit).  ``fetch_at_s`` materializes the per-host crawl delay
  (robots-style, derived deterministically here): slot k of a host with
  delay d starts at (k-1)*d seconds into the epoch.
- Everything is built-in window/column expressions — no Python in the
  path, and the plan is one exchange, on the short host string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_spark.plans.topk import topk


def schedule(
    frontier: DataFrame,
    host_col: str = "host",
    url_col: str = "url",
    prio_col: str = "prio",
    budget: int = 8,
) -> DataFrame:
    """-> (host, url, prio, slot, fetch_at_s): the epoch's fetch plan.

    Keeps each host's top-``budget`` URLs by (prio DESC, url ASC — a
    total order, so both engines agree exactly), assigns slot = per-host
    rank, and schedules slot k at (k-1) * delay(host) seconds where
    delay(host) = 1 + length(host) % 3 stands in for the host's
    robots crawl-delay directive.
    """
    order = [F.col(prio_col).desc(), F.col(url_col).asc()]
    kept = topk(
        frontier.select(host_col, url_col, prio_col), [host_col], order, budget
    ).withColumn("slot", F.col("rank").cast("long"))
    delay = (F.lit(1) + F.pmod(F.length(host_col), F.lit(3))).cast("long")
    return kept.select(
        host_col,
        url_col,
        F.col(prio_col).cast("long").alias("prio"),
        "slot",
        ((F.col("slot") - 1) * delay).alias("fetch_at_s"),
    )
