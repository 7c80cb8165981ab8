"""robots.txt gating for the crawl frontier.

The reference never configures robots handling (bare ``CrawlerProcess()``,
/root/reference/hypercane/identify/archivecrawl.py:113) — this gate is NEW
behavior required by the north_rule.

The robots table ``(host, disallow array<string>, crawl_delay double)`` is
a dimension table (one row per host) — always broadcast. The prefix test is
a higher-order ``exists`` over the disallow array, pure Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hypercane_spark.functions.urls import url_path


class RobotsGate:
    """The gate's plan pieces, built once per robots table: the broadcast
    rules side, the join condition and the blocked predicate. A crawl
    applies the same gate every round, so it builds these once instead of
    once per round."""

    def __init__(self, robots: DataFrame, url: str = "urir", host: str = "host"):
        self.rules = F.broadcast(
            robots.select(
                F.col("host").alias("__rhost"),
                F.col("disallow").alias("__disallow"),
                F.col("crawl_delay").alias("crawl_delay"),
            )
        )
        self.on = F.col(host) == F.col("__rhost")
        path = url_path(F.col(url))
        eff_path = F.when(path == "", "/").otherwise(path)
        self.allowed = ~F.exists(
            F.coalesce(F.col("__disallow"), F.array().cast("array<string>")),
            lambda d: eff_path.startswith(d),
        )
        self.delay = F.coalesce(F.col("crawl_delay"), F.lit(0.0))

    def __call__(self, frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(self.rules, self.on, "left")
            .where(self.allowed)
            .withColumn("crawl_delay", self.delay)
            .drop("__rhost", "__disallow")
        )


def robots_gate(
    frontier: DataFrame,
    robots: DataFrame,
    url: str = "urir",
    host: str = "host",
) -> DataFrame:
    """Drop frontier rows whose URL path matches a disallow prefix for its
    host. Hosts absent from the robots table are allowed (crawl_delay 0)."""
    return RobotsGate(robots, url=url, host=host)(frontier)
