"""Structured Streaming surfaces for the crawl pipeline.

The reference is strictly batch (SURVEY.md §2.11) — these operators are the
NEW streaming half the north_rule's continuous-crawl deployment needs:

- ``stream_discovered_urls``  — readStream over a drop-directory of
  discovered-URL parquet files; watermarked, windowed per-host discovery
  rates (the crawl monitor).
- ``stream_frontier_merge``   — foreachBatch ingest: each micro-batch is
  SURT-canonicalized, deduped against the persisted seen table (left anti)
  and within itself, then appended to the frontier table. Exactly the
  batch engine's dedup semantics, applied incrementally.
- ``politeness_rate_limit``   — custom stateful operator
  (applyInPandasWithState keyed by host): a token bucket per host admits at
  most ``budget`` URLs per bucket refill, carrying remaining tokens across
  micro-batches — the streaming form of the frontier's per-host budget
  window.

All three run under ``trigger(availableNow=True)`` for deterministic tests;
in production the same code tails a live drop directory / Kafka source.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hypercane_spark.functions.urls import surt_key
from hypercane_spark.streaming.checkpoint import merge_frontier

DISCOVERED_SCHEMA = (
    "urim string, urir string, host string, priority double, "
    "discovered_from string, event_time timestamp"
)


def stream_discovered_urls(
    spark: SparkSession,
    drop_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream of discovered URLs (append-only parquet drops)."""
    reader = (
        spark.readStream.schema(DISCOVERED_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(drop_dir)


def host_discovery_rates(
    discovered: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked, windowed per-host discovery counts — late rows beyond
    the watermark are dropped, state is bounded (the 10^10 requirement:
    monitoring state must not grow with the crawl)."""
    return (
        discovered.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), F.col("host"))
        .agg(
            F.count(F.lit(1)).alias("discovered"),
            F.max("priority").alias("max_priority"),
        )
    )


def stream_frontier_merge(
    discovered: DataFrame,
    frontier_dir: str,
    seen_dir: str | None,
    checkpoint_dir: str,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """foreachBatch ingest into the frontier table.

    Per micro-batch: canonicalize (SURT), drop duplicates within the batch
    (min discovered_from per urim — deterministic), anti-join the persisted
    seen table AND the frontier table itself (so a urim arriving in two
    micro-batches of the same query is appended once), append the
    survivors to the frontier parquet. The batch engine's CrawlEngine then
    consumes the frontier as usual — streaming discovery and batch
    scheduling compose through the table."""

    def ingest(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        work = merge_frontier(
            batch.withColumn("__surt", surt_key(F.col("urim")))
        )
        if seen_dir:
            try:
                seen = spark.read.parquet(seen_dir)
                work = work.join(
                    seen, work["__surt"] == seen["surt"], "left_anti"
                )
            except Exception:
                pass  # no seen table yet → everything is new
        # cross-batch dedup: a urim discovered in an EARLIER micro-batch of
        # this same query is already in the frontier table but not in seen —
        # anti-join the existing frontier so it isn't appended twice. Keyed
        # on SURT (persisted in the table; recomputed for pre-existing
        # tables without it) so two urims canonicalizing to the same surt
        # arriving in different micro-batches also collapse — the same
        # dedup key the seen table uses.
        try:
            # mergeSchema: a frontier table written before the surt upgrade
            # has files WITHOUT the column — a plain read could pick the old
            # schema (surt absent) or return null surt for old files, and
            # null keys never match an anti-join, re-appending pre-upgrade
            # duplicates. Merge the schemas and backfill legacy rows.
            existing = spark.read.option("mergeSchema", True).parquet(
                frontier_dir
            )
            ex_surt = (
                existing.select(
                    F.coalesce(
                        F.col("surt"), surt_key(F.col("urim"))
                    ).alias("surt")
                )
                if "surt" in existing.columns
                else existing.select(surt_key(F.col("urim")).alias("surt"))
            )
            work = work.join(
                ex_surt, work["__surt"] == ex_surt["surt"], "left_anti"
            )
        except Exception:
            pass  # frontier table doesn't exist yet
        work.withColumnRenamed("__surt", "surt").write.mode("append").parquet(
            frontier_dir
        )

    return (
        discovered.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def politeness_rate_limit(
    discovered: DataFrame,
    budget_per_batch: int = 4,
    burst_capacity: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator: per-host token bucket.

    applyInPandasWithState keyed by host; state = (tokens,) — the leftover
    tokens carried across micro-batches. Each batch the bucket refills by
    ``budget_per_batch`` capped at ``burst_capacity`` (default = the
    budget, i.e. no burst accumulation; set it higher to let hosts that
    were quiet bank unused tokens for bursts), then admits the
    top-priority URLs first (priority desc, urim asc — the engine's
    deterministic order). State is O(hosts), never O(URLs)."""
    out_schema = "host string, urim string, priority double"
    state_schema = "tokens int"
    cap = burst_capacity if burst_capacity is not None else budget_per_batch

    def limiter(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(
            ["priority", "urim"], ascending=[False, True], kind="mergesort"
        )
        carried = state.get[0] if state.exists else 0
        tokens = min(cap, carried + budget_per_batch)
        take = rows.head(tokens)
        state.update((int(tokens - len(take)),))
        yield pd.DataFrame(
            {
                "host": take["host"],
                "urim": take["urim"],
                "priority": take["priority"],
            }
        )

    return discovered.groupBy("host").applyInPandasWithState(
        limiter,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
