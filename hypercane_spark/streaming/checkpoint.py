"""Round-level checkpoint/resume for the crawl engine.

Layout (an Iceberg-snapshot stand-in — the sandbox has no Iceberg runtime
jars; on a real cluster these writes become ``writeTo(...).createOrReplace``
table snapshots with the same round metadata):

    <base>/seeds.parquet                  (one-time seed frontier snapshot)
    <base>/round=N/frontier_delta.parquet (ONLY links discovered round N)
    <base>/round=N/seen_delta.parquet     (ONLY surts first seen round N)
    <base>/round=N/fetched.parquet        (per-round fetch output + lineage)
    <base>/round=N/manifest.json          (the round's RoundMetrics record)
    <base>/round=N/frontier.parquet ┐ full snapshots: written by compact()
    <base>/round=N/seen.parquet     ┘ (or by the legacy pre-delta layout)

Both state axes are APPEND-ONLY: each round persists only its delta (seen:
the surts selected that round, disjoint from all earlier rounds by the
frontier's anti-join; frontier: the links discovered that round), and the
reader reconstructs from the newest full snapshot forward — one multi-path
parquet scan per axis. The old shape rewrote the entire seen set AND the
entire merged frontier every round: O(state) × rounds, the dominant
checkpoint cost at the 10^10-URL design scale (reference contrast: the
O(n) in-memory list it replaces,
/root/reference/hypercane/identify/archivecrawl.py:13-24). ``compact()``
(or ``CrawlConfig.compact_every``) periodically folds the delta chain into
full snapshots so the resume scan's file count stays bounded on long
crawls — the Iceberg ``rewrite_data_files`` + snapshot-expiry analog.

Resume reads the highest complete round (or any explicit round) and
reconstructs frontier + seen exactly — the BASELINE.md resume criterion.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hypercane_spark.streaming.storage import DEFAULT_STORE, StateStore

# The state tables' schemas, handed to every read so the store never has
# to infer them from file footers.
FRONTIER_SCHEMA = (
    "urim string, urir string, host string, priority double, depth int, "
    "discovered_from string"
)
SEEN_SCHEMA = "surt string"

# The frontier's associative merge aggregate, per column: duplicate
# discoveries of a urim keep the max priority, min depth and min
# discoverer; urir, host and the SURT key are functions of the urim.
_MERGE_AGGS = {
    "urir": F.first,
    "host": F.first,
    "priority": F.max,
    "depth": F.min,
    "discovered_from": F.min,
    "__surt": F.first,
}


def merge_aggs(columns: list[str] | None = None) -> list[Column]:
    """The merge aggregate's columns for a log carrying ``columns`` (None:
    every merge column, as the engine's frontier log and links carry)."""
    return [
        agg(c).alias(c)
        for c, agg in _MERGE_AGGS.items()
        if columns is None or c in columns
    ]


def merge_frontier(log: DataFrame, aggs: list[Column] | None = None) -> DataFrame:
    """Fold duplicate discoveries of a urim into one frontier row. Columns
    the log does not carry are skipped (the streaming ingest has no
    ``depth``), so every caller shares this one aggregate. ``aggs``: the
    ``merge_aggs`` of the log's columns, when the caller built them once."""
    return log.groupBy("urim").agg(*(aggs or merge_aggs(log.columns)))


class RoundCheckpoint:
    def __init__(self, base: str, store: StateStore | None = None):
        # ``store`` is the physical binding (parquet dirs by default;
        # IcebergStateStore on a real catalog) — every read/write/list/
        # publish below routes through it, so swapping storage never
        # touches engine code. See streaming/storage.py.
        self.base = base
        self.store = store or DEFAULT_STORE
        self.store.ensure_base(base)

    def _dir(self, rnd: int) -> str:
        return os.path.join(self.base, f"round={rnd}")

    def write_seeds(self, seed_frontier: DataFrame) -> None:
        """One-time snapshot of the seed frontier (the 'round -1 delta').
        Reconstruction = merge(seeds ∪ all frontier deltas) − seen."""
        self.store.write_table(
            seed_frontier, os.path.join(self.base, "seeds.parquet")
        )

    def read_seeds(self, spark: SparkSession) -> DataFrame:
        return self.store.read_table(
            spark,
            os.path.join(self.base, "seeds.parquet"),
            schema=FRONTIER_SCHEMA,
        )

    def read_frontier_delta(self, spark: SparkSession, rnd: int) -> DataFrame:
        return self.store.read_table(
            spark,
            os.path.join(self._dir(rnd), "frontier_delta.parquet"),
            schema=FRONTIER_SCHEMA,
        )

    def read_seen_delta(self, spark: SparkSession, rnd: int) -> DataFrame:
        return self.store.read_table(
            spark,
            os.path.join(self._dir(rnd), "seen_delta.parquet"),
            schema=SEEN_SCHEMA,
        )

    def write(
        self,
        rnd: int,
        frontier_delta: DataFrame,
        seen_delta: DataFrame,
        fetched: DataFrame | None,
        metrics: dict | Callable[[], dict],
    ) -> None:
        """Both state tables are APPEND-ONLY deltas:

        - ``seen_delta``: only surts first seen THIS round (the reader
          unions deltas across rounds).
        - ``frontier_delta``: only the links DISCOVERED this round (plus
          the one-time ``seeds.parquet``). The old shape wrote the entire
          merged frontier every round — O(|frontier|) parquet write+read ×
          rounds, the dominant checkpoint cost once the frontier reaches
          design scale (10^10 URLs), and the weakest-scaling stage in the
          1→4-core bench (2.5× from 4× cores: compression is parallel but
          the per-round volume was the whole frontier). The reader rebuilds
          the frontier with one multi-path scan + the same associative
          merge aggregate the engine uses in-loop (max priority / min
          depth / min discovered_from — order-free), then drops seen rows.
          Rows a static robots table would block are re-dropped by
          robots_gate at the first resumed round, exactly as in-loop.

        ``metrics`` is the round's record for the manifest, or a callable
        that returns it once the tables are written — so counts observed
        on these very writes land in the manifest."""
        d = self._dir(rnd)
        # independent tables → concurrent jobs (Spark's scheduler interleaves
        # them across the same executors; the driver threads just overlap
        # the per-job fixed latency)
        from concurrent.futures import ThreadPoolExecutor

        jobs = [
            (frontier_delta, os.path.join(d, "frontier_delta.parquet")),
            (seen_delta, os.path.join(d, "seen_delta.parquet")),
        ]
        if fetched is not None:
            jobs.append((fetched, os.path.join(d, "fetched.parquet")))
        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            futs = [
                ex.submit(self.store.write_table, df, p) for df, p in jobs
            ]
            for f in futs:
                f.result()
        # manifest written last = commit marker (atomic-rename semantics
        # in the parquet store; the snapshot commit itself under Iceberg)
        if callable(metrics):
            metrics = metrics()
        self.store.put_manifest(
            os.path.join(d, "manifest.json"), {"round": rnd, **metrics}
        )

    def write_fetched(self, rnd: int, fetched: DataFrame) -> None:
        """Write the round's full fetched-mementos rows (incl. payload
        bytes) at fetch time; the engine then re-reads a column-pruned view
        so pixels never sit in executor memory."""
        self.store.write_table(
            fetched, os.path.join(self._dir(rnd), "fetched.parquet")
        )

    def read_fetched(
        self, spark: SparkSession, rnd: int, schema=None
    ) -> DataFrame:
        """``schema``: the written frame's schema, when the caller has it
        (the fetched columns depend on the engine's payload config)."""
        return self.store.read_table(
            spark,
            os.path.join(self._dir(rnd), "fetched.parquet"),
            schema=schema,
        )

    def rounds(self) -> list[int]:
        out = []
        for name in self.store.list_children(self.base):
            if name.startswith("round=") and self.store.manifest_exists(
                os.path.join(self.base, name, "manifest.json")
            ):
                out.append(int(name.split("=", 1)[1]))
        return sorted(out)

    def manifest(self, rnd: int) -> dict:
        return self.store.get_manifest(
            os.path.join(self._dir(rnd), "manifest.json")
        )

    def compact(
        self, spark: SparkSession, rnd: int | None = None, prune: bool = False
    ) -> int:
        """Fold the delta chain ≤ ``rnd`` into full snapshots at ``rnd``.

        Append-only deltas keep the per-round write O(new state), but a
        long crawl accumulates one delta directory per round per axis —
        at the 10^10-URL design scale (thousands of rounds) the resume
        scan's file-listing and small-file overhead grows linearly with
        crawl length. Compaction rewrites the reconstruction
        (``frontier.parquet`` = merge − seen, ``seen.parquet`` = delta
        union) at round ``rnd``; the reader's newest-full-snapshot-forward
        rule then starts from the snapshot and touches only later deltas.
        Iceberg analog: ``rewrite_data_files`` + snapshot expiry.

        Crash-safe: snapshots land via temp-dir + atomic rename, deltas
        stay authoritative until both renames complete. ``prune=True``
        removes the subsumed delta dirs and the seed snapshot — after
        pruning, ``read()`` at rounds < ``rnd`` is no longer possible
        (manifest history is kept). Returns the compacted round."""
        rounds = self.rounds()
        if not rounds:
            raise FileNotFoundError(f"no complete rounds under {self.base}")
        rnd = rounds[-1] if rnd is None else rnd
        _, frontier, seen = self.read(spark, rnd)
        d = self._dir(rnd)
        staged = []
        for df, name in ((frontier, "frontier.parquet"), (seen, "seen.parquet")):
            tmp = os.path.join(d, f".{name}.compact.tmp")
            self.store.write_table(df, tmp)
            staged.append((tmp, os.path.join(d, name)))
        for tmp, final in staged:  # both written → flip (publish per axis)
            self.store.publish(tmp, final)
        if prune:
            for r in rounds:
                if r > rnd:
                    continue
                for name in ("frontier_delta.parquet", "seen_delta.parquet"):
                    self.store.remove_table(os.path.join(self._dir(r), name))
                if r < rnd:
                    for name in ("frontier.parquet", "seen.parquet"):
                        self.store.remove_table(
                            os.path.join(self._dir(r), name)
                        )
            self.store.remove_table(os.path.join(self.base, "seeds.parquet"))
        return rnd

    def read(
        self, spark: SparkSession, rnd: int | None = None
    ) -> tuple[int, DataFrame, DataFrame]:
        """→ (round, frontier, seen). rnd=None → latest complete round.

        Both state axes read as **newest full snapshot ≤ rnd, then deltas
        after it** (one multi-path scan each): seen = snapshot ∪ later
        ``seen_delta`` dirs; frontier = merge(snapshot — or seeds when no
        snapshot exists — ∪ later ``frontier_delta`` dirs) with the
        engine's associative merge aggregate, minus seen (surt anti-join).
        Legacy full-table layouts (a snapshot at every round, no deltas)
        and post-``compact()`` layouts both degenerate to the snapshot
        alone; pure-delta layouts to the delta union.

        This reconstruction is not a resume-only path: the engine runs
        **merge-on-read** — every round's frontier IS this formula over
        the delta log (see frontier.py), so resume and the in-loop state
        are the same computation by construction."""
        rounds = self.rounds()
        if not rounds:
            raise FileNotFoundError(f"no complete rounds under {self.base}")
        rnd = rounds[-1] if rnd is None else rnd
        seen = self.read_seen(spark, rnd)
        frontier = self._drop_seen(
            self.read_frontier_raw(spark, rnd), seen
        )
        return rnd, frontier, seen

    def _axis_paths(
        self, full_name: str, delta_name: str, upto: int
    ) -> list[str]:
        """Newest full snapshot ≤ upto, then that axis's delta dirs after
        it — the multi-path scan list for one state axis."""
        rounds = self.rounds()
        fulls = [
            r
            for r in rounds
            if r <= upto
            and self.store.table_exists(os.path.join(self._dir(r), full_name))
        ]
        base_r = max(fulls) if fulls else None
        paths: list[str] = []
        if base_r is not None:
            paths.append(os.path.join(self._dir(base_r), full_name))
        paths += [
            p
            for r in rounds
            if r <= upto and (base_r is None or r > base_r)
            for p in [os.path.join(self._dir(r), delta_name)]
            if self.store.table_exists(p)
        ]
        return paths

    def read_seen(self, spark: SparkSession, upto: int) -> DataFrame:
        """seen surts after round ``upto`` = newest full snapshot ∪ later
        deltas. Empty DataFrame when nothing is checkpointed yet."""
        paths = self._axis_paths("seen.parquet", "seen_delta.parquet", upto)
        if not paths:
            return spark.createDataFrame([], SEEN_SCHEMA)
        return self.store.read_table(spark, *paths, schema=SEEN_SCHEMA)

    def read_frontier_log(self, spark: SparkSession, upto: int) -> DataFrame:
        """RAW frontier log through round ``upto``: newest full snapshot
        (or the seed snapshot) ∪ later per-round link deltas — one
        multi-path file scan, duplicates across rounds NOT yet folded.
        Constant-depth plan whatever the round count. The engine filters
        this row-wise against seen BEFORE the merge aggregate (seen is
        keyed on surt(urim), so a urim's copies are all-seen or all-new —
        the pushdown cannot change the merged result, it only keeps
        already-fetched rows out of the merge shuffle)."""
        paths = self._axis_paths(
            "frontier.parquet", "frontier_delta.parquet", upto
        )
        if not any(p.endswith("frontier.parquet") for p in paths) and (
            self.store.table_exists(os.path.join(self.base, "seeds.parquet"))
        ):
            paths.insert(0, os.path.join(self.base, "seeds.parquet"))
        return self.store.read_table(spark, *paths, schema=FRONTIER_SCHEMA)

    def read_frontier_raw(self, spark: SparkSession, upto: int) -> DataFrame:
        """Merged (but not seen-filtered) frontier through round ``upto``:
        the log folded by the engine's associative merge aggregate."""
        return merge_frontier(self.read_frontier_log(spark, upto))

    @staticmethod
    def _drop_seen(merged: DataFrame, seen: DataFrame) -> DataFrame:
        from hypercane_spark.functions.urls import surt_key

        return (
            merged.withColumn("__surt", surt_key(F.col("urim")))
            .join(seen, F.col("__surt") == seen["surt"], "left_anti")
            .drop("__surt")
        )
