"""DataFrame-driven crawl frontier — the north_rule centerpiece.

Replaces the reference's sequential Scrapy TimeMap walk
(/root/reference/hypercane/identify/archivecrawl.py:103-138: a single
process BFS with an O(n) list seen-set) with an iterative-batch scheduler
where every round is one declarative DataFrame job:

    frontier ──anti-join seen (exact LEFT ANTI join on the SURT key)
            ──robots gate (broadcast dim join)
            ──politeness: row_number over (host[, salt]) ordered by
              (priority desc, urim asc) ≤ per-host budget
            ──fetch: broadcast/shuffle join against the web/payload table,
              lineage columns stamped (round, fetch_ts, partition_id)
            ──link extraction: explode(outlinks) → canonicalize (SURT)
            ──dedup vs seen ∪ selected → this round's LINK DELTA, appended
              to the frontier log; the next round's frontier is
              merge-on-read over the log (seed snapshot ∪ deltas)

Determinism contract (BASELINE crawl-order fidelity): the global pop order
is (round asc, priority desc, urim asc) under per-host budget B and depth
limit D — reproduced exactly by the pure-Python oracle
(hypercane_spark/oracle/crawl.py). Politeness salting (for hosts hotter
than one partition) splits a host's queue into ``salt`` sub-queues for
*fetch parallelism* while the budget window stays per-host, so parity is
unaffected.

Scale notes (10^10-URL design):
- frontier and seen never touch the driver, and neither is EVER
  materialized whole: durable state is an append-only delta log (one-time
  seed snapshot + per-round link/seen deltas, O(new rows) written per
  round), and every round's frontier is a constant-depth merge-on-read
  plan over that log — no per-round lineage truncation, no O(|frontier|)
  store. Periodic compaction (CrawlConfig.compact_every) bounds the log's
  file count.
- seen-membership is one exact LEFT ANTI JOIN of the frontier log
  against the seen table on surt(urim), planned and run in the JVM: no
  probabilistic prefilter, no filter state to build, broadcast or rebuild
  on resume, and no row crosses into Python.
- per-host windows shuffle on host (salted when skewed); AQE handles
  residual skew.

Per-round record (``RoundMetrics``, also the round's checkpoint manifest):
every count is an ``observe()`` metric on a job the round runs anyway, so
the record costs no Spark action. The fetch job, which fills the persisted
selection, reports the candidates (after the seen anti-join and merge),
the robots-allowed rows and the fetched rows; the links-delta and
seen-delta writes report the new links and the seen-set growth, which
adds to a running seen size (read back from the last manifest on resume).

Fixed per-round cost: a round's plan is rebuilt each round, but the parts
of it that never change — the SURT key, the robots broadcast and
predicate, the web projections, the politeness windows and budget, the
payload-verify UDF column — are built once per engine, and every state
read hands the store its schema, so no read runs a footer-inference job.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from hypercane_spark.functions.urls import surt_key
from hypercane_spark.streaming.bloom import (  # noqa: F401 -- perfbench's traced run wraps these names on this module
    bloom_or,
    build_bloom,
    build_cuckoo,
    build_sharded_bloom,
    cuckoo_add_df,
    sharded_bloom_or_update,
)
from hypercane_spark.streaming.checkpoint import (
    FRONTIER_SCHEMA,
    SEEN_SCHEMA,
    RoundCheckpoint,
    merge_aggs,
    merge_frontier,
)
from hypercane_spark.streaming.robots import RobotsGate


@dataclass
class CrawlConfig:
    per_host_budget: int = 4
    max_depth: int = 3
    max_rounds: int = 50
    # round_seconds: when set (and a robots table provides crawl_delay),
    # the per-host budget is additionally capped at
    # max(1, floor(round_seconds / crawl_delay)) — a host asking for a 30 s
    # delay gets at most round_seconds/30 fetches per round instead of the
    # full budget. None = budget-only politeness (the reference has neither;
    # robots handling is north_rule-new behavior).
    round_seconds: float | None = None
    salt_hot_hosts: int = 1  # >1 splits hot-host queues for fetch parallelism
    # every K checkpointed rounds, fold the delta chain into full
    # frontier/seen snapshots and prune the subsumed delta dirs
    # (RoundCheckpoint.compact): bounds resume-scan file count on long
    # crawls while keeping per-round writes O(new state). None = never.
    compact_every: int | None = None
    verify_payload: bool = False  # phash/PSNR fidelity check at fetch time
    psnr_sample_mod: int = 1  # >1: deep PSNR audit on 1/mod of image ids


@dataclass
class RoundMetrics:
    """One round's record, written whole into the round's checkpoint
    manifest. Every count is an ``observe()`` metric on a Spark job the
    round runs anyway; none costs an action of its own."""

    round: int = 0
    # frontier rows left after the seen anti-join and the merge aggregate;
    # observed on that frame, inside the fetch job that fills the
    # persisted selection
    candidates: int = 0
    # candidates that pass the robots gate (observed on the gated frame in
    # the same job); robots-blocked = candidates - allowed
    allowed: int = 0
    # `selected` is measured as the FETCHED row count (selected ⊆ web ⇒
    # equal for link-derived rows; may undercount when user seeds miss the
    # web table or error rows are skipped) — `fetched` is the honest alias.
    # Observed on the fetch write (a count of the cached rows without a
    # checkpoint dir).
    selected: int = 0
    fetched: int = 0
    # rows of this round's frontier delta, observed on its write
    new_links: int = 0
    # seen set after this round: the previous round's value (on resume,
    # the last manifest's) plus the rows observed on the seen-delta write
    seen_size: int = 0
    # Spark jobs this round up to its commit (difference of the highest
    # job id, so it stays right once spark.ui.retainedJobs evicts old
    # ids) — the per-round fixed cost is jobs × (scheduling + commit
    # latency), so this is the number to drive DOWN
    jobs: int = 0
    timings: dict = field(default_factory=dict)


def _last_job_id(tracker) -> int:
    """Highest job id the status tracker still lists; -1 before any job."""
    return max(tracker.getJobIdsForGroup(None), default=-1)


def _jobs_since(tracker, last_job_id: int) -> int:
    """Jobs run since ``last_job_id`` was read. Job ids only grow, so the
    difference counts them even after spark.ui.retainedJobs has evicted
    old ids from the listing (whose length stops growing at that cap)."""
    return max(0, _last_job_id(tracker) - last_job_id)


class CrawlEngine:
    """Iterative-batch crawl over a web table
    ``(urim, urir, host, memento_datetime, damage, priority, image_id,
    outlinks array<string>)`` with an image+caption payload table joined in
    at fetch time (input_hint shape)."""

    def __init__(
        self,
        spark: SparkSession,
        web: DataFrame,
        robots: DataFrame | None = None,
        images: DataFrame | None = None,
        checkpoint_dir: str | None = None,
        config: CrawlConfig | None = None,
        errors_dir: str | None = None,
    ):
        self.spark = spark
        self.web = web
        self.robots = robots
        self.images = images
        self.cfg = config or CrawlConfig()
        self.ckpt = RoundCheckpoint(checkpoint_dir) if checkpoint_dir else None
        # errors_dir switches the fetch stage to the reference's skip-not-
        # abort contract (errors.py:5-38): a payload that fails to decode/
        # verify is recorded (uri, stage, traceback) and dropped; the crawl
        # continues. Requires verify_payload (that's where decode happens).
        if errors_dir:
            from hypercane_spark.errors import ErrorStore

            self.errors: "ErrorStore | None" = ErrorStore(errors_dir)
        else:
            self.errors = None
        self.metrics: list[RoundMetrics] = []
        # ckpt-less merge-on-read delta log: seed part + per-round link
        # parts, each localCheckpointed (with a checkpoint dir the log is
        # the on-disk delta files instead)
        self._parts: list[DataFrame] = []
        self._build_plan_parts()

    def _build_plan_parts(self) -> None:
        """The parts of a round's plan that never change, built once per
        engine: every Column and projection here costs Py4J round trips to
        the JVM to build, and a round would otherwise rebuild them all."""
        cfg = self.cfg
        self._count = F.count(F.lit(1)).alias("n")
        self._surt = surt_key(F.col("urim"))
        self._unseen_on = F.col("__surt") == F.col("surt")
        self._delta_surt = F.col("__surt").alias("surt")
        self._merge = merge_aggs()
        self._web_meta = self.web.select("urim", "urir", "host", "priority")
        self._web_fetch = self.web.select(
            "urim", "memento_datetime", "damage", "image_id", "outlinks"
        )
        self._gate = RobotsGate(self.robots) if self.robots is not None else None

        # politeness: per-host budget, capped by crawl_delay when the robots
        # gate carries it (see _politeness_select)
        budget = F.lit(cfg.per_host_budget)
        if cfg.round_seconds and self._gate is not None:
            by_delay = F.floor(
                F.lit(float(cfg.round_seconds)) / F.col("crawl_delay")
            ).cast("int")
            budget = F.when(
                F.col("crawl_delay") > 0,
                F.least(budget, F.greatest(F.lit(1), by_delay)),
            ).otherwise(budget)
        order = (F.col("priority").desc(), F.col("urim").asc())
        self._rank = F.row_number().over(
            Window.partitionBy("host").orderBy(*order)
        )
        self._in_budget = F.col("__rn") <= budget
        self._salt = F.pmod(F.xxhash64(F.col("urim")), F.lit(cfg.salt_hot_hosts))
        self._salt_rank = F.row_number().over(
            Window.partitionBy("host", "__salt").orderBy(*order)
        )
        self._in_salt_budget = F.col("__rn1") <= budget

        # fetch: payload join, verify UDF and lineage columns
        self._images = (
            self.images.hint("shuffle_hash") if self.images is not None else None
        )
        self._par = self.spark.sparkContext.defaultParallelism
        self._verify = None
        self._capture = False  # fetched rows carry a fetch_err column
        if self.images is not None and cfg.verify_payload:
            from hypercane_spark.operators.multimodal import payload_verify_udf

            self._capture = self.errors is not None
            self._verify = payload_verify_udf(
                psnr_sample_mod=cfg.psnr_sample_mod,
                capture_errors=self._capture,
            )(F.col("image_id"), F.col("bytes"), F.col("phash"))
            self._verify_fields = [
                F.col("__v.phash_ok").alias("phash_ok"),
                F.col("__v.psnr_db").alias("psnr_db"),
            ] + ([F.col("__v.err").alias("fetch_err")] if self._capture else [])
            self._n_err = F.sum(
                F.col("fetch_err").isNotNull().cast("long")
            ).alias("n_err")
        self._lineage = {
            "fetch_ts": F.current_timestamp(),
            "http_status": F.lit(200),
            "partition_id": F.spark_partition_id(),
        }
        self._fetched_schema = None  # the fetched table's, from round one

        # link extraction
        self._link_cols = [
            F.col("urim").alias("discovered_from"),
            F.col("depth").alias("__pd"),
            F.explode("outlinks").alias("urim"),
        ]
        self._link_depth = (F.col("__pd") + 1).cast("int")
        self._link_depth_ok = self._link_depth <= cfg.max_depth

    # -------------------------------------------------------------- seeds

    def seed_frontier(self, seeds: DataFrame) -> DataFrame:
        """seeds: any DataFrame with a urim column; joined against the web
        table for (urir, host, priority), depth 0."""
        return (
            seeds.select("urim")
            .join(self._web_meta, "urim")
            .withColumn("depth", F.lit(0))
            .withColumn("discovered_from", F.lit(None).cast("string"))
        )

    def empty_seen(self) -> DataFrame:
        return self.spark.createDataFrame([], SEEN_SCHEMA)

    def _union_parts(self) -> DataFrame:
        """ckpt-less frontier log: the in-memory delta parts (seed
        snapshot + per-round link deltas, each localCheckpointed)."""
        raw = self._parts[0]
        for p in self._parts[1:]:
            raw = raw.unionByName(p)
        return raw

    def _counted(
        self, df: DataFrame, *extra
    ) -> tuple[DataFrame, Observation]:
        """``df`` with its row count (``n``, plus any ``extra`` metrics)
        observed by whatever action first runs it."""
        obs = Observation()
        return df.observe(obs, self._count, *extra), obs

    # -------------------------------------------------------------- round

    def _not_seen(self, frontier: DataFrame, seen: DataFrame) -> DataFrame:
        """Exact seen dedup: one LEFT ANTI join on surt(urim). The seen
        side is shuffled every round anyway, so a probabilistic prefilter
        could only spare the candidate-side shuffle of rows it proves new,
        and paid more than that for its probe, build and broadcast
        (BENCH.md, seen-set A/B)."""
        cand = frontier.withColumn("__surt", self._surt)
        return cand.join(seen, self._unseen_on, "left_anti")

    def _politeness_select(self, allowed: DataFrame) -> DataFrame:
        """→ selected. Per-host budget window; the SQL-oracle-checkable
        core of the scheduler (see entry_queries politeness query). Rows
        past the budget need no output: they stay in the delta log and
        re-surface from the next round's merge-on-read scan.

        Skew: a Zipf-hot host can hold a large share of the frontier, and a
        single ``partitionBy(host)`` window serializes that whole host into
        one task (measured: the hottest synthetic host carries ~28% of rows
        → the window stage's wall time is flat in the core count). With
        ``salt_hot_hosts > 1`` selection runs as an exact two-phase top-k:
        phase 1 ranks within (host, salt=hash(urim)%S) partitions and keeps
        only ``budget`` rows per salted queue — parallel across salts —
        so phase 2's authoritative per-host window sees ≤ budget·S rows per
        host instead of the full queue. Same selected set, same order:
        any row in the true per-host top-budget is in its salt's top-budget.

        With ``cfg.round_seconds`` set and a robots table (robots_gate
        carries its ``crawl_delay`` column), the per-host cap becomes
        ``min(budget, max(1, floor(round_seconds / crawl_delay)))`` — the
        crawl-delay directive translated into this engine's round-batched
        schedule (delay ≤ 0 / absent → plain budget; the max(1,…) floor
        guarantees progress). crawl_delay is constant per host, so the cap
        is still a single window filter."""
        if self.cfg.salt_hot_hosts > 1:
            allowed = (
                allowed.withColumn("__salt", self._salt)
                .withColumn("__rn1", self._salt_rank)
                .where(self._in_salt_budget)
                .drop("__rn1", "__salt")
            )
        return (
            allowed.withColumn("__rn", self._rank)
            .where(self._in_budget)
            .drop("__rn")
        )

    def _fetch(self, selected: DataFrame, rnd: int) -> DataFrame:
        fetched = selected.join(self._web_fetch, "urim")
        if self._images is not None:
            # NOT broadcast: the payload dim carries image bytes (tens of MB
            # per 1k images at sandbox scale, unbounded at 10^10), and a
            # broadcast would be rebuilt from the driver EVERY round. A
            # shuffle join touches only this round's selected rows; callers
            # that persist images pre-partitioned by image_id (bench does)
            # pay no images-side shuffle at all.
            #
            # The explicit fixed-width repartition matters: AQE coalesces
            # post-shuffle partitions by the MAP-side bytes of the selected
            # rows (a few MB of keys), but the join ATTACHES the payload —
            # 20 KB/row — so without it the decode/verify UDF runs on ~5
            # tasks no matter how many cores exist (measured: local[8] ==
            # local[32] wall time). A user-specified partition count is
            # exempt from AQE coalescing and co-locates with the persisted
            # images partitioning.
            fetched = fetched.repartition(self._par, "image_id").join(
                self._images, "image_id", "left"
            )
            if self._verify is not None:
                # input_hint per-row fidelity, computed in the fetch stage
                # itself (Arrow-batched, rides the fetched rows in place)
                fetched = (
                    fetched.withColumn("__v", self._verify)
                    .select("*", *self._verify_fields)
                    .drop("__v")
                )
        return fetched.withColumns({"round": F.lit(rnd), **self._lineage})

    def _extract_links(self, fetched: DataFrame, seen: DataFrame) -> DataFrame:
        links = (
            fetched.select(*self._link_cols)
            .where(self._link_depth_ok)
            .join(self._web_meta, "urim")
            .withColumn("depth", self._link_depth)
            .drop("__pd")
        )
        # collapse duplicate discoveries: max priority, min discoverer
        links = merge_frontier(links.withColumn("__surt", self._surt), self._merge)
        # drop already-seen
        links = links.join(seen, self._unseen_on, "left_anti")
        return links.drop("__surt")

    def run(
        self,
        seeds: DataFrame,
        resume: bool = False,
    ) -> DataFrame:
        """Run the crawl; returns the fetched-mementos table (all rounds).
        With a checkpoint dir, each round persists frontier+seen+fetched and
        ``resume=True`` continues from the latest complete round."""
        spark = self.spark
        start_round, seen_size = 0, 0
        done = self.ckpt.rounds() if resume and self.ckpt else []
        if done:
            seen = self.ckpt.read_seen(spark, done[-1])
            # the running seen size continues from the last round's record
            seen_size = self.ckpt.manifest(done[-1]).get("seen_size")
            if seen_size is None:  # a manifest written without it
                seen_size = seen.count()
            start_round = done[-1] + 1
        else:
            if self.ckpt:
                # one-time seed snapshot — the 'round -1' frontier delta;
                # every round's merge-on-read scan starts from it
                self.ckpt.write_seeds(self.seed_frontier(seeds))
            else:
                self._parts = [self.seed_frontier(seeds).localCheckpoint()]
            seen = self.empty_seen()

        fetched_parts: list[DataFrame] = []
        tracker = spark.sparkContext.statusTracker()
        for rnd in range(start_round, self.cfg.max_rounds):
            m = RoundMetrics(round=rnd)
            # jobs/round accounting: every job this round runs (main thread
            # AND checkpoint writer threads) takes the next job id
            first_job = _last_job_id(tracker)
            t0 = time.time()

            # MERGE-ON-READ: the frontier is never materialized as a
            # table. Each round reconstructs it lazily from the append-only
            # delta log — seed snapshot ∪ per-round link deltas (files
            # under the checkpoint; localCheckpointed parts without one) —
            # seen-filtered row-wise, then folded by one associative
            # aggregate (filter first, so fetched rows skip the shuffle). The
            # plan is constant-depth whatever the round count (a multi-path
            # file scan + one shuffle), so no per-round lineage truncation
            # or O(|frontier|) store exists at all. Measured against both
            # prior shapes (full-frontier parquet rewrite; per-round
            # localCheckpoint) this deletes one whole O(|frontier|)
            # materialization job per round, and it is the only shape that
            # survives a 10^10-row frontier — rewriting or caching the
            # frontier per round is O(F)·rounds storage traffic, the delta
            # log is O(new links). Iceberg analog: merge-on-read table,
            # compact() = rewrite_data_files.
            #
            # The seen-dedup is left lazy: its work folds into the fetch
            # job below, which also reports the candidate and robots-
            # allowed counts through observations. selected == 0 subsumes
            # the candidates == 0 stop (selected ⊆ candidates, and a
            # nonzero robots-allowed set always selects ≥ 1 under budget
            # ≥ 1), so no separate count action is needed per round.
            log = (
                self.ckpt.read_frontier_log(spark, rnd - 1)
                if self.ckpt
                else self._union_parts()
            )
            # seen anti-join FIRST, merge aggregate SECOND: a manual
            # pushdown of the anti-join through the aggregate, legal because
            # seen is keyed on surt(urim) so a urim's copies are all-seen or
            # all-new. At steady state most log rows ARE seen; without the
            # pushdown the merge would shuffle the whole log every round.
            cand, cand_obs = self._counted(
                merge_frontier(self._not_seen(log, seen), self._merge)
            )
            m.timings["dedup"] = time.time() - t0

            t = time.time()
            allowed, allowed_obs = cand, cand_obs
            if self._gate is not None:
                # crawl_delay must survive until AFTER _politeness_select —
                # the round_seconds cap reads it there (dropping it earlier
                # made the per-host crawl-delay budget a silent no-op)
                allowed, allowed_obs = self._counted(self._gate(cand))
            selected = self._politeness_select(allowed)
            if self._gate is not None:
                selected = selected.drop("crawl_delay")
            selected = selected.persist()
            m.timings["schedule"] = time.time() - t

            t = time.time()
            # The selected count rides the fetch job: selected ⊆ web, so
            # |fetched| == |selected| (inner join on urim; payload join is
            # left). One driver action fewer per round — at 10^10 scale the
            # per-round driver round-trips ARE the iterative bottleneck.
            fetched_full = self._fetch(selected.drop("__surt"), rnd)
            if self.ckpt:
                # Production shape: fetch+verify runs ONCE, payload rows
                # land directly in the round's columnar table, and the
                # in-flight view is the disk-backed read — downstream link
                # extraction prunes the `bytes` column at the scan, so
                # ~20 KB/row of pixels never sits in executor memory
                # (persisting them as JVM objects caused round-0 GC storms).
                #
                # The round's fetched count rides the write job as an
                # observe() metric — the separate post-write count job was
                # pure per-round fixed cost (parquet-stats scan, but still
                # a scheduled job).
                if self._fetched_schema is None:
                    self._fetched_schema = fetched_full.schema
                observed, fetch_obs = self._counted(
                    fetched_full, *([self._n_err] if self._capture else [])
                )
                self.ckpt.write_fetched(rnd, observed)
                fetched = self.ckpt.read_fetched(
                    spark, rnd, schema=self._fetched_schema
                )
                got = fetch_obs.get
                n_err = (got["n_err"] or 0) if self._capture else 0
                m.selected = m.fetched = got["n"] - n_err
            else:
                fetched = fetched_full.persist()
            if self._capture:
                # skip-not-abort: poisoned payloads land in the errors
                # table and drop out of the crawl output; their surts are
                # still marked seen (via selected) so they are never
                # retried — the reference's record-and-skip contract.
                bad = fetched.where(F.col("fetch_err").isNotNull())
                self.errors.record(
                    bad.select(
                        F.col("urim").alias("uri"),
                        F.lit("fetch").alias("stage"),
                        F.col("fetch_err").alias("traceback"),
                    )
                )
                fetched = fetched.where(F.col("fetch_err").isNull()).drop(
                    "fetch_err"
                )
            if not self.ckpt:
                m.selected = m.fetched = fetched.count()
            m.timings["fetch"] = time.time() - t
            if m.selected == 0:
                # |fetched| == |selected| only when selected ⊆ web (links
                # are inner-joined to web; that invariant does NOT cover
                # user-supplied seeds absent from the web table). Seeds that
                # miss the web give selected > 0, fetched == 0 — those rows
                # must still be marked seen and the deferred rows must keep
                # crawling, so only a genuinely empty selection stops the
                # engine. The isEmpty probe runs only on fetched==0 rounds.
                if selected.isEmpty():
                    selected.unpersist(blocking=False)
                    if not self.ckpt:
                        fetched.unpersist(blocking=False)
                    break
            # read only past the stop check: on an empty round AQE prunes
            # the observed subtree and the observation comes back empty
            m.candidates = cand_obs.get["n"]
            m.allowed = allowed_obs.get["n"]

            t = time.time()

            # Append-only seen semantics: this round's delta is the selected
            # surts (distinct within the round; disjoint from `seen` by
            # construction — every candidate passed the seen anti-join).
            # The union IS the seen set; nothing is ever rewritten.
            delta = selected.select(self._delta_surt).distinct()
            links, links_obs = self._counted(
                self._extract_links(fetched, seen.unionByName(delta))
            )
            # observed on the written frame only: the links plan reads
            # `delta` too, and when AQE prunes its anti-join (no links) it
            # would report an observation placed on `delta` empty
            delta_out, delta_obs = self._counted(delta)
            m.timings["links"] = time.time() - t

            def record() -> dict:
                nonlocal seen_size
                m.new_links = links_obs.get["n"]
                seen_size += delta_obs.get["n"]
                m.seen_size = seen_size
                m.jobs = _jobs_since(tracker, first_job)
                return asdict(m)

            t = time.time()
            if self.ckpt:
                # Durable state is APPEND-ONLY on both axes: this round's
                # newly-seen surts AND this round's newly-discovered links
                # (the frontier delta). Nothing else — the merged frontier
                # is never written (or cached) anywhere; the next round's
                # merge-on-read scan consumes these files directly. The
                # manifest, written last, is the round's RoundMetrics.
                self.ckpt.write(
                    rnd,
                    links,
                    delta_out,
                    None,  # fetched already written at fetch time
                    record,
                )
                if (
                    self.cfg.compact_every
                    and (rnd + 1) % self.cfg.compact_every == 0
                ):
                    # fold the delta chain ≤ rnd into full snapshots and
                    # prune the subsumed delta dirs — bounds the per-round
                    # multi-path scan's file count on long crawls. Safe
                    # in-loop: every state DataFrame is rebuilt from
                    # _axis_paths at its next use, which sees the snapshot.
                    self.ckpt.compact(spark, rnd, prune=True)
                # constant-depth file-backed seen view (no union lineage)
                seen = self.ckpt.read_seen(spark, rnd)
            else:
                # ckpt-less mode: the delta log lives in cluster storage —
                # localCheckpointed parts, same merge-on-read formula; the
                # two independent materializations overlap
                with ThreadPoolExecutor(max_workers=2) as ex:
                    fut_l = ex.submit(links.localCheckpoint)
                    fut_d = ex.submit(delta_out.localCheckpoint)
                    self._parts.append(fut_l.result())
                    seen = seen.unionByName(fut_d.result())
                record()
            m.timings["checkpoint"] = time.time() - t
            if m.selected:
                fetched_parts.append(fetched)
            elif not self.ckpt:
                fetched.unpersist(blocking=False)  # empty seed-miss round
            self.metrics.append(m)
            # round state now lives in the checkpoint (or the fetched
            # cache); dropping the per-round selected cache keeps storage
            # memory flat across max_rounds rounds
            selected.unpersist(blocking=False)

        if not fetched_parts:
            return spark.createDataFrame([], FRONTIER_SCHEMA + ", round int")
        out = fetched_parts[0]
        for p in fetched_parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # ------------------------------------------------------------ contract

    def pop_order(self, fetched: DataFrame) -> list[str]:
        """The crawl-order fidelity contract: global pop order =
        (round asc, priority desc, urim asc)."""
        return [
            r["urim"]
            for r in fetched.select("round", "priority", "urim")
            .orderBy(F.col("round").asc(), F.col("priority").desc(), F.col("urim").asc())
            .collect()
        ]
