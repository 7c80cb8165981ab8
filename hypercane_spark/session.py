"""SparkSession factory tuned for this engine.

Local runs use every CPU of the host by default, and every knob is chosen
to be scale-free: AQE handles runtime re-planning and skew joins on a
real cluster, shuffle partitions are overridable via env, and Arrow is on for
every pandas-UDF boundary.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "hypercane-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    host's CPU count) for local runs; on a real cluster pass ``None`` and
    let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # local[N,8]: 8 task retries. Python worker spawn is flaky under
    # sandboxed kernels (intermittent "worker exited unexpectedly"); local
    # mode defaults to maxFailures=1 which turns one flaky fork into a job
    # failure. On a real cluster spark-submit sets maxFailures normally.
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus},8]")
    if master.startswith("local[") and "," not in master:
        master = master[:-1] + ",8]"
    shuffle = str(
        shuffle_partitions
        or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    )

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
        # and join-strategy re-planning — mandatory at 100 TB where static
        # plans go stale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 8 MB advisory (default 64 MB): AQE sizes post-shuffle partitions
        # by MAP-side bytes, and several of our shuffles carry small keys
        # that fan out into heavy downstream work (payload joins, Python
        # stages) — 64 MB advisory collapsed them to 1-2 tasks.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8388608")
        # Arrow for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Sized for binary payload columns: 10k × 20 KB images = 200 MB
        # batches, which makes 32 concurrent Python workers thrash the
        # allocator (measured anti-scaling in the fetch stage). 1k rows
        # keeps batches ~20 MB; numeric-only stages lose nothing measurable.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # Sized so a 128 MiB parquet split stays the planning unit at scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dimension tables (robots, politeness,
        # domain-category weights) are tiny; let them broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if master:
        b = b.master(master)
    # SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2" — ad-hoc conf overrides for
    # benchmark probes (e.g. parquet codec A/Bs) without code edits.
    # Logged loudly: a stale export changes engine behavior invisibly, and
    # getOrCreate() silently ignores conf when a session is already live —
    # both failure modes must be attributable in benchmark output.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    overrides = []
    for pair in filter(None, env_conf.split(";")):
        k, _, v = pair.partition("=")
        overrides.append((k.strip(), v.strip()))
        b = b.config(k.strip(), v.strip())
    if overrides:
        print(
            "[hypercane_spark] SPARK_GRAFT_EXTRA_CONF overrides: "
            + "; ".join(f"{k}={v}" for k, v in overrides),
            file=sys.stderr,
        )
        if SparkSession.getActiveSession() is not None:
            import warnings

            warnings.warn(
                "SPARK_GRAFT_EXTRA_CONF set but a SparkSession is already "
                "active — getOrCreate() will NOT apply the overrides; stop "
                "the session first for them to take effect",
                stacklevel=2,
            )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
