#!/usr/bin/env python3
"""Record the small event-log fixture that test_ledger.py reads:

    python3 perfbench/fixtures/record_eventlog.py

Runs two spans on local[2]: ``udf`` (an Arrow UDF over 100 rows, its job
tagged by the span) and ``anti`` (a left anti join of 50 keys against 20,
run from a worker thread so its jobs carry no description). Writes
small_eventlog.jsonl, trimmed to the fields the ledger reads, and
small_spans.json next to this file.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402

from spans import Tracer  # noqa: E402

KEEP = {
    "SparkListenerJobStart": ["Job ID", "Submission Time", "Stage IDs", "Properties"],
    "SparkListenerJobEnd": ["Job ID", "Completion Time"],
    "SparkListenerStageCompleted": ["Stage Info"],
    "SparkListenerTaskEnd": ["Stage ID", "Task Info", "Task Metrics"],
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart": ["executionId", "sparkPlanInfo", "time"],
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate": ["executionId", "sparkPlanInfo"],
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates": ["executionId", "accumUpdates"],
}
PROPS = ("spark.job.description", "spark.sql.execution.id")


def trim(e: dict) -> dict | None:
    keys = KEEP.get(e["Event"])
    if keys is None:
        return None
    out = {"Event": e["Event"], **{k: e[k] for k in keys if k in e}}
    if "Properties" in out:
        out["Properties"] = {k: v for k, v in out["Properties"].items() if k in PROPS}
    if "Stage Info" in out:
        si = out["Stage Info"]
        out["Stage Info"] = {"Stage ID": si["Stage ID"], "Accumulables": si.get("Accumulables", [])}
    if "Task Info" in out:
        out["Task Info"] = {"Accumulables": out["Task Info"].get("Accumulables", [])}
    return out


def main() -> None:
    events = tempfile.mkdtemp(prefix="perfbench-fixture-")
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + events)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    tracer = Tracer(spark.sparkContext)

    @pandas_udf("long")
    def plus_one(x: pd.Series) -> pd.Series:
        return x + 1

    with tracer.span("udf"):
        spark.range(100).select(plus_one(F.col("id")).alias("y")).write.format(
            "noop"
        ).mode("overwrite").save()

    def anti() -> None:
        left = spark.range(50).select(F.col("id").cast("string").alias("__surt"))
        right = spark.range(20).select(F.col("id").cast("string").alias("surt"))
        left.join(right, left["__surt"] == right["surt"], "left_anti").collect()

    with tracer.span("anti"):
        worker = threading.Thread(target=anti)
        worker.start()
        worker.join()
    spark.stop()

    (log,) = [os.path.join(events, f) for f in os.listdir(events)]
    with open(log) as src, open(os.path.join(HERE, "small_eventlog.jsonl"), "w") as dst:
        for line in src:
            e = trim(json.loads(line))
            if e is not None:
                dst.write(json.dumps(e) + "\n")
    with open(os.path.join(HERE, "small_spans.json"), "w") as fh:
        json.dump(tracer.spans, fh, indent=1)


if __name__ == "__main__":
    main()
