#!/usr/bin/env python3
"""Benchmark of hypercane_spark, end to end and (traced) layer by layer.

    python3 perfbench/run.py --workload crawl-payload --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process, one driver, one job stream
at a time, on ``local[<cores of this host>]``. The run sets up its inputs
several times (``setup_s`` is the median), then repeats the workload's
operation until ``--seconds`` would be overrun (always at least once),
checks every output, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records spans
around the program's public calls and the Spark event log, and reports the
per-layer metrics instead. The line before it carries the host facts. All
scratch state lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
# environment the program reads that would change what is measured (the
# master, shuffle partitions and driver memory are passed explicitly)
REFUSED_ENV_PREFIXES = ("SPARK_GRAFT_",)
REFUSED_ENV = ("LID_MODEL_PATH",)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_facts(seed: int, cores: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        sha = None
    # the benchmark checkout is not always a git repository: the digest of
    # the program sources identifies the code either way
    src = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "hypercane_spark", "**", "*.py"), recursive=True)):
        src.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            src.update(fh.read())
    return {
        "nproc": cores,
        "mem_total_kb": mem_kb,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
        "source_sha256": src.hexdigest(),
        "seed": seed,
    }


def start_spark(cores: int, mem_kb: int, work: str, event_dir: str | None):
    from hypercane_spark.session import get_spark

    driver_mb = min(4096, mem_kb // 1024 // 4)
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak resident sets (VmHWM) of the driver JVM and every
    process under it (the Python workers)."""
    parent = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, grew = {jvm_pid}, True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM"))
        except (OSError, StopIteration):
            continue
    return kb / 1024.0


def run(args) -> int:
    refused = sorted(
        k for k in os.environ if k.startswith(REFUSED_ENV_PREFIXES) or k in REFUSED_ENV
    )
    if refused:
        print(f"perfbench: refusing to run with {', '.join(refused)} set", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "hypercane_spark", "__init__.py")):
        print(f"perfbench: no hypercane_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from ledger import EventLog, Ledger
    from spans import NoTracer, Tracer
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    facts = host_facts(args.seed, cores)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    event_dir = os.path.join(work, "events") if args.trace else None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cores, facts["mem_total_kb"], work, event_dir)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext) if args.trace else NoTracer()
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer, cores)
        try:
            setups = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t0)
            wl.instrument()
            ops, attempted, failed, notes = [], 0, 0, []
            while True:
                ops.append(wl.op())
                a, f, n = wl.check(ops[-1])
                attempted, failed, notes = attempted + a, failed + f, notes + n
                spent = sum(o["run_s"] for o in ops)
                if spent + statistics.median(o["run_s"] for o in ops) > args.seconds:
                    break
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            rss = peak_rss_mb(jvm_pid)
        finally:
            tracer.close()
            stop_spark(spark)

        def med(key):
            return statistics.median(o[key] for o in ops)

        e2e = {
            "setup_s": statistics.median(setups),
            "run_s": med("run_s"),
            "mementos_per_s": med("mementos_per_s"),
        }
        # the metrics the workload's users name, where the workload has them
        named = {
            "session_start_s": session_s,
            **{k: med(k) for k in ("crawl_mementos_per_s", "resume_s", "story_s") if k in ops[0]},
            "error_rate": failed / attempted,
            "peak_rss_mb": rss,
        }
        if args.trace:
            logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
            ledger = Ledger(EventLog.read(logs[0]), tracer.spans)
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(named)
            values.update({f"traced.{k}": v for k, v in e2e.items()})
            values.update(wl.layers(ledger, sum(o["run_s"] for o in ops)))
            metrics = {k: {"value": float(values[k]), "unit": PER_LAYER[k]} for k in PER_LAYER}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        summary = {**{k: (v, PER_LAYER[k]) for k, v in named.items()},
                   **{k: (v, END_TO_END[k]) for k, v in e2e.items()}}
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
        with open(os.path.join(WORK, "results", stamp + ".json"), "w") as fh:
            json.dump({"host": facts, "workload": args.workload, "setups_s": setups,
                       "ops": [{k: v for k, v in o.items() if not k.startswith("_")} for o in ops],
                       "notes": notes, "summary": summary, "spans": tracer.spans,
                       **result}, fh, indent=1)
        for note in notes:
            print(f"perfbench: check failed: {note}")
        print(f"perfbench {args.workload}: " + ", ".join(
            f"{k}={v:.6g} {u}" for k, (v, u) in summary.items()))
        print("perfbench host: " + json.dumps(facts))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
