"""Benchmark entry point: one workload, one seed, one JSON result line.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 10 --trace 0

Workloads: ``replicate`` and ``cdc_queries`` (see ``README.md``). The
inputs are generated from ``--seed`` under ``.perfbench/`` in the
checkout, which is removed at the end. The last
line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the metrics are the ``end_to_end`` ones
named in ``BENCHMARK.json``, with ``--trace 1`` the ``per_layer`` ones
from a separate traced run (spans, job groups and a Spark event log).
A metric that a workload does not exercise reads 0 in the traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.getcwd()
WORKLOADS = ("replicate", "cdc_queries")
# Java, Python and Spark threads share this many CPUs.
CPUS = len(os.sched_getaffinity(0))


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def environment(work: str, trace: bool) -> None:
    """Session sizing and scratch locations, set before the JVM starts.
    Every file Spark, Java or Python writes lands under ``work``."""
    from tracing import event_log_args

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # Read by every JVM, the launcher's too; without -XX:-UsePerfData
        # each would write /tmp/hsperfdata_*.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    submit = []
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        submit += event_log_args(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(60)


def main() -> int:
    args = _args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
            spec = json.load(fh)
    except OSError as e:
        print(f"BENCHMARK.json not readable in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "arango_clickhouse_replica_spark", "__init__.py")):
        print(f"no engine package under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = _run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for note in result.pop("notes"):
        print(f"FAILED: {note}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def _run(args, work: str, spec: dict) -> dict:
    trace = bool(args.trace)
    environment(work, trace)

    import datagen
    from tracing import JobStats, Tracer, median, pct, peak_rss_mb

    if args.workload == "replicate":
        from replicate import CORRUPT_FRAC as corrupt, TABLE_SIZES as sizes
    else:
        from queries import TABLE_SIZES as sizes
        corrupt = 0.0

    # Input generation is repeated three times and its median counted,
    # so the set-up figure is steadier.
    gen_s = []
    for i in range(3):
        t = time.time()
        datagen.write_tables(os.path.join(work, f"tables{i}"), args.seed, sizes, corrupt)
        gen_s.append(time.time() - t)
    sf_dir = os.path.join(work, "tables0")

    t = time.time()
    from arango_clickhouse_replica_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, trace)
    if args.workload == "replicate":
        from replicate import Replicate
        wl = Replicate(spark, tracer, work, sf_dir, args.seed, args.seconds)
    else:
        from queries import QueryWorkload
        wl = QueryWorkload(spark, tracer, sf_dir, args.seed, args.seconds)
    try:
        wl.prepare()
        setup_s = time.time() - t + median(gen_s)
        t = time.time()
        timed = wl.run()
        t_run = time.time() - t
        # Warm-up done inside the timed phases counts as set-up.
        setup_s += timed.get("warm_s", 0.0)
        wl.check()
        rss = peak_rss_mb(spark)
        print(f"setup {setup_s:.1f} s, timed {t_run:.1f} s, checks "
              f"{time.time() - t - t_run:.1f} s", file=sys.stderr)
    finally:
        stop_spark(spark)

    # Each kind of operation (a query, a read) has its own latency; the
    # percentiles are taken over the kinds' medians, so a few slow
    # samples do not move a percentile from one kind to another.
    kinds = [median(ms) for ms in timed["op_ms"].values()]
    e2e = {
        "setup_s": setup_s,
        "pass_s": timed["pass_s"],
        "op_ms_p50": median(kinds),
        "op_ms_p75": pct(kinds, 0.75),
    }
    if trace:
        for line in tracer.summary():
            print(line, file=sys.stderr)
        stats = JobStats(os.path.join(work, "eventlog"))
        spark_sum = wl.spark_layers(stats)
        layer = {f"spark.{k}": v for k, v in spark_sum.items()}
        layer.update(wl.layer)
        layer["trace.pass_s"] = e2e["pass_s"]
        layer["trace.op_ms_p50"] = e2e["op_ms_p50"]
        layer["process.peak_rss_mb"] = rss
        wanted = spec["per_layer"]
    else:
        layer = e2e
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
        "notes": wl.notes,
    }


if __name__ == "__main__":
    sys.exit(main())
