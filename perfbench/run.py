"""One command for the extraction and query benchmark.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 10 --trace 0

Workloads: pages, mixed_write, xpath_query (see perfbench/NOTES.md).
With --trace 0 it prints the end-to-end metrics, measured with tracing off;
with --trace 1 it walks the layer ladder with the event log and the perf UDF
profiler on and prints the per-layer metrics. Either way the last line of
stdout is one JSON object {correct, attempted, failed, metrics}, and the
exit code is non-zero when any doc's output differs from the reference.
All files go under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_REPS = 2
# unmeasured repetitions after set-up: the first few full jobs of a run read
# up to a third slower than later ones (JVM-side warm-up that the one-file
# warm runs of set-up do not give)
WARM_S = 8


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    let the Python workers import the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # no hsperfdata files under /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def start_session(cores: int, work: str, event_log: str | None = None):
    """A fresh SparkContext at local[cores]; a running one is stopped first
    (the JVM stays, so only the first call pays its launch)."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(cores * 2),
        # AQE would coalesce the few-MB salting shuffle of these inputs into
        # fewer extract tasks than cores, which a full-size input never gets;
        # keep the pipeline's own num_partitions (2 tasks per core)
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for the JVM
    (and with it the Python daemon and workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def measure(spark, wl, seconds: float, proc=None) -> list[dict]:
    """Repeat the job for `seconds` (at least MIN_REPS times); one record
    per repetition with its wall time and the process tree's CPU time."""
    reps = []
    deadline = time.perf_counter() + seconds
    while len(reps) < MIN_REPS or time.perf_counter() < deadline:
        cpu0 = proc.sample() if proc else 0.0
        t0 = time.perf_counter()
        out = wl.run(spark)
        out["s"] = time.perf_counter() - t0
        out["cpu_s"] = (proc.sample() - cpu0) if proc else 0.0
        reps.append(out)
    return reps


def check(spark, wl, reps: list[dict]) -> dict:
    """Compare every repetition's digest with the in-driver reference, run
    the fast-vs-DOM differential and the doc-count check."""
    from perfbench.workloads import drift, fast_vs_dom

    want = wl.reference(spark)
    key = ("xor", "rows", "sum")
    bad_digest = any(tuple(r[k] for k in key) != tuple(want[k] for k in key) for r in reps)
    mismatch = wl.mismatched_docs(spark) if bad_digest else 0
    diff = fast_vs_dom(wl.docs, 200, wl.seed)
    n = len(wl.docs)
    seen = {r["docs"] for r in reps}
    lineage = wl.lineage_docs(spark)
    if lineage is not None:
        seen.add(lineage)
    count_off = max(abs(s - n) for s in seen)
    return {
        "reference": want,
        "mismatch_docs": mismatch + diff + count_off + drift(wl, want),
        "differential_mismatch": diff,
        "error_frac": reps[0]["errors"] / n,
    }


def timed_run(wl, work: str, seconds: int) -> dict:
    from perfbench.collect import ProcTree

    cores = nproc()
    start_session(cores, work)  # launches the JVM, which no set-up re-pays
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        wl.generate()
        wl.run(spark, warm=True)
        setups.append(time.perf_counter() - t0)
    warm = measure(spark, wl, WARM_S)
    load = [os.getloadavg()[0]]
    proc = ProcTree()
    reps = measure(spark, wl, seconds, proc)
    load.append(os.getloadavg()[0])
    checked = check(spark, wl, warm + reps)
    spark.stop()

    n = len(wl.docs)
    metrics = {
        "docs_per_s": (statistics.median(n / r["s"] for r in reps), "docs/s"),
        "cpu_ms_per_doc": (statistics.median(1000 * r["cpu_s"] / n for r in reps), "ms"),
        "setup_s": (statistics.median(setups), "s"),
        "worker_rss_mb": (proc.worker_rss_mb(), "MB"),
        "ok_frac": (1.0 - checked["error_frac"], "ratio"),
    }
    info = {
        "nproc": cores,
        "loadavg_1m": load,
        "warm_rep_s": [r["s"] for r in warm],
        "rep_s": [r["s"] for r in reps],
        "setups_s": setups,
        "corpus": wl.record,
        "error_frac": checked["error_frac"],
        "mismatch_docs": checked["mismatch_docs"],
        "differential_mismatch": checked["differential_mismatch"],
    }
    return {"metrics": metrics, "info": info, "mismatch": checked["mismatch_docs"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import fuzi_spark  # noqa: F401  (fails fast outside a full checkout)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    prepare_env(work)
    wl = WORKLOADS[args.workload](args.seed, work)
    try:
        if args.trace:
            from perfbench.traced import traced_run

            res = traced_run(wl, work, start_session, nproc())
        else:
            res = timed_run(wl, work, args.seconds)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"workload": args.workload, "seed": args.seed, **res["info"]}))
    lines = dict(res["metrics"])
    if "error_frac" in res["info"]:
        lines["error_frac"] = (res["info"]["error_frac"], "ratio")
    lines["mismatch_docs"] = (res["mismatch"], "docs")
    for name, (value, unit) in lines.items():
        print(f"{name:40s} {value:14.6g} {unit}")
    n = len(wl.docs)
    print(json.dumps({
        "correct": res["mismatch"] == 0,
        "attempted": n,
        "failed": res["mismatch"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0 if res["mismatch"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
