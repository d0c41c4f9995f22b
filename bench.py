"""Operator battery: every `__spark_entry__.queries()` entry, timed.

Prints ONE JSON line:
  {"metric": "...", "value": <total query seconds>, "unit": "sec",
   "sf": <dir>, "queries": {...per-query seconds...},
   "value_cold": ..., "queries_cold": {...},
   "query_timeouts": [...], "query_errors": {name: message}}

Runs every query at $SPARK_GRAFT_SF_DIR (default: `SF_DIR` below) on
local[<cores this process may run on>]. Each query is timed by `run_query`,
which materializes every output column. A query that raises is listed under
`query_errors` and left out of `value`.

The extraction job's docs/sec, its N→4N scaling and its per-layer split
are measured by perfbench (`python3 perfbench/run.py --trace 1`).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERY_TIMEOUT_S = int(os.environ.get("SPARK_GRAFT_QUERY_TIMEOUT", "180"))


def make_session(cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("bench-queries")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .getOrCreate()
    )


def run_query(df) -> None:
    """The timed action. A noop write computes every output column;
    `count()` would let the optimizer prune Python stages whose columns
    nothing reads, and their cost would not be timed."""
    df.write.format("noop").mode("overwrite").save()


def timed_run(spark, df) -> tuple[float, bool]:
    """(wall seconds, timed out) of `run_query(df)` under a watchdog.

    The host occasionally stalls a handful of tasks for many minutes under
    co-tenant load (observed: a stage stuck at 54/64 for 10+ min on a query
    that normally takes ~1 s, fine on rerun). One wedged query must not
    block the whole battery: past QUERY_TIMEOUT_S its jobs are cancelled.
    An exception raised by the query is raised here."""
    done = {}

    def run():
        try:
            run_query(df)
        except Exception as e:
            done["err"] = e

    t0 = time.time()
    th = threading.Thread(target=run, daemon=True)
    th.start()
    th.join(QUERY_TIMEOUT_S)
    if th.is_alive():
        spark.sparkContext.cancelAllJobs()
        th.join(30)
        return time.time() - t0, True
    if "err" in done:
        raise done["err"]
    return time.time() - t0, False


def time_query(spark, fn) -> tuple[float, float, bool]:
    """(cold seconds, best seconds, timed out) of one battery query.

    The first (cold) pass pays per-plan codegen compilation and
    Python-worker spin-up; the second measures steady-state execution.
    clearCache between passes drops persisted intermediates (LSH bands,
    shingle sets), so every pass re-executes ALL the work; only JVM-level
    compilation artifacts are reused, as a long-running cluster job would
    amortize them. A cold pass that times out is retried once."""

    def one_pass():
        spark.catalog.clearCache()
        return timed_run(spark, fn(spark, SF_DIR))

    dt_cold, timed_out = one_pass()
    if timed_out:
        dt_cold, timed_out = one_pass()
    dt_steady, timed_out2 = one_pass()
    best = dt_cold if timed_out2 else min(dt_steady, dt_cold)
    if best > 2.0:
        # expensive queries get a third pass: a single co-tenant stall
        # otherwise lands in the recorded steady number for good
        dt3, timed_out3 = one_pass()
        if not timed_out3:
            best = min(best, dt3)
    spark.catalog.clearCache()
    return dt_cold, best, timed_out


def main():
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as E

    spark = make_session(len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    result = {
        "metric": "operator battery: per-query seconds",
        "unit": "sec",
        "sf": SF_DIR,
        "queries": {},
        "queries_cold": {},
        "query_timeouts": [],
        "query_errors": {},
    }
    # Headline `value`/`queries` = best of the steady passes; cold numbers
    # live in `queries_cold`/`value_cold`.
    for name, fn in E.queries().items():
        try:
            dt_cold, best, timed_out = time_query(spark, fn)
        except Exception as e:
            result["query_errors"][name] = f"{type(e).__name__}: {str(e).strip()[:1000]}"
            continue
        if timed_out:
            result["query_timeouts"].append(name)
        result["queries_cold"][name] = round(dt_cold, 3)
        result["queries"][name] = round(best, 3)
    result["value"] = round(sum(result["queries"].values()), 3)
    result["value_cold"] = round(sum(result["queries_cold"].values()), 3)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
