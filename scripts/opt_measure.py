"""Per-query optimization measurement harness (round 13, guide §1).

For each named query: run it MEDIAN_OF times against the noop sink
(guide §1.4 — eagerly computes every column, no sink cost, full plan
in the SQL tab) and capture .explain("formatted") to
plans/<round>/<name>_<tag>.txt so plan claims are checkable without
Spark.

Round-14 additions (VERDICT r13 task 8): --round picks the plans
subdirectory, and --executed appends the EXECUTED plan descriptions of
every SQL execution the final capture run submitted (read from the
SQLAppStatusStore via plans.executed_plan_descriptions) — for eager
operators (iterative graph loops, two-phase collects) the lazy
explain() shows only the post-localCheckpoint Scan ExistingRDD, but
the internal jobs' executed plans land here, Exchange counts included.

Each timed run also reports the Spark jobs it submitted (counted from
the status store by job group), the classes codegen compiled during
it (the JVM's CodegenMetrics compile counter) and the py4j round trips
the driver made to the JVM (``py4j``), so per-run action cuts,
codegen-cache thrash and the driver's per-call round-trip cost show in
the printed line and the JSON.

Usage:
    python scripts/opt_measure.py [--tag before|after] [--sf DIR] name...
    python scripts/opt_measure.py --tag before --executed q_pagerank

This is a diagnosis tool, NOT the bench: bench.py's df.count() timing
is the cross-round contract and stays untouched.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_mapreduce_server_spark import (  # noqa: E402
    get_spark,
    registry,
    retire_persistent_rdds,
)

MEDIAN_OF = 3


def job_count(spark, group: str) -> int:
    """Spark jobs the status store holds for ``group``, after flushing
    the listener bus (job events arrive asynchronously)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10000)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def count_round_trips(spark) -> list[int]:
    """Count every py4j command the driver sends to the JVM from now
    on, in the returned one-element list. Garbage-collection detaches
    (``m\nd``) are left out: they follow Python's collector, not the
    code, so what remains repeats exactly from run to run."""
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            n[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--runs", type=int, default=MEDIAN_OF)
    ap.add_argument("--round", default="r14")
    ap.add_argument(
        "--executed",
        action="store_true",
        help="append executed plans of the capture run's internal jobs"
        " (eager operators)",
    )
    args = ap.parse_args()

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.round
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("dmrs-opt-measure")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    compile_count = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount
    round_trips = count_round_trips(spark)
    queries = registry.all_queries()
    out: dict[str, dict] = {}
    for name in args.names:
        fn = queries[name]
        # warm once at the smallest SF (JIT/codegen) like bench.py
        warm = "/root/testdata/sf0.001"
        if os.path.isdir(warm) and os.path.abspath(warm) != os.path.abspath(args.sf):
            fn(spark, warm).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            retire_persistent_rdds(spark)
        samples, jobs, compiles, py4j = [], [], [], []
        for i in range(args.runs):
            spark.catalog.clearCache()
            retire_persistent_rdds(spark)
            group = f"opt:{name}:{i}"
            sc.setJobGroup(group, group)
            compiled0 = compile_count()
            gc.collect()
            round_trips[0] = 0
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            py4j.append(round_trips[0])
            compiles.append(compile_count() - compiled0)
            sc._jsc.clearJobGroup()
            jobs.append(job_count(spark, group))
        med = sorted(samples)[len(samples) // 2]
        if not args.no_plan:
            # fresh build for the plan so persisted frames from the timed
            # runs don't appear as InMemoryRelation noise
            spark.catalog.clearCache()
            retire_persistent_rdds(spark)
            if args.executed:
                from distributed_mapreduce_server_spark.plans import (
                    executed_plan_descriptions,
                    latest_execution_id,
                )

                watermark = latest_execution_id(spark)
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(plans_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as fh:
                fh.write(
                    f"# {name} @ {args.sf}  tag={args.tag}\n"
                    f"# noop-sink samples (s): {samples}  median: {med}\n\n"
                )
                fh.write(buf.getvalue())
                if args.executed:
                    # the build above already ran the operator's internal
                    # jobs (eager ops execute at build time); dump each
                    # executed plan so Exchange/join claims are checkable
                    # even where explain() shows only Scan ExistingRDD.
                    for i, p in enumerate(
                        executed_plan_descriptions(spark, since=watermark)
                    ):
                        fh.write(
                            f"\n\n=== executed plan {i} (internal job of the"
                            f" build above) ===\n"
                        )
                        fh.write(p)
        out[name] = {
            "median": med,
            "samples": samples,
            "jobs": jobs,
            "compiles": compiles,
            "py4j": py4j,
        }
        print(
            f"{name}: median={med}s samples={samples} jobs={jobs} compiles={compiles}"
            f" py4j={py4j}",
            flush=True,
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
