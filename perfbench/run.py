#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the MapReduce engine.

    python3 perfbench/run.py --workload exec_jobs --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one SparkSession on
``local[4]``, one closed-loop client: each job or query is issued only
after the previous one finished. The run

1. generates its inputs from ``--seed`` (``gen.py``);
2. sets the session up several times and keeps the median (``setup_s``);
3. runs one unmeasured warm-up pass over the workload's op list, so
   every op's first run (class loading, codegen, worker start) is paid
   before timing;
4. runs measured passes while one more pass still fits in ``--seconds``
   (at least one), keeping every op's latency and the process tree's
   CPU time;
5. checks the output of every op it runs, warm-up included
   (``verify.py``);
6. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, where measured passes alternate untraced/traced so
   the tracing overhead is measured in the same run).

Workloads: ``exec_jobs`` (executable mapper/reducer jobs through the
FIFO ``JobQueue``) and ``query_mix`` (single-plan relational, events
and text registry keys and the eager iterative graph and dedup keys,
each timed as build + ``noop`` write, interleaved with declarative
``JobSpec`` jobs that write part files).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402
import verify  # noqa: E402

CORES = 4
SETUP_REPS = 3
TRACED_MIN_PASSES = 3
TABLE_SCALE = 0.004
CORPUS_LINES = 40_000

SQL_KEYS = [
    "q5_local_supplier",
    "q21_late_suppliers",
    "q_events_sessionize",
    "text_top_ngrams",
]
ITERATIVE_KEYS = ["q_pagerank", "dedup_clusters_bigstar"]
WORKLOADS = {
    "exec_jobs": [f"exec:{j}" for j in gen.EXEC_JOBS],
    "query_mix": SQL_KEYS + ITERATIVE_KEYS + ["jobspec:word_count", "jobspec:grep"],
}

E2E_UNITS = {
    "setup_s": "s",
    "makespan_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and pin the session to ``local[CORES]``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            # -Xms = -Xmx (the driver memory below): a fixed heap, so
            # peak RSS follows the processes' use, not G1's heap sizing
            "PYSPARK_SUBMIT_ARGS": "--driver-java-options -Xms1g pyspark-shell",
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ten samples beyond it,
    floored at the median for short runs."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0


class Bench:
    """One workload's ops against one generated input set."""

    def __init__(self, workload: str, inputs: gen.Inputs, work: str, tracer):
        from distributed_mapreduce_server_spark import registry

        self.workload = workload
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.spark = None
        self.queue = None
        self.exec_dir = os.path.join(
            ROOT, "distributed_mapreduce_server_spark", "mapreduce", "exec"
        )
        self._n_out = 0
        self._submitted_at = 0.0
        self.oracle: verify.OracleCheck | None = None
        self.setup_parts: dict[str, list[float]] = defaultdict(list)

    def load_oracles(self, keys: list[str]) -> None:
        """Run the DuckDB oracles of the registry keys among ``keys``
        once, before any op, so each run's check only compares."""
        keys = [k for k in keys if k in self.queries]
        self.oracle = verify.OracleCheck(
            self.inputs.tables, {k: self.oracles[k] for k in keys if k in self.oracles}, self.work
        )

    # --- set-up -----------------------------------------------------
    def setup(self) -> float:
        from distributed_mapreduce_server_spark import catalog, session
        from distributed_mapreduce_server_spark.mapreduce.submit import JobQueue

        if self.spark is not None:
            self.teardown()
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.workload != "exec_jobs":
            catalog.load_tables(self.spark, self.inputs.tables)
        t2 = time.perf_counter()
        self.queue = JobQueue(self.spark)
        self.queue.start()
        # the first Spark job of a context starts its executor threads
        if self.spark.range(CORES, numPartitions=CORES).count() != CORES:
            raise RuntimeError("set-up job returned a wrong count")
        self.setup_parts["session.get_spark_s"].append(t1 - t0)
        self.setup_parts["catalog.load_tables_s"].append(t2 - t1)
        return time.perf_counter() - t0

    def teardown(self) -> None:
        if self.queue is not None:
            self.queue.shutdown(timeout=60)
            self.queue = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --- ops --------------------------------------------------------
    def _fresh_dir(self, tag: str) -> str:
        self._n_out += 1
        return os.path.join(self.work, "out", f"{self._n_out:05d}-{tag}")

    def _cmd(self, script: str, args: str = "") -> str:
        return f"{sys.executable} {os.path.join(self.exec_dir, script)} {args}".strip()

    def _queue_job(self, spec) -> bool:
        from distributed_mapreduce_server_spark.mapreduce.submit import JobState

        self._submitted_at = time.perf_counter()
        jid = self.queue.submit(spec)
        return self.queue.wait(jid, timeout=150)[jid] == JobState.FINISHED

    def run_op(self, name: str):
        """Run one op; returns its latency in seconds and a zero-arg
        check of its output, to call after the op's measurements. The
        latency covers submit to terminal state (queued jobs) or build
        plus action (registry keys)."""
        kind, _, arg = name.partition(":")
        if kind == "exec":
            return self._exec(arg)
        if kind == "jobspec":
            return self._jobspec(arg)
        return self._query(name)

    def _exec(self, job: str, src: str | None = None, expected: list[bytes] | None = None):
        from distributed_mapreduce_server_spark.mapreduce.submit import ExecJobSpec

        mapper, margs, reducer, inp, nr, per_file = gen.EXEC_JOBS[job]
        src = src or getattr(self.inputs, inp)
        expected = expected or self.inputs.expected_exec[job]
        out = self._fresh_dir(job)
        spec = ExecJobSpec(
            input_directory=src,
            output_directory=out,
            mapper_executable=self._cmd(mapper, margs),
            reducer_executable=self._cmd(reducer),
            num_mappers=CORES,
            num_reducers=nr,
            per_file=per_file,
        )
        t0 = time.perf_counter()
        finished = self._queue_job(spec)
        lat = time.perf_counter() - t0

        def check() -> bool:
            ok = finished and verify.exec_output_ok(out, expected)
            shutil.rmtree(out, ignore_errors=True)
            return ok

        return lat, check

    def exec_fixed_s(self, reps: int = 3) -> float:
        """Median latency of the exec wordcount over a one-line input:
        the part of an exec job's time that does not grow with its
        data."""
        src = os.path.join(self.work, "one_line")
        os.makedirs(src, exist_ok=True)
        line = "one line of probe text"
        with open(os.path.join(src, "part00.txt"), "w") as fh:
            fh.write(line + "\n")
        expected = gen.expected_job("wordcount", [line])
        lats = []
        for _ in range(reps):
            lat, check = self._exec("wordcount", src, expected)
            if not check():
                raise RuntimeError("one-line exec wordcount: wrong output")
            lats.append(lat)
        return statistics.median(lats)

    def _jobspec(self, job: str):
        from distributed_mapreduce_server_spark.mapreduce.api import grep_job, word_count_job
        from distributed_mapreduce_server_spark.mapreduce.submit import JobSpec

        out = self._fresh_dir(job)
        if job == "word_count":
            mr = word_count_job(text_col="line")
        else:
            mr = grep_job(gen.GREP_PATTERN, text_col="line", id_col="file")
        spec = JobSpec(self.inputs.corpus, out, mr, num_reducers=2, output_format="csv")
        t0 = time.perf_counter()
        finished = self._queue_job(spec)
        lat = time.perf_counter() - t0

        def check() -> bool:
            if job == "word_count":
                ok = verify.wordcount_output_ok(out, self.inputs.expected_words)
            else:
                ok = verify.grep_output_ok(out, self.inputs.expected_grep)
            shutil.rmtree(out, ignore_errors=True)
            return finished and ok

        return lat, check

    def _query(self, key: str):
        from distributed_mapreduce_server_spark import session

        fn = self.queries[key]
        layer = f"operators.{fn.__module__.rsplit('.', 1)[-1]}"
        t0 = time.perf_counter()
        with self.tracer.span(f"{layer}.build"):
            df = fn(self.spark, self.inputs.tables)
        with self.tracer.span(f"{layer}.action"):
            df.write.format("noop").mode("overwrite").save()
        lat = time.perf_counter() - t0
        if self.tracer.enabled:
            self._record_plan_phases(df, f"{layer}.plan")

        def check() -> bool:
            # outside the timed region; eager operators' results are
            # still checkpointed here, lazy plans run once more
            problems = self.oracle.problems(key, df)
            for p in problems[:3]:
                print(f"oracle mismatch {key}: {p}", file=sys.stderr)
            # between queries only: frees eager operators' checkpoints
            session.retire_persistent_rdds(self.spark)
            return not problems

        return lat, check

    def _record_plan_phases(self, df, name: str) -> None:
        """Catalyst's own phase timings (analysis, optimization,
        planning) for the op's final plan, as one span per op."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        it = phases.values().iterator()
        total_ms = 0
        while it.hasNext():
            total_ms += it.next().durationMs()
        now = time.perf_counter()
        self.tracer.record(name, now - total_ms / 1e3, now)

    # --- tracing ----------------------------------------------------
    def install_wrappers(self) -> None:
        from distributed_mapreduce_server_spark.mapreduce import api, exec_job
        from distributed_mapreduce_server_spark.mapreduce import submit as submit_mod

        def on_job_thread():
            # runs on the JobQueue drain thread: tag its Spark jobs with
            # the op's group and record how long the job sat PENDING
            self.spark.sparkContext.setJobGroup(self.group(), self.group())
            self.tracer.record(
                "mapreduce.submit.queue_wait", self._submitted_at, time.perf_counter()
            )

        t = self.tracer
        t.wrap(submit_mod, "submit_exec", "mapreduce.submit.submit_exec", on_job_thread)
        t.wrap(submit_mod, "submit", "mapreduce.submit.submit", on_job_thread)
        t.wrap(submit_mod, "write_sink", "sources.write_sink")
        t.wrap(exec_job, "run_executable_job", "mapreduce.exec_job.run")
        t.wrap(api.MapReduceJob, "run", "mapreduce.api.plan")

    def group(self) -> str:
        return f"perfbench-op-{self.tracer.op}"


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(bench: Bench, passes: list[dict], tracer) -> dict[str, float]:
    """Per-layer metrics from the traced passes: span totals and self
    times, Spark counters and process CPU, each summed per pass and
    reported as the median over passes."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    ops_by_pass = {id(p): set(p["op_ids"]) for p in traced}
    span_tot: dict[int, dict[str, float]] = {id(p): defaultdict(float) for p in traced}
    for sp, self_s in tracer.self_times():
        for p in traced:
            if sp.op in ops_by_pass[id(p)]:
                span_tot[id(p)][sp.name + "_s"] += sp.end - sp.start
                if sp.name == "mapreduce.submit.submit_exec":
                    span_tot[id(p)]["mapreduce.submit.wrapup_s"] += self_s
    names = [
        "mapreduce.submit.queue_wait_s",
        "mapreduce.submit.submit_exec_s",
        "mapreduce.submit.wrapup_s",
        "mapreduce.exec_job.run_s",
        "mapreduce.api.plan_s",
        "sources.write_sink_s",
    ] + [
        f"operators.{m}.{k}_s"
        for m in ("relational", "events", "text", "dedup", "graph")
        for k in ("build", "action", "plan")
    ]
    out = {n: _median([span_tot[id(p)].get(n, 0.0) for p in traced]) for n in names}
    for n in ("session.get_spark_s", "catalog.load_tables_s"):
        out[n] = _median(bench.setup_parts[n])
    # setup_s leaves the JVM launch out (only the first set-up makes one)
    out["session.jvm_launch_s"] = bench.setup_parts["session.get_spark_s"][0]
    counters = [
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
        "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
        "spill_mb", "no_job_s",
    ]
    for c in counters:
        out[f"spark.{c}"] = _median([p["spark"].get(c, 0.0) for p in traced])
    out["spark.util"] = _median(
        [p["spark"].get("executor_run_s", 0.0) / (p["makespan"] * CORES) for p in traced]
    )
    for c in ("driver", "jvm", "pyworker"):
        out[f"proc.{c}_cpu_s"] = _median([p["cpu_by"][c] for p in traced])
    out["trace.overhead_s"] = _median([p["makespan"] for p in traced]) - _median(
        [p["makespan"] for p in untraced]
    )
    out["trace.self_s"] = _median([p["trace_self"] for p in traced])
    return out


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return {
        "spark.util": "ratio",
        "speedup_vs_reference": "x",
        "mapreduce.exec_job.fixed_share": "ratio",
    }.get(name, "count")


def reference_speedup(inputs: gen.Inputs, exec_wordcount_s: float) -> float:
    """The reference's single-node ``mapper | sort | reducer`` time on
    this run's corpus over the exec wordcount's median latency."""
    spec = importlib.util.spec_from_file_location(
        "measure_reference_shape",
        os.path.join(ROOT, "scripts", "measure_reference_shape.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    ref = statistics.median(mod.measure_reference_shape(inputs.corpus) for _ in range(3))
    return ref / exec_wordcount_s


class Runner:
    """Drives passes over one workload's op list and keeps their
    measurements: per op the latency and the process-tree CPU; in
    traced passes also the Spark counters of the op's job group."""

    def __init__(self, bench: Bench, ops: list[str], tree: tracing.ProcTree):
        self.bench = bench
        self.ops = ops
        self.tree = tree
        self.tracer = bench.tracer
        self.op_id = 0
        self.attempted = 0
        self.failed = 0

    def run_pass(self, traced: bool) -> dict:
        bench, tracer = self.bench, self.tracer
        tracer.enabled = traced
        cur = {
            "traced": traced,
            "makespan": 0.0,
            "cpu_by": defaultdict(float),
            "spark": defaultdict(float),
            "op_ids": [],
            "trace_self": 0.0,
            "lats": [],  # (op name, latency s)
        }
        for name in self.ops:
            self.op_id += 1
            tracer.op = self.op_id
            cur["op_ids"].append(self.op_id)
            cpu0 = self.tree.cpu()
            w0 = time.time()
            if traced:
                bench.spark.sparkContext.setJobGroup(bench.group(), bench.group())
            self.attempted += 1
            try:
                with tracer.span("op") as sp:
                    tracer.op_span = sp.id if sp else None
                    lat, check = bench.run_op(name)
            except Exception as ex:  # noqa: BLE001 — a failed op is counted, the run goes on
                print(f"op {name} raised: {str(ex)[:300]}", file=sys.stderr)
                lat, check = time.time() - w0, lambda: False
            w1 = w0 + lat
            cpu1 = self.tree.cpu()
            cur["makespan"] += lat
            cur["lats"].append((name, lat))
            for k in cpu0:
                cur["cpu_by"][k] += cpu1[k] - cpu0[k]
            if traced:
                c = tracing.spark_counters(bench.spark, bench.group())
                c["no_job_s"] = tracing.uncovered(w0, w1, c.pop("job_intervals"))
                for k, v in c.items():
                    cur["spark"][k] += v
                cur["trace_self"] += time.time() - w1
            if not check():
                print(f"op {name}: wrong output", file=sys.stderr)
                self.failed += 1
        tracer.enabled = False
        return cur


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the Spark JVM (and the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    t0 = time.perf_counter()
    inputs = gen.generate(
        os.path.join(work, "inputs"),
        args.seed,
        TABLE_SCALE,
        CORPUS_LINES,
        exec_outputs=args.workload == "exec_jobs",
    )
    tracer = tracing.Tracer()
    bench = Bench(args.workload, inputs, work, tracer)
    tree = tracing.ProcTree()
    ops = list(WORKLOADS[args.workload])
    # the seed permutes the op order; every pass keeps it
    ops = [ops[i] for i in np.random.default_rng(args.seed).permutation(len(ops))]
    runner = Runner(bench, ops, tree)
    passes: list[dict] = []
    phases = {"gen_s": time.perf_counter() - t0}
    try:
        t = time.perf_counter()
        bench.load_oracles(ops)
        phases["oracles_s"] = time.perf_counter() - t
        setups = [bench.setup() for _ in range(SETUP_REPS)]
        t = time.perf_counter()
        # every op's first run pays class loading, codegen and worker
        # start; the warm-up pass is unmeasured, its outputs checked
        runner.run_pass(traced=False)
        phases["warmup_pass_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if args.trace:
            bench.install_wrappers()
        steal0 = tracing.steal_ticks()
        with tracing.RssSampler(tree) as rss:
            deadline = time.perf_counter() + args.seconds
            pass_wall = 0.0
            # a pass starts only if one more pass of the last one's length
            # still ends before the deadline; the first pass always runs.
            # A traced run alternates untraced and traced passes and makes
            # at least three: warm passes still speed up one after the
            # other, so the traced pass is compared with the untraced
            # passes on both sides of it
            min_passes = TRACED_MIN_PASSES if args.trace else 1
            while len(passes) < min_passes or time.perf_counter() + pass_wall <= deadline:
                pass_t0 = time.perf_counter()
                cur = runner.run_pass(traced=args.trace and len(passes) % 2 == 1)
                cur["peak_rss_mb"] = rss.take_peak()
                passes.append(cur)
                pass_wall = time.perf_counter() - pass_t0
        phases["passes_s"] = time.perf_counter() - t
        steal1 = tracing.steal_ticks()
        # the share of the machine's CPU time the hypervisor gave to
        # others during the passes: a noisy neighbour shows here
        steal_share = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        lat_by_op: dict[str, list[float]] = defaultdict(list)
        for p in passes:
            for name, lat in p["lats"]:
                lat_by_op[name].append(lat)
        exec_probe = {}
        if args.trace and args.workload == "exec_jobs":
            fixed_s = bench.exec_fixed_s()
            exec_probe = {
                "speedup_vs_reference": reference_speedup(
                    inputs, _median(lat_by_op["exec:wordcount"])
                ),
                "mapreduce.exec_job.fixed_s": fixed_s,
                # the share of a pass that N one-line jobs would take
                "mapreduce.exec_job.fixed_share": len(ops) * fixed_s
                / _median([p["makespan"] for p in passes]),
            }
    finally:
        t = time.perf_counter()
        tracer.unwrap_all()
        bench.teardown()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        phases["teardown_s"] = time.perf_counter() - t
    lats = [x for v in lat_by_op.values() for x in v]
    pct = tail_percentile(len(lats))
    e2e = {
        "setup_s": _median(setups),
        "makespan_s": _median([p["makespan"] for p in passes]),
        "cpu_s": _median([sum(p["cpu_by"].values()) for p in passes]),
        "peak_rss_mb": _median([p["peak_rss_mb"] for p in passes]),
    }
    info = {
        "phases": phases,
        "setups_s": setups,
        "steal_share": steal_share,
        "passes": len(passes),
        "pass_makespans_s": [p["makespan"] for p in passes],
        "ops": len(lats),
        # too host-sensitive on query_mix for a bounded metric
        "op_p50_s": _median(lats),
        # a run has too few ops for a tail above the median, so the tail
        # is reported here, with its percentile and sample count
        "op_tail_s": float(np.percentile(lats, pct)),
        "op_tail_pct": pct,
        "fail_ratio": runner.failed / max(runner.attempted, 1),
        "per_op_median_s": {k: _median(v) for k, v in lat_by_op.items()},
    }
    info.update(exec_probe)
    print(json.dumps({"info": info, "e2e": e2e}), file=sys.stderr)
    if args.trace:
        metrics = layer_metrics(bench, passes, tracer)
        for k in ("speedup_vs_reference", "mapreduce.exec_job.fixed_s", "mapreduce.exec_job.fixed_share"):
            metrics[k] = exec_probe.get(k, 0.0)
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"))
        units = {k: _unit(k) for k in metrics}
    else:
        metrics, units = e2e, E2E_UNITS
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "distributed_mapreduce_server_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
