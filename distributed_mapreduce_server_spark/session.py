"""SparkSession factory tuned for both local testing and cluster scale.

The reference manager hand-schedules partitions and worker liveness
(reference: mapreduce/manager/__main__.py:96-140); on Spark that job
belongs to the scheduler + AQE, so the session is where those knobs
live.
"""

from __future__ import annotations

import contextlib
import math
import os

from pyspark.sql import SparkSession

# Generated classes the JVM keeps compiled (see get_spark): ~4x the
# ~225 distinct classes one query_mix pass compiles, so a job mix
# several times wider still runs warm.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(app_name: str = "dmrs-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting, dynamic join-strategy switches (sort-merge ->
      broadcast when the built side turns out small).
    - Arrow on: any Pandas-UDF path transfers columnar batches.
    - shuffle.partitions sized by SPARK_GRAFT_CPUS locally; on a real
      cluster this would be ~2-3x total cores and AQE coalesces down.
    - Codegen cache of CODEGEN_CACHE_ENTRIES classes: one session runs
      job after job (the reference manager's server loop, JobQueue,
      bench.py), and Spark's default of 100 entries is smaller than
      the classes one pass of perfbench's six query_mix registry keys
      needs: at sf0.01 every warm pass recompiled 223-228 classes
      (q_pagerank 56, dedup_clusters_bigstar 76-81) through Janino and
      the JIT; with this cache a warm pass compiles 0-6. The conf is
      static (read once per JVM), hence set here.
    - Call-site capture off (``spark.python.sql.dataFrameDebugging.enabled``):
      PySpark wraps every Column method and ``F.col`` to record the
      caller's Python ``file:line`` for error messages, at four py4j
      round trips and a stack walk per call. A warm build of
      q5_local_supplier took 357 round trips with it on and 117 off
      (dedup_clusters_bigstar 860 and 420). Errors keep Spark's own
      context (the SQL fragment, the plan, the JVM stack); only the
      Python ``file:line`` of the offending Column call is lost.
    """
    # Python workers (Pandas UDF / mapInPandas) import this package by
    # name from pickled closures; they read PYTHONPATH from the
    # environment, not the driver's sys.path — so export the package
    # root before the JVM starts or any run from outside the repo dir
    # dies with ModuleNotFoundError in the executor.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.maxMetadataStringLength", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        # local[N, 2]: allow one task retry, like a real cluster
        # (maxFailures defaults to 4 there but to 1 in plain local[N]) —
        # the reference's worker-death/task-redistribution guarantee is
        # Spark task re-execution, and local runs should exhibit it too.
        builder = builder.master(f"local[{cpus},2]")
        # Local-ONLY latency trims (a real cluster keeps the defaults:
        # compression pays for itself once shuffle blocks cross a NIC,
        # and locality waits matter when data has a home executor):
        # in-process shuffles are pure memcpy, so compressing them only
        # burns CPU, and every block is process-local by construction.
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.locality.wait", "0")
        )
    return builder.getOrCreate()


# SCALING.md finding 1, fed back into code (VERDICT r12 task 2): the
# graph family's wedge/label shuffles spill at the session's fixed
# partition count once the edge frame outgrows it (measured: triangles
# 260 s at 32 partitions vs 108 s at 128 on the 10x corpus, identical
# plan). AQE only coalesces DOWN from the configured number, so the
# RAISE must come from the code. Calibration: the 10x rehearsal
# corpus' 12.0M-edge graph maps to exactly the measured-good 128
# partitions -> ~94k edges per task keeps each wedge-stage task's
# fan-out within executor memory; sf0.1's 1.2M edges stay at the
# 32-cpu floor (no change to shipped plans), and the 3x corpus gets
# 64 (and AQE still coalesces tiny stages below the floor).
GRAPH_EDGE_ROWS_PER_TASK = 94_000
# Backstop, not a scale ceiling: one local session never benefits past
# this many tasks per stage; a real cluster raises the floor (cores)
# instead, and the formula follows it.
MAX_SIZED_PARTITIONS = 8192


def sized_shuffle_partitions(
    n_rows: int, rows_per_task: int, cpus: int | None = None
) -> int:
    """Partition count that keeps a shuffle stage near ``rows_per_task``
    input rows per task: next power of two of n_rows / rows_per_task,
    floored at the session's core count (anything less idles cores)
    and capped at MAX_SIZED_PARTITIONS. Deterministic — same inputs,
    same plan shape across runs."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    want = max(1, math.ceil(n_rows / max(rows_per_task, 1)))
    return max(cpus, min(MAX_SIZED_PARTITIONS, 2 ** math.ceil(math.log2(want))))


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str | int]):
    """Scope arbitrary SQL confs (r14): set each key=value, restore the
    previous values on exit. Confs are read when a query is planned,
    so callers must wrap the materializing action (count / collect /
    localCheckpoint), not just plan construction.

    Single-threaded-session assumption (the same one
    persistent_rdd_ids documents): the confs are session-global, so a
    concurrent query planned inside the window inherits them.

    Uses: ``spark.sql.shuffle.partitions`` sized from a MEASURED row
    count (:func:`sized_shuffle_partitions` — the graph operators'
    edge counts), and switching AQE off around fixed-shape iterative loops
    (graph rounds) whose joins are explicitly broadcast-hinted — AQE's
    per-job re-planning and separate broadcast-materialization jobs
    dominate a sub-second round, and nothing in a fixed broadcast+agg
    round needs runtime re-optimization.

    A key that was not set before (``get`` returns None — also for confs
    with no default, where a plain ``get`` raises) is unset on exit."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def retire_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist EVERY persistent RDD in the context and return how
    many were dropped.

    ``localCheckpoint(eager=True)`` results (the two-phase kernels',
    the iterative graph loops') are persisted RDD blocks that
    ``spark.catalog.clearCache()`` does NOT touch — without an explicit
    retire they are freed only when the driver-side object is GC'd
    (ContextCleaner), so a long single-session run (an 82-query bench,
    a 240-key correctness drive) accumulates storage blocks
    non-deterministically and squeezes execution memory.

    ONLY call this between queries: a localCheckpointed frame has its
    lineage CUT, so unpersisting its blocks makes any LATER action on
    it fail loudly (it cannot silently recompute — by design). Session
    callers (bench harness, long drives) own that boundary; operators
    never call this.
    """
    jsc = spark.sparkContext._jsc.sc()
    it = jsc.getPersistentRDDs().values().iterator()
    n = 0
    while it.hasNext():
        it.next().unpersist(False)
        n += 1
    return n


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Snapshot the ids of every currently-persisted RDD (cache AND
    localCheckpoint blocks). Tests diff two snapshots around an
    operator to count the blocks it left live.

    SINGLE-THREADED-SESSION ASSUMPTION (ADVICE r8): a diff captures
    ANY RDD persisted in the window, a concurrent query's included.
    Retirement therefore never works off a diff: operators release
    their own frames with :func:`release_checkpoints`, which reads
    each frame's block id off its own plan."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def checkpointed_rdd_ids(df) -> set[int]:
    """The persisted block id of a localCheckpointed DataFrame, read
    off the frame's own plan — concurrency-safe, unlike a snapshot
    diff. The analyzed plan of a ``localCheckpoint`` result, eager or
    lazy, IS a ``LogicalRDD`` wrapping the checkpointed internal RDD,
    and that RDD's id is exactly the persisted block set (verified:
    the id equals the snapshot diff around an eager checkpoint). A
    lazy checkpoint's blocks exist only once an action has
    materialized the frame; until then the id names no live block.
    Raises loudly if the plan is not a LogicalRDD — callers must pass
    the checkpoint RESULT, not an arbitrary frame."""
    plan = df._jdf.queryExecution().analyzed()
    cls = plan.getClass().getName()
    if not cls.endswith("LogicalRDD"):
        raise ValueError(
            f"checkpointed_rdd_ids wants a localCheckpoint "
            f"result (LogicalRDD plan); got {cls}"
        )
    return {int(plan.rdd().id())}


def release_checkpoints(spark: SparkSession, *frames) -> int:
    """Release the storage blocks of the given localCheckpointed
    frames (non-blocking); returns how many were still live. Safe on
    blocks the ContextCleaner already dropped. Same fail-loud contract
    as :func:`retire_persistent_rdds`: a released frame's lineage is
    cut, so a later action on it fails instead of recomputing — only
    release frames genuinely done with."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for i in set().union(*map(checkpointed_rdd_ids, frames)):
        if m.containsKey(i):
            m.get(i).unpersist(False)
            n += 1
    return n


# Edge rows a graph kernel fetches to the driver to iterate there in
# numpy instead of running one Spark round per iteration: 2^22 edges
# of two BIGINTs are 64 MB of Arrow, the driver budget
# graph.LOOP_BROADCAST_MAX_NODES is sized on. Measured at the cap on a
# 4-core local[4] host: q_pagerank 11-12 s on the driver vs 20-23 s
# in Spark rounds, star-contraction components 6 s vs 100 s; peak
# driver RSS (Python + JVM) 2.1-2.2 vs 4.4-4.7 GB and 2.7-2.8 vs
# 7.6-7.9 GB, of which the numpy kernels hold 0.28 GB (PageRank) and
# 0.56 GB (components) of Python heap. Tests set it to 0 to force the
# distributed path (on any input whose footer bound is above 0).
DRIVER_GRAPH_MAX_EDGES = 1 << 22


def fetch_if_small(frame, max_rows: int):
    """``frame``'s rows as one Arrow table if it has at most
    ``max_rows`` of them, else None: the one probe of every
    driver-or-Spark switch, each with its named cap. One action is both
    the size check and the fetch (``limit(max_rows + 1).toArrow()``).
    Where no job-free bound on the frame's rows fits the cap, probe a
    frame the caller's distributed path reads next (a persisted or
    checkpointed one): a failed probe then leaves it materialized.
    Where one does, :func:`fetch_or_hold` skips the probe."""
    table = frame.limit(max_rows + 1).toArrow()
    return table if table.num_rows <= max_rows else None


def fetch_or_hold(frame, max_rows: int, bound: int, hold, release):
    """Where a driver-or-Spark switch runs: ``(table, None)`` with
    ``frame``'s rows as one Arrow table if it has at most ``max_rows``
    of them, else ``(None, held)``.

    ``bound`` is an upper bound on the frame's rows that costs no Spark
    job (parquet footer row counts, catalog.table_row_count). Within
    ``max_rows`` the lazy frame is fetched whole in one query: nothing
    is persisted, counted or checkpointed. Otherwise ``hold(frame)``
    materializes it for the Spark path (a persist, a checkpoint) and
    :func:`fetch_if_small` probes the held frame: a small one comes
    back as its table and is ``release``d, a large one is returned
    held for the caller's Spark path, which releases it. A bound of 0
    takes the first branch at every cap, a cap of 0 the second at
    every positive bound."""
    if bound <= max_rows:
        return frame.toArrow(), None
    held = hold(frame)
    table = fetch_if_small(held, max_rows)
    if table is None:
        return None, held
    release(held)
    return table, None


def checkpoint_loop(
    spark: SparkSession, state, step, observe, rounds: int | None = None, until=None, confs=None
):
    """Drive an iterative operator one checkpointed round at a time —
    the per-round map -> shuffle -> reduce resubmission of an
    iterative MapReduce driver — and return ``(state, observations)``.

    Round 0 is ``state``; round r >= 1 is ``step(state, obs)``, built
    lazily over round r-1's frame and observation. Every round's frame
    is cut to a leaf with a lazy ``localCheckpoint(eager=False)`` and
    ``observe(frame)`` is the round's single action: it materializes
    the checkpoint and returns what the loop reads (a count, a stats
    row, a signature). Once it has, the superseded round's blocks are
    released by their own rdd id, so the loop leaves exactly one block
    live: the returned state's, which the caller owns (return a frame
    lazy over it, or :func:`release_checkpoints` it).

    The loop stops after ``rounds`` rounds or as soon as
    ``until(prev_obs, obs)`` holds, whichever comes first.
    ``confs(last_obs)`` (``None`` for round 0) gives SQL confs scoped
    around a round's checkpoint and action: a lazy checkpoint plans
    its frame when it is taken (and with AQE on runs its map stages
    there), so both must sit inside the scope.

    Why a checkpoint per round: a persisted frame keeps its logical
    plan, and a round that reads its predecessor several times (star
    contraction: ~6x) grows the plan geometrically, so Catalyst
    re-analyzes every prior round on each action — a minutes-long
    analyzer stall by round 3. A lazy checkpoint that the round's own
    action materializes costs one job where checkpoint-then-count
    costs two."""
    if rounds is None and until is None:
        raise ValueError("checkpoint_loop needs rounds or until")

    def cut(frame, last):
        with scoped_conf(spark, confs(last) if confs else {}):
            frame = frame.localCheckpoint(eager=False)
            return frame, observe(frame)

    state, obs = cut(state, None)
    observations = [obs]
    while rounds is None or len(observations) <= rounds:
        prev = obs
        nxt, obs = cut(step(state, prev), prev)
        release_checkpoints(spark, state)
        state = nxt
        observations.append(obs)
        if until is not None and until(prev, obs):
            break
    return state, observations
