"""Physical-plan introspection (SURVEY.md §3, §5, §6).

The reference hand-schedules its pipeline, so its "plan" is the code
itself (reference: mapreduce/manager/__main__.py:236-320 fixes the
map/group/reduce stages). On Spark the physical strategy is chosen by
Catalyst/AQE, so scale-readiness is asserted by *inspecting the plan*:
filters reached the parquet scan, small dims broadcast, aggregations
have a map-side partial phase, no accidental cartesian products.

Note (Spark 4.1.2 + AQE): WholeStageCodegen / `codegen id` markers do
NOT appear in plan strings even when codegen is active, so these
helpers rely on the markers that do — PushedFilters, PartitionFilters,
BroadcastHashJoin, partial_* aggregate functions, Exchange.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, execute: bool = False) -> str:
    """Physical plan string; with ``execute=True`` runs the query first
    so AQE's *final* plan (post runtime re-optimization) is returned.

    Requires ``spark.sql.maxMetadataStringLength`` raised above the
    100-char default (session.py does) — otherwise Spark truncates
    PushedFilters/ReadSchema mid-list and they can't be parsed."""
    if execute:
        df.count()
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> list[str]:
    """The data filters each scan pushed into the parquet reader."""
    plan = physical_plan(df)
    return [m.strip() for m in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if m.strip()]


def partition_filters(df: DataFrame) -> list[str]:
    plan = physical_plan(df)
    return [m.strip() for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan) if m.strip()]


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan — the column-pruning check: a scan
    listing columns the query never touches is reading wasted bytes."""
    plan = physical_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


def broadcast_join_count(df: DataFrame, execute: bool = False) -> int:
    """BroadcastHashJoin occurrences. With execute=True this counts
    AQE's final choice (it may upgrade sort-merge to broadcast at
    runtime once the built side's true size is known)."""
    return physical_plan(df, execute).count("BroadcastHashJoin")


def has_partial_agg(df: DataFrame) -> bool:
    """True when aggregation runs map-side first (partial_*), i.e. the
    shuffle moves pre-combined rows, not raw ones."""
    return "partial_" in physical_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan — the scale currency.
    Compare against the minimum the query semantically needs."""
    return physical_plan(df).count("Exchange hashpartitioning") + physical_plan(df).count(
        "Exchange rangepartitioning"
    )


def cartesian_count(df: DataFrame) -> int:
    """Cartesian/broadcast-nested-loop joins — almost always a bug at
    scale unless one side is a deliberately tiny broadcast set."""
    return cartesian_count_in(physical_plan(df))


def cartesian_count_in(plan: str) -> int:
    """String twin of :func:`cartesian_count` — runs on any plan text
    (lazy ``executedPlan`` strings AND the status store's executed
    plan descriptions), so eager operators get the same sweep."""
    return plan.count("CartesianProduct") + plan.count("BroadcastNestedLoopJoin")


def window_partition_specs(df: DataFrame) -> list[list[str]]:
    """Partition columns of every window in the physical plan — the
    single-task-sort detector: a window whose partition spec is empty
    or a tiny dimension sorts its whole input in (at most) that many
    tasks, which is fatal when the input is fact-sized. Parsed from
    ``windowspecdefinition(part..., order ASC/DESC..., frame)``:
    partition columns are the leading args before the first sort
    marker."""
    return window_partition_specs_in(physical_plan(df))


def window_partition_specs_in(plan: str) -> list[list[str]]:
    """String twin of :func:`window_partition_specs` for executed-plan
    descriptions captured from the SQL status store."""
    specs = []
    marker = "windowspecdefinition("
    i = plan.find(marker)
    while i != -1:
        # balanced-paren scan: partition expressions may themselves
        # contain calls (upper(col), pmod(a, b)) — a first-')' regex
        # would truncate mid-expression and silently mis-parse
        j = i + len(marker)
        depth, start, args = 1, j, []
        while j < len(plan) and depth > 0:
            ch = plan[j]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    args.append(plan[start:j])
            elif ch == "," and depth == 1:
                args.append(plan[start:j])
                start = j + 2 if plan[j : j + 2] == ", " else j + 1
            j += 1
        cols = []
        for arg in args:
            arg = arg.strip()
            if (
                " ASC" in arg
                or " DESC" in arg
                or arg.startswith("specifiedwindowframe")
            ):
                break
            # report the BASE columns a partition expression reads
            # (upper(event_type#3) partitions no finer than event_type)
            refs = re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", arg)
            if refs:
                cols.extend(refs)
            elif arg:
                cols.append(arg)
        specs.append(cols)
        i = plan.find(marker, i + len(marker))
    return specs


def _status_store(spark):
    """The session's SQLAppStatusStore (populated with or without the
    UI), after flushing the async listener bus: execution events are
    delivered off-thread, so without the flush a plan recorded
    microseconds ago could be missing, or a late one could land on
    the wrong side of a :func:`latest_execution_id` snapshot."""
    sc = spark.sparkContext._jsc.sc()
    try:
        sc.listenerBus().waitUntilEmpty()
    except Exception:  # older signature takes a timeout in millis
        sc.listenerBus().waitUntilEmpty(10000)
    return spark._jsparkSession.sharedState().statusStore()


def _newest_id(store, n: int) -> int:
    return store.executionsList(n - 1, 1).apply(0).executionId() if n > 0 else -1


def latest_execution_id(spark) -> int:
    """High-water SQL execution id in the session's status store (-1
    when none) — snapshot before running an operator so
    :func:`executed_plan_descriptions` returns only ITS executions."""
    store = _status_store(spark)
    return _newest_id(store, store.executionsCount())


def executed_plan_descriptions(spark, since: int = -1) -> list[str]:
    """Physical plan descriptions of every SQL execution the session
    actually RAN with executionId > ``since``, read from the
    SQLAppStatusStore.

    This closes the plan-audit blind spot for EAGER operators: ops
    that execute at build time (streaming availableNow drains,
    iterative loops, two-phase offset collects, write-then-read
    round-trips) never expose a lazy frame to sweep, but every job
    they submitted left its executed plan here — including AQE's
    final (post-reoptimization) shape.

    Reads only the newest rows: the store lists executions by
    ascending unique id, so at most ``newest - since`` of them are
    newer than ``since`` (the whole retained list is ~1000 rows, each
    a py4j round trip)."""
    store = _status_store(spark)
    n = store.executionsCount()
    k = min(n, max(_newest_id(store, n) - since, 0))
    rows = store.executionsList(n - k, k)
    out = []
    for i in range(k):
        e = rows.apply(i)
        if e.executionId() > since:
            out.append(e.physicalPlanDescription())
    return out
