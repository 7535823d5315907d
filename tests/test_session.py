"""Session-level behaviour: a long-lived session must keep warm queries
compiled, a warm build must not pay py4j round trips for call-site
capture, and the one bounded driver fetch must cut at its cap."""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from distributed_mapreduce_server_spark import registry, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs the two iterative query_mix keys twice in ONE fresh session and
# prints the number of classes codegen compiled in each run. A fresh
# process makes the first run cold whatever the test session has
# already compiled. The driver cap at 0 keeps both keys on their Spark
# rounds: on the driver they would compile too little to test.
_TWO_RUNS = """
import json, sys
sys.path.insert(0, sys.argv[1])
from distributed_mapreduce_server_spark import get_spark, registry, session
session.DRIVER_GRAPH_MAX_EDGES = 0
spark = get_spark("dmrs-codegen-cache-test")
spark.sparkContext.setLogLevel("ERROR")
compiled = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
queries = registry.all_queries()
counts = []
for _ in range(2):
    before = compiled.getCount()
    for key in ("q_pagerank", "dedup_clusters_bigstar"):
        queries[key](spark, sys.argv[2]).write.format("noop").mode("overwrite").save()
    counts.append(compiled.getCount() - before)
print(json.dumps(counts))
"""


def test_warm_rerun_compiles_almost_nothing(sf_smoke):
    """The second run of q_pagerank + dedup_clusters_bigstar in one
    session compiles at most 10 % as many classes as the first. With
    Spark's default 100-entry codegen cache the pair's ~146 distinct
    classes evict each other and the second run recompiled 119."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_RUNS, ROOT, sf_smoke],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    cold, warm = json.loads(proc.stdout.strip().splitlines()[-1])
    assert cold > 50, (cold, warm)
    assert warm <= 0.1 * cold, (cold, warm)


def test_warm_build_makes_few_py4j_round_trips(spark, sf_smoke, monkeypatch):
    """One warm build of q5_local_supplier (no action) sends at most
    160 py4j commands to the JVM. With PySpark's call-site capture on,
    every Column call adds four (the active session, a conf read, the
    origin's set and clear): 357 commands, against 117 with it off as
    get_spark sets it. Garbage-collection detaches are not counted:
    they follow Python's collector, and the rest repeats exactly."""
    build = registry.all_queries()["q5_local_supplier"]
    build(spark, sf_smoke)
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    monkeypatch.setattr(client, "send_command", counting)
    build(spark, sf_smoke)
    monkeypatch.undo()
    trips = sum(not c.startswith("m\nd\n") for c in sent)
    assert trips <= 160, trips


@pytest.mark.parametrize("n_rows", [0, 3, 4], ids=["empty", "at_cap", "over_cap"])
def test_fetch_if_small_cuts_at_its_cap(spark, n_rows):
    """With a cap of 3: no rows is an empty table that keeps the
    frame's schema, exactly 3 rows come back whole, a fourth row
    gives None."""
    frame = spark.range(n_rows).selectExpr("id", "CAST(id AS STRING) AS s")
    table = session.fetch_if_small(frame, 3)
    if n_rows > 3:
        assert table is None
        return
    assert table.schema.names == ["id", "s"]
    assert table.schema.types == [pa.int64(), pa.string()]
    assert sorted(table["id"].to_pylist()) == list(range(n_rows))
