"""Central query registry: key -> (spark callable, oracle SQL or None).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this. Each key is declared once: as a key of its module's oracle dict
(key -> DuckDB SQL), or in that module's ``rows_only`` tuple when the
operator is approximate / not SQL-expressible (checked for rows only).
The callable is the module attribute named like the key.
"""

from __future__ import annotations

from collections.abc import Callable
from itertools import zip_longest

from pyspark.sql import DataFrame, SparkSession

from distributed_mapreduce_server_spark.mapreduce import jobs as mr_jobs
from distributed_mapreduce_server_spark.mapreduce.oracles import MAPREDUCE_ORACLES
from distributed_mapreduce_server_spark.operators import (
    dedup,
    events,
    graph,
    multimodal,
    relational,
    search,
    similarity,
    temporal,
    text,
)
from distributed_mapreduce_server_spark.operators.dedup_oracles import DEDUP_ORACLES
from distributed_mapreduce_server_spark.operators.graph_oracles import GRAPH_ORACLES
from distributed_mapreduce_server_spark.operators.multimodal_oracles import MULTIMODAL_ORACLES
from distributed_mapreduce_server_spark.operators.search_oracles import SEARCH_ORACLES
from distributed_mapreduce_server_spark.operators.similarity_oracles import SIMILARITY_ORACLES
from distributed_mapreduce_server_spark.operators.temporal_oracles import TEMPORAL_ORACLES
from distributed_mapreduce_server_spark.operators.text_oracles import TEXT_ORACLES
from distributed_mapreduce_server_spark.oracles import EVENTS_ORACLES, RELATIONAL_ORACLES
from distributed_mapreduce_server_spark.sources import python_source, roundtrip
from distributed_mapreduce_server_spark.streaming import jobs as streaming_jobs
from distributed_mapreduce_server_spark.streaming.oracles import STREAMING_ORACLES

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _register(module, oracles: dict[str, str], rows_only=(), aliases=None) -> None:
    """Register every key of ``oracles`` plus the ``rows_only`` keys;
    ``aliases`` maps a key to its def's name where the two differ."""
    aliases = aliases or {}
    for key in (*oracles, *rows_only):
        _QUERIES[key] = getattr(module, aliases.get(key, key))
    for key, sql in oracles.items():
        _ORACLES[key] = sql.strip()


_register(relational, RELATIONAL_ORACLES, rows_only=("q_approx_distinct", "q_approx_quantiles"))
_register(mr_jobs, MAPREDUCE_ORACLES)
_register(temporal, TEMPORAL_ORACLES)
_register(dedup, DEDUP_ORACLES)
_register(similarity, SIMILARITY_ORACLES, rows_only=("emb_pca_project",))
_register(text, TEXT_ORACLES)
_register(graph, GRAPH_ORACLES)
_register(search, SEARCH_ORACLES)
_register(events, EVENTS_ORACLES, rows_only=("q_events_daily_sketch_rollup",))
_register(multimodal, MULTIMODAL_ORACLES)
_register(python_source, python_source.PYSOURCE_ORACLES)
_register(roundtrip, roundtrip.ROUNDTRIP_ORACLES)
# the ingest key's registry entry re-reads the LANDED sink files
_register(
    streaming_jobs,
    STREAMING_ORACLES,
    aliases={"stream_ingest_partitioned": "stream_ingest_readback"},
)


def _family(key: str) -> str:
    # q1/q22/q_x are all the relational family
    head = key.split("_", 1)[0]
    return "q" if head.startswith("q") else head


def all_queries() -> dict[str, QueryFn]:
    """Registry keys round-robin-interleaved across operator families
    (the key's name prefix), so any prefix of the key list covers
    every family. Deterministic: family order = first appearance,
    intra-family order = registration order."""
    fams: dict[str, list[str]] = {}
    for k in _QUERIES:
        fams.setdefault(_family(k), []).append(k)
    return {k: _QUERIES[k] for row in zip_longest(*fams.values()) for k in row if k}


def all_oracles() -> dict[str, str]:
    return {k: _ORACLES[k] for k in all_queries() if k in _ORACLES}
