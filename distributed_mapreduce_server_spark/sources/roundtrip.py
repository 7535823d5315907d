"""Interop-format round-trip registry entries (SURVEY.md §2.8).

The reference's surface is text files in, text files out (worker
streams lines to mapper executables); a Spark lake additionally needs
the interop formats — CSV and JSON for ingest/egress with external
systems, ORC as the second columnar citizen. Each key here writes the
events table through sources.registry.write_sink in one format and
returns the READ-BACK rows, carrying the plain events-table oracle —
so the driver's value-parity gate verifies the whole write→read loop
end-to-end, including the two classic fidelity traps:

- timestamps: both text formats default to millisecond precision in
  Spark; the explicit ``timestampFormat`` below keeps the micros the
  events carry (a silent 3-digit truncation is exactly the bug this
  oracle would catch);
- quoting: ``props`` holds JSON strings (embedded quotes/braces) —
  CSV must quote+escape and re-parse them byte-identically.

Schema is passed explicitly on read (inference is a full extra pass —
unacceptable at 100 TB, see sources/registry.py), which for CSV/JSON
also pins the column types the oracle expects.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.catalog import load_tables
from distributed_mapreduce_server_spark.functions import fround
from distributed_mapreduce_server_spark.sources.registry import read_source, write_sink

# microsecond-preserving formats (Spark's defaults stop at millis)
_TS_OPTS = {
    "csv": {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"},
    "json": {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"},
    "orc": {},
}


def _events_roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, register_views=False)["events"].select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    path = os.path.join(
        tempfile.gettempdir(), f"dmrs_rt_{fmt}_{uuid.uuid4().hex[:12]}"
    )
    opts = _TS_OPTS[fmt]
    write_sink(ev, path, fmt=fmt, mode="overwrite", **opts)
    back = read_source(spark, path, fmt=fmt, schema=ev.schema, **opts)
    out = back.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        fround("value", 2).alias("value"),
        "props",
    ).orderBy("event_id")
    # materialize THROUGH the written files, then delete them — the
    # lazy frame would otherwise pin the tmp copy until the caller's
    # action, and repeated registry drives would accrete one events
    # copy per call.
    out = out.localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    return out


def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → CSV → events: quoting/escaping of the embedded-JSON
    props column plus microsecond timestamps through the text format."""
    return _events_roundtrip(spark, sf_dir, "csv")


def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON lines → events: the ingest/egress interop format;
    explicit schema on read (no inference pass)."""
    return _events_roundtrip(spark, sf_dir, "json")


def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → ORC → events: the second columnar format (pushdown +
    pruning capable), byte-exact round-trip expected."""
    return _events_roundtrip(spark, sf_dir, "orc")


ROUNDTRIP_ORACLE = """
    SELECT event_id, ts, user_id, event_type,
           ROUND(value, 2) AS value, props
    FROM events
    ORDER BY event_id
"""


def src_gzip_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → gzip-compressed line-oriented text files →
    read back. The reference's native format (worker streams lines to
    mapper executables) plus the compression every real text lake
    applies; the oracle re-reads the documents table, so line
    fidelity through the codec is value-checked end to end. Text is
    single-column by construction — doc ids don't survive, which is
    exactly why the parquet path is the hot path (sources/registry.py
    scale notes) and this one is ingest/egress interop."""
    docs = load_tables(spark, sf_dir, register_views=False)["documents"]
    path = os.path.join(
        tempfile.gettempdir(), f"dmrs_rt_textgz_{uuid.uuid4().hex[:12]}"
    )
    write_sink(
        docs.select(F.col("text").alias("value")),
        path,
        fmt="text",
        mode="overwrite",
        compression="gzip",
    )
    back = read_source(spark, path, fmt="text")
    out = back.orderBy("value").localCheckpoint(eager=True)
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    return out


ROUNDTRIP_ORACLES = {
    "src_csv_roundtrip": ROUNDTRIP_ORACLE,
    "src_json_roundtrip": ROUNDTRIP_ORACLE,
    "src_orc_roundtrip": ROUNDTRIP_ORACLE,
    "src_gzip_text_roundtrip": """
    SELECT text AS value FROM documents ORDER BY 1
""",
}
