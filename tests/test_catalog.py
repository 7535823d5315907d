"""The catalog's footer schemas: the schema read from a parquet footer
on the driver is the one Spark's own inference gives, the rows read
with it are the same, and loading the tables submits no Spark job."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distributed_mapreduce_server_spark import catalog
from tests.conftest import SF_ORACLE, SF_SMOKE

SF_DIRS = (SF_SMOKE, SF_ORACLE, os.path.join(os.path.dirname(SF_SMOKE), "sf0.1"))


def _assert_footer_matches_inference(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    inferred = spark.read.parquet(path)
    schema = catalog.parquet_footer(path)[0]
    assert schema == inferred.schema
    declared = spark.read.schema(schema).parquet(path)
    # multiset equality of the rows, computed in Spark
    assert declared.count() == inferred.count()
    assert declared.exceptAll(inferred).isEmpty()
    assert inferred.exceptAll(declared).isEmpty()
    return declared


@pytest.mark.parametrize(
    "sf,table", [(sf, t) for sf in SF_DIRS for t in catalog.TABLES], ids=lambda v: os.path.basename(v)
)
def test_footer_schema_matches_spark_inference(spark, sf, table):
    _assert_footer_matches_inference(spark, f"{sf}/{table}.parquet")


def test_footer_schema_nanos_timestamp_reads_as_long(spark, tmp_path):
    ns = pa.array([1_700_000_000_123_456_000, None], pa.timestamp("ns"))
    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"id": [1, 2], "ts": ns}), path)
    df = _assert_footer_matches_inference(spark, path)
    assert dict(df.dtypes)["ts"] == "bigint"


def test_footer_schema_directory_of_part_files(spark, tmp_path):
    d = tmp_path / "parts.parquet"
    d.mkdir()
    for i in range(3):
        tbl = pa.table(
            {
                "k": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
                "when": pa.array([dt.datetime(2024, 1, 1 + i)] * 10, pa.timestamp("us")),
                "v": pa.array([[float(i)]] * 10, pa.list_(pa.float32())),
            }
        )
        pq.write_table(tbl, str(d / f"part-{i:05d}.parquet"))
    (d / "_SUCCESS").write_text("")
    _assert_footer_matches_inference(spark, str(d))
    assert catalog.parquet_footer(str(d))[1] == 30


def test_footer_schema_spark_written_directory(spark, tmp_path):
    """Spark writes its own schema into the footer (timestamps as
    INT96); the footer read uses it, as Spark's inference does."""
    path = str(tmp_path / "spark.parquet")
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "a"), (2, None, None)], "k int, t timestamp, s string"
    ).write.parquet(path)
    _assert_footer_matches_inference(spark, path)


def test_footer_schema_zero_row_table(spark, tmp_path):
    path = str(tmp_path / "empty.parquet")
    src = pq.read_table(f"{SF_DIRS[0]}/events.parquet")
    pq.write_table(src.slice(0, 0), path)
    df = _assert_footer_matches_inference(spark, path)
    assert df.count() == 0 and catalog.parquet_footer(path)[1] == 0


def test_footer_schema_dictionary_encoded_strings(spark, tmp_path):
    path = str(tmp_path / "dict.parquet")
    col = pa.array(["a", "b", "a", None, "c"]).dictionary_encode()
    pq.write_table(pa.table({"s": col, "n": list(range(5))}), path)
    df = _assert_footer_matches_inference(spark, path)
    assert dict(df.dtypes)["s"] == "string"


@pytest.mark.parametrize(
    "col,write_opts",
    [
        (pa.array([1, 2], pa.uint32()), {}),
        (pa.array([None, None], pa.null()), {}),
        (pa.array([1, 2], pa.timestamp("us")), {"use_deprecated_int96_timestamps": True}),
    ],
    ids=["uint32", "null", "int96"],
)
def test_footer_schema_without_exact_mapping_names_table_and_column(tmp_path, col, write_opts):
    """Spark would read these as a type the arrow conversion does not
    give (uint32 -> bigint, null -> int, INT96 -> timestamp): fail
    instead of guessing."""
    path = str(tmp_path / "odd.parquet")
    pq.write_table(pa.table({"k": [1, 2], "odd": col}), path, **write_opts)
    with pytest.raises(ValueError, match=r"odd\.parquet.*'odd'"):
        catalog.parquet_footer(path)


def test_load_tables_submits_no_spark_job(spark, tmp_path):
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIRS[0], sf)  # a path no cache has seen
    sc = spark.sparkContext
    group = f"load_tables_{os.getpid()}_{id(tmp_path)}"
    sc.setJobGroup(group, group)
    try:
        tables = catalog.load_tables(spark, sf, register_views=False)
        jobs_load = list(sc.statusTracker().getJobIdsForGroup(group))
        # the counter sees a job run in the group
        assert tables["region"].count() == 5
        jobs_after = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert sorted(tables) == sorted(catalog.TABLES)
    assert jobs_load == []
    assert len(jobs_after) >= 1
