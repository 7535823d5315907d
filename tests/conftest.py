"""Shared fixtures: one SparkSession per test run, sf dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_mapreduce_server_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dmrs-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_ORACLE


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


def _sliced_smoke_set(out, n_rows: int) -> str:
    """Write every table of the smoke set, schema kept, cut to its
    first ``n_rows`` rows, under ``out``."""
    import pyarrow.parquet as pq

    from distributed_mapreduce_server_spark.catalog import TABLES

    for t in TABLES:
        tbl = pq.read_table(f"{SF_SMOKE}/{t}.parquet")
        pq.write_table(tbl.slice(0, n_rows), str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="session")
def sf_empty(tmp_path_factory):
    """Every table of the smoke set with its schema and no rows."""
    return _sliced_smoke_set(tmp_path_factory.mktemp("sf_empty"), 0)


@pytest.fixture(scope="session")
def sf_one(tmp_path_factory):
    """Every table of the smoke set cut to its first row."""
    return _sliced_smoke_set(tmp_path_factory.mktemp("sf_one"), 1)


@pytest.fixture(scope="session")
def sf_one_edge(tmp_path_factory):
    """``sf_one`` with its lineitem row swapped for a line of its one
    order, so the purchase graph has exactly one customer-supplier
    edge (``sf_one``'s lineitem row joins no order)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_one_edge")
    _sliced_smoke_set(out, 1)
    key = pq.read_table(str(out / "orders.parquet"))["o_orderkey"][0]
    li = pq.read_table(f"{SF_SMOKE}/lineitem.parquet")
    li = li.filter(pc.equal(li["l_orderkey"], key)).slice(0, 1)
    pq.write_table(li, str(out / "lineitem.parquet"))
    return str(out)


@pytest.fixture
def probes(monkeypatch):
    """Whether each session.fetch_if_small call in the test fetched
    (True) or found its frame over the cap (False)."""
    from distributed_mapreduce_server_spark import session

    got = []
    probe = session.fetch_if_small

    def spy(*args):
        table = probe(*args)
        got.append(table is not None)
        return table

    monkeypatch.setattr(session, "fetch_if_small", spy)
    return got
