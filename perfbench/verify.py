"""Output checks behind ``failed``: MapReduce output files against the
generator's expected results, registry-key results against their
DuckDB oracles on the same generated tables."""

from __future__ import annotations

import csv
import glob
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def exec_output_ok(out_dir: str, expected: list[bytes]) -> bool:
    """``outputfile01..NN`` byte-equal to the expected reducer groups."""
    for i, want in enumerate(expected):
        path = os.path.join(out_dir, f"outputfile{i + 1:02d}")
        try:
            with open(path, "rb") as fh:
                if fh.read() != want:
                    return False
        except OSError:
            return False
    return True


def _csv_rows(out_dir: str) -> list[dict[str, str]]:
    rows: list[dict[str, str]] = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*.csv"))):
        with open(path, newline="", encoding="utf-8") as fh:
            rows.extend(csv.DictReader(fh))
    return rows


def wordcount_output_ok(out_dir: str, expected: dict[str, int]) -> bool:
    got = {r["key"]: int(r["cnt"]) for r in _csv_rows(out_dir)}
    return got == expected


def grep_output_ok(out_dir: str, expected: dict[tuple[str, str], int]) -> bool:
    got: dict[tuple[str, str], int] = {}
    for r in _csv_rows(out_dir):
        k = (os.path.basename(r["key"]), r["line"])
        got[k] = got.get(k, 0) + int(r["n"])
    return got == expected


def _oracle_utils():
    """The engine's own replica of the correctness gate,
    ``tests/oracle_utils.py``, loaded by path (``tests`` is no package)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_utils", os.path.join(ROOT, "tests", "oracle_utils.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Frames:
    """Stands in for the gate's DuckDB connection: ``execute(sql)``
    hands back the frame computed up front, so every checked run of a
    key is compared without running its oracle again."""

    def __init__(self, frames: dict[str, object]):
        self._frames = frames
        self._sql = ""

    def execute(self, sql: str) -> "_Frames":
        self._sql = sql
        return self

    def fetchdf(self):
        return self._frames[self._sql].copy()


class OracleCheck:
    """Registry-key results against ``registry.all_oracles()`` in DuckDB
    over the generated tables, with the gate's compare (same row set in
    any order, floats within 1e-9)."""

    def __init__(self, tables_dir: str, sql_by_key: dict[str, str], tmp_dir: str):
        self._gate = _oracle_utils()
        self._sql = sql_by_key
        con = self._gate.duckdb_conn(tables_dir)
        try:
            con.execute(f"SET temp_directory = '{tmp_dir}'")
            con.execute("SET memory_limit = '2GB'")
            frames = {sql: con.execute(sql).fetchdf() for sql in sql_by_key.values()}
        finally:
            con.close()
        self._frames = _Frames(frames)

    def problems(self, key: str, spark_df) -> list[str]:
        """The gate's mismatch list for one run's DataFrame (empty ==
        pass); the DataFrame is collected here, once more."""
        if key not in self._sql:
            return ["no oracle"]
        return self._gate.compare(spark_df, self._frames, self._sql[key])
