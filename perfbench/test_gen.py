"""The generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            path = os.path.join(base, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _make(tmp_path, name: str, seed: int) -> gen.Inputs:
    return gen.generate(str(tmp_path / name), seed, scale=0.002, corpus_lines=2000)


def test_same_seed_same_bytes(tmp_path):
    a = _make(tmp_path, "a", 11)
    b = _make(tmp_path, "b", 11)
    assert _digest(a.root) == _digest(b.root)
    assert a.expected_exec == b.expected_exec
    assert a.expected_words == b.expected_words
    assert a.expected_grep == b.expected_grep


def test_other_seed_other_bytes(tmp_path):
    a = _digest(_make(tmp_path, "a", 11).root)
    c = _digest(_make(tmp_path, "c", 12).root)
    assert a.keys() == c.keys()
    # every generated file depends on the seed except the two fixed
    # dimension tables
    same = {k for k in a if a[k] == c[k]}
    assert same == {"tables/region.parquet", "tables/nation.parquet"}


def test_expected_outputs_follow_reference_contract():
    lines = ["b a", "a c needle", "c"]
    got = gen.simulate(lines, gen._tok_map, gen._sum_reduce, 2)
    # sorted keys a, b, c, needle -> reducers 0, 1, 0, 1
    assert got == [b"a\t2\nc\t2\n", b"b\t1\nneedle\t1\n"]
    grep = gen.simulate(lines, gen._match_map, gen._identity_reduce, 2)
    assert grep == [b"a c needle\n", b""]
