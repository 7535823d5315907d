"""Connected components on synthetic graphs the near-dup corpus never
produces: long paths, hubs, disjoint components and inputs that are
already stars. Each is checked against a plain-Python union-find, on
every path of _star_contraction_cc: the driver's array labelling
(every graph here is small) of the lazy edges when the bound fits the
cap and of the held, probed edges when only the edges do, and the
large-star / small-star loop (``session.DRIVER_GRAPH_MAX_EDGES`` set
to 0)."""

from __future__ import annotations

import random

import pytest

from distributed_mapreduce_server_spark import session
from distributed_mapreduce_server_spark.operators.dedup import _star_contraction_cc


def _union_find_labels(edges: list[tuple[int, int]]) -> set[tuple[int, int]]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the smaller root: the root is the component minimum
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def _path(n: int) -> list[tuple[int, int]]:
    # node ids shuffled along the path, so minima sit mid-path and the
    # path is not already sorted toward its smallest end
    ids = list(range(n))
    random.Random(7).shuffle(ids)
    return list(zip(ids, ids[1:]))


def _sparse_random(n: int, m: int) -> list[tuple[int, int]]:
    # below the giant-component threshold: many components of mixed
    # shapes, so the driver's hooking runs several rounds
    rng = random.Random(11)
    return [(a, b) for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(m)) if a != b]


GRAPHS = {
    "path50": _path(50),
    "random300": _sparse_random(300, 140),
    # the hub sits mid-range: half its leaves are smaller, half larger
    "hub30": [(15, leaf) for leaf in range(31) if leaf != 15],
    # interleaved ids: evens form one chain, odds another
    "two_components": [(i, i + 2) for i in range(0, 18, 2)]
    + [(i, i + 2) for i in range(1, 19, 2)],
    # already at the fixed point: every edge is (leaf, center = min)
    "stars": [(leaf, 0) for leaf in range(1, 11)] + [(leaf, 20) for leaf in range(21, 26)],
}


@pytest.mark.parametrize(
    "name, path",
    [
        # the footer-path cases keep their bare graph name as the id
        pytest.param(name, path, id=name if path == "footer" else f"{name}-{path}")
        for path in ("footer", "probe", "distributed")
        for name in sorted(GRAPHS)
    ],
)
def test_star_contraction_matches_union_find(spark, monkeypatch, probes, name, path):
    edges = GRAPHS[name]
    rows = sorted({(max(a, b), min(a, b)) for a, b in edges})
    canon = spark.createDataFrame(rows, "u long, v long")
    # footer: the bound is the edge count; probe: the cap holds the
    # edges but not the bound; distributed: cap 0
    bound = len(rows) + (path == "probe")
    if path != "footer":
        monkeypatch.setattr(session, "DRIVER_GRAPH_MAX_EDGES", len(rows) if path == "probe" else 0)
    got = {(r["doc_id"], r["cluster_id"]) for r in _star_contraction_cc(spark, canon, bound).collect()}
    assert got == _union_find_labels(edges)
    assert probes == {"footer": [], "probe": [True], "distributed": [False]}[path]
