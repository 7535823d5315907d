"""Seeded input generator for the benchmark.

Everything the engine sees is made here from one integer seed:

- ``tables/``: parquet tables with the same schemas as the engine's
  TPC-H-ish test corpus (region, nation, customer, supplier, part,
  orders, lineitem, events, documents, embeddings), sized by ``scale``;
- ``corpus/``: line-oriented text for the MapReduce jobs — a Zipf
  vocabulary with seeded line lengths and a seeded share of lines that
  carry the grep pattern;
- ``join/``: tagged ``C|custkey|segment`` / ``O|custkey|orderkey``
  records for the reduce-side join, with a seeded key count;
- ``small/``: a few small text files for the per-file wordcount.

The expected MapReduce outputs are computed here in plain Python, by
simulating the mapper -> sorted shuffle -> reducer contract of the
executables in ``mapreduce/exec/``; Spark is never involved.

Same seed, same bytes: every file is written in a fixed order from a
single ``numpy.random.Generator``.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GREP_PATTERN = "needle"
TOKEN = re.compile(r"[a-z0-9]+")

# Sizes at scale=1.0; the benchmark runs at a small fraction of this.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


@dataclass(frozen=True)
class Inputs:
    """Paths of one generated input set and the expected job outputs."""

    root: str
    tables: str
    corpus: str
    join: str
    small: str
    # (mapper, reducer) job name -> expected bytes per outputfileNN
    expected_exec: dict[str, list[bytes]]
    # word -> count over corpus/, as the declarative word_count_job sees it
    expected_words: dict[str, int]
    # (file name, line) -> count of corpus/ lines holding the grep pattern
    expected_grep: dict[tuple[str, str], int]


def _days(start: dt.date, rng: np.random.Generator, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, type=pa.timestamp("us"))


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _tables(out: str, rng: np.random.Generator, scale: float) -> dict[str, int]:
    n = {k: max(50, int(v * scale)) for k, v in _BASE_ROWS.items()}
    os.makedirs(out)
    _write(
        os.path.join(out, "region.parquet"),
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
    )
    _write(
        os.path.join(out, "nation.parquet"),
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    nc = n["customer"]
    _write(
        os.path.join(out, "customer.parquet"),
        pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
                "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc)),
            }
        ),
    )
    ns = n["supplier"]
    _write(
        os.path.join(out, "supplier.parquet"),
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
            }
        ),
    )
    npart = n["part"]
    _write(
        os.path.join(out, "part.parquet"),
        pa.table(
            {
                "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
                "p_name": pa.array(
                    np.char.add(
                        np.char.add(rng.choice(_PART_ADJ, npart), " "),
                        rng.choice(_PART_NOUN, npart),
                    )
                ),
                "p_brand": pa.array(
                    np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))
                ),
                "p_type": pa.array(rng.choice(_PART_TYPES, npart)),
                "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
                "p_retailprice": pa.array(np.round(rng.uniform(900, 999.9, npart), 1)),
            }
        ),
    )
    no = n["orders"]
    _write(
        os.path.join(out, "orders.parquet"),
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, no)),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
                "o_orderdate": _days(dt.date(1995, 1, 1), rng, 2404, no),
                "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no)),
            }
        ),
    )
    nl = n["lineitem"]
    _write(
        os.path.join(out, "lineitem.parquet"),
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl)),
                "l_partkey": pa.array(rng.integers(0, npart, nl)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
                "l_shipdate": _days(dt.date(1995, 1, 2), rng, 2498, nl),
            }
        ),
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    _write(
        os.path.join(out, "events.parquet"),
        pa.table(
            {
                "event_id": pa.array(np.arange(ne, dtype=np.int64)),
                "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne)),
                "event_type": pa.array(rng.choice(_EVENT_TYPES, ne)),
                "value": pa.array(np.round(rng.exponential(30.0, ne), 2)),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
            }
        ),
    )
    nd = n["documents"]
    texts: list[str] = []
    originals: list[int] = []
    for i in range(nd):
        if originals and rng.random() < 0.05:
            # near-duplicate of an earlier original (never of another
            # copy, so clusters stay stars): one word replaced, so the
            # dedup operators have real clusters to find
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_DOC_WORDS))
        else:
            originals.append(i)
            words = list(rng.choice(_DOC_WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    _write(
        os.path.join(out, "documents.parquet"),
        pa.table(
            {
                "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
                "text": texts,
                "lang": pa.array(rng.choice(_LANGS, nd, p=_LANG_P)),
                "source": [f"src{i % 20}" for i in range(nd)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
    )
    nv = n["embeddings"]
    _write(
        os.path.join(out, "embeddings.parquet"),
        pa.table(
            {
                "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
                "embedding": pa.array(
                    list(rng.standard_normal((nv, 64)).astype(np.float32)),
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
            }
        ),
    )
    return n


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen: set[str] = set()
    vocab: list[str] = []
    while len(vocab) < size:
        w = "".join(rng.choice(letters, int(rng.integers(2, 9))))
        if w not in seen and GREP_PATTERN not in w:
            seen.add(w)
            vocab.append(w)
    return vocab


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write("".join(ln + "\n" for ln in lines))


def _corpus(
    out: str, rng: np.random.Generator, n_lines: int, n_files: int
) -> dict[str, list[str]]:
    """Zipf-vocabulary text split over ``n_files`` files; returns the
    lines of each file by name."""
    vocab = np.array(_vocabulary(rng, 3000))
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    weights /= weights.sum()
    # seeded within a narrow band, so run-to-run spread stays small
    grep_share = rng.uniform(0.038, 0.042)
    lengths = 1 + rng.poisson(9, n_lines)
    words = rng.choice(vocab, int(lengths.sum()), p=weights)
    hits = rng.random(n_lines) < grep_share
    lines: list[str] = []
    pos = 0
    for ln, hit in zip(lengths, hits):
        ws = list(words[pos : pos + ln])
        pos += ln
        if hit:
            ws.insert(int(rng.integers(0, len(ws) + 1)), GREP_PATTERN)
        lines.append(" ".join(ws))
    os.makedirs(out)
    files: dict[str, list[str]] = {}
    per = -(-n_lines // n_files)
    for i in range(n_files):
        name = f"part{i:02d}.txt"
        files[name] = lines[i * per : (i + 1) * per]
        _write_lines(os.path.join(out, name), files[name])
    return files


def _join_records(out: str, rng: np.random.Generator, n_files: int) -> list[str]:
    n_keys = int(rng.integers(3900, 4100))
    segs = rng.choice(_SEGMENTS, n_keys)
    # a tenth of the fact records point at keys with no dimension row
    n_facts = n_keys * 8
    fact_keys = rng.integers(0, int(n_keys * 1.1), n_facts)
    recs = [f"C|{k}|{segs[k]}" for k in range(n_keys)]
    recs += [f"O|{k}|{o}" for o, k in enumerate(fact_keys)]
    order = rng.permutation(len(recs))
    recs = [recs[i] for i in order]
    os.makedirs(out)
    per = -(-len(recs) // n_files)
    for i in range(n_files):
        _write_lines(os.path.join(out, f"part{i:02d}.txt"), recs[i * per : (i + 1) * per])
    return recs


# Plain-Python twins of the executables in mapreduce/exec/.
def _tok_map(line: str) -> list[str]:
    return [f"{t}\t1" for t in TOKEN.findall(line.lower())]


def _match_map(line: str) -> list[str]:
    return [f"1\t{line}"] if line and GREP_PATTERN in line.lower() else []


def _join_map(line: str) -> list[str]:
    return [f"{line.split('|')[1].zfill(12)}\t{line}"] if line else []


def _sum_reduce(lines: list[str]) -> list[str]:
    out: list[str] = []
    cur, total = None, 0
    for ln in lines:
        key, _, val = ln.partition("\t")
        if key != cur:
            if cur is not None:
                out.append(f"{cur}\t{total}")
            cur, total = key, 0
        total += int(val) if val else 1
    if cur is not None:
        out.append(f"{cur}\t{total}")
    return out


def _identity_reduce(lines: list[str]) -> list[str]:
    return [val for key, tab, val in (ln.partition("\t") for ln in lines) if tab]


def _join_reduce(lines: list[str]) -> list[str]:
    out: list[str] = []
    cur, segment = None, None
    for ln in lines:
        key, _, val = ln.partition("\t")
        if key != cur:
            cur, segment = key, None
        f = val.split("|")
        if f[0] == "C":
            segment = f[2]
        elif f[0] == "O" and segment is not None:
            out.append(f"{f[1]}|{f[2]}|{segment}")
    return out


def simulate(lines: list[str], mapper, reducer, num_reducers: int) -> list[bytes]:
    """The reference job contract in one process: map every line, rank
    the distinct keys in sorted order, send key ``i`` to reducer
    ``i % R``, sort each reducer's lines, reduce; one byte string per
    ``outputfileNN``."""
    mapped = [m for ln in lines for m in mapper(ln)]
    keys = sorted({m.split("\t", 1)[0] for m in mapped})
    rid = {k: i % num_reducers for i, k in enumerate(keys)}
    groups: list[list[str]] = [[] for _ in range(num_reducers)]
    for m in mapped:
        groups[rid[m.split("\t", 1)[0]]].append(m)
    return [
        "".join(o + "\n" for o in reducer(sorted(g))).encode("utf-8") for g in groups
    ]


EXEC_JOBS = {
    # name: (mapper script, mapper args, reducer script, input, R, per_file)
    "wordcount": ("tok_map.py", "", "sum_reduce.py", "corpus", 3, False),
    "grep": ("match_map.py", GREP_PATTERN, "identity_reduce.py", "corpus", 2, False),
    "join": ("join_map.py", "", "join_reduce.py", "join", 3, False),
    "small_per_file": ("tok_map.py", "", "sum_reduce.py", "small", 2, True),
}
_TWINS = {
    "tok_map.py": _tok_map,
    "match_map.py": _match_map,
    "join_map.py": _join_map,
    "sum_reduce.py": _sum_reduce,
    "identity_reduce.py": _identity_reduce,
    "join_reduce.py": _join_reduce,
}


def expected_job(name: str, lines: list[str]) -> list[bytes]:
    """Expected ``outputfileNN`` bytes of exec job ``name`` over ``lines``."""
    mapper, _, reducer, _, nr, _ = EXEC_JOBS[name]
    return simulate(lines, _TWINS[mapper], _TWINS[reducer], nr)


def generate(
    root: str, seed: int, scale: float, corpus_lines: int, exec_outputs: bool = True
) -> Inputs:
    """Write one seeded input set under ``root`` (which must not exist).
    ``exec_outputs=False`` leaves ``expected_exec`` empty: simulating the
    exec jobs is most of the generator's time."""
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    paths = {k: os.path.join(root, k) for k in ("tables", "corpus", "join", "small")}
    _tables(paths["tables"], rng, scale)
    corpus = _corpus(paths["corpus"], rng, corpus_lines, 8)
    join = _join_records(paths["join"], rng, 4)
    small = _corpus(paths["small"], rng, 400, 5)
    line_sets = {
        "corpus": [ln for f in sorted(corpus) for ln in corpus[f]],
        "join": join,
        "small": [ln for f in sorted(small) for ln in small[f]],
    }
    expected_exec = {
        name: expected_job(name, line_sets[spec[3]])
        for name, spec in EXEC_JOBS.items()
        if exec_outputs
    }
    words: Counter[str] = Counter()
    grep: Counter[tuple[str, str]] = Counter()
    for fname, lines in corpus.items():
        for ln in lines:
            words.update(TOKEN.findall(ln.lower()))
            if GREP_PATTERN in ln:
                grep[(fname, ln)] += 1
    return Inputs(
        root=root,
        tables=paths["tables"],
        corpus=paths["corpus"],
        join=paths["join"],
        small=paths["small"],
        expected_exec=expected_exec,
        expected_words=dict(words),
        expected_grep=dict(grep),
    )
