"""Executable-pipe jobs (mapreduce/exec_job.py): the reference's
Hadoop-streaming contract driven end-to-end through Spark SQL's
TRANSFORM — real subprocesses, sorted reducer stdin, round-robin
key->reducer assignment (reference: mapreduce/manager/__main__.py:436-461,
mapreduce/worker/__main__.py:137-183)."""

from __future__ import annotations

import os
import re
import shlex
import sys

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_server_spark.mapreduce.exec_job import run_executable_job
from distributed_mapreduce_server_spark.mapreduce.jobs import (
    _exec_input_dir,
    mr_exec_wordcount,
    mr_wordcount,
)
from distributed_mapreduce_server_spark.session import scoped_conf

EXEC_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "distributed_mapreduce_server_spark",
    "mapreduce",
    "exec",
)
PY = sys.executable


def _cmd(script: str, *args: str) -> str:
    return " ".join([PY, os.path.join(EXEC_DIR, script), *args])


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("exec_corpus")
    (d / "a.txt").write_text("Spark maps the DATA\nthe data flows\n")
    (d / "b.txt").write_text("spark reduces\nThe spark JOB\n")
    return str(d)


def test_exec_wordcount_matches_dataframe_path(spark, sf_smoke):
    """The executable pipeline and the pure-DataFrame wordcount agree
    on the full (word, count) multiset."""
    exec_rows = {
        (r["word"], r["cnt"]) for r in mr_exec_wordcount(spark, sf_smoke).collect()
    }
    df_rows = {(r["word"], r["cnt"]) for r in mr_wordcount(spark, sf_smoke).collect()}
    assert exec_rows == df_rows


def test_exec_grep_pipeline(spark, corpus_dir):
    """match_map + identity_reduce == the lines containing the pattern
    (the reference's grep_map.py/grep_reduce.py integration shape)."""
    out = run_executable_job(
        spark,
        corpus_dir,
        _cmd("match_map.py", "spark"),
        _cmd("identity_reduce.py"),
        num_mappers=2,
        num_reducers=1,
    )
    got = sorted(r["line"] for r in out.collect())
    assert got == sorted(
        ["Spark maps the DATA", "spark reduces", "The spark JOB"]
    )


def test_exec_reducer_assignment_is_sorted_round_robin(spark, corpus_dir):
    """Key -> reducer follows the reference manager's merge rule: the
    i-th key in global sorted order lands in reduce group i % R."""
    out = run_executable_job(
        spark,
        corpus_dir,
        _cmd("tok_map.py"),
        _cmd("sum_reduce.py"),
        num_mappers=2,
        num_reducers=3,
    )
    rows = out.select(
        "part", F.split("line", "\t")[0].alias("word")
    ).collect()
    words = sorted({r["word"] for r in rows})
    expected = {w: i % 3 for i, w in enumerate(words)}
    by_word = {}
    for r in rows:
        # each key appears in exactly one reduce group
        assert by_word.setdefault(r["word"], r["part"]) == r["part"]
        assert r["part"] == expected[r["word"]]


@pytest.mark.parametrize("per_file", [False, True])
def test_exec_mapper_failure_raises(spark, corpus_dir, per_file):
    """A non-zero mapper exit must fail the job with its exit status,
    not silently truncate output — the analog of the reference's task
    status: failed path."""
    with pytest.raises(Exception, match="Subprocess exited with status 3"):
        run_executable_job(
            spark,
            corpus_dir,
            f"{PY} -c 'import sys; sys.exit(3)'",
            _cmd("identity_reduce.py"),
            per_file=per_file,
        ).collect()


def test_exec_input_dir_is_cached(spark, sf_smoke):
    d1 = _exec_input_dir(spark, sf_smoke)
    mtime = os.path.getmtime(os.path.join(d1, "_SUCCESS"))
    d2 = _exec_input_dir(spark, sf_smoke)
    assert d1 == d2 and os.path.getmtime(os.path.join(d2, "_SUCCESS")) == mtime


def test_submit_exec_writes_reference_output_layout(spark, corpus_dir, tmp_path_factory):
    """submit_exec must produce the manager's wrap-up layout: one
    outputfileNN per reducer group, containing that group's lines."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        submit_exec,
    )

    outdir = str(tmp_path_factory.mktemp("exec_out"))
    submit_exec(
        spark,
        ExecJobSpec(
            input_directory=corpus_dir,
            output_directory=outdir,
            mapper_executable=_cmd("tok_map.py"),
            reducer_executable=_cmd("sum_reduce.py"),
            num_reducers=2,
        ),
    )
    files = sorted(os.listdir(outdir))
    assert files == ["outputfile01", "outputfile02"]
    words = {}
    for f in files:
        for line in open(os.path.join(outdir, f), encoding="utf-8"):
            w, _, n = line.strip().partition("\t")
            assert w not in words  # each key in exactly one output file
            words[w] = int(n)
    assert words["the"] == 3 and words["spark"] == 3 and words["data"] == 2


def test_job_queue_fifo_and_failure_isolation(spark, corpus_dir, tmp_path_factory):
    """The queue drains FIFO; a failed job is recorded FAILED with its
    error and later jobs still run (the reference manager's lifecycle)."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        JobQueue,
        JobState,
    )

    q = JobQueue(spark)
    good = ExecJobSpec(
        input_directory=corpus_dir,
        output_directory=str(tmp_path_factory.mktemp("jq_out1")),
        mapper_executable=_cmd("tok_map.py"),
        reducer_executable=_cmd("sum_reduce.py"),
    )
    bad = ExecJobSpec(
        input_directory=corpus_dir,
        output_directory=str(tmp_path_factory.mktemp("jq_out2")),
        mapper_executable=f"{PY} -c 'import sys; sys.exit(9)'",
        reducer_executable=_cmd("sum_reduce.py"),
    )
    j1, j2, j3 = q.submit(good), q.submit(bad), q.submit(good)
    assert all(q.state(j) == JobState.PENDING for j in (j1, j2, j3))
    final = q.run_all()
    assert final[j1] == JobState.FINISHED
    assert final[j2] == JobState.FAILED and q.error(j2)
    assert final[j3] == JobState.FINISHED


def test_submit_exec_empty_reducer_groups_get_files(spark, tmp_path_factory):
    """More reducers than distinct keys: the surplus reducer groups
    must still produce their (empty) outputfileNN — the reference
    manager's wrap-up always emits exactly num_reducers files, and
    the executor-side write path must preserve that."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        submit_exec,
    )

    indir = tmp_path_factory.mktemp("one_key_in")
    (indir / "a.txt").write_text("solo solo solo\n")
    outdir = str(tmp_path_factory.mktemp("one_key_out"))
    submit_exec(
        spark,
        ExecJobSpec(
            input_directory=str(indir),
            output_directory=outdir,
            mapper_executable=_cmd("tok_map.py"),
            reducer_executable=_cmd("sum_reduce.py"),
            num_reducers=3,
        ),
    )
    files = sorted(os.listdir(outdir))
    assert files == ["outputfile01", "outputfile02", "outputfile03"]
    contents = [open(os.path.join(outdir, f), encoding="utf-8").read() for f in files]
    assert contents[0] == "solo\t3\n"
    assert contents[1] == "" and contents[2] == ""


@pytest.mark.parametrize("per_file", [False, True])
def test_submit_exec_empty_input_dir(spark, tmp_path_factory, per_file):
    """An empty input directory still wraps up like the reference
    manager: exactly num_reducers outputfileNN files, all empty."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        submit_exec,
    )

    indir = tmp_path_factory.mktemp("empty_in")
    outdir = str(tmp_path_factory.mktemp("empty_out"))
    submit_exec(
        spark,
        ExecJobSpec(
            input_directory=str(indir),
            output_directory=outdir,
            mapper_executable=_cmd("tok_map.py"),
            reducer_executable=_cmd("sum_reduce.py"),
            num_reducers=3,
            per_file=per_file,
        ),
    )
    files = sorted(os.listdir(outdir))
    assert files == ["outputfile01", "outputfile02", "outputfile03"]
    for f in files:
        assert os.path.getsize(os.path.join(outdir, f)) == 0, f


def _per_file_corpus(d) -> list[int]:
    """Four files — one empty, one with no final newline — whose tokens
    are alpha, beta, gamma twice each; returns the file sizes."""
    bodies = ["alpha beta\n", "beta gamma\nalpha\n", "gamma", ""]
    for i, body in enumerate(bodies):
        (d / f"f{i}.txt").write_text(body)
    return [len(b) for b in bodies]


def _counts(rows) -> dict[str, int]:
    counts = {}
    for r in rows:
        w, _, n = r["line"].partition("\t")
        counts[w] = int(n)
    return counts


def test_per_file_mapper_strict_reference_granularity(spark, tmp_path_factory):
    """A STATEFUL mapper (emits one '__header__\\t1' per invocation)
    must see exactly one invocation per input file under
    per_file=True — the reference worker's granularity (reference
    worker/__main__.py:137-183) — regardless of how many splits the
    default path would use, an empty file included; and each
    invocation reads its file's exact bytes."""
    d = tmp_path_factory.mktemp("per_file_in")
    sizes = _per_file_corpus(d)
    mapper = d / "header_map.py"
    mapper.write_text(
        "import sys\n"
        "print('__header__\\t1')\n"
        "for line in sys.stdin:\n"
        "    for tok in line.split():\n"
        "        print(f'{tok}\\t1')\n"
    )
    size_map = d / "size_map.py"
    size_map.write_text("import sys\nprint(f'{len(sys.stdin.buffer.read())}\\t1')\n")

    def run(cmd: str):
        return run_executable_job(
            spark,
            str(d / "*.txt"),
            cmd,
            _cmd("sum_reduce.py"),
            num_mappers=8,  # more splits than files: per-split piping
            # would emit >4 headers if files were ever split further
            per_file=True,
        ).collect()

    # exactly one header per input FILE, and token counts intact
    counts = _counts(run(f"{PY} {mapper}"))
    assert counts == {"__header__": 4, "alpha": 2, "beta": 2, "gamma": 2}
    assert _counts(run(f"{PY} {size_map}")) == {str(n): 1 for n in sizes}


@pytest.mark.parametrize("how", ["submit_exec", "run_executable_job"])
def test_per_file_pipes_run_once(spark, tmp_path_factory, how):
    """Each pipe runs exactly once: one mapper process per input file
    (the empty one too) and one reducer process per non-empty group —
    the key ranking and the reduce both read the persisted map output,
    and the single action runs the reducers."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        submit_exec,
    )

    d = tmp_path_factory.mktemp("run_once")
    indir = d / "in"
    indir.mkdir()
    n_files = len(_per_file_corpus(indir))

    def counting(script: str, counter) -> str:
        wrapper = d / f"count_{script}"
        wrapper.write_text(
            f"open({str(counter)!r}, 'a').write('run\\n')\n"
            f"exec(open({os.path.join(EXEC_DIR, script)!r}).read())\n"
        )
        return f"{PY} {wrapper}"

    map_runs, reduce_runs = d / "map_runs", d / "reduce_runs"
    mapper = counting("tok_map.py", map_runs)
    reducer = counting("sum_reduce.py", reduce_runs)
    r = 5  # three keys: two reducer groups stay empty
    if how == "submit_exec":
        outdir = str(d / "out")
        submit_exec(
            spark,
            ExecJobSpec(str(indir), outdir, mapper, reducer, num_reducers=r, per_file=True),
        )
        groups = [open(os.path.join(outdir, f"outputfile{i + 1:02d}")).read() for i in range(r)]
    else:
        rows = run_executable_job(spark, str(indir), mapper, reducer, num_reducers=r, per_file=True)
        groups = ["".join(x["line"] + "\n" for x in rows.collect() if x["part"] == i) for i in range(r)]
    assert groups == ["alpha\t2\n", "beta\t2\n", "gamma\t2\n", "", ""]
    assert len(map_runs.read_text().splitlines()) == n_files
    assert len(reduce_runs.read_text().splitlines()) == 3


@pytest.mark.parametrize("per_file", [False, True])
def test_submit_exec_output_equals_job_groups(spark, corpus_dir, tmp_path_factory, per_file):
    """submit_exec leaves exactly outputfile01..NN (no staging dir), each
    byte-equal to run_executable_job's rows of that reducer, in order."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        submit_exec,
    )

    r = 3
    mapper, reducer = _cmd("tok_map.py"), _cmd("sum_reduce.py")
    outdir = str(tmp_path_factory.mktemp("exec_groups"))
    submit_exec(
        spark,
        ExecJobSpec(corpus_dir, outdir, mapper, reducer, num_reducers=r, per_file=per_file),
    )
    names = [f"outputfile{i + 1:02d}" for i in range(r)]
    assert sorted(os.listdir(outdir)) == names
    rows = run_executable_job(
        spark, corpus_dir, mapper, reducer, num_reducers=r, per_file=per_file
    ).collect()
    for i, name in enumerate(names):
        want = "".join(x["line"] + "\n" for x in rows if x["part"] == i).encode()
        assert open(os.path.join(outdir, name), "rb").read() == want, name


@pytest.mark.parametrize("per_file", [False, True])
def test_exec_non_utf8_input_reaches_mapper_as_replacement_char(spark, tmp_path_factory, per_file):
    """Input is decoded as UTF-8 with replacement: the mapper of a file
    holding the byte 0xE9 (Latin-1 'é') reads U+FFFD's UTF-8 bytes where
    the reference would pipe the raw byte — on both granularities."""
    d = tmp_path_factory.mktemp("non_utf8")
    (d / "f0.txt").write_bytes(b"caf\xe9\n")
    hex_map = d / "hex_map.py"
    hex_map.write_text("import sys\nprint(sys.stdin.buffer.read().hex())\n")
    out = run_executable_job(
        spark, str(d / "*.txt"), f"{PY} {hex_map}", "cat", per_file=per_file
    ).collect()
    assert [r["line"] for r in out] == [b"caf\xef\xbf\xbd\n".hex()]


def test_per_file_mapper_non_ascii_utf8(spark, tmp_path_factory):
    """The per-file mapper reads UTF-8 regardless of the executor's
    locale (a text-mode pipe under LANG=C once crashed on non-ASCII),
    exactly as the per-split path does."""
    d = tmp_path_factory.mktemp("per_file_utf8")
    (d / "f0.txt").write_text("café café déjà\n", encoding="utf-8")
    mapper = d / "id_map.py"
    mapper.write_text(
        "import sys\n"
        "for line in sys.stdin:\n"
        "    for tok in line.split():\n"
        "        print(f'{tok}\\t1')\n"
    )
    out = run_executable_job(
        spark,
        str(d / "*.txt"),
        f"{PY} {mapper}",
        _cmd("sum_reduce.py"),
        per_file=True,
    ).collect()
    counts = {}
    for r in out:
        w, _, n = r["line"].partition("\t")
        counts[w] = int(n)
    assert counts == {"café": 2, "déjà": 1}


def test_rank_join_fallback_matches_broadcast(spark, tmp_path_factory, monkeypatch):
    """The large-key-set fallback (distributed SQL rank) must produce
    exactly the broadcast path's output — forced by dropping the
    threshold. Coalescing is off so the range-sorted keys span several
    partitions and the per-partition offsets are exercised."""
    from distributed_mapreduce_server_spark.mapreduce import exec_job

    d = tmp_path_factory.mktemp("fallback_in")
    words = [f"w{i:03d}" for i in range(60)]
    (d / "f0.txt").write_text(
        "alpha beta beta\ngamma alpha\n" + " ".join(words[::-1]) + "\n"
    )
    args = (
        spark,
        str(d / "*.txt"),
        _cmd("tok_map.py"),
        _cmd("sum_reduce.py"),
    )
    want = sorted(map(tuple, exec_job.run_executable_job(*args, num_reducers=3).collect()))
    keys = sorted(["alpha", "beta", "gamma", *words])
    assert {(i % 3, k) for i, k in enumerate(keys)} == {
        (part, line.split("\t")[0]) for part, line in want
    }
    monkeypatch.setattr(exec_job, "BROADCAST_KEY_LIMIT", 0)
    with scoped_conf(spark, {"spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        got = sorted(map(tuple, exec_job.run_executable_job(*args, num_reducers=3).collect()))
    assert got == want


def test_exec_line_framing_is_lossless(spark, tmp_path_factory):
    """Identity mapper and reducer: every line comes back exactly as
    RDD.pipe returns it — empty lines, the default TRANSFORM NULL marker
    '\\N', the default field separator '\\u0001', whitespace around
    tabs and non-ASCII text included."""
    d = tmp_path_factory.mktemp("framing_in")
    lines = [
        "",
        "\\N",
        "x\u0001y\tz",
        "\u0001",
        "  a \t b  ",
        "\tlead",
        "trail\t",
        "k\t\t",
        " ",
        "café\tdéjà",
        "",
    ]
    (d / "f0.txt").write_text("\n".join(lines) + "\n", encoding="utf-8")
    piped = spark.sparkContext.textFile(str(d)).pipe("cat").pipe("cat").collect()
    assert sorted(piped) == sorted(lines)
    out = run_executable_job(spark, str(d), "cat", "cat", num_reducers=1).collect()
    # one reducer: its stdin (and so its identity output) is sorted
    assert [r["line"] for r in out] == sorted(piped)


def test_exec_command_quoting(spark, corpus_dir, tmp_path_factory):
    """TRANSFORM runs its command under a shell; the executable must
    still get the argv a shell-free split gives — '$HOME', '*' and a
    single quote arrive literally, on both the SQL and per-file path."""
    d = tmp_path_factory.mktemp("argv_exec")
    argv_map = d / "argv_map.py"
    argv_map.write_text(
        "import sys\n"
        "sys.stdin.read()\n"
        "for a in sys.argv[1:]:\n"
        "    print(a + '\\t1')\n"
    )
    # what a shell-free split gives; a shell would expand $HOME and *
    cmd = f"{PY} {argv_map} $HOME * \"it's\" 'a\\b'"
    args = ["$HOME", "*", "it's", "a\\b"]
    assert shlex.split(cmd)[2:] == args
    for per_file in (False, True):
        out = run_executable_job(
            spark, corpus_dir, cmd, "cat", num_reducers=2, per_file=per_file
        ).collect()
        got = {r["line"].split("\t")[0] for r in out}
        assert got == set(args), per_file


def _crash_reducer(tmp_path_factory) -> str:
    """A reducer that echoes two lines, then dies mid-stream (status 7)."""
    d = tmp_path_factory.mktemp("crash_exec")
    script = d / "crash_reduce.py"
    script.write_text(
        "import sys\n"
        "for i, line in enumerate(sys.stdin):\n"
        "    if i == 2:\n"
        "        sys.stderr.write('reducer died mid-stream\\n')\n"
        "        sys.exit(7)\n"
        "    sys.stdout.write(line)\n"
    )
    return f"{PY} {script}"


CRASH_MSG = "Subprocess exited with status 7. Error: reducer died mid-stream"


def test_exec_reducer_crash_raises_exit_status(spark, corpus_dir, tmp_path_factory):
    """A reducer dying mid-stream fails the job with its exit status and
    stderr, not with the lines it wrote before dying."""
    with pytest.raises(Exception, match=re.escape(CRASH_MSG)):
        run_executable_job(
            spark, corpus_dir, _cmd("tok_map.py"), _crash_reducer(tmp_path_factory)
        )


def test_job_queue_reducer_crash_isolated(spark, corpus_dir, tmp_path_factory):
    """The queue records the crashed job FAILED with the exit-status
    text and still runs the next job."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        JobQueue,
        JobState,
    )

    q = JobQueue(spark)
    bad = q.submit(
        ExecJobSpec(
            input_directory=corpus_dir,
            output_directory=str(tmp_path_factory.mktemp("jq_crash")),
            mapper_executable=_cmd("tok_map.py"),
            reducer_executable=_crash_reducer(tmp_path_factory),
        )
    )
    good_out = str(tmp_path_factory.mktemp("jq_after_crash"))
    good = q.submit(
        ExecJobSpec(
            input_directory=corpus_dir,
            output_directory=good_out,
            mapper_executable=_cmd("tok_map.py"),
            reducer_executable=_cmd("sum_reduce.py"),
        )
    )
    final = q.run_all()
    assert final[bad] == JobState.FAILED
    assert CRASH_MSG in q.error(bad)
    assert final[good] == JobState.FINISHED
    assert "the\t3\n" in open(os.path.join(good_out, "outputfile01")).read()


def test_exec_placement_exact_with_aqe(spark, tmp_path_factory):
    """More reducers than distinct keys with AQE on: key i lands in
    outputfile(i % R + 1) and the empty groups still get their file
    (repartitionById places reducer i in partition i; AQE must neither
    coalesce nor reshuffle it)."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        submit_exec,
    )

    keys = ["apple", "kiwi", "melon", "pear", "plum"]
    indir = tmp_path_factory.mktemp("placement_in")
    (indir / "a.txt").write_text(" ".join(keys[::-1] * 3) + "\n")
    outdir = str(tmp_path_factory.mktemp("placement_out"))
    r = 8
    aqe = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
    }
    with scoped_conf(spark, aqe):
        submit_exec(
            spark,
            ExecJobSpec(
                input_directory=str(indir),
                output_directory=outdir,
                mapper_executable=_cmd("tok_map.py"),
                reducer_executable=_cmd("sum_reduce.py"),
                num_reducers=r,
            ),
        )
    files = sorted(os.listdir(outdir))
    assert files == [f"outputfile{i + 1:02d}" for i in range(r)]
    want = [""] * r
    for i, k in enumerate(keys):
        want[i % r] += f"{k}\t3\n"
    got = [open(os.path.join(outdir, f), encoding="utf-8").read() for f in files]
    assert got == want


def test_job_queue_accepts_while_running(spark, corpus_dir, tmp_path_factory):
    """Accept-while-running (reference manager/__main__.py:115,240: the
    TCP intake keeps accepting submissions concurrently with the FIFO
    drain). With the drain thread started, submit() returns while an
    earlier job is still executing, state() observes the lifecycle
    live, and the final outputs are byte-identical to a synchronous
    drain of the same specs."""
    import os
    import time

    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        JobQueue,
        JobState,
    )

    # a mapper slow enough that job A is observably RUNNING when B is
    # submitted (sleeps per pipe invocation, then tok_map semantics)
    slow_dir = tmp_path_factory.mktemp("slow_exec")
    slow_map = slow_dir / "slow_tok_map.py"
    slow_map.write_text(
        "import sys, time\n"
        "time.sleep(2.0)\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        "        print(w.lower() + '\\t1')\n"
    )

    def spec(outdir: str, slow: bool) -> ExecJobSpec:
        return ExecJobSpec(
            input_directory=corpus_dir,
            output_directory=outdir,
            mapper_executable=f"{PY} {slow_map}" if slow else _cmd("tok_map.py"),
            reducer_executable=_cmd("sum_reduce.py"),
            num_reducers=2,
        )

    # --- async: drain thread owns execution, submits never block ---
    out_a = str(tmp_path_factory.mktemp("jq_async_a"))
    out_b = str(tmp_path_factory.mktemp("jq_async_b"))
    q = JobQueue(spark)
    q.start()
    ja = q.submit(spec(out_a, slow=True))
    deadline = time.monotonic() + 30
    while q.state(ja) != JobState.RUNNING:
        assert time.monotonic() < deadline, "job A never started"
        time.sleep(0.02)
    jb = q.submit(spec(out_b, slow=False))  # returns immediately
    assert q.state(ja) == JobState.RUNNING  # A still executing
    assert q.state(jb) == JobState.PENDING  # B queued behind it, live
    final = q.wait(timeout=120)
    assert final == {ja: JobState.FINISHED, jb: JobState.FINISHED}
    q.shutdown()

    # --- sync drain of the SAME specs ---
    out_a2 = str(tmp_path_factory.mktemp("jq_sync_a"))
    out_b2 = str(tmp_path_factory.mktemp("jq_sync_b"))
    q2 = JobQueue(spark)
    q2.submit(spec(out_a2, slow=True))
    q2.submit(spec(out_b2, slow=False))
    assert all(s == JobState.FINISHED for s in q2.run_all().values())

    # --- byte-identical outputs, file for file ---
    for got_dir, want_dir in [(out_a, out_a2), (out_b, out_b2)]:
        got_files = sorted(os.listdir(got_dir))
        assert got_files == sorted(os.listdir(want_dir)) == [
            "outputfile01",
            "outputfile02",
        ]
        for f in got_files:
            got = open(os.path.join(got_dir, f), "rb").read()
            want = open(os.path.join(want_dir, f), "rb").read()
            assert got == want, f


def test_job_queue_shutdown_drains_pending(spark, corpus_dir, tmp_path_factory):
    """shutdown() finishes jobs already queued before stopping the
    worker (the reference manager completes its queue on shutdown,
    reference manager/__main__.py: shutdown forwards only after the
    current job finishes)."""
    from distributed_mapreduce_server_spark.mapreduce.submit import (
        ExecJobSpec,
        JobQueue,
        JobState,
    )

    outdir = str(tmp_path_factory.mktemp("jq_shutdown"))
    q = JobQueue(spark)
    q.start()
    j = q.submit(
        ExecJobSpec(
            input_directory=corpus_dir,
            output_directory=outdir,
            mapper_executable=_cmd("tok_map.py"),
            reducer_executable=_cmd("sum_reduce.py"),
        )
    )
    q.shutdown(timeout=120)
    assert q.state(j) == JobState.FINISHED
    import os

    assert sorted(os.listdir(outdir)) == ["outputfile01"]
