"""Job submission mirroring the reference's surface.

The reference's submit client (reference: mapreduce/submit.py) posts
{input_directory, output_directory, mapper_executable,
reducer_executable, num_mappers, num_reducers} to the manager. Here
the same job description runs as one Spark action:

- input_directory  -> sources.read_text_lines (any split count; Spark
  decides "num_mappers" from file splits — the knob the reference
  needed is the one Spark makes automatic)
- mapper/reducer   -> a MapReduceJob (declarative columns, or the
  sorted-stream reducer for executable-faithful semantics)
- num_reducers     -> output shard count, honored through the write
- output_directory -> part files via sources.write_sink
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from distributed_mapreduce_server_spark.mapreduce.api import MapReduceJob
from distributed_mapreduce_server_spark.sources import read_text_lines, write_sink


@dataclass
class JobSpec:
    """The reference submit payload, Spark-shaped."""

    input_directory: str
    output_directory: str
    job: MapReduceJob
    num_reducers: int = 1
    output_format: str = "csv"


def submit(spark: SparkSession, spec: JobSpec) -> DataFrame:
    """Run the job and write ``num_reducers`` part files; returns the
    result DataFrame (already computed by the write action). An
    existing ``output_directory`` is overwritten, as in
    :func:`submit_exec`, so a JobSpec can be submitted again."""
    lines = read_text_lines(spark, spec.input_directory)
    # replace(), not in-place mutation: a MapReduceJob shared across
    # JobSpecs must not inherit this spec's reducer count.
    job = replace(spec.job, num_reducers=spec.num_reducers)
    result = job.run(lines)
    write_sink(result, spec.output_directory, fmt=spec.output_format, mode="overwrite")
    return result


@dataclass
class ExecJobSpec:
    """The reference submit payload with REAL executables (reference:
    mapreduce/submit.py posts mapper_executable/reducer_executable;
    the manager pipes files through them). Runs via
    :func:`submit_exec`."""

    input_directory: str
    output_directory: str
    mapper_executable: str
    reducer_executable: str
    num_mappers: int = 4
    num_reducers: int = 1
    # strict reference granularity: mapper invoked once per input file
    # (reference worker/__main__.py:137-183) — needed only for
    # stateful mappers; per-split piping is identical for stateless
    per_file: bool = False


def submit_exec(spark: SparkSession, spec: ExecJobSpec) -> None:
    """Run an executable job and wrap up like the reference manager:
    one ``outputfileNN`` per reducer group in the output directory
    (reference: mapreduce/manager/__main__.py:490-505 moves
    reducer-output files to outputfile01..NN).

    The job's one action is an EXECUTOR-SIDE text write of the reducer
    stdout frame (exec_job.reduced_lines) into ``_spark_staging``, one
    file per task, so reducer *i* writes ``part-{i:05d}-*`` in its stdout
    order; the driver then renames each such file to
    ``outputfile{i+1:02d}`` and never reads a reducer line. A reducer
    group that printed nothing writes no file and gets an empty
    ``outputfileNN`` (the reference's wrap-up contract). An existing
    output directory is reused: ``outputfile01..NN`` are replaced."""
    import glob
    import os
    import shutil

    from distributed_mapreduce_server_spark.mapreduce.exec_job import reduced_lines

    staging = os.path.join(spec.output_directory, "_spark_staging")
    with reduced_lines(
        spark,
        spec.input_directory,
        spec.mapper_executable,
        spec.reducer_executable,
        num_mappers=spec.num_mappers,
        num_reducers=spec.num_reducers,
        per_file=spec.per_file,
    ) as reduced:
        # maxRecordsPerFile 0: one file per task whatever the session's cap
        reduced.write.mode("overwrite").option("maxRecordsPerFile", 0).text(staging)
    for part in range(spec.num_reducers):
        dst = os.path.join(spec.output_directory, f"outputfile{part + 1:02d}")
        src = glob.glob(os.path.join(staging, f"part-{part:05d}-*"))
        if src:
            os.replace(src[0], dst)
        else:
            open(dst, "wb").close()
    shutil.rmtree(staging)


class JobState:
    """Reference manager job lifecycle states."""

    PENDING = "pending"
    RUNNING = "running"
    FINISHED = "finished"
    FAILED = "failed"


class JobQueue:
    """The reference manager's FIFO job queue on Spark's scheduler
    (reference: mapreduce/manager/__main__.py handles new jobs by
    queueing when busy and draining in arrival order; a failed job is
    recorded and the queue moves on).

    Accept-while-running (round 7): the reference manager's TCP intake
    keeps accepting submissions concurrently with the FIFO drain
    (reference manager/__main__.py:115,240). ``start()`` spawns a
    single daemon drain thread; ``submit()`` then returns immediately
    with the job PENDING and ``state()`` reads live states while jobs
    execute. Jobs still run strictly one at a time in arrival order —
    the reference executes serially too — so outputs are byte-identical
    to the synchronous drain. Without ``start()``, ``run_all()`` keeps
    the original synchronous contract.

    Worker liveness, heartbeats, and task redistribution — the rest of
    the manager — are Spark scheduler responsibilities (task retry is
    exercised in tests/test_fault_tolerance.py); what remains of the
    manager surface is exactly this queue + job states + wrap-up."""

    def __init__(self, spark: SparkSession) -> None:
        import threading

        self._spark = spark
        self._queue: list[tuple[int, JobSpec | ExecJobSpec]] = []
        self._states: dict[int, str] = {}
        self._errors: dict[int, str] = {}
        self._next_id = 0
        self._cond = threading.Condition()
        self._worker: threading.Thread | None = None
        self._stop = False

    def submit(self, spec: JobSpec | ExecJobSpec) -> int:
        """Enqueue; returns the job id (the reference's job-NN).
        Never blocks on a running job — with the drain thread started
        this is the reference's accept-while-running intake."""
        with self._cond:
            job_id = self._next_id
            self._next_id += 1
            self._queue.append((job_id, spec))
            self._states[job_id] = JobState.PENDING
            self._cond.notify_all()
        return job_id

    def state(self, job_id: int) -> str:
        with self._cond:
            return self._states[job_id]

    def error(self, job_id: int) -> str | None:
        with self._cond:
            return self._errors.get(job_id)

    def _run_one(self, job_id: int, spec: JobSpec | ExecJobSpec) -> None:
        """Execute one job and record its terminal state. Runs on the
        caller's thread (sync drain) or the worker thread (async) —
        Spark job submission is thread-safe, and only ONE of the two
        paths ever executes jobs at a time by construction."""
        try:
            if isinstance(spec, ExecJobSpec):
                submit_exec(self._spark, spec)
            else:
                submit(self._spark, spec)
        except Exception as ex:  # noqa: BLE001 — any job failure is recorded
            with self._cond:
                self._states[job_id] = JobState.FAILED
                self._errors[job_id] = str(ex)[:500]
                self._cond.notify_all()
        else:
            with self._cond:
                self._states[job_id] = JobState.FINISHED
                self._cond.notify_all()

    def _drain_loop(self) -> None:
        while True:
            with self._cond:
                while not self._queue and not self._stop:
                    self._cond.wait()
                if self._stop and not self._queue:
                    return
                job_id, spec = self._queue.pop(0)
                self._states[job_id] = JobState.RUNNING
                self._cond.notify_all()
            self._run_one(job_id, spec)

    def start(self) -> None:
        """Spawn the FIFO drain thread (idempotent). After this,
        ``submit()`` is fire-and-forget and ``state()``/``wait()``
        observe jobs move PENDING -> RUNNING -> FINISHED/FAILED live."""
        import threading

        with self._cond:
            if self._worker is not None and self._worker.is_alive():
                return
            self._stop = False
            self._worker = threading.Thread(
                target=self._drain_loop, name="jobqueue-drain", daemon=True
            )
            self._worker.start()

    def wait(self, job_id: int | None = None, timeout: float | None = None) -> dict[int, str]:
        """Block until ``job_id`` (or EVERY submitted job) reaches a
        terminal state; returns a states snapshot. Raises TimeoutError
        on timeout so a wedged job cannot silently pass a test."""
        import time as _time

        deadline = None if timeout is None else _time.monotonic() + timeout
        terminal = (JobState.FINISHED, JobState.FAILED)
        with self._cond:
            def done() -> bool:
                if job_id is not None:
                    return self._states[job_id] in terminal
                return all(s in terminal for s in self._states.values())

            while not done():
                remaining = None if deadline is None else deadline - _time.monotonic()
                if remaining is not None and remaining <= 0:
                    raise TimeoutError(f"job(s) not terminal: {dict(self._states)}")
                self._cond.wait(timeout=remaining)
            return dict(self._states)

    def shutdown(self, timeout: float | None = 60.0) -> None:
        """Drain remaining jobs, then stop the worker thread."""
        with self._cond:
            if self._worker is None:
                return
            self._stop = True
            self._cond.notify_all()
            worker = self._worker
        worker.join(timeout=timeout)
        with self._cond:
            self._worker = None

    def run_all(self) -> dict[int, str]:
        """Drain the queue FIFO; returns {job_id: final state}. A
        failing job is marked FAILED (error recorded) and does not
        block later jobs. With the drain thread running this just
        waits for quiescence (the thread owns execution)."""
        with self._cond:
            async_mode = self._worker is not None and self._worker.is_alive()
        if async_mode:
            return self.wait()
        while True:
            with self._cond:
                if not self._queue:
                    return dict(self._states)
                job_id, spec = self._queue.pop(0)
                self._states[job_id] = JobState.RUNNING
            self._run_one(job_id, spec)
