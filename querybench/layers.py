"""Per-query layer trace, read from outside the package.

Every number comes from a public surface of Spark or Linux, around the
benchmark's own calls into the package:

- stages and jobs from Spark's status store, attributed by id window:
  with one closed-loop client, the stages submitted between a query's
  start and end are exactly that query's, whatever thread submitted
  them (streaming micro-batches run on their own thread, so a
  thread-local job group would miss them);
- Catalyst phase times from the DataFrame's ``QueryExecution`` tracker;
- micro-batch progress from a ``StreamingQueryListener``;
- CPU and peak memory of the JVM, its Python workers and this process
  from ``/proc``.

Input bytes and rows are Spark's task input metrics, which count reads
of cached and checkpointed blocks as well as of files.

Reading all of this costs time, so the end-to-end metrics never come
from a traced run; the cost is reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener

import procfs

#: Additive per-query layer metrics, in report order.  Ratios
#: (``sources.write_amp``, ``exec.slot_util``, ``python.worker_share``)
#: and maxima (``python.worker_peak_rss_mb``) are derived from these.
ADDITIVE = (
    "sources.bytes_read", "sources.rows_read", "sources.bytes_written",
    "plans.construct_s", "plans.build_s", "plans.eager_jobs",
    "plans.eager_stages", "plans.eager_job_s", "plans.eager_task_run_s",
    "plans.eager_shuffle_bytes",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.failed_tasks",
    "python.worker_cpu_s", "jvm.cpu_s", "driver.cpu_s",
    "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.commit_s", "streaming.input_rows", "streaming.state_rows",
    "streaming.state_bytes",
)

def derive(m: dict, cores: int) -> dict:
    """Add the ratio metrics to a dict of additive ones (in place)."""
    m["sources.write_amp"] = _ratio(m["sources.bytes_written"], m["sources.bytes_read"])
    m["exec.slot_util"] = _ratio(m["exec.task_run_s"], m["exec.s"] * cores)
    m["python.worker_share"] = _ratio(
        m["python.worker_cpu_s"], m["python.worker_cpu_s"] + m["jvm.cpu_s"]
    )
    return m


def _ratio(num: float, den: float) -> float:
    return num / den if den > 0 else 0.0


@dataclass
class Mark:
    """Counters sampled at a span boundary."""

    next_stage: int
    next_job: int
    jvm_cpu: float
    driver_cpu: float
    worker_cpu: float
    worker_peak_mb: float


class StreamingProgress(StreamingQueryListener):
    """Collects micro-batch progress; drained once per query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started = 0
        self._terminated = 0
        self._batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 — Spark's name
        with self._lock:
            self._started += 1

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators or []
        with self._lock:
            self._batches.append({
                "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": d.get("addBatch", 0) / 1000.0,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
                "input_rows": p.numInputRows,
                "state_rows": sum(op.numRowsTotal for op in ops),
                "state_bytes": sum(op.memoryUsedBytes for op in ops),
            })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self._terminated += 1

    def drain(self, timeout_s: float = 5.0) -> list[dict]:
        """Progress of every micro-batch since the last drain, once each
        started query's termination event has arrived (events reach
        Python asynchronously, after ``awaitTermination`` returns)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                if self._started == self._terminated or time.monotonic() > deadline:
                    out, self._batches = self._batches, []
                    return out
            time.sleep(0.01)


class StatusStore:
    """Read access to one session's scheduler ids and status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._ctx = sc._jsc.sc()
        self._dag = self._ctx.dagScheduler()
        self._store = self._ctx.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def next_ids(self) -> tuple[int, int]:
        """The ids the next stage and the next job will get."""
        return self._dag.nextStageId(), self._dag.nextJobId()

    def settle(self) -> None:
        """Wait until every event posted so far has reached the store."""
        self._ctx.listenerBus().waitUntilEmpty(30_000)

    def stages(self, first: int, end: int) -> dict:
        """Task metrics summed over the stages with ids in [first, end)
        that ran (skipped stages reuse earlier output and are left out)."""
        agg = dict.fromkeys(
            ("stages", "tasks", "failed", "run_s", "cpu_s", "gc_s",
             "shuffle_read", "shuffle_write", "spill", "in_bytes",
             "in_rows", "out_bytes"), 0.0,
        )
        for sid in range(first, end):
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += s.numTasks()
                agg["failed"] += s.numFailedTasks()
                agg["run_s"] += s.executorRunTime() / 1000.0
                agg["cpu_s"] += s.executorCpuTime() / 1e9
                agg["gc_s"] += s.jvmGcTime() / 1000.0
                agg["shuffle_read"] += s.shuffleReadBytes()
                agg["shuffle_write"] += s.shuffleWriteBytes()
                agg["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                agg["in_bytes"] += s.inputBytes()
                agg["in_rows"] += s.inputRecords()
                agg["out_bytes"] += s.outputBytes()
        return agg

    def jobs_wall_s(self, first: int, end: int) -> float:
        """Wall time covered by the union of jobs with ids in [first, end)."""
        spans = []
        for jid in range(first, end):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        covered_ms, reach = 0, None
        for start, stop in sorted(spans):
            if reach is None or start > reach:
                covered_ms += stop - start
                reach = stop
            elif stop > reach:
                covered_ms += stop - reach
                reach = stop
        return covered_ms / 1000.0


class Tracer:
    """Samples one session's counters around each query's spans."""

    def __init__(self, spark, cores: int) -> None:
        self.store = StatusStore(spark)
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.cores = cores
        self.streaming = StreamingProgress()
        spark.streams.addListener(self.streaming)

    def mark(self) -> Mark:
        worker_cpu, worker_peak = procfs.worker_usage(self.jvm_pid)
        next_stage, next_job = self.store.next_ids()
        return Mark(
            next_stage=next_stage,
            next_job=next_job,
            jvm_cpu=procfs.cpu_times(self.jvm_pid)[0],
            driver_cpu=procfs.cpu_times(os.getpid())[0],
            worker_cpu=worker_cpu,
            worker_peak_mb=worker_peak,
        )

    @staticmethod
    def catalyst(df) -> dict:
        """Force optimization and planning on ``df``'s QueryExecution and
        read the three phase times.  The action's own command plans the
        query again, so this adds work that only the traced run does."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            found = phases.get(phase)
            out[f"catalyst.{phase}_s"] = (
                found.get().durationMs() / 1000.0 if found.isDefined() else 0.0
            )
        return out

    def collect(
        self, start: Mark, built: Mark, end: Mark,
        construct_s: float, action_s: float, catalyst: dict,
    ) -> dict:
        """Layer metrics of the query whose construction ran between
        ``start`` and ``built`` and whose action ran up to ``end``."""
        self.store.settle()
        eager = self.store.stages(start.next_stage, built.next_stage)
        action = self.store.stages(built.next_stage, end.next_stage)
        eager_job_s = self.store.jobs_wall_s(start.next_job, built.next_job)
        batches = self.streaming.drain()
        m = {
            "sources.bytes_read": eager["in_bytes"] + action["in_bytes"],
            "sources.rows_read": eager["in_rows"] + action["in_rows"],
            "sources.bytes_written": eager["out_bytes"] + action["out_bytes"],
            "plans.construct_s": construct_s,
            "plans.build_s": max(0.0, construct_s - eager_job_s),
            "plans.eager_jobs": built.next_job - start.next_job,
            "plans.eager_stages": eager["stages"],
            "plans.eager_job_s": eager_job_s,
            "plans.eager_task_run_s": eager["run_s"],
            "plans.eager_shuffle_bytes": eager["shuffle_read"] + eager["shuffle_write"],
            **catalyst,
            "exec.s": action_s,
            "exec.jobs": end.next_job - built.next_job,
            "exec.stages": action["stages"],
            "exec.tasks": action["tasks"],
            "exec.task_run_s": action["run_s"],
            "exec.task_cpu_s": action["cpu_s"],
            "exec.gc_s": action["gc_s"],
            "exec.shuffle_read_bytes": action["shuffle_read"],
            "exec.shuffle_write_bytes": action["shuffle_write"],
            "exec.spill_bytes": action["spill"],
            "exec.failed_tasks": eager["failed"] + action["failed"],
            "python.worker_cpu_s": end.worker_cpu - start.worker_cpu,
            "jvm.cpu_s": end.jvm_cpu - start.jvm_cpu,
            "driver.cpu_s": end.driver_cpu - start.driver_cpu,
            "streaming.batches": len(batches),
            "streaming.trigger_s": sum(b["trigger_s"] for b in batches),
            "streaming.add_batch_s": sum(b["add_batch_s"] for b in batches),
            "streaming.commit_s": sum(b["commit_s"] for b in batches),
            "streaming.input_rows": sum(b["input_rows"] for b in batches),
            "streaming.state_rows": max((b["state_rows"] for b in batches), default=0),
            "streaming.state_bytes": max((b["state_bytes"] for b in batches), default=0),
        }
        derive(m, self.cores)
        m["python.worker_peak_rss_mb"] = end.worker_peak_mb
        m["stage_ids"] = [start.next_stage, end.next_stage]
        return m
