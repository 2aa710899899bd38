"""Spans around the benchmark's calls into the engine, with the Spark
work each call started.

A span has a name, start, end, parent and the id of the iteration it
belongs to. While tracing is on, each span runs under its own Spark job
group; when it ends, the jobs of that group (plus the jobs of any
streaming query started inside it, whose micro-batches run under the
query's run id as job group) are read back from the status store:
stage counts, task counts, executor run/CPU/GC time, shuffle, spill,
input, task skew and width use. Streaming progress comes from a
``StreamingQueryListener`` registered here. Spans stay in memory and
are written out once, at the end of the run.

With tracing off a span only reads the clock.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

MB = 1024.0 * 1024.0

STAGE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "input_rows",
    "job_wall_s",
    "stage_wall_s",
    "task_skew",
)

STREAM_FIELDS = (
    "drain_s",
    "batches",
    "input_rows",
    "add_batch_s",
    "planning_s",
    "commit_s",
    "state_rows",
    "state_mb",
)


def _opt_ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


class _StreamProgress:
    """Collects progress of streaming queries, keyed by run id."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list] = {}

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer.lock:
                    outer.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                with outer.lock:
                    outer.progress.setdefault(str(p.runId), []).append(
                        {
                            "rows": p.numInputRows,
                            "durations": dict(p.durationMs),
                            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.lock:
                    outer.terminated.add(str(event.runId))

        return Listener()

    def mark(self) -> int:
        with self.lock:
            return len(self.started)

    def since(self, mark: int, timeout_s: float = 10.0) -> list[str]:
        """Run ids started after ``mark``, once each has terminated."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self.lock:
                runs = self.started[mark:]
                if all(r in self.terminated for r in runs) or time.monotonic() > deadline:
                    return runs
            time.sleep(0.01)

    def summary(self, runs: list[str]) -> dict:
        out = dict.fromkeys(STREAM_FIELDS, 0.0)
        with self.lock:
            for r in runs:
                for p in self.progress.get(r, []):
                    d = p["durations"]
                    out["batches"] += 1 if p["rows"] > 0 else 0
                    out["input_rows"] += p["rows"]
                    out["drain_s"] += d.get("triggerExecution", 0) / 1000.0
                    out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
                    out["planning_s"] += d.get("queryPlanning", 0) / 1000.0
                    out["commit_s"] += (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1000.0
                    out["state_rows"] = max(out["state_rows"], p["state_rows"])
                    out["state_mb"] = max(out["state_mb"], p["state_bytes"] / MB)
        return out


class Tracer:
    """Span recorder for one benchmark run.

    ``enabled=False`` keeps only wall-clock timing; ``enabled=True``
    also attributes Spark jobs, stages and streaming progress to each
    span. Call :meth:`attach` once the session exists.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        # a traced run alternates traced and untraced iterations to
        # measure its own overhead; ``active`` is the per-iteration switch
        self.active = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._stack: list[tuple[int, str]] = []
        self.iteration: int | None = None
        self.sc = None
        self.cores = 1
        self.streams = _StreamProgress()
        self._listener = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        if self.enabled:
            self._listener = self.streams.listener()
            spark.streams.addListener(self._listener)

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed block; with tracing on, also attribute the
        Spark work it starts. Yields the span dict so callers can add
        attributes (row counts, files written)."""
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1][0] if self._stack else None,
            "iteration": self.iteration,
            "traced": self.active,
            **attrs,
        }
        group = f"perfbench-{sid}"
        stream_mark = 0
        if self.active:
            stream_mark = self.streams.mark()
            self.sc.setJobGroup(group, name)
        self._stack.append((sid, name))
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.active:
                if self._stack:  # hand the job group back to the parent
                    pid, pname = self._stack[-1]
                    self.sc.setJobGroup(f"perfbench-{pid}", pname)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                runs = self.streams.since(stream_mark)
                rec["spark"] = self._stage_summary([group, *runs])
                rec["streaming"] = self.streams.summary(runs)
                # bookkeeping time, so a parent can exclude it from its own wall
                rec["trace_s"] = time.perf_counter() - rec["end"]
            self.spans.append(rec)

    def _stage_summary(self, groups: list[str]) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = store.job(jid)
            start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if start is not None and end is not None:
                out["job_wall_s"] += (end - start) / 1000.0
            ids = job.stageIds()  # scala Seq[Int]
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        out["jobs"] = float(len(job_ids))
        longest = (0.0, None)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the status store
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out["input_mb"] += st.inputBytes() / MB
            out["input_rows"] += st.inputRecords()
            start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if start is not None and end is not None:
                wall = (end - start) / 1000.0
                out["stage_wall_s"] += wall
                if wall > longest[0]:
                    longest = (wall, st)
        if longest[1] is not None:
            st = longest[1]
            tasks = store.taskList(st.stageId(), st.attemptId(), st.numTasks())
            durs = [
                float(tasks.apply(i).duration().get())
                for i in range(tasks.size())
                if tasks.apply(i).duration().isDefined()
            ]
            med = statistics.median(durs) if durs else 0.0
            out["task_skew"] = max(durs) / med if med > 0 else 1.0
        return out

    def close(self, spark) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def dump(self, path: str, header: dict) -> None:
        with open(path, "w") as f:
            json.dump({"header": header, "spans": self.spans}, f, indent=1, default=str)
