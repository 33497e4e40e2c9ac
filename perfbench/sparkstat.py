"""Spark stage metrics and spans for the traced run.

Stage metrics come from the JVM status store
(``sc._jsc.sc().statusStore()``), which Spark keeps with the UI
disabled.  A span is charged every job whose id was assigned while the
span was open.  The benchmark is one closed-loop client, so no other
caller submits jobs meanwhile, and jobs the engine submits from its own
thread pools (which do not inherit the job group the span sets) are
still charged to the span that caused them.
"""

from __future__ import annotations

import contextlib
import time

_MB = 1024 * 1024


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Reads job and stage metrics from the JVM status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def next_job_id(self) -> int:
        ids = [j.jobId() for j in _iterate(self.store.jobsList(None))]
        return max(ids, default=-1) + 1

    def totals(self, first_job: int) -> dict[str, float]:
        """Summed metrics of every stage of every job with id >=
        ``first_job``; skipped stages (reused shuffle output) ran no tasks
        and add nothing."""
        stage_ids: set[int] = set()
        jobs = 0
        for j in _iterate(self.store.jobsList(None)):
            if j.jobId() >= first_job:
                jobs += 1
                stage_ids.update(int(s) for s in _iterate(j.stageIds()))
        jvm = self.sc._jvm
        out = dict.fromkeys(
            ("task_s", "cpu_s", "gc_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "tasks"),
            0.0,
        )
        out["jobs"] = jobs
        if not stage_ids:
            return out
        stages = self.store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        for s in _iterate(stages):
            if s.stageId() not in stage_ids:
                continue
            out["task_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += (
                s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()
            ) / _MB
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += (
                s.memoryBytesSpilled() + s.diskBytesSpilled()
            ) / _MB
            out["tasks"] += s.numCompleteTasks()
        return out


class Tracer:
    """Spans around calls into the engine, kept in memory.

    Each span records name, start, end, parent and run id, the Spark
    stage metrics of its jobs, and the CPU of the JVM process tree split
    into JVM and Python-worker seconds.  ``overhead_s`` accumulates the
    time spent in the tracer's own bookkeeping."""

    def __init__(self, spark, run_id: str, proc):
        self.sc = spark.sparkContext
        self.status = StatusStore(spark)
        self.run_id = run_id
        self.proc = proc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t_book = time.perf_counter()
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(sp)
        first_job = self.status.next_job_id()
        jvm0, py0 = self.proc.cpu()
        self.sc.setJobGroup(f"{self.run_id}/{sp['id']}", name)
        self._stack.append(sp)
        self.overhead_s += time.perf_counter() - t_book
        sp["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["wall_s"] = time.perf_counter() - t0
            sp["end"] = time.time()
            t_book = time.perf_counter()
            self._stack.pop()
            jvm1, py1 = self.proc.cpu()
            sp["jvm_cpu_s"] = jvm1 - jvm0
            sp["python_cpu_s"] = py1 - py0
            sp.update(self.status.totals(first_job))
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(
                    f"{self.run_id}/{parent['id']}", parent["name"]
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t_book

    def finish(self) -> list[dict]:
        """Fill in ``self_s``: a span's wall time minus the part its
        child spans cover (children run one after another)."""
        child_s: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None and "wall_s" in sp:
                child_s[sp["parent"]] = child_s.get(sp["parent"], 0.0) + sp["wall_s"]
        for sp in self.spans:
            sp["self_s"] = sp.get("wall_s", 0.0) - child_s.get(sp["id"], 0.0)
        return self.spans
