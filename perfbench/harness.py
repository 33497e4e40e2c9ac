"""Run-time services shared by the workloads: sessions, repeated set-up,
timed calls with process-tree CPU, spans, failure accounting and the
result line."""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from procstat import ProcTree
from sparkstat import Tracer

# Set-up runs this many times per run; setup_s is the median.
SETUP_REPS = 5


class Harness:
    def __init__(self, workload, seed, seconds, trace, work, scratch):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scratch = scratch
        self.inputs = os.path.join(work, "inputs", f"{workload}-seed{seed}")
        self.traces = os.path.join(work, "traces")
        os.makedirs(self.inputs, exist_ok=True)
        self.nproc = len(os.sched_getaffinity(0))
        self.loadavg_start = os.getloadavg()
        self.spark = None
        self.proc: ProcTree | None = None
        self.tracer: Tracer | None = None
        self.untraced = False
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.load_s: list[float] = []

    # -- sessions ------------------------------------------------------

    def _new_session(self):
        from riksdagen_sentences_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(parallelism=self.nproc)
        spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s.append(time.perf_counter() - t0)
        if self.proc is None:
            self.proc = ProcTree(spark.sparkContext._gateway.proc.pid).start()
        self.spark = spark
        return spark

    def setup(self, load, prepare=None):
        """Set up :data:`SETUP_REPS` times, each in a new session in the
        same JVM: ``load(spark)`` reads the inputs.  ``prepare()``, the
        reference results, runs in a thread while the first repetition
        loads its inputs: after the JVM launch, so ``get_spark`` in that
        repetition (``session.first_start_s``) never overlaps it, and
        before the second repetition starts.  The first repetition,
        which starts the JVM, is the slowest by far, so the medians
        leave it out.  Returns the inputs of the last session, which the
        timed phase then uses, and the value of ``prepare()``."""
        ref = None
        with ThreadPoolExecutor(max_workers=1) as pool:
            for rep in range(SETUP_REPS):
                if self.spark is not None:
                    self.spark.stop()
                t0 = time.perf_counter()
                spark = self._new_session()
                if rep == 0 and prepare is not None:
                    ref = pool.submit(prepare)
                t1 = time.perf_counter()
                inputs = load(spark)
                self.load_s.append(time.perf_counter() - t1)
                self.setup_s.append(time.perf_counter() - t0)
                if rep == 0 and ref is not None:
                    ref = ref.result()
        if self.trace:
            self.tracer = Tracer(self.spark, f"{self.workload}-{self.seed}", self.proc)
        return inputs, ref

    # -- calls ---------------------------------------------------------

    def cpu(self) -> float:
        jvm, py = self.proc.cpu()
        return jvm + py

    def call(self, fn):
        """Run ``fn()`` once: returns (value, wall s, process-tree CPU s).
        An exception counts as a failed call and yields value None."""
        self.attempted += 1
        cpu0 = self.cpu()
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            value = None
        wall = time.perf_counter() - t0
        return value, wall, self.cpu() - cpu0

    def check(self, ok: bool, what: str) -> None:
        """Count a call whose output differs from the reference as
        failed.  Called outside the timed region."""
        if not ok:
            self.failed += 1
            print(f"output check failed: {what}", file=sys.stderr)

    def span(self, name: str):
        if self.tracer is None or self.untraced:
            return contextlib.nullcontext({})
        return self.tracer.span(name)

    @contextlib.contextmanager
    def without_spans(self):
        """Run a call untraced inside a traced run (the baseline that
        ``trace.overhead_s`` subtracts)."""
        self.untraced = True
        try:
            yield
        finally:
            self.untraced = False

    # -- results -------------------------------------------------------

    def write_trace(self) -> list[dict]:
        spans = self.tracer.finish()
        os.makedirs(self.traces, exist_ok=True)
        path = os.path.join(self.traces, f"{self.workload}-seed{self.seed}.jsonl")
        with open(path, "w") as f:
            for sp in spans:
                f.write(json.dumps(sp) + "\n")
        for sp in spans:
            if sp["parent"] is None or sp.get("rows_out") is not None:
                print(
                    f"span {sp['name']:<48} wall {sp['wall_s']:8.3f}s "
                    f"self {sp['self_s']:8.3f}s task {sp['task_s']:8.3f}s "
                    f"cpu {sp['cpu_s']:8.3f}s jobs {sp['jobs']:4d}"
                )
        return spans

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }

    def environment(self) -> dict:
        env = {
            "workload": self.workload,
            "seed": self.seed,
            "nproc": self.nproc,
            "loadavg_start": self.loadavg_start,
            "loadavg_end": os.getloadavg(),
            "driver_memory": getattr(self, "_driver_memory", None),
            "setup_s": self.setup_s,
        }
        import pyspark

        env["spark"] = pyspark.__version__
        env["java"] = getattr(self, "_java_version", None)
        return {"environment": env}

    def close(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        if self.proc is not None:
            self.proc.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self._java_version = self.spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"
        )
        self._driver_memory = self.spark.conf.get("spark.driver.memory")
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
