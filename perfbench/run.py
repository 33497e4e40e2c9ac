"""Benchmark entry point.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 8 --trace 0

Runs one workload of :mod:`workloads` at ``local[nproc]`` from the root
of a source checkout, checks every output against reference semantics
and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` the same
workload runs with spans around each call and the metrics are the
per-layer ones (full span records go to ``.perfbench/traces/``).

Everything the run writes stays under ``.perfbench/`` in the checkout:
generated inputs and cached reference results per seed, and a per-run
scratch directory (Spark local dirs, stores, serving tables) that is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def _pin_environment(scratch: str) -> None:
    """Keep Spark's scratch files inside the checkout and quiet the
    console; must run before pyspark starts the JVM."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
            # no hsperfdata file in /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    _pin_environment(scratch)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    h = None
    try:
        import harness
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of "
                  f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        h = harness.Harness(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=WORK,
            scratch=scratch,
        )
        result = h.result(workloads.WORKLOADS[args.workload](h))
    finally:
        if h is not None:
            h.close()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(h.environment()))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
