"""SparkSession factories with scale-appropriate defaults.

:func:`session_builder` carries the engine's PORTABLE settings - the
ones we would ship to a 1000-executor cluster: AQE on (runtime re-plan +
skew-join splitting), shuffled-hash joins and measured-size broadcast,
Arrow enabled for the pandas-UDF kernels with a bounded batch size (the
Arrow analog of the reference's 100k-char chunk bound,
models/document.py:28).  The ``jobs/`` entry points build their session
from it and take the master from ``spark-submit``.  :func:`get_spark`
adds only the local settings on top: the ``local[N]`` master, shuffle
partitions sized to the parallelism level instead of the 200 default,
driver memory and the UI switch.  Tests, the benchmark and the jobs
therefore run one configuration.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _export_package_to_workers() -> None:
    """Make this package importable by Python workers regardless of the
    driver's cwd - the local-mode equivalent of ``spark-submit
    --py-files`` (workers inherit PYTHONPATH, not driver sys.path)."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )


def session_builder(app_name: str) -> SparkSession.Builder:
    """A session builder with the engine's portable settings and no
    master (see the module docstring)."""
    _export_package_to_workers()
    return (
        SparkSession.builder.appName(app_name)
        # Pin the session zone: temporal operators and their DuckDB
        # oracles must agree on wall-clock arithmetic regardless of the
        # host's zone (a DST-observing zone would shift TIMESTAMP casts
        # of TIMESTAMP_NTZ values by the transition offset).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Joins (guide-standard cluster settings, not local-mode tuning):
        # let the planner pick shuffled-hash over sort-merge when a side
        # fits its per-partition build budget (skips two sorts), and let
        # AQE flip a sort-merge to broadcast/shuffled-hash at runtime
        # from MEASURED sizes - estimates after filters/aggregates are
        # routinely wrong, runtime sizes are not.  64m broadcast is well
        # inside any executor budget; both knobs are env-overridable for
        # clusters with tighter memory.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_AQE_BC", "64m"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )


def get_spark(
    parallelism: int | None = None,
    app_name: str = "riksdagen-sentences-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local session: :func:`session_builder` plus the local settings."""
    p = parallelism or DEFAULT_CPUS
    return (
        session_builder(app_name)
        .master(f"local[{p}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or p))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
