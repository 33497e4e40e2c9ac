"""Local twin of the driver's correctness gate: run every queries() entry
and its oracle_sql() twin side-by-side, compare sorted stringified rows.

Usage: python tools/parity.py [sf_dir] [name ...]
"""

import os
import sys

# the tree this file lives in - never a fixed checkout - is the one
# checked, for the driver and (via PYTHONPATH) for the Python workers
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = (
        SparkSession.builder.master("local[8]")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", "4g"),
        )
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(ROOT, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    def fresh_con():
        c = duckdb.connect()
        # long 90+-query sweeps on one connection have hit spurious
        # "Out of Memory Error: Failed to allocate block of 32768
        # bytes" with >100 GB free (allocator accumulation); cap +
        # spill makes runs deterministic, and oracle errors retry on a
        # fresh connection below
        c.execute("SET memory_limit='24GB'")
        c.execute("SET threads TO 8")
        c.execute("SET temp_directory='/tmp/duckdb_parity_spill'")
        for t in TABLES:
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        return c

    con = fresh_con()

    queries, oracles = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf).toPandas()
            # drop operator-persisted intermediates (band/shingle/label
            # frames) so an 80+-query run doesn't accumulate dead blocks
            from riksdagen_sentences_spark.operators.cache import (
                release_intermediates,
            )

            release_intermediates()
            if name not in oracles:
                print(f"{name:36s} rows-only {len(got)}")
                continue
            try:
                exp = con.sql(oracles[name]).fetchdf()
            except duckdb.Error:
                import gc

                con.close()
                gc.collect()
                con = fresh_con()
                exp = con.sql(oracles[name]).fetchdf()
            cols = sorted(got.columns)
            if sorted(exp.columns) != cols:
                print(f"{name:36s} COLMISMATCH {sorted(exp.columns)} vs {cols}")
                failures += 1
                continue
            a = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
            b = exp[cols].astype(str).sort_values(cols).reset_index(drop=True)
            if a.equals(b):
                print(f"{name:36s} OK        {len(a)}")
            else:
                failures += 1
                print(f"{name:36s} MISMATCH  spark={len(a)} oracle={len(b)}")
                m = a.merge(b, how="outer", indicator=True)
                print(m[m._merge != "both"].head(6).to_string())
        except Exception as ex:  # noqa: BLE001
            failures += 1
            print(f"{name:36s} ERROR     {str(ex)[:200]}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
