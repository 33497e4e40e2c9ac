"""Graph materialization: write the sentence graph back to storage with
per-partition checkpoints, idempotent overwrite, and lineage metrics.

Storage is parquet with an Iceberg-shaped layout (the sandbox has no
Iceberg runtime jar; the table abstraction is format-agnostic - swap
``.write.parquet`` for ``.writeTo(catalog.table)`` on a real cluster).
Partition layout (SURVEY §7 stage 5): sentences by (lang), triples by
(pred) - the two predicates every analytical query filters on, giving
partition pruning for free.

The incremental runner processes one input partition (repo / doc bucket)
at a time, committing the ledger entry only after the partition's writes
complete - a crash mid-partition re-runs just that partition, and dynamic
partition overwrite makes the re-run idempotent (reference analog:
document.processed flag, models/document.py:45-50).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import checkpoint as CK
from . import pipeline as P

TABLES = ("sentences", "rawtokens", "normtokens", "entities", "triples")


def build_all_tables(
    spark: SparkSession, docs: DataFrame
) -> dict[str, DataFrame]:
    """The five graph tables, all read from ``pipeline.graph_frames``:
    ``triples`` is exactly ``pipeline.triples``' plan, and the canonical
    tables derive from the same persisted cut-points and NER pass."""
    g = P.graph_frames(spark, docs)
    return {
        "sentences": g["sentences"],
        "rawtokens": P.rawtokens(g["tokens"]),
        "normtokens": P.normtokens(g["tokens"]),
        "entities": P.entities(g["sentences"], g["mentions"]),
        "triples": g["triples"],
    }


def write_graph(
    spark: SparkSession, docs: DataFrame, out_dir: str
) -> dict[str, int]:
    """One-shot materialization.  Returns row counts per table."""
    spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", "dynamic"
    )
    tables = build_all_tables(spark, docs)
    counts: dict[str, int] = {}
    for name, df in tables.items():
        writer = df.write.mode("overwrite")
        if name == "sentences":
            writer = writer.partitionBy("lang")
        elif name == "triples":
            writer = writer.partitionBy("pred")
        writer.parquet(f"{out_dir}/{name}")
        counts[name] = (
            spark.read.parquet(f"{out_dir}/{name}").count()
        )
    return counts


def run_incremental(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    buckets: int = 8,
    fail_after: int | None = None,
) -> list[str]:
    """Resumable per-partition run.

    Partitions the input into deterministic doc-id buckets, skips buckets
    already in the ledger, processes the rest one bucket at a time, and
    commits a lineage entry per bucket.  ``fail_after`` aborts after N
    buckets (for the kill/resume test).

    Returns the list of bucket keys processed in this invocation.
    """
    spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", "dynamic"
    )
    bucketed = docs.withColumn(
        "bucket", CK.partition_key_col(F.col("document_id"), buckets)
    ).persist()
    done = CK.completed_partitions(spark, out_dir)
    todo = [
        str(r["bucket"])
        for r in bucketed.select("bucket").distinct().orderBy("bucket").collect()
        if str(r["bucket"]) not in done
    ]
    processed: list[str] = []
    for i, bucket in enumerate(todo):
        if fail_after is not None and i >= fail_after:
            break
        t0 = time.time()
        part = bucketed.filter(F.col("bucket") == int(bucket)).drop(
            "bucket"
        )
        # one job for both input metrics (count + xor-fold fingerprint)
        in_row = part.agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.expr(
                "conv(cast(bit_xor(cast(conv(substring(sha2(content, 256)"
                ", 1, 15), 16, 10) as long)) as string), 10, 16)"
            ).alias("fp"),
        ).first()
        tables = build_all_tables(spark, part)
        metrics: dict = {
            "rows_in": in_row["rows_in"],
            "input_fingerprint": in_row["fp"],
        }
        for name, df in tables.items():
            # output row counts ride on the write action itself via
            # observe() - no read-back count job per table
            obs = Observation()
            out = df.withColumn("bucket", F.lit(int(bucket))).observe(
                obs, F.count(F.lit(1)).alias("rows")
            )
            (
                out.write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(f"{out_dir}/{name}")
            )
            metrics[f"{name}_rows"] = obs.get["rows"]
        metrics["seconds"] = round(time.time() - t0, 3)
        CK.record_partition(out_dir, bucket, metrics)
        processed.append(bucket)
    bucketed.unpersist()
    return processed


def compact_canonical(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Rewrite the incrementally-written canonical tables globally
    deduplicated (incremental runs dedup per bucket only; ids are
    deterministic content hashes, so cross-bucket duplicates are
    id-identical rows).  The Iceberg analog of a rewrite-data-files
    compaction.  Returns per-table row counts after compaction.

    Each table is written ONCE - dedup into a sibling staging dir, then
    a directory swap (rename) replaces the live table.  The previous
    tmp->read-back->rewrite shape doubled compaction I/O, which at
    100 TB is the difference between one pass over the lake and two;
    on Iceberg the swap is the snapshot commit itself.  Row counts ride
    on the single write via observe(), not a read-back count.

    The swap runs through the Hadoop FileSystem API, so ``out_dir`` may
    be any supported URI (file paths, hdfs://, s3a:// ...), not just
    local disk.  The two renames are not atomic AS A UNIT; a crash
    between them leaves the live path missing with ``__old_<name>``
    holding the data - the next call detects exactly that state and
    restores ``__old_`` before compacting, and a failed second rename
    rolls the first one back in-process, so no crash point loses the
    table."""
    jconf = spark._jsc.hadoopConfiguration()
    jpath = spark._jvm.org.apache.hadoop.fs.Path

    counts: dict[str, int] = {}
    for name, keys in _CANONICAL_KEYS.items():
        path = f"{out_dir}/{name}"
        staging = f"{out_dir}/__compact_{name}"
        old = f"{out_dir}/__old_{name}"
        fs = jpath(path).getFileSystem(jconf)
        # recover a crash between the two renames of a previous run
        if not fs.exists(jpath(path)) and fs.exists(jpath(old)):
            if not fs.rename(jpath(old), jpath(path)):
                raise IOError(f"could not restore {old} -> {path}")
        df = spark.read.parquet(path)
        if "bucket" in df.columns:
            df = df.drop("bucket")
        obs = Observation()
        deduped = df.dropDuplicates(keys).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        fs.delete(jpath(staging), True)
        deduped.write.mode("overwrite").parquet(staging)
        counts[name] = obs.get["rows"]
        fs.delete(jpath(old), True)
        if not fs.rename(jpath(path), jpath(old)):
            raise IOError(f"rename {path} -> {old} failed")
        if not fs.rename(jpath(staging), jpath(path)):
            fs.rename(jpath(old), jpath(path))  # roll back, table live
            raise IOError(f"rename {staging} -> {path} failed")
        fs.delete(jpath(old), True)
    return counts


_CANONICAL_KEYS = {
    "rawtokens": ["rawtoken_id"],
    "normtokens": ["normtoken_id"],
    "entities": ["entity_id"],
    "triples": ["subj", "pred", "obj"],
}


def read_graph_table(
    spark: SparkSession, out_dir: str, name: str
) -> DataFrame:
    """Canonical read: incremental runs dedup per bucket only, but ids
    are deterministic content hashes, so cross-bucket duplicates are
    id-identical - a dropDuplicates on the id restores global canonical
    form (the reference's UNIQUE constraints, create.py:78-133)."""
    df = spark.read.parquet(f"{out_dir}/{name}")
    if "bucket" in df.columns:
        df = df.drop("bucket")
        if name in _CANONICAL_KEYS:
            df = df.dropDuplicates(_CANONICAL_KEYS[name])
    return df
