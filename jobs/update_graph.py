"""spark-submit entrypoint for INCREMENTAL graph maintenance
(plans/delta.py): apply one batch of files to a content-addressed delta
store, optionally compact + gc, optionally materialize the assembled
graph.

Cluster launch:

    python tools/make_pyfiles.py                 # -> dist/pkg.zip
    spark-submit --py-files dist/pkg.zip \\
        jobs/update_graph.py \\
        --input  s3://bucket/files_batch \\
        --store  s3://bucket/graph_store \\
        --compact-after 64 --assemble s3://bucket/graph_triples

Local sandbox:

    python jobs/update_graph.py --input /tmp/batch --store /tmp/store

Idempotent by construction: a re-submitted batch (same file set) maps
to the same deterministic batch id and is skipped at its commit
marker; a crashed batch's retry overwrites exactly its own partial
directories.  Kernel cost per run is O(never-seen contents), not
corpus size.  Lineage counts print as one JSON line and land in
<store>/_reports/ via the Hadoop FS writer (any URI).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="files-batch parquet path")
    ap.add_argument("--store", required=True, help="delta store root")
    ap.add_argument(
        "--compact-after",
        type=int,
        default=0,
        help="if > 0, fold the store into one generation (and gc the "
        "superseded batches) when visible batch count reaches N",
    )
    ap.add_argument(
        "--assemble",
        default=None,
        help="optional path: write the full assembled (subj, pred, obj) "
        "graph after the update",
    )
    args = ap.parse_args()

    from riksdagen_sentences_spark.plans import delta as D
    from riksdagen_sentences_spark.session import session_builder

    # the engine's portable settings; spark-submit supplies the master
    spark = session_builder("update-sentence-graph").getOrCreate()

    batch = spark.read.parquet(args.input)
    report: dict = D.update_graph(spark, args.store, batch)

    if args.compact_after > 0:
        visible = D._committed_batches(spark, args.store)
        if len(visible) >= args.compact_after:
            report["compacted_batches"] = D.compact_store(spark, args.store)
            report["gc_removed_dirs"] = D.gc_store(spark, args.store)

    if args.assemble:
        D.assemble_graph(spark, args.store).write.mode(
            "overwrite"
        ).partitionBy("pred").parquet(args.assemble)
        report["assembled_to"] = args.assemble

    # one-row text write through the Hadoop FS layer (works for any
    # --store URI, not just local paths - same discipline as
    # jobs/curate_corpus.py)
    spark.createDataFrame(
        [(json.dumps(report),)], "value string"
    ).coalesce(1).write.mode("overwrite").text(
        os.path.join(args.store, "_reports", "last_update")
    )
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
