"""spark-submit entrypoint for the KG-construction pipeline.

Cluster launch (north rule):

    python tools/make_pyfiles.py                 # -> dist/pkg.zip
    spark-submit --py-files dist/pkg.zip \\
        jobs/build_graph.py \\
        --input  s3://bucket/files_table \\
        --output s3://bucket/graph \\
        --buckets 4096 --strip-html

Local sandbox:

    python jobs/build_graph.py --input /tmp/files --output /tmp/graph

Resumable by construction: re-running with the same --output skips
ledger-complete buckets (checkpoint.py); per-bucket lineage + row-count
metrics land in <output>/_ledger/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="files-table parquet path")
    ap.add_argument("--output", required=True, help="graph output root")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--strip-html", action="store_true")
    ap.add_argument(
        "--max-documents",
        type=int,
        default=0,
        help="bounded dev runs (reference --max-documents, "
        "models/analyzer.py:52-59)",
    )
    args = ap.parse_args()

    from riksdagen_sentences_spark.plans import materialize as M
    from riksdagen_sentences_spark.plans import pipeline as P
    from riksdagen_sentences_spark.session import session_builder

    # the engine's portable settings; spark-submit supplies the master
    spark = session_builder("build-sentence-graph").getOrCreate()
    files = spark.read.parquet(args.input)
    if args.max_documents:
        files = files.limit(args.max_documents)
    docs = P.docs_from_files(files, strip_html=args.strip_html)
    processed = M.run_incremental(
        spark, docs, args.output, buckets=args.buckets
    )
    print(
        json.dumps(
            {
                "processed_buckets": processed,
                "ledger": os.path.join(args.output, "_ledger"),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
