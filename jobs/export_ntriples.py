"""spark-submit entrypoint: export a materialized triple graph (or a
files table, building the graph inline) as RDF N-Triples text.

Cluster launch:

    python tools/make_pyfiles.py                 # -> dist/pkg.zip
    spark-submit --py-files dist/pkg.zip \\
        jobs/export_ntriples.py \\
        --triples s3://bucket/graph/triples \\
        --output  s3://bucket/graph_nt \\
        --base-iri https://example.org/kg/

    # or build from source files in one pass:
    spark-submit ... jobs/export_ntriples.py \\
        --input s3://bucket/files_table --output s3://bucket/graph_nt

Serialization is map-only (operators/rdf.py) — the export adds ZERO
exchanges on top of the scan (or the graph build), so output
parallelism equals input parallelism; gzip codec keeps the text sink
splittable-enough for re-ingest at this line-oriented format.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--triples", help="materialized triples parquet")
    src.add_argument(
        "--input", help="files-table parquet (graph built inline)"
    )
    ap.add_argument("--output", required=True, help="N-Triples text dir")
    ap.add_argument("--base-iri", default="https://example.org/kg/")
    ap.add_argument(
        "--codec", default="gzip", help="text compression codec"
    )
    args = ap.parse_args()

    from riksdagen_sentences_spark.operators.rdf import to_ntriples
    from riksdagen_sentences_spark.semantics import PRED_HAS_TEXT
    from riksdagen_sentences_spark.session import session_builder

    # the engine's portable settings; spark-submit supplies the master
    spark = session_builder("export-ntriples").getOrCreate()
    if args.triples:
        triples = spark.read.parquet(args.triples)
    else:
        from riksdagen_sentences_spark.plans import pipeline as P

        triples = P.triples(
            spark, P.docs_from_files(spark.read.parquet(args.input))
        )
    lines = to_ntriples(
        triples, base_iri=args.base_iri, literal_preds=(PRED_HAS_TEXT,)
    )
    lines.write.mode("overwrite").option(
        "compression", args.codec
    ).text(args.output)
    n = spark.read.text(args.output).count()
    print(f"exported {n} triples to {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
