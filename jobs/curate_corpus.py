"""spark-submit entrypoint for the training-data curation pipeline:
quality + repetition gate -> exact dedup -> LSH-verified near-dup
removal (over the survivor set) -> n-gram decontamination ->
stratified mixture sample [-> sequence packing], writing the surviving
corpus + a per-stage survivor report.

The stage chain itself lives in riksdagen_sentences_spark.plans.curate
(curation_stages) and is EXACTLY the frame the oracled driver query
`curated_training_corpus_v2` checks - the job adds only I/O.

Cluster launch:

    python tools/make_pyfiles.py                 # -> dist/pkg.zip
    spark-submit --py-files dist/pkg.zip \\
        jobs/curate_corpus.py \\
        --input  s3://bucket/documents \\
        --output s3://bucket/curated \\
        --benchmark s3://bucket/benchmark_texts \\
        --weights '{"web": 0.5, "code": 1.0}'

Local sandbox:

    python jobs/curate_corpus.py \\
        --input /root/testdata/sf0.001/documents.parquet \\
        --output /tmp/curated

Every stage is the bucketed/broadcast variant (no all-pairs, corpus
never shuffled by the decontamination or sampling stages).  The report
is written through Spark's Hadoop FS writer, so --output may be any
supported URI (s3a://, hdfs://, file paths) - a builtin open() would
only work locally and would crash the run at the very end.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet")
    ap.add_argument("--output", required=True, help="curated output root")
    ap.add_argument(
        "--benchmark",
        default=None,
        help="parquet of benchmark texts (doc_id, text) to decontaminate "
        "against; omit to skip the stage",
    )
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument(
        "--max-dup-ngram-ratio",
        type=float,
        default=0.3,
        help="Gopher-style repetition gate",
    )
    ap.add_argument("--neardup-threshold", type=float, default=0.5)
    ap.add_argument(
        "--weights",
        default=None,
        help='JSON {source: fraction} mixture weights; omit to keep all',
    )
    ap.add_argument(
        "--pack-capacity",
        type=int,
        default=0,
        help="if > 0, assign surviving docs to fixed-token-budget bins "
        "(distributed prefix sum) and write a `bin` column",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from riksdagen_sentences_spark.plans.curate import curation_stages
    from riksdagen_sentences_spark.session import session_builder

    # the engine's portable settings; spark-submit supplies the master
    spark = session_builder("curate-corpus").getOrCreate()
    docs = spark.read.parquet(args.input)
    bench = (
        spark.read.parquet(args.benchmark) if args.benchmark else None
    )
    stages = curation_stages(
        docs,
        min_quality=args.min_quality,
        max_dup_ngram_ratio=args.max_dup_ngram_ratio,
        neardup_threshold=args.neardup_threshold,
        benchmark=bench,
        weights=json.loads(args.weights) if args.weights else None,
    )
    report: dict[str, int] = {"input_docs": stages["input"].count()}
    report["after_quality_and_repetition"] = stages["quality_rep"].count()
    report["after_exact_dedup"] = stages["exact_dedup"].count()
    report["after_neardup"] = stages["neardup"].count()
    if "decontam" in stages:
        report["after_decontamination"] = stages["decontam"].count()
    if "sample" in stages:
        report["after_mixture_sample"] = stages["sample"].count()

    final = stages["sample" if "sample" in stages else
                    ("decontam" if "decontam" in stages else "neardup")]
    out = final.drop("quality", "fingerprint", "dup_ngram_ratio")
    if args.pack_capacity > 0:
        from riksdagen_sentences_spark.operators import packing as PK

        out = PK.pack_into_bins(
            out.withColumnRenamed("bpe_tokens", "tokens"),
            args.pack_capacity,
        )
        report["bins"] = out.agg(
            (F.coalesce(F.max("bin"), F.lit(-1)) + 1).cast("int").alias("b")
        ).first()["b"]
    else:
        out = out.drop("bpe_tokens")
    out.write.mode("overwrite").parquet(os.path.join(args.output, "docs"))
    report["written"] = report[
        "after_mixture_sample" if "sample" in stages
        else ("after_decontamination" if "decontam" in stages
              else "after_neardup")
    ]
    # one-row text write through the Hadoop FS layer (works for any
    # --output URI, not just local paths)
    spark.createDataFrame(
        [(json.dumps(report),)], "value string"
    ).coalesce(1).write.mode("overwrite").text(
        os.path.join(args.output, "report.json")
    )
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
