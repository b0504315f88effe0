"""spark-submit entry point for the resumable extraction job.

Usage (local or cluster — the code is identical; only master/packaging
changes):

    # package the library for executor shipping
    cd /root/repo && zip -qr /tmp/t4l.zip tackle4losscontentextraction_spark

    spark-submit --master local[32] \
        --py-files /tmp/t4l.zip \
        jobs/run_extraction.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --output /tmp/t4l_out --lineage /tmp/t4l_lineage --buckets 16

On a real cluster: --master yarn/k8s, executors sized so a bucket's
output fits in memory, AQE left on (session defaults). Kill the job at
any point; rerunning the same command resumes from the lineage table
without reprocessing completed buckets.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs (python jobs/run_extraction.py) resolve the package from
# the repo root; under spark-submit --py-files the zip provides it
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--html", action="store_true",
                    help="input is raw HTML (doc_id, url, lang, html): "
                         "DOM-tokenize to spans before extraction")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("t4l-extraction").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from tackle4losscontentextraction_spark.operators import extraction
    from tackle4losscontentextraction_spark.plans import pipeline
    from tackle4losscontentextraction_spark.sources import lineage, synth

    raw = spark.read.parquet(args.input)
    if args.html:
        # raw fetched pages (the reference's actual entry surface):
        # DOM-tokenize each page to the span table, then re-attach the
        # fetch metadata the extractor consumes. The join keys are
        # unique per side, so AQE picks a plain shuffle join that
        # scales with executors; at cluster scale pre-bucket both
        # sides on doc_id to make it shuffle-free.
        from tackle4losscontentextraction_spark.operators import html_tokenize

        docs = html_tokenize.tokenize_html(raw).join(
            raw.select("doc_id", "url", "lang"), "doc_id"
        )
    else:
        docs = synth.docs_from_documents(raw)
    result = lineage.run_with_resume(
        spark, docs, extraction.extract, args.output, args.lineage, n_buckets=args.buckets
    )
    extracted = spark.read.parquet(args.output)
    m = pipeline.metrics(extracted).collect()[0].asDict()
    print(json.dumps({"resume": result, "metrics": m}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
