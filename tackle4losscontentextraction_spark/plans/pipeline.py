"""End-to-end pipeline assembly (the Spark restatement of
scripts/cleanup_pipeline.py — SURVEY §3.1) plus per-partition metrics.

One lineage:

    docs(doc_id, url, lang, spans)              [scan]
      -> extraction.extract                     [one mapInArrow pass]
      -> write extracted parquet (bucketed)     [resume via lineage]
      -> metrics aggregate                      [A7]

The reference's batched variant (cleanup_pipeline_batched.py) dissolves
into bucket partitioning; its success/fail tally is the metrics agg;
its per-article commit is the per-bucket lineage publish."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import extraction
from ..sources import lineage, synth


def run_extraction(docs: DataFrame) -> DataFrame:
    return extraction.extract(docs)


def metrics(extracted: DataFrame) -> DataFrame:
    """A7 analog: empty/error/span tallies (one hash agg)."""
    return extracted.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("error"), 1).otherwise(0)).alias("n_errors"),
        F.sum(F.when(F.col("title") == "", 1).otherwise(0)).alias("n_empty_titles"),
        F.sum(F.when(F.col("publication_date") == "", 1).otherwise(0)).alias("n_empty_dates"),
        F.sum(F.when(F.col("content_chars") == 0, 1).otherwise(0)).alias("n_empty_contents"),
        F.sum("spans_in").alias("spans_in"),
        F.sum("spans_kept").alias("spans_kept"),
    )


def run_job_with_resume(
    spark: SparkSession,
    documents_path: str,
    out_dir: str,
    lineage_dir: str,
    n_buckets: int = 16,
) -> dict:
    """Resumable extraction job: only pending buckets are processed."""
    docs = synth.docs_from_documents(spark.read.parquet(documents_path))
    return lineage.run_with_resume(
        spark, docs, run_extraction, out_dir, lineage_dir, n_buckets=n_buckets
    )
