"""Structured Streaming ingest for the extraction pipeline.

The reference is cron-batch only (hourly GitHub Action — SURVEY §2.9);
this module is the Spark-native upgrade path: the SAME extraction
operator applied to a file stream, giving continuous ingest with
exactly-once file-source semantics and checkpoint-based resume (the
streaming twin of sources/lineage.py).

Because ``operators.extraction.extract`` is one row-local
``mapInArrow`` pass (each output row depends on its input row only), it
is trivially streamable — no watermark needed for the stateless path.
``windowed_metrics`` adds the stateful example: per-window content-type
counts with a watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import extraction

DOCS_SCHEMA = (
    "doc_id string, url string, lang string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "ingest_ts timestamp"
)


def read_docs_stream(spark: SparkSession, input_dir: str, max_files: int = 10) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def extract_stream(docs_stream: DataFrame) -> DataFrame:
    """Stateless streaming extraction — identical operator as batch."""
    return extraction.extract(docs_stream.drop("ingest_ts")).withColumn(
        "processed_at", F.current_timestamp()
    )


def windowed_metrics(docs_stream: DataFrame, window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Stateful: per-window content-type counts with late-data watermark."""
    extracted = extraction.extract(docs_stream, passthrough=["ingest_ts"])
    return (
        extracted.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window), "content_type")
        .agg(F.count("*").alias("n_docs"), F.sum("spans_kept").alias("spans_kept"))
        .select(
            F.col("window.start").alias("window_start"),
            "content_type", "n_docs", "spans_kept",
        )
    )


def start_to_parquet(
    result: DataFrame, out_dir: str, checkpoint_dir: str, mode: str = "append"
) -> StreamingQuery:
    return (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
