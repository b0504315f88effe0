"""PySpark-native main-content extraction engine.

A from-scratch, Spark-first rebuild of the query/data-processing
capabilities of BigSlikTobi/Tackle4LossContentExtraction (reference at
/root/reference, studied for semantics only — no code ported).

The reference is a per-row asyncio Python pipeline
(crawl -> extract tagged blocks -> clean -> classify -> embed -> cluster).
This package re-expresses every stage as declarative DataFrame dataflow:

- ``functions``  : scalar column expressions (clean_text regex chain, URL
                   normalization, confidence clamping, vector math, dates).
- ``operators``  : the document-level operators (span extraction,
                   classification, dedup, similarity search, text stats,
                   clustering) — each a DataFrame -> DataFrame function.
- ``sources``    : deterministic span-corpus synthesis, testdata readers,
                   lineage/checkpoint (resume) tables.
- ``plans``      : end-to-end pipeline assembly + metrics.
- ``streaming``  : Structured Streaming ingest wrapper for the same
                   extraction operator.

Design stance (scale-first): the core extraction path is one row-local
``mapInArrow`` pass (RE2 batch cleaning in Arrow, the per-span walk in
Python workers) — it never shuffles, and therefore scales linearly with
executors. Shuffling operators (dedup, clustering, similarity) use
broadcast joins for small sides, salting for skew, and AQE.
"""

__version__ = "0.1.0"
