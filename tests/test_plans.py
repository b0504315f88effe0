"""Physical-plan regression tests: the scale-critical plan shapes must
not silently degrade (shuffles creeping into the extraction path,
broadcast joins reverting to sort-merge, scans losing pushdown)."""

from __future__ import annotations

import pyspark.sql.functions as F

from tackle4losscontentextraction_spark.operators import extraction
from tackle4losscontentextraction_spark.sources import synth


def _executed(df) -> str:
    df.collect()  # let AQE finalize
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_extraction_is_shuffle_free(spark):
    docs = synth.docs_from_documents(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    plan = extraction.extract(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "extraction must stay shuffle-free"
    assert plan.count("MapInArrow") == 1, "extraction must be ONE Arrow pass"


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .where(F.col("o_custkey") == 7)
        .select("o_orderkey")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7)]" in plan
    # column pruning: scan schema must not include untouched columns
    assert "o_orderpriority" not in plan.split("ReadSchema")[1][:200]


def test_small_dim_join_broadcasts(spark):
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    df = c.join(n, c.c_nationkey == n.n_nationkey).groupBy("n_name").count()
    plan = _executed(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_extraction_aggregate_does_not_duplicate_regex(spark):
    """The clean-text chain runs inside the one Arrow pass: no
    regexp_replace may reach the plan, where a HashAggregate (no
    common-subexpression elimination) would inline it into every
    aggregate input (regression for the 71s plan)."""
    from tackle4losscontentextraction_spark.plans.queries import SPARK_QUERIES

    df = SPARK_QUERIES["extract_metrics"](spark, "/root/testdata/sf0.001")
    assert "regexp_replace" not in _optimized(df)


def test_jaccard_guard_single_pass(spark):
    """The df-guard must ride the one posting exchange, not re-derive
    the shingling in a second branch (regression for the r3 ~2x guard
    cost): final plan = one source scan, a Window count on the shingle
    partitioning, and no broadcast anti-join."""
    from tackle4losscontentextraction_spark.operators import dedup

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    df = dedup.jaccard_pairs(docs)
    plan = _executed(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan") == 1, "guard re-derives the shingling"
    assert "Window" in final
    assert "BroadcastExchange" not in final
    # exactly two wide exchanges: posting (shingle) + pair aggregation
    assert final.count("Exchange hashpartitioning") == 2  # exact count pinned against Spark 4.1.2; on a Spark upgrade a spurious failure here means re-audit, not a regression
