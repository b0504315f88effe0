"""Round-6 optimization measurement harness (bench.py is FROZEN; all
extra instrumentation lives here — guide §1).

Modes:
  --queries [names...]  : per-headline-query timing split into PLAN time
                          (analysis+optimization+physical planning, the
                          driver-side cost paid on every invocation) and
                          EXEC time (same _count_rows shape bench.py
                          times), plus .explain("formatted") captured to
                          plans/r06/<name>_<tag>.txt
  --extract [n_docs]    : the headline extraction job over the synth
                          corpus, noop-sink isolated
  --tag before|after    : suffix for the captured plan files
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "extract_spans", "extract_meta", "extract_metrics",
    "pricing_summary", "topk_per_group", "dedup_minhash",
    "dedup_jaccard", "ann_search", "text_stats", "events_sessions",
]


def _load1():
    try:
        return round(os.getloadavg()[0], 1)
    except OSError:
        return None


def _count_rows(df) -> int:
    from pyspark.sql import functions as F

    cols = df.columns
    probe = [c for c in ("text", "cleaned", "title", "fingerprint") if c in cols]
    if probe:
        return df.agg(
            F.count("*").alias("n"), F.sum(F.length(probe[0])).alias("_force")
        ).collect()[0].n
    return df.count()


def run_queries(names: list[str], tag: str, reps: int = 3) -> None:
    from tackle4losscontentextraction_spark.plans.queries import SPARK_QUERIES
    from tackle4losscontentextraction_spark.session import get_spark

    spark = get_spark(app_name="t4l-bench-extra", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    plan_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plan_dir, exist_ok=True)
    out: dict = {"sf_dir": SF_DIR, "cpus": CPUS, "tag": tag, "queries": {}}
    for name in names:
        fn = SPARK_QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        # plan time: build the DataFrame and force full query planning
        plan_best, exec_best = 1e18, 1e18
        plan_str = None
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            _ = df._jdf.queryExecution().executedPlan()  # analyze+optimize+plan
            plan_best = min(plan_best, time.perf_counter() - t0)
        for _ in range(reps):
            df = fn(spark, SF_DIR)
            t0 = time.perf_counter()
            _count_rows(df)
            exec_best = min(exec_best, time.perf_counter() - t0)
        df = fn(spark, SF_DIR)
        plan_str = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(plan_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan_str)
        out["queries"][name] = {
            "plan_sec": round(plan_best, 3),
            "exec_sec": round(exec_best, 3),
            "load_1min": _load1(),
        }
        print(name, out["queries"][name], flush=True)
    spark.stop()
    path = os.path.join(REPO, "BENCH", f"r06_queries_{tag}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


def run_extract(n_docs: int, tag: str, reps: int = 4) -> None:
    from pyspark.sql import functions as SF

    from tackle4losscontentextraction_spark.operators import extraction
    from tackle4losscontentextraction_spark.session import get_spark
    from tackle4losscontentextraction_spark.sources import synth

    spark = get_spark(app_name="t4l-bench-extra-extract", cores=CPUS,
                      shuffle_partitions=max(CPUS, 16))
    spark.sparkContext.setLogLevel("ERROR")
    big = synth.synth_docs(spark, n_docs, partitions=max(4 * CPUS, 64)).cache()
    big.count()
    spark.sparkContext.setJobDescription("bench_extra:extract")
    best = 1e18
    for _ in range(reps):
        t0 = time.perf_counter()
        extraction.extract(big).agg(SF.count("*"), SF.sum("content_chars")).collect()
        sec = time.perf_counter() - t0
        best = min(best, sec)
        print("extract", round(sec, 3), "load", _load1(), flush=True)
    out = {
        "n_docs": n_docs, "cpus": CPUS, "tag": tag, "load_1min": _load1(),
        "extract_sec": round(best, 3),
        "docs_per_sec_best": round(n_docs / best, 1),
    }
    plan_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plan_dir, exist_ok=True)
    plan_str = extraction.extract(big)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    with open(os.path.join(plan_dir, f"extract_{tag}.txt"), "w") as f:
        f.write(plan_str)
    spark.stop()
    with open(os.path.join(REPO, "BENCH", f"r06_extract_{tag}.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    args = sys.argv[1:]
    tag = "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i:i + 2]
    if args and args[0] == "--queries":
        names = args[1:] or HEADLINE
        run_queries(names, tag)
    elif args and args[0] == "--extract":
        n = int(args[1]) if len(args) > 1 else 600_000
        run_extract(n, tag)
    else:
        print("usage: bench_extra.py [--tag T] --queries [names...] | --extract [n]")
