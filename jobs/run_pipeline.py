"""spark-submit entry point for the FULL article pipeline — the Spark
restatement of the reference's per-article chain
(``src/modules/article_processor.py:21-146``: url fix -> extract ->
clean/classify -> DB update -> embed -> vector insert) as ONE resumable
job, composed from the library stages:

    docs(doc_id, url, lang, spans | html)     [scan; --html DOM-tokenizes]
      -> extraction.extract                   [F1,F2,F5,L2,L3,C1: one mapInArrow pass]
      -> write extracted (bucketed, lineage)  [kill/rerun resumes pending buckets]
      -> R5 gate: error rows stop here        [status-column filter, no exception]
      -> main_content join + hash embedding   [A1 + L4, L2-normalized]
      -> MERGE into doc table                 [S12/S14: snapshot-atomic upsert,
                                               is_processed=true  — the
                                               reference's update_article_in_db]
      -> MERGE into vector table              [S13: embedding insert]
      -> optional incremental clustering      [--cluster: assign/merge/maintain
                                               with state under --workdir]
      -> metrics JSON on stdout               [A7 tally]

Every stage is idempotent: extraction resumes from per-bucket lineage,
the MERGEs are keyed upserts into snapshot tables (re-merging the same
rows produces an identical snapshot), and clustering state (clusters +
accumulated memberships) lives under the workdir, so a killed run can
simply be re-submitted — the reference needs a /tmp lock file plus
manual cleanup for the same property (``lock_manager.py:13``).

    cd /root/repo && zip -qr /tmp/t4l.zip tackle4losscontentextraction_spark

    spark-submit --master local[32] \
        --py-files /tmp/t4l.zip \
        jobs/run_pipeline.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --workdir /tmp/t4l_pipeline --buckets 16 [--html] [--cluster]

Workdir layout:
    extracted/   bucketed extraction output (resume unit)
    lineage/     per-bucket done markers
    doc_table/   snapshot table of cleaned articles (is_processed=true)
    vec_table/   snapshot table of (doc_id, embedding)
    clusters/ memberships/   clustering state (with --cluster)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--html", action="store_true",
                    help="input is raw HTML (doc_id, url, lang, html)")
    ap.add_argument("--spans", action="store_true",
                    help="input is already span-shaped (doc_id, url, "
                         "lang, spans) — the pipeline's native table "
                         "layout; skip the documents->spans synthesis")
    ap.add_argument("--cluster", action="store_true",
                    help="also run incremental clustering on new embeddings")
    ap.add_argument("--dim", type=int, default=64, help="embedding dim")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("t4l-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from tackle4losscontentextraction_spark.functions import embeddings as emb_fn
    from tackle4losscontentextraction_spark.operators import extraction, merge
    from tackle4losscontentextraction_spark.plans import pipeline
    from tackle4losscontentextraction_spark.sources import lineage, synth

    wd = args.workdir.rstrip("/")
    extracted_dir, lineage_dir = f"{wd}/extracted", f"{wd}/lineage"
    doc_table, vec_table = f"{wd}/doc_table", f"{wd}/vec_table"

    # per-stage wall times (VERDICT r5 task 1: the composed pipeline
    # needs a stage profile, not one opaque number)
    import time as _time
    stage_sec: dict[str, float] = {}
    _t0 = _time.perf_counter()

    def _mark(name: str) -> None:
        nonlocal _t0
        stage_sec[name] = round(_time.perf_counter() - _t0, 3)
        _t0 = _time.perf_counter()

    # ---- stage 1: extract (resumable) -------------------------------
    raw = spark.read.parquet(args.input)
    if args.html:
        from tackle4losscontentextraction_spark.operators import html_tokenize

        docs = html_tokenize.tokenize_html(raw).join(
            raw.select("doc_id", "url", "lang"), "doc_id")
    elif args.spans:
        docs = raw.select("doc_id", "url", "lang", "spans")
    else:
        docs = synth.docs_from_documents(raw)
    resume = lineage.run_with_resume(
        spark, docs, extraction.extract, extracted_dir, lineage_dir,
        n_buckets=args.buckets)
    _mark("extract_write")

    extracted = spark.read.parquet(extracted_dir)
    m = pipeline.metrics(extracted).collect()[0].asDict()
    _mark("metrics")

    # ---- stage 2: R5 gate + doc-table MERGE -------------------------
    # error rows stop here (the reference skips DB update + embedding
    # when a step fails — article_processor.py:108-146); they stay in
    # extracted/ for inspection and are NOT marked processed, so a
    # later code fix + lineage reset reprocesses exactly them.
    ok = extracted.where(~F.col("error"))
    articles = ok.select(
        "doc_id", "url_norm", "title", "author", "publication_date",
        "cleaned_date", "content_type", "type_confidence",
        extraction.main_content(F.col("extracted")).alias("main_content"),
        F.lit(True).alias("is_processed"),
    )
    doc_res = merge.merge_write(spark, doc_table, articles,
                                key="doc_id", n_buckets=args.buckets)
    _mark("doc_merge")

    # ---- stage 3: embed + vector-table MERGE ------------------------
    # Arrow embed twin (bit-identical to hash_embed, see
    # embeddings.embed_select_arrow): the Catalyst fold's
    # O(tokens x dim) interpreted ops dominated this stage
    vectors = emb_fn.embed_select_arrow(
        articles.where(F.col("main_content") != ""),
        id_col="doc_id", text_col="main_content", dim=args.dim,
    )
    vec_res = merge.merge_write(spark, vec_table, vectors,
                                key="doc_id", n_buckets=args.buckets)
    _mark("embed_vec_merge")

    out = {
        "resume": resume,
        "stage_sec": stage_sec,
        "metrics": m,
        "doc_table": {"snapshot": doc_res["snapshot"],
                      "rows_written": doc_res["rows_written"]},
        "vec_table": {"snapshot": vec_res["snapshot"],
                      "rows_written": vec_res["rows_written"]},
    }

    # ---- stage 4 (optional): incremental clustering -----------------
    if args.cluster:
        from tackle4losscontentextraction_spark.plans import cluster_pipeline

        vecs = merge.read_table(spark, vec_table).select(
            F.xxhash64("doc_id").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        all_vecs = vecs
        from tackle4losscontentextraction_spark import fsutil

        # clustering state is versioned as one unit: state/v<N>/ holds
        # clusters/ + memberships/ together; publishing v<N> = writing
        # both dirs fully, then renaming committed-v<N>.tmp into place
        # (merge_write's manifest protocol: rename is the commit, the
        # live version is the max committed N, a kill anywhere leaves
        # v<N-1> fully readable and both tables always consistent)
        state_dir = f"{wd}/cluster_state"
        committed = [int(n[len("committed-v"):]) for n in
                     fsutil.list_names(spark, state_dir)
                     if n.startswith("committed-v")
                     and n[len("committed-v"):].isdigit()]
        cur_ver = max(committed, default=-1)
        clusters_dir = f"{state_dir}/v{cur_ver}/clusters"
        members_dir = f"{state_dir}/v{cur_ver}/memberships"
        prior = (spark.read.parquet(clusters_dir)
                 if cur_ver >= 0 else None)
        if prior is not None:
            # S4 semantics (fetch_unclustered_articles): an incremental
            # run clusters only vectors without a membership — already-
            # assigned vectors keep their cluster; prior pendings get
            # re-tried against the clusters later runs created
            vecs = vecs.join(
                spark.read.parquet(members_dir).select("vec_id"),
                "vec_id", "left_anti")
        cres = cluster_pipeline.run_clustering(spark, vecs, prior)
        members = cres["assignments"].select("vec_id", "cluster_id")
        if prior is not None:
            members = cluster_pipeline.reconcile_memberships(
                members, spark.read.parquet(members_dir),
                cres["merge_mapping"])
        maint = cluster_pipeline.run_maintenance(
            cres["clusters"], members, all_vecs)
        # the published membership state reflects maintenance: members
        # of dropped (<2-member) clusters are unassigned, not carried
        members = members.join(maint["unassign"].select("vec_id"),
                               "vec_id", "left_anti")
        # publish: write v<N+1> fully (the lazy plans read v<N>'s
        # files, which stay untouched), then commit by atomic rename
        new_ver = cur_ver + 1
        maint["clusters"].write.mode("overwrite").parquet(
            f"{state_dir}/v{new_ver}/clusters")
        members.write.mode("overwrite").parquet(
            f"{state_dir}/v{new_ver}/memberships")
        tmp = f"{state_dir}/committed-v{new_ver}.tmp"
        fsutil.write_text(spark, tmp, str(new_ver))
        if not fsutil.publish_file(spark, tmp, f"{state_dir}/committed-v{new_ver}"):
            # the marker already exists (lost race or leftover from a
            # partial prior run): the v<N+1> dirs we wrote are NOT the
            # committed state — surface the conflict instead of
            # reporting a version that never published
            fsutil.delete_dir(spark, tmp)
            raise RuntimeError(
                f"cluster-state version {new_ver} was already committed in "
                f"{state_dir}; re-run to retry against the committed state"
            )
        out["clustering"] = {
            "state_version": new_ver,
            "clusters": spark.read.parquet(
                f"{state_dir}/v{new_ver}/clusters").count(),
            "memberships": spark.read.parquet(
                f"{state_dir}/v{new_ver}/memberships").count(),
            "unassigned": maint["unassign"].count(),
        }

    print(json.dumps(out, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
