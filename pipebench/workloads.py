"""The workloads, composed from the library's public calls in the
order ``jobs/run_pipeline.py`` and ``jobs/run_dedup.py`` use them.

Each workload has ``generate()`` (inputs from the seed; returns their
fingerprint), ``build_base()`` and ``warmup()`` (the rest of set-up),
``run_pass()`` (one closed-loop pass: the next batch is submitted only
after the previous one commits) and ``check()`` (the correctness gate on
the last pass's outputs). Every call into a layer runs inside a tracer
span named after the layer's module.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tackle4losscontentextraction_spark import fsutil
from tackle4losscontentextraction_spark.functions import embeddings as emb_fn
from tackle4losscontentextraction_spark.operators import dedup, extraction, html_tokenize, merge
from tackle4losscontentextraction_spark.plans import cluster_pipeline, pipeline
from tackle4losscontentextraction_spark.sources import lineage

import gen

N_BUCKETS = 16   # jobs/run_pipeline.py default
DIM = 64         # jobs/run_pipeline.py default
ORACLE_SAMPLE = 100

HTML_DOCS = pa.schema([("doc_id", pa.string()), ("url", pa.string()),
                       ("lang", pa.string()), ("html", pa.string())])
TEXT_DOCS = pa.schema([("doc_id", pa.string()), ("text", pa.string())])


def write_parquet(rows: list[dict], schema: pa.Schema, path: str, files: int = 8) -> None:
    """``rows`` as ``files`` parquet files under ``path``: an input
    split across files scans in as many tasks, as a real table would;
    one small file is one task, one core."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-len(rows) // files)
    for i in range(0, len(rows), step):
        pq.write_table(pa.Table.from_pylist(rows[i:i + step], schema=schema),
                       "%s/part-%05d.parquet" % (path, i // step))


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def ingest(spark, tr, raw, wd: str, doc_table: str, vec_table: str) -> dict:
    """One batch of raw HTML through the article pipeline: tokenize ->
    extract (lineage-resumed) -> metrics -> error gate -> doc MERGE ->
    embed -> vector MERGE."""
    with tr.span("html_tokenize"):
        docs = html_tokenize.tokenize_html(raw).join(
            raw.select("doc_id", "url", "lang"), "doc_id")

    def transform(df):
        with tr.span("extraction"):
            return pipeline.run_extraction(df)

    with tr.span("lineage", python_owner="html_tokenize"):
        resume = lineage.run_with_resume(
            spark, docs, transform, f"{wd}/extracted", f"{wd}/lineage",
            n_buckets=N_BUCKETS)
    tr.note("lineage", files_written=lambda: _count_files(f"{wd}/extracted"))
    extracted = spark.read.parquet(f"{wd}/extracted")
    with tr.span("extraction"):
        mdf = pipeline.metrics(extracted)
        m = mdf.collect()[0].asDict()
    tr.hold("extraction", mdf)
    tr.note("extraction", spans_in=m["spans_in"], spans_kept=m["spans_kept"],
            error_rows=m["n_errors"])
    ok = extracted.where(~F.col("error"))
    articles = ok.select(
        "doc_id", "url_norm", "title", "author", "publication_date",
        "cleaned_date", "content_type", "type_confidence",
        extraction.main_content(F.col("extracted")).alias("main_content"),
        F.lit(True).alias("is_processed"),
    )
    with tr.span("merge", table="doc"):
        doc_res = merge.merge_write(spark, doc_table, articles,
                                    key="doc_id", n_buckets=N_BUCKETS)
    with tr.span("embeddings"):
        vectors = emb_fn.embed_select_arrow(
            articles.where(F.col("main_content") != ""),
            id_col="doc_id", text_col="main_content", dim=DIM)
    with tr.span("merge", table="vec", python_owner="embeddings"):
        vec_res = merge.merge_write(spark, vec_table, vectors,
                                    key="doc_id", n_buckets=N_BUCKETS)
    for table, res in ((doc_table, doc_res), (vec_table, vec_res)):
        tr.note("merge", rows_written=res["rows_written"],
                buckets_touched=len(res["touched_buckets"]),
                bytes_written_mb=lambda t=table, s=res["snapshot"]: _snapshot_mb(t, s))
    return {"resume": resume, "metrics": m, "doc": doc_res, "vec": vec_res}


def _count_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def _snapshot_mb(table: str, snap: int) -> float:
    """Bytes of the data files snapshot ``snap`` wrote (its staging dir)."""
    data = f"{table}/data"
    return sum(_parquet_bytes(os.path.join(data, name)) for name in os.listdir(data)
               if name.startswith("snap-%d-" % snap)) / 2**20


def _oracle_check(spark, extracted_dir: str, docs: list[dict], seed: int,
                  pyoracle) -> None:
    """A seeded sample of extracted rows equals tests/pyoracle.extract_doc."""
    sample = random.Random(seed).sample(docs, min(ORACLE_SAMPLE, len(docs)))
    want = {d["doc_id"]: pyoracle.extract_doc(d) for d in sample}
    got = {r.doc_id: r for r in spark.read.parquet(extracted_dir)
           .where(F.col("doc_id").isin(list(want))).collect()}
    expect(set(got) == set(want), "oracle sample: %d of %d docs extracted"
           % (len(set(got) & set(want)), len(want)))
    for doc_id, exp in want.items():
        g = got[doc_id]
        seq = [(s.kind, s.text, s.media_ref, s.offset) for s in g.extracted]
        eseq = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp["extracted"]]
        expect(seq == eseq, "oracle: spans differ for " + doc_id)
        for k in ("url_norm", "title", "author", "publication_date", "cleaned_date",
                  "content_type", "error", "spans_in", "spans_kept", "content_chars"):
            expect(getattr(g, k) == exp[k], "oracle: %s differs for %s" % (k, doc_id))
        expect(abs(g.type_confidence - exp["type_confidence"]) < 1e-9,
               "oracle: type_confidence differs for " + doc_id)


def _main_content(oracle_row: dict) -> str:
    return "\n\n".join(s["text"] for s in oracle_row["extracted"]
                       if s["kind"] not in ("image", "video"))


def _table_ids(spark, table: str) -> set[str]:
    return {r.doc_id for r in merge.read_table(spark, table).select("doc_id").collect()}


def cluster_job(spark, tr, vec_table: str, state_dir: str) -> int:
    """``jobs/run_pipeline.py --cluster``: cluster the vectors without a
    membership against the committed state v<N>, then publish v<N+1>
    (both dirs written, then the commit marker published), then count
    clusters, memberships and unassigned vectors for the job's report.
    The publish copies the job's inline code; no library call offers it
    yet."""
    vecs = merge.read_table(spark, vec_table).select(
        F.xxhash64("doc_id").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    all_vecs = vecs
    committed = [int(n[len("committed-v"):]) for n in fsutil.list_names(spark, state_dir)
                 if n.startswith("committed-v") and n[len("committed-v"):].isdigit()]
    cur_ver = max(committed, default=-1)
    clusters_dir = f"{state_dir}/v{cur_ver}/clusters"
    members_dir = f"{state_dir}/v{cur_ver}/memberships"
    with tr.span("cluster_pipeline"):
        prior = spark.read.parquet(clusters_dir) if cur_ver >= 0 else None
        if prior is not None:
            vecs = vecs.join(spark.read.parquet(members_dir).select("vec_id"),
                             "vec_id", "left_anti")
        cres = cluster_pipeline.run_clustering(spark, vecs, prior)
        members = cres["assignments"].select("vec_id", "cluster_id")
        if prior is not None:
            members = cluster_pipeline.reconcile_memberships(
                members, spark.read.parquet(members_dir), cres["merge_mapping"])
        maint = cluster_pipeline.run_maintenance(cres["clusters"], members, all_vecs)
        members = members.join(maint["unassign"].select("vec_id"), "vec_id", "left_anti")
        new_ver = cur_ver + 1
        maint["clusters"].write.mode("overwrite").parquet(f"{state_dir}/v{new_ver}/clusters")
        members.write.mode("overwrite").parquet(f"{state_dir}/v{new_ver}/memberships")
        tmp = f"{state_dir}/committed-v{new_ver}.tmp"
        fsutil.write_text(spark, tmp, str(new_ver))
        if not fsutil.publish_file(spark, tmp, f"{state_dir}/committed-v{new_ver}"):
            raise RuntimeError("cluster-state version %d already committed" % new_ver)
        # the job's report: these counts re-read the state and re-run
        # the maintenance plan, so a submission pays for them
        spark.read.parquet(f"{state_dir}/v{new_ver}/clusters").count()
        spark.read.parquet(f"{state_dir}/v{new_ver}/memberships").count()
        maint["unassign"].count()
    tr.note("cluster_pipeline", pending_deferred=lambda: cres["pending"].count())
    return new_ver


class Incremental:
    """K sequential raw-HTML batches of B docs (half updates to existing
    doc_ids, half new docs) into doc and vector tables of M docs with
    prior cluster state, then one clustering job. Every pass starts
    from an identical copy of the set-up state."""

    name = "incremental"
    M_DOCS = 800
    K = 2
    ops_per_pass = K + 1
    B = 100
    STORY_DOCS = 20
    NEW_STORIES = 5

    def __init__(self, spark, work: str, seed: int, pyoracle) -> None:
        self.spark, self.work, self.seed, self.pyoracle = spark, work, seed, pyoracle
        self.base = f"{work}/base"
        self.last: dict = {}

    def generate(self) -> str:
        fp = gen.Fingerprint()
        rng = random.Random(self.seed)
        n_base_stories = self.M_DOCS // self.STORY_DOCS
        n_new = self.K * self.B // 2
        g = gen.DocGen(self.seed, n_stories=n_base_stories + self.NEW_STORIES)
        self.story_of: dict[str, int] = {}
        self.base_docs = []
        for i in range(self.M_DOCS):
            d = g.make(i, i % n_base_stories)
            self.story_of[d["doc_id"]] = i % n_base_stories
            self.base_docs.append(d)
        updated = rng.sample(range(self.M_DOCS), n_new)
        self.batches: list[list[dict]] = []
        for k in range(self.K):
            batch = []
            for j in range(self.B // 2):
                t = k * (self.B // 2) + j
                num = updated[t]
                batch.append(g.make(num, num % n_base_stories))
                # every 4th new doc goes to one of a fixed set of new
                # stories, the rest to existing ones, in rotation: every
                # seed gives the clustering job the same story mix
                story = (n_base_stories + (t // 4) % self.NEW_STORIES if t % 4 == 0
                         else t % n_base_stories)
                batch.append(g.make(self.M_DOCS + t, story))
            self.batches.append(batch)
        for name, docs in [("base", self.base_docs)] + [
                ("batch%d" % k, b) for k, b in enumerate(self.batches)]:
            rows = [{"doc_id": d["doc_id"], "url": d["url"], "lang": d["lang"],
                     "html": gen.render_html(d)} for d in docs]
            for r in rows:
                fp.add(r["doc_id"], r["url"], r["lang"], r["html"])
            write_parquet(rows, HTML_DOCS, f"{self.work}/in/{name}")
        # the doc table's final state: the last error-free version of each id
        self.latest_ok: dict[str, dict] = {}
        for d in self.base_docs + [d for b in self.batches for d in b]:
            if not gen.is_error_doc(d):
                self.latest_ok[d["doc_id"]] = d
        return fp.hexdigest()

    def build_base(self, tr) -> None:
        """Doc and vector tables of the M base docs, through the same
        stages as a batch (so they are compiled and warm), plus cluster
        state v0: one cluster per story, centroid = mean of its members'
        embeddings."""
        shutil.rmtree(self.base, ignore_errors=True)
        ingest(self.spark, tr, self.spark.read.parquet(f"{self.work}/in/base"),
               f"{self.base}/ingest", f"{self.base}/doc_table", f"{self.base}/vec_table")
        shutil.rmtree(f"{self.base}/ingest")
        rows = merge.read_table(self.spark, f"{self.base}/vec_table").select(
            "doc_id", F.xxhash64("doc_id").alias("vec_id"), "embedding").collect()
        by_story: dict[int, list] = {}
        for r in rows:
            by_story.setdefault(self.story_of[r.doc_id], []).append(r)
        clusters, members = [], []
        for story, rs in sorted(by_story.items()):
            if len(rs) < 2:
                continue
            cid = "story-%05d" % story
            dim = len(rs[0].embedding)
            centroid = [sum(r.embedding[j] for r in rs) / len(rs) for j in range(dim)]
            clusters.append((cid, centroid, len(rs), False))
            members.extend((r.vec_id, cid) for r in rs)
        state = f"{self.base}/cluster_state"
        self.spark.createDataFrame(
            clusters, "cluster_id string, centroid array<double>, member_count bigint, repaired boolean"
        ).write.parquet(f"{state}/v0/clusters")
        self.spark.createDataFrame(members, "vec_id bigint, cluster_id string") \
            .write.parquet(f"{state}/v0/memberships")
        with open(f"{state}/committed-v0", "w") as f:
            f.write("0")

    def warmup(self, tr) -> None:
        """build_base ran the batch stages, so they are compiled and warm.
        The clustering job is not warmed: a cold and a warm run of it
        (about 30 s each) do not both fit the run budget, so cluster_s
        is the job's cold-JVM cost, as each ``run_pipeline.py --cluster``
        submission pays it."""

    def _pass(self, tr, tag: str) -> dict:
        wd = f"{self.work}/{tag}"
        shutil.rmtree(wd, ignore_errors=True)
        for sub in ("doc_table", "vec_table", "cluster_state"):
            shutil.copytree(f"{self.base}/{sub}", f"{wd}/{sub}")
        out = {"wd": wd, "batch_s": [], "res": []}
        for k in range(self.K):
            with tr.span("ingest_batch"):
                t0 = time.perf_counter()
                res = ingest(self.spark, tr, self.spark.read.parquet(f"{self.work}/in/batch{k}"),
                             f"{wd}/batch{k}", f"{wd}/doc_table", f"{wd}/vec_table")
                out["batch_s"].append(time.perf_counter() - t0)
            out["res"].append(res)
        with tr.span("cluster_job"):
            t0 = time.perf_counter()
            out["version"] = cluster_job(self.spark, tr, f"{wd}/vec_table", f"{wd}/cluster_state")
            out["cluster_s"] = time.perf_counter() - t0
        return out

    def run_pass(self, tr, i: int) -> dict:
        if self.last:
            shutil.rmtree(self.last["wd"], ignore_errors=True)
        out = self._pass(tr, "pass%d" % i)
        self.last = out
        written = src = 0
        for k, res in enumerate(out["res"]):
            n_ok = sum(1 for d in self.batches[k] if not gen.is_error_doc(d))
            expect(res["resume"]["rows"] == self.B, "batch %d lineage rows" % k)
            expect(res["metrics"]["n_docs"] - res["metrics"]["n_errors"] == n_ok,
                   "batch %d error gate" % k)
            written += res["doc"]["rows_written"] + res["vec"]["rows_written"]
            src += 2 * n_ok
        expect(out["version"] == 1, "cluster state version %d != 1" % out["version"])
        return {"docs": self.K * self.B, "batch_s": out["batch_s"],
                "cluster_s": out["cluster_s"], "written": written,
                "source": src, "seconds": sum(out["batch_s"]) + out["cluster_s"]}

    def check(self) -> None:
        wd, spark = self.last["wd"], self.spark
        want = set(self.latest_ok)
        expect(_table_ids(spark, f"{wd}/doc_table") == want, "doc table ids")
        expect(_table_ids(spark, f"{wd}/vec_table") == want, "vec table ids")
        k = self.K - 1
        _oracle_check(spark, f"{wd}/batch{k}/extracted", self.batches[k], self.seed,
                      self.pyoracle)
        # MERGE replaced updated rows: the doc table holds each sampled
        # doc's latest version
        sample = random.Random(self.seed).sample(sorted(want), min(ORACLE_SAMPLE, len(want)))
        got = {r.doc_id: r.main_content for r in merge.read_table(spark, f"{wd}/doc_table")
               .where(F.col("doc_id").isin(sample)).select("doc_id", "main_content").collect()}
        for doc_id in sample:
            exp = _main_content(self.pyoracle.extract_doc(self.latest_ok[doc_id]))
            expect(got.get(doc_id) == exp, "doc table main_content for " + doc_id)
        state = f"{wd}/cluster_state"
        expect(sorted(n for n in os.listdir(state) if not n.startswith(".")) ==
               ["committed-v0", "committed-v1", "v0", "v1"], "cluster state versions")
        clusters = spark.read.parquet(f"{state}/v1/clusters").select(
            "cluster_id", "member_count").collect()
        ids = {r.cluster_id for r in clusters}
        expect(all(r.member_count >= 2 for r in clusters), "cluster member_count < 2")
        orphans = spark.read.parquet(f"{state}/v1/memberships").where(
            ~F.col("cluster_id").isin(list(ids))).count()
        expect(orphans == 0, "%d memberships point at missing clusters" % orphans)


class Dedup:
    """``jobs/run_dedup.py --method minhash --keep``: LSH candidates ->
    Jaccard verify -> pair write -> survivors (connected components over
    the pair graph) -> survivor write."""

    name = "dedup"
    ops_per_pass = 1
    N_DOCS = 1000
    N_CLUSTERS = 120
    CLUSTER_SIZE = 5
    HOT_SHARE = 0.45
    THRESHOLD = 0.8   # run_dedup.py's default for minhash
    MAX_DF = 100      # jaccard_pairs' default, which run_dedup.py keeps

    def __init__(self, spark, work: str, seed: int, pyoracle) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.last: dict = {}

    def generate(self) -> str:
        fp = gen.Fingerprint()
        self.rows = gen.dedup_corpus(
            self.seed, self.N_DOCS, self.N_CLUSTERS, self.CLUSTER_SIZE, self.HOT_SHARE, fp)
        # 32 files: the CPU-bound minhash scan then runs as 8 even waves
        # on 4 cores; with 8 files, 2 uneven waves made passes vary ~10%
        write_parquet([{"doc_id": i, "text": t} for i, t in self.rows],
                      TEXT_DOCS, f"{self.work}/in/main", files=32)
        self.input_bytes = _parquet_bytes(f"{self.work}/in/main")
        return fp.hexdigest()

    def build_base(self, tr) -> None:
        pass

    def warmup(self, tr) -> None:
        """One full pass: a smaller one leaves the JIT state of the
        shingle and hash loops, and so the timed passes, varying from
        run to run."""
        self._pass(tr, "warmup", f"{self.work}/in/main")

    def _pass(self, tr, tag: str, path: str) -> dict:
        spark, wd = self.spark, f"{self.work}/{tag}"
        shutil.rmtree(wd, ignore_errors=True)
        docs = spark.read.parquet(path)
        with tr.span("dedup_job"):
            t0 = time.perf_counter()
            with tr.span("dedup", step="candidates"):
                cand = dedup.minhash_lsh_candidates(docs, id_col="doc_id", text_col="text")
            with tr.span("dedup", step="verify"):
                verified = dedup.jaccard_pairs(
                    docs.join(cand.select(F.col("id_a").alias("doc_id"))
                              .unionByName(cand.select(F.col("id_b").alias("doc_id")))
                              .distinct(), "doc_id"),
                    id_col="doc_id", text_col="text", threshold=self.THRESHOLD,
                    max_df=self.MAX_DF)
                pairs = verified.join(cand, ["id_a", "id_b"], "left_semi")
                pairs.write.mode("overwrite").parquet(f"{wd}/pairs")
                pairs = spark.read.parquet(f"{wd}/pairs")
                n_pairs = pairs.count()
            t1 = time.perf_counter()
            with tr.span("dedup", step="survivors"):
                kept = dedup.keep_survivors(docs, pairs, id_col="doc_id")
                kept.write.mode("overwrite").parquet(f"{wd}/kept")
                n_kept = spark.read.parquet(f"{wd}/kept").count()
                n_docs = docs.count()
            t2 = time.perf_counter()
        tr.note("dedup", candidates=lambda: cand.count(), pairs=n_pairs)
        return {"wd": wd, "batch_s": t1 - t0, "cluster_s": t2 - t1,
                "n_pairs": n_pairs, "n_kept": n_kept, "n_docs": n_docs}

    def run_pass(self, tr, i: int) -> dict:
        if self.last:
            shutil.rmtree(self.last["wd"], ignore_errors=True)
        out = self._pass(tr, "pass%d" % i, f"{self.work}/in/main")
        self.last = out
        expect(out["n_docs"] == self.N_DOCS, "dedup input rows")
        return {"docs": self.N_DOCS, "batch_s": [out["batch_s"]],
                "cluster_s": out["cluster_s"],
                "written": _parquet_bytes(f"{out['wd']}/pairs")
                + _parquet_bytes(f"{out['wd']}/kept"),
                "source": self.input_bytes,
                "seconds": out["batch_s"] + out["cluster_s"]}

    def check(self) -> None:
        wd, spark = self.last["wd"], self.spark
        want = gen.minhash_dedup_pairs(self.rows, self.THRESHOLD, self.MAX_DF)
        got = {(r.id_a, r.id_b): r.jaccard for r in spark.read.parquet(f"{wd}/pairs").collect()}
        expect(set(got) == set(want), "pair set: %d reported, %d expected, %d in common"
               % (len(got), len(want), len(set(got) & set(want))))
        for p, j in got.items():
            expect(abs(j - want[p]) < 1e-6, "pair %s,%s: reported %.6f, reference %.6f"
                   % (p[0], p[1], j, want[p]))
        kept = {r.doc_id for r in spark.read.parquet(f"{wd}/kept").select("doc_id").collect()}
        expect(kept == gen.survivors([i for i, _ in self.rows], want), "survivor set")


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


WORKLOADS = {w.name: w for w in (Incremental, Dedup)}
