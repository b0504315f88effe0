"""Smoke test of the benchmark itself, at tiny sizes.

    python3 -m pytest pipebench/test_smoke.py -q

Runs every workload's setup, one pass and its correctness gate, then
corrupts an output and shows the gate fails. Also checks that the
command fails, printing no result, outside a checkout.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

TINY = {
    "incremental": {"M_DOCS": 120, "K": 2, "B": 20, "STORY_DOCS": 10},
    # MAX_DF below the hot clusters' 32 footer docs, so the df guard acts
    "dedup": {"N_DOCS": 200, "N_CLUSTERS": 16, "CLUSTER_SIZE": 4, "HOT_SHARE": 0.5,
              "MAX_DF": 20},
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = run.start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pyoracle():
    return run._load_pyoracle(ROOT)


@pytest.mark.parametrize("name", sorted(TINY))
def test_workload_gate(name, spark, pyoracle, tmp_path, monkeypatch):
    cls = workloads.WORKLOADS[name]
    for k, v in TINY[name].items():
        monkeypatch.setattr(cls, k, v)
    wl = cls(spark, str(tmp_path), 3, pyoracle)
    assert wl.generate() == wl.generate()
    tr = tracing.NullTracer()
    wl.build_base(tr)
    wl.warmup(tr)
    p = wl.run_pass(tr, 0)
    assert p["docs"] > 0 and p["seconds"] > 0 and p["cluster_s"] > 0
    wl.check()

    # corrupt the last pass's output: drop one written data file
    if name == "incremental":
        victim = sorted(glob.glob(f"{wl.last['wd']}/doc_table/data/*/*/*.parquet"))[-1]
    else:
        victim = sorted(glob.glob(f"{wl.last['wd']}/kept/*.parquet"))[0]
    os.remove(victim)
    with pytest.raises(workloads.CheckFailed):
        wl.check()


def _dedup_pass(spark, pyoracle, tmp_path, monkeypatch):
    for k, v in TINY["dedup"].items():
        monkeypatch.setattr(workloads.Dedup, k, v)
    wl = workloads.Dedup(spark, str(tmp_path), 4, pyoracle)
    wl.generate()
    wl.run_pass(tracing.NullTracer(), 0)
    wl.check()
    return wl, spark.read.parquet(f"{wl.last['wd']}/pairs").orderBy("id_a", "id_b").collect()


def _rewrite_pairs(spark, wl, rows) -> None:
    spark.createDataFrame(rows, "id_a string, id_b string, jaccard double") \
        .write.mode("overwrite").parquet(f"{wl.last['wd']}/pairs")


def test_dedup_gate_rejects_a_missing_pair(spark, pyoracle, tmp_path, monkeypatch):
    wl, pairs = _dedup_pass(spark, pyoracle, tmp_path, monkeypatch)
    _rewrite_pairs(spark, wl, pairs[1:])
    with pytest.raises(workloads.CheckFailed):
        wl.check()


def test_dedup_gate_rejects_an_undercounted_jaccard(spark, pyoracle, tmp_path, monkeypatch):
    wl, pairs = _dedup_pass(spark, pyoracle, tmp_path, monkeypatch)
    # the guard acted: some reported pair is below its exact Jaccard
    text = dict(wl.rows)
    assert any(r.jaccard < gen.jaccard(text[r.id_a], text[r.id_b]) - 1e-3 for r in pairs)
    low = [(r.id_a, r.id_b, r.jaccard) for r in pairs]
    low[0] = (low[0][0], low[0][1], low[0][2] - 0.005)
    _rewrite_pairs(spark, wl, low)
    with pytest.raises(workloads.CheckFailed):
        wl.check()


def test_generator_is_seeded():
    fps = []
    for seed in (1, 1, 2):
        fp = gen.Fingerprint()
        gen.dedup_corpus(seed, 50, 5, 3, 0.5, fp)
        fps.append(fp.hexdigest())
    assert fps[0] == fps[1] != fps[2]


def test_layer_self_and_driver_time():
    tr = tracing.Tracer("t", spark=None)
    tr.spans = [tracing.Span("s0", "root", None, 0.0, 10.0),
                tracing.Span("s1", "merge", "s0", 2.0, 6.0)]
    groups = {"s1": {"intervals": [(3.0, 5.0)], "jobs": 1, "task_cpu_s": 1.5}}
    layers = tracing.layer_metrics(tr, groups)
    assert layers["root"]["self_s"] == pytest.approx(6.0)
    assert layers["root"]["driver_s"] == pytest.approx(6.0)
    assert layers["merge"]["driver_s"] == pytest.approx(2.0)
    assert layers["merge"]["task_cpu_s"] == 1.5


def test_command_fails_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "pipebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    bench = json.loads((tmp_path / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        bench["command"] + ["--workload", "dedup", "--seed", "1", "--seconds", "1",
                            "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
