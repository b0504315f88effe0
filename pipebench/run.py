"""Layered benchmark of the article pipeline.

    python3 pipebench/run.py --workload {incremental,dedup} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run is one process: it starts Spark
on ``local[<cores>]``, generates its inputs from the seed, builds the
workload's base state, warms up, then runs closed-loop passes for
``--seconds`` and checks the outputs of the last one. The
last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` Spark's event log is on, every layer call in the timed
window runs in a span, and the metrics are the per-layer ones (see
tracing.py); the spans and layer table are also written to
``.bench_out/``. The tracing overhead is the difference between the
two modes' ``docs_per_s`` on the same seed.

Everything the run writes goes under ``.bench_work/`` (removed at the
end) and ``.bench_out/`` in the current directory.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["incremental", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _proc_tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (the JVM
    and its Python workers), plus reaped children's."""
    ticks = os.sysconf("SC_CLK_TCK")
    stats, kids = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = sum(int(x) for x in fields[11:15])  # u/s + cu/cs time
        kids.setdefault(int(fields[1]), []).append(int(pid))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / ticks


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1)


def start_spark(work: str, event_log: str | None = None):
    from tackle4losscontentextraction_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="pipebench", cores=len(os.sched_getaffinity(0)),
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop Spark, then its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def timed_window(wl, tr, seconds: float, log) -> tuple[list[dict], int, int]:
    """Closed-loop passes until ``seconds`` have elapsed (at least one).
    Returns (passes, attempted, failed)."""
    passes, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        attempted += wl.ops_per_pass
        try:
            p = wl.run_pass(tr, i)
        except Exception:
            # a check that failed, or an operation that raised
            log("pass %d failed:\n%s" % (i, traceback.format_exc()))
            failed += 1
            break
        # counts that need jobs of their own are taken outside the window
        t = time.perf_counter()
        tr.take_notes()
        deadline += time.perf_counter() - t
        passes.append(p)
        i += 1
        if time.perf_counter() >= deadline:
            break
    return passes, attempted, failed


def summarize(passes: list[dict]) -> dict:
    batch = [b for p in passes for b in p["batch_s"]]
    return {
        "docs_per_s": sum(p["docs"] for p in passes) / sum(p["seconds"] for p in passes),
        "batch_s": statistics.median(batch),
        "cluster_s": statistics.median(p["cluster_s"] for p in passes),
        "write_amp": sum(p["written"] for p in passes)
        / sum(p["source"] for p in passes),
    }


E2E_UNITS = {"setup_s": "s", "docs_per_s": "1/s", "batch_s": "s",
             "cluster_s": "s", "write_amp": "ratio"}


def bench(args, work: str, log) -> dict:
    import tracing
    import workloads

    pyoracle = _load_pyoracle(ROOT)
    log_dir = f"{work}/eventlog" if args.trace else None
    t0 = time.perf_counter()
    spark = start_spark(work, event_log=log_dir)
    session_s = time.perf_counter() - t0
    wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, pyoracle)
    gen_s, prints = [], set()
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        prints.add(wl.generate())
        gen_s.append(time.perf_counter() - t)
    fingerprint = prints.pop()
    if prints:
        raise RuntimeError("the same seed generated different inputs")
    null = tracing.NullTracer()
    t = time.perf_counter()
    wl.build_base(null)
    base_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.warmup(null)
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(gen_s) + base_s + warm_s
    log("setup: session %.2fs gen %s base %.2fs warm-up %.2fs input %s"
        % (session_s, ["%.2f" % g for g in gen_s], base_s, warm_s, fingerprint))

    run_id = "%s-%d-%d" % (args.workload, args.seed, int(time.time()))
    tr = tracing.Tracer(run_id, spark) if args.trace else null
    load_before, stat0 = os.getloadavg(), _cpu_times()
    cpu0, w0 = _proc_tree_cpu_s(), time.perf_counter()
    passes, attempted, failed = timed_window(wl, tr, args.seconds, log)
    window_s, cpu_s = time.perf_counter() - w0, _proc_tree_cpu_s() - cpu0
    steal = _steal_pct(stat0, _cpu_times())
    correct = failed == 0
    if correct:
        try:
            wl.check()
        except Exception:
            log("check failed:\n%s" % traceback.format_exc())
            correct, failed = False, failed + 1
    load_after = os.getloadavg()
    record = {"workload": args.workload, "seed": args.seed, "input": fingerprint,
              "pass_s": [round(p["seconds"], 3) for p in passes],
              "window_s": round(window_s, 3),
              "load_before": load_before, "load_after": load_after,
              "steal_pct": round(steal, 2), "process_cpu_s": round(cpu_s, 2)}
    result = {"record": record, "correct": correct and bool(passes),
              "attempted": attempted, "failed": failed, "metrics": {}}
    if not passes:
        return result
    e2e = dict(summarize(passes), setup_s=setup_s)
    record["end_to_end"] = e2e
    if not args.trace:
        result["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        return result

    spark.stop()  # completes the event log
    layers = tracing.layer_metrics(tr, tracing.read_event_log(log_dir))
    metrics = per_layer_metrics(layers, tr)
    roots = {sp.name for sp in tr.spans if sp.parent is None}
    run = {
        "docs_per_s_traced": e2e["docs_per_s"],
        "span_coverage": sum(sp.end - sp.start for sp in tr.spans if sp.parent is None)
        / sum(p["seconds"] for p in passes),
        "top_self_s": sum(layers[n]["self_s"] for n in roots),
        "process_cpu_s": cpu_s,
    }
    for k, v in run.items():
        metrics["run." + k] = v
    out_dir = os.path.join(ROOT, ".bench_out", "trace-%s-%d" % (args.workload, args.seed))
    os.makedirs(out_dir, exist_ok=True)
    tr.write(os.path.join(out_dir, "spans.jsonl"))
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump({"run_id": run_id, "record": record, "layers": layers,
                   "metrics": metrics}, f, indent=1, default=str)
    units = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    result["metrics"] = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                         for k, u in units.items()}
    return result


def per_layer_metrics(layers: dict, tr) -> dict:
    out = {}
    for layer, ms in layers.items():
        for k, v in ms.items():
            out["%s.%s" % (layer, k)] = v
    for layer, ms in tr.plan_ms.items():
        out["%s.plan_ms" % layer] = ms
    for layer, counts in tr.counts.items():
        for k, v in counts.items():
            out["%s.%s" % (layer, k)] = v
    if out.get("dedup.candidates"):
        out["dedup.pairs_per_candidate"] = out.get("dedup.pairs", 0.0) / out["dedup.candidates"]
    return out


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _load_pyoracle(root: str):
    """The pure-Python extraction oracle, ``tests/pyoracle.py``."""
    spec = importlib.util.spec_from_file_location(
        "pyoracle", os.path.join(root, "tests", "pyoracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("tackle4losscontentextraction_spark/__init__.py", "tests/pyoracle.py",
                 "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print("pipebench: %s not found; run from the repository root" % need,
                  file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep the JVM's, Spark's and Python's scratch files inside the
    # checkout (SPARK_LOCAL_DIRS, when set, overrides spark.local.dir)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp

    def log(msg: str) -> None:
        print("pipebench: " + msg, file=sys.stderr, flush=True)

    try:
        result = bench(args, work, log)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result.pop("record"), default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
