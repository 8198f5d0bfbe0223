"""Benchmark command: builds the program, generates one workload's inputs
from a seed, runs the workload in a fresh JVM, checks its outputs with
DuckDB and prints one JSON line of results.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--repo DIR]

Run from the root of the program's source tree (or name it with --repo).
Inputs go to .bench_data/, run scratch to .bench_out/, classes to
.bench_build/ (see build.py). With --trace 0 the result holds the
end-to-end metrics; with --trace 1 it holds the per-layer metrics, and
.bench_out/NAME/trace.json holds the spans, the per-layer metrics and
each layer's self time. See README.md for the definitions.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 170

# Every run does at least this many timed ops (harness/Harness.scala,
# `Run.MinOps`); op_tail_ms is the highest percentile with at least ten
# ops beyond it in every run.
MIN_OPS = 40

# Stream ops are micro-batches of one staged file each: an untimed warm-up
# round, then timed rounds; the generator writes STREAM_ROUNDS of them.
# Under the tiered JIT a micro-batch takes about twenty runs to settle.
STREAM_WARMUP, STREAM_BATCHES, STREAM_ROUNDS = 20, 20, 6
STREAM_FILES = STREAM_WARMUP + STREAM_ROUNDS * STREAM_BATCHES

# Batch ops are registry queries (graft.Registry). A round runs the list
# once, in order.
WORKLOADS = {
    "batch_small": {
        "kind": "batch", "sf": 0.1,
        "queries": ["q_tpch_q6", "q_tpcds_s96", "q_func_json",
                    "q_tumble_offset", "q_cep_funnel", "q_multimodal_meta",
                    "q_bm25"]},
    "batch_heavy": {
        "kind": "batch", "sf": 0.01,
        "queries": ["q_label_prop", "q_cdc_join_replay", "q_cdc_agg",
                    "q_tpch_q9", "q_cdc_maxwell"]},
    "stream_window": {
        "kind": "window", "events": 2000, "keys": 2000},
    "stream_changelog": {
        "kind": "changelog", "events": 500, "keys": 20000, "hot_keys": 20},
}

# A fixed heap limit, as graft.Bench sets one, and the default tiered JIT.
# No perf-data file, so the JVM writes nothing outside the checkout.
JVM_FLAGS = ["-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

PER_LAYER = [
    "queries.build_ms",
    "driver.analysis_ms", "driver.optimizer_ms", "driver.planning_ms",
    "driver.first_job_wait_ms", "driver.jobs", "driver.job_gap_ms",
    "codegen.compiles", "codegen.compile_ms",
    "exec.stages", "exec.tasks", "exec.task_retries", "exec.run_ms",
    "exec.cpu_ms", "exec.gc_ms", "exec.task_p50_ms", "exec.task_max_ms",
    "exchange.write_bytes", "exchange.read_bytes", "exchange.fetch_wait_ms",
    "exchange.spill_bytes", "plan.exchanges",
    "scan.bytes", "scan.rows", "plan.scans",
    "checkpoint.rdds_left", "checkpoint.bytes_left",
    "stream.offset_ms", "stream.plan_ms", "stream.exec_ms", "stream.commit_ms",
    "state.rows_total", "state.rows_updated", "state.rows_removed",
    "state.bytes", "state.update_ms", "state.removal_ms", "state.commit_ms",
    "jvm.rss_peak_mb",
]
# per-task figures of a whole stream run are not divided by its op count
NOT_ADDITIVE = {"exec.task_p50_ms", "exec.task_max_ms"}
# per-op only: over a whole stream run these would span many batches
BATCH_ONLY = {"driver.first_job_wait_ms", "driver.job_gap_ms"}


TAIL_PCT = 100.0 * (1 - 10 / MIN_OPS)


def percentile(values, pct):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100 * len(s)) - 1)]


def inputs(root, name, w, seed):
    """Generates (or reuses) this workload's inputs for `seed`."""
    base = os.path.join(root, ".bench_data", name)
    data = os.path.join(base, str(seed))
    if os.path.exists(os.path.join(data, "done")):
        return data
    shutil.rmtree(base, ignore_errors=True)  # keep one seed per workload
    if w["kind"] == "batch":
        gen.batch_tables(data, seed, w["sf"])
    elif w["kind"] == "window":
        gen.window_stream(data, seed, STREAM_FILES, w["events"], w["keys"])
    else:
        gen.changelog_stream(data, seed, STREAM_FILES, w["events"],
                             w["keys"], w["hot_keys"])
    open(os.path.join(data, "done"), "w").close()
    return data


def run_jvm(cp, name, w, data, out, seconds, trace):
    args = [f"workload={name}", f"data={data}", f"out={out}",
            f"seconds={seconds}", f"trace={trace}"]
    if w["kind"] == "batch":
        args.append("queries=" + ",".join(w["queries"]))
    else:
        args += [f"warmup={STREAM_WARMUP}", f"batches={STREAM_BATCHES}",
                 f"rounds={STREAM_ROUNDS}"]
    cmd = ["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
                                  "-cp", cp, "perfbench.Harness"] + args
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def verify(name, w, data, out, res):
    """Runs the output check; returns the mismatches by op name (a batch
    query, or "*" for a whole stream run)."""
    if w["kind"] == "batch":
        with open(os.path.join(out, "oracles.json")) as fh:
            oracles = json.load(fh)  # written by the harness from the registry
        found = check.batch(data, os.path.join(out, "results"), oracles,
                            w["queries"])
        return {k: v for k, v in found.items() if v}
    n_files = res["files_staged"]
    sink = os.path.join(out, "sink")
    found = (check.window(data, sink, n_files, res["late_dropped"])
             if w["kind"] == "window" else check.changelog(data, sink, n_files))
    return {"*": found} if found else {}


def self_times(spans):
    """Each span's duration minus the part its children cover, summed by
    span name."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    total = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
            reach = max(reach, hi)
        total[s["name"]] = total.get(s["name"], 0.0) + s["end"] - s["start"] - covered
    return total


def per_layer(res, n_ops):
    layers, totals = res["layers"], res.get("totals") or {}
    out = {}
    for k in PER_LAYER:
        if any(k in l for l in layers):
            out[k] = sum(l.get(k, 0.0) for l in layers) / len(layers)
        elif k in totals and k not in BATCH_ONLY:
            out[k] = totals[k] if k in NOT_ADDITIVE else totals[k] / n_ops
        else:
            out[k] = 0.0
    # per run: the JVM's peak resident set (VmHWM), heap as grown by G1
    out["jvm.rss_peak_mb"] = res["rss_peak_mb"]
    return out


def unit(metric):
    return ("ms" if metric.endswith("_ms") else "MB" if metric.endswith("_mb")
            else "bytes" if "bytes" in metric else "count")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repo", default=".")
    a = p.parse_args()
    root = os.getcwd()
    name, w = a.workload, WORKLOADS[a.workload]
    try:
        cp = build.build(a.repo)
    except (OSError, RuntimeError, subprocess.CalledProcessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    data = inputs(root, name, w, a.seed)
    out = os.path.join(root, ".bench_out", name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    res = run_jvm(cp, name, w, os.path.abspath(data), out, a.seconds, a.trace)

    ops = res["ops"]
    mismatches = verify(name, w, data, out, res)
    for op, found in mismatches.items():
        print(f"check failed for {op}: {'; '.join(found)[:2000]}", file=sys.stderr)
    failed = sum(1 for o in ops
                 if not o["ok"] or o["name"] in mismatches or "*" in mismatches)
    lat = [o["ms"] for o in ops]
    p50 = percentile(lat, 50)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit(k)}
                   for k, v in per_layer(res, len(ops)).items()}
        trace = {"workload": name, "seed": a.seed, "ops": len(ops),
                 "op_p50_ms": p50,
                 "per_layer": {k: m["value"] for k, m in metrics.items()},
                 "self_ms_per_op": {k: v / len(ops) for k, v in
                                    self_times(res["spans"]).items()},
                 "spans": res["spans"]}
        with open(os.path.join(out, "trace.json"), "w") as fh:
            json.dump(trace, fh)
    else:
        busy_s = (res["timed_s"] if "timed_s" in res else sum(lat) / 1000)
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "ops_per_s": {"value": len(ops) / busy_s, "unit": "ops/s"},
            "op_p50_ms": {"value": p50, "unit": "ms"},
            "op_tail_ms": {"value": percentile(lat, TAIL_PCT),
                           "unit": "ms"},
            "heap_peak_mb": {"value": res["heap_peak_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": not mismatches, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
