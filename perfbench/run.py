#!/usr/bin/env python3
"""graft benchmark: three seeded, closed-loop, single-client workloads.

    python3 perfbench/run.py --workload pig_etl --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json for why each is there):
  pig_etl        Pig Latin scripts over sf0.1 tables, each run to its STORE
  ingest_stream  document batches through Curate.ingestBatch + compaction
  vector_search  query batches (and every tenth op an append) on VectorIndex

Run from the root of a checkout. The first run builds the JVM side
(perfbench/build.py). Each run makes its inputs from --seed, runs one
JVM on a fresh warehouse, checks every output, and prints:
  - a summary line (prefix "perfbench:") with the run record and every
    metric, including the workload-specific ones;
  - as the last line, one JSON object {correct, attempted, failed,
    metrics}: the end-to-end metrics with --trace 0, the per-layer
    metrics with --trace 1.
--trace 1 adds a traced pass over the same ops, on its own fresh state in
the same JVM, interleaved op by op with the untraced pass; the per-layer
numbers come from it, and the mean difference of the two passes' op
latencies is reported as the tracing overhead.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("pig_etl", "ingest_stream", "vector_search")
CONFIG = {"batch_docs": 125, "corpus": 2000, "dim": 64, "query_batch": 32,
          "append_batch": 100}
HEAP = "2g"
CPUS = min(4, os.cpu_count() or 1)
BUDGET_S = 170  # every run ends well inside the 180 s a run may take
WARM_CAP_S = 90  # warm-up stops here (from JVM start) even if not converged

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op_p90_ms": "ms", "ops_per_s": "1/s",
              "cpu_ms_per_op": "ms", "rss_peak_mb": "MB"}
# reported in the summary line on the workloads they apply to
WORKLOAD_METRICS = {"failed_op_share": "ratio", "recall_at_10": "ratio",
                    "stored_bytes_per_input_byte": "ratio"}
PER_LAYER = {
    "piglatin.parse_ms": "ms", "piglatin.run_outside_jobs_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimizer_ms": "ms", "plans.planning_ms": "ms",
    "plans.codegen_compiles_per_op": "count",
    "sources.load_jobs_per_op": "count",
    "exec.jobs_per_op": "count", "exec.stages_per_op": "count", "exec.tasks_per_op": "count",
    "exec.ms_per_job": "ms", "exec.job_wall_ms_per_op": "ms",
    "exec.outside_jobs_ms_per_op": "ms", "exec.scheduler_delay_ms_per_op": "ms",
    "exec.executor_run_ms_per_op": "ms", "exec.executor_cpu_ms_per_op": "ms",
    "exec.gc_ms_per_op": "ms", "exec.busy_share": "ratio",
    "exec.shuffle_write_bytes_per_op": "B", "exec.shuffle_read_bytes_per_op": "B",
    "exec.spill_bytes_per_op": "B",
    "llm.ingest_batch_ms": "ms", "llm.admit_ratio": "ratio", "llm.query_batch_ms": "ms",
    "llm.probed_rows_per_query": "count", "llm.append_ms": "ms",
    "ops.bucketed.compactions": "count", "ops.bucketed.compact_ms": "ms",
    "ops.bucketed.files_per_bucket": "count", "ops.bucketed.bytes_written_per_op": "B",
    "jvm.heap_used_peak_mb": "MB", "jvm.gc_ms": "ms",
    "recall_at_10": "ratio", "stored_bytes_per_input_byte": "ratio",
    "trace.op_p50_ms": "ms", "trace.overhead_ms": "ms", "failed_op_share": "ratio",
}
# JIT compiler threads at the lowest priority (nice 19 on Linux), for
# ingest_stream only: an ingest batch brings seconds of compile work while
# its executors are idle most of the time, and compiler threads that
# compete with the op's own threads make its latency follow the JIT's
# backlog from run to run. pig_etl keeps the JVM's default.
JIT_LOW_PRIORITY = ["-XX:ThreadPriorityPolicy=1", "-XX:CompilerThreadPriority=19"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def quantile(xs, q):
    """Linear-interpolated quantile (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(cp, work, deadline, args):
    """Run graftbench.Main in `work` with `args`; return its result.json."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # a fixed heap size keeps GC cadence steady; it is not pre-touched, so
    # resident memory grows with the heap pages the run actually touches
    # (old-generation data such as Spark's on-heap storage memory
    # included) as well as with off-heap use
    workload = args[args.index("--workload") + 1]
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           *(JIT_LOW_PRIORITY if workload == "ingest_stream" else []),
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "graftbench.Main", "--dir", work, "--cpus", str(CPUS), *args]
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, cwd=work, start_new_session=True)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload}: JVM did not finish in time; log in {work}/jvm.log")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if p.returncode != 0 or not os.path.exists(f"{work}/result.json"):
        tail = open(f"{work}/jvm.log").read()[-3000:]
        fail(f"{workload}: JVM exited with {p.returncode}\n{tail}")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def calibration(cp, stamp):
    """The repo Bench's 20M-row calibration probe, read once per build of
    a checkout (it is ambient context, not a metric) and cached."""
    path = os.path.join(build.OUT, "calibration.json")
    if os.path.exists(path):
        with open(path) as f:
            got = json.load(f)
        if got.get("stamp") == stamp:
            return got["calibration_s"]
    work = os.path.join(build.OUT, "calibration")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(cp, work, time.time() + BUDGET_S, ["--workload", "calibrate"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "calibration_s": res["calibration_s"]}, f)
    return res["calibration_s"]


def summarize(res, p, bad):
    ops = p["ops"]
    lat = [o["lat_ms"] for o in ops]
    failed = sum(1 for o in ops if o["error"] or not o["checked"] or o["i"] in bad)
    m = {
        "setup_s": res["setup_s"],
        "op_p50_ms": statistics.median(lat),
        "op_p90_ms": quantile(lat, 0.9),
        "ops_per_s": len(ops) / p["timed_s"],
        "cpu_ms_per_op": p["cpu_s"] * 1000 / len(ops),
        "rss_peak_mb": p["rss_peak_mb"],
        "failed_op_share": failed / len(ops),
    }
    for k in ("recall_at_10", "stored_bytes_per_input_byte"):
        if k in p["extra"]:
            m[k] = p["extra"][k]
    return m, failed


def source_commit(stamp):
    try:
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"source-sha256:{stamp[:16]}"


def phys_ram_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        cp, stamp = build.build()
        calibration_s = calibration(cp, stamp)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    start = time.time()  # build and calibration do not count against the run budget
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "in")
    t0 = time.time()
    gen.generate(a.workload, a.seed, inputs, CONFIG)
    gen_s = time.time() - t0
    deadline = start + BUDGET_S
    work = os.path.join(run_dir, "work")
    try:
        res = run_jvm(cp, work, deadline, [
            "--workload", a.workload, "--inputs", inputs, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--warm-cap", str(WARM_CAP_S),
            "--cap", str(max(5, int(deadline - time.time() - 40)))])
        passes = res["passes"]
        t0 = time.time()
        bad = {name: {} for name in passes}
        if a.workload == "pig_etl":
            with open(f"{inputs}/scripts.json") as f:
                scripts = json.load(f)["timed"]
            for name, p in passes.items():
                bad[name] = checks.check_pig(f"{inputs}/tables", p["ops"], scripts,
                                             os.path.join(work, f"out_{name[0]}"))
        check_s = time.time() - t0
        summaries = {n: summarize(res, p, bad[n]) for n, p in passes.items()}
        attempted = sum(len(p["ops"]) for p in passes.values())
        failed = sum(f for _, f in summaries.values())
        base = passes["untraced"]
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "commit": source_commit(stamp), "nproc": os.cpu_count(),
            "master": res["master"], "heap_mb": res["heap_max_mb"],
            "phys_ram_mb": round(phys_ram_mb()),
            "heap_exceeds_ram": res["heap_max_mb"] > phys_ram_mb(),
            "calibration_20m_rows_s": calibration_s,
            "input_gen_s": round(gen_s, 3), "output_check_s": round(check_s, 3),
            "session_s": res["session_s"],
            "warm_up_s": res["warm_up_s"], "warm_rounds_ms": res["warm_rounds_ms"],
            "warm_converged": res["warm_converged"], "build_s": res["build_s"],
            "op_ms": [round(o["lat_ms"]) for o in base["ops"]],
            "timed_gc_s": base["gc_s"], "timed_jit_s": base["jit_s"],
            "timed_host_steal_share": base["host_steal_share"],
            "end_of_run_check_s": base["finish_s"],
            "ops": len(base["ops"]), "ops_beyond_p90": sum(
                1 for o in base["ops"] if o["lat_ms"] > summaries["untraced"][0]["op_p90_ms"]),
            "checks": base["checks"],
            "failures": {n: {str(k): v for k, v in b.items()} for n, b in bad.items() if b},
            "errors": sorted({o["error"] for p in passes.values() for o in p["ops"]
                              if o["error"]})[:5],
        }
        if a.trace:
            layers = dict(passes["traced"]["layers"])
            layers["trace.op_p50_ms"] = summaries["traced"][0]["op_p50_ms"]
            # the passes alternate which runs an op first, so the mean of the
            # paired differences cancels what the first run leaves in caches
            pairs = zip(passes["traced"]["ops"], passes["untraced"]["ops"])
            layers["trace.overhead_ms"] = statistics.mean(t["lat_ms"] - u["lat_ms"]
                                                          for t, u in pairs)
            layers["failed_op_share"] = failed / attempted
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
            trace_dir = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            spans = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.spans.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
            record["span_tree"] = os.path.relpath(spans, ROOT)
        else:
            m = summaries["untraced"][0]
            metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
        shown = {k: {"value": v, "unit": {**END_TO_END, **WORKLOAD_METRICS}[k]}
                 for k, v in summaries["untraced"][0].items()}
        print("perfbench: " + json.dumps({"record": record, "metrics": shown}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
