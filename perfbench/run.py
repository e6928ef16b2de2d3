#!/usr/bin/env python3
"""Run one benchmark workload from a seed and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <llm_mapreduce|warehouse>
      --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the benchmark runner from source with sbt (once
per checkout, into `target/` and `.bench_build/`), generates the
workload's inputs from the seed (`perfbench/gen.py`), runs `perfbench.Main` in
one JVM with `local[nproc]`, checks every output (query results against
DuckDB, pipeline answers in the JVM), and prints as its last line one
JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json, with
`--trace 1` its per-layer metrics. The line before it is a JSON record of
the draw (core count, load average, canary, per-pass CPU, sample counts).
Everything it writes stays under `.bench_build/` in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")


def classpath():
    """Compile engine and runner once per checkout; cache the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and "
             "src/main/scala/graft are missing)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_GRAFT_TMPDIR="")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         840, cwd=HERE, env=env, stdout=f,
                         stderr=subprocess.STDOUT)
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (rc {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def spec_args(workload):
    s = gen.spec(workload)
    if workload == "llm_mapreduce":
        v1, d = s["v1_config"], s["service_delay"]
        return [f"delay_base_ms={d['base_ms']}",
                f"delay_token_us={d['per_prompt_token_us']}",
                f"chunk_budget={v1['chunkBudget']}",
                f"collapse_budget={v1['collapseBudget']}",
                f"bin_budget={v1['binBudget']}"]
    return ["queries=" + ",".join(s["queries"])]


def end_to_end(res):
    """End-to-end metrics of the untraced passes, and each one's sample
    count n for the draw record."""
    passes = [p for p in res["passes"] if not p["traced"]]
    jobs = [j["s"] for j in res["jobs"] if not j["traced"]]
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (stats.median([p["wall_s"] for p in passes]), "s"),
        "job_p50_s": (stats.median(jobs), "s"),
        "retained_heap_mb": (max(p["heap_mb"] for p in passes), "MB"),
    }
    n = {"setup_s": 1, "pass_s": len(passes), "job_p50_s": len(jobs),
         "retained_heap_mb": len(passes)}
    # with a handful of jobs a run, no tail percentile has ten samples
    # above it; the p90 is recorded with its n, not reported as a metric
    return metrics, {"n": n, "job_p90": stats.percentile(jobs, 0.9)}


def median_or_0(xs):
    return stats.median(xs) if xs else 0.0


def per_layer(res, spans, units):
    """Per-layer metrics from the traced passes' raw record: counts and
    times per traced pass, request and trigger times as medians. Returns
    the metrics and the sample counts behind the medians and ratios."""
    t = res["trace"]
    c, inf = t["counters"], t["infer"]
    windows = t["passes"]
    n_pass = len(windows)
    mb = 1048576.0

    def per(x):
        return x / n_pass

    wall_ms = sum(b - a for a, b in windows)
    busy_ms = sum(stats.covered(t["task_intervals"], a, b) for a, b in windows)
    reqs = t["requests"]
    pipeline = [r for r in reqs if r["kind"] in ("qa", "survey")]
    calls = inf.get("calls", 0.0)
    n_qa = sum(1 for r in reqs if r["kind"] == "qa")
    triggers = t["trigger_ms"]

    def req_s(kind):
        return median_or_0([(r["t1"] - r["t0"]) / 1e3 for r in reqs
                            if r["kind"] == kind])

    layers = {
        "session.jobs": per(c["jobs"]), "session.stages": per(c["stages"]),
        "session.tasks": per(c["tasks"]), "session.task_s": per(c["task_ms"] / 1e3),
        "session.task_cpu_s": per(c["task_cpu_ns"] / 1e9),
        "session.sched_delay_s": per(c["sched_ms"] / 1e3),
        "session.idle_s": per((wall_ms - busy_ms) / 1e3),
        "session.slot_util": c["task_ms"] / (wall_ms * t["cores"]) if wall_ms else 0.0,
        "session.gc_s": per(c["gc_ms"] / 1e3),
        "plans.analysis_s": per(c["analysis_ms"] / 1e3),
        "plans.optimizer_s": per(c["optimizer_ms"] / 1e3),
        "plans.planning_s": per(c["planning_ms"] / 1e3),
        "plans.codegen_compile_s": per(c["codegen_ms"] / 1e3),
        "plans.codegen_classes": per(c["codegen_classes"]),
        "operators.exchanges": per(c["exchanges"]),
        "operators.broadcasts": per(c["broadcasts"]),
        "operators.sort_merge_joins": per(c["sort_merge_joins"]),
        "operators.shuffle_write_mb": per(c["shuffle_write_bytes"] / mb),
        "operators.shuffle_read_mb": per(c["shuffle_read_bytes"] / mb),
        "operators.fetch_wait_s": per(c["fetch_wait_ms"] / 1e3),
        "operators.spill_mb": per(c["spill_bytes"] / mb),
        "operators.peak_exec_mem_mb": c["peak_exec_mem_bytes"] / mb,
        "memo.checkpoint_jobs": per(c["checkpoint_jobs"]),
        "memo.checkpoint_task_s": per(c["checkpoint_task_ms"] / 1e3),
        "memo.block_mb_peak": c["block_peak_bytes"] / mb,
        "sources.input_mb": per(c["input_bytes"] / mb),
        "sources.input_rows": per(c["input_rows"]),
        "sources.scan_task_s": per(c["scan_task_ms"] / 1e3),
        "infer.calls": per(calls), "infer.batches": per(inf.get("batches", 0.0)),
        "infer.prompt_tokens": per(inf.get("prompt_tokens", 0.0)),
        "infer.completion_tokens": per(inf.get("completion_tokens", 0.0)),
        "infer.wait_s": per(inf.get("wait_s", 0.0)),
        "infer.max_inflight": inf.get("max_inflight", 0.0),
        "infer.busy_share": inf.get("busy_s", 0.0) * 1e3 / wall_ms if wall_ms else 0.0,
        "infer.calls_per_prompt":
            calls / (calls - inf["recomputed"]) if calls else 0.0,
        "infer.dup_prompt_ratio": inf["dup_calls"] / calls if calls else 0.0,
        "pipeline.v1_request_s": req_s("qa"),
        "pipeline.v2_request_s": req_s("survey"),
        "pipeline.collapse_rounds":
            inf.get("collapse_stages", 0.0) / n_qa if n_qa else 0.0,
        "pipeline.jobs_per_request":
            median_or_0([len(r["spark_jobs"]) for r in pipeline]),
        "pipeline.driver_s": median_or_0([
            (r["t1"] - r["t0"] - stats.covered(r["spark_jobs"], r["t0"], r["t1"])) / 1e3
            for r in pipeline]),
        "streaming.triggers": per(len(triggers)),
        "streaming.trigger_ms": median_or_0(triggers),
        "streaming.trigger_p90_ms":
            stats.percentile(triggers, 0.9)["value"] if triggers else 0.0,
        "streaming.add_batch_ms": median_or_0(t["add_batch_ms"]),
        "streaming.wal_commit_ms": median_or_0(t["wal_commit_ms"]),
        "streaming.state_rows": per(c["state_rows"]),
        "streaming.state_mb": per(c["state_bytes"] / mb),
        "streaming.start_ms": median_or_0(t["start_ms"]),
    }
    layers.update({f"functions.{k}.rows_per_s": v for k, v in t["kernels"].items()})
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    layers["trace.overhead_ratio"] = stats.median(traced) / stats.median(untraced)
    for kind, s in stats.self_times(spans).items():
        key = f"trace.self_s.{kind}"
        if key in units:
            layers[key] = s / (1 if kind == "workload" else n_pass)
    n = {"traced_passes": n_pass, "untraced_passes": len(untraced),
         "requests": len(pipeline), "triggers": len(triggers),
         "trigger_p90": stats.percentile(triggers, 0.9) if triggers else None}
    return {k: (layers.get(k, 0.0), units[k]) for k in units}, n


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["llm_mapreduce", "warehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    load0 = os.getloadavg()[0]
    cp = classpath()

    run_dir = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    out = os.path.join(run_dir, "out")
    sizes = gen.generate(args.workload, args.seed, data)
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + tmp]
           + [x for p in ADD_OPENS
              for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", f"workload={args.workload}",
              f"data={data}", f"out={out}", f"seconds={args.seconds}",
              f"trace={args.trace}", f"cores={cores}"]
           + spec_args(args.workload))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = run_bounded(cmd, JVM_TIMEOUT_S, cwd=run_dir, stdout=log,
                         stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"perfbench.Main exited with {rc}; see {run_dir}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    failures = list(res["failures"])
    verdicts = check.check_outputs(os.path.join(out, "check"), data,
                                   res["oracle"])
    # the oracle checks the warm-up pass's outputs; every timed job was
    # checked in the runner against the row hash of those outputs
    failures += [f"warm-{k}: oracle: {v}" for k, v in verdicts.items() if v]
    failed_jobs = set(res["failed_jobs"]) | {
        f"warm-{k}" for k, v in verdicts.items() if v}

    detail = {"workload": args.workload, "seed": args.seed, "nproc": cores,
              "loadavg_start": load0, "canary_s": res["canary_s"],
              "pass_cpu_s": [p["cpu_s"] for p in res["passes"]],
              "pass_wall_s": [p["wall_s"] for p in res["passes"]],
              "passes": len(res["passes"]), "setup_s": res["setup_s"],
              "job_s": [[j["name"], round(j["s"], 3)] for j in res["jobs"]],
              "inputs": sizes, "oracle_checked": len(verdicts),
              "failures": failures[:20]}
    if args.trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics, n = per_layer(res, spans, units)
        detail.update(spans=len(spans), n=n)
    else:
        metrics, extra = end_to_end(res)
        detail.update(extra)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": len(failed_jobs),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    if failures:
        print(f"perfbench: outputs wrong; kept {run_dir}", file=sys.stderr)
        sys.exit(1)
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
