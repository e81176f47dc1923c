"""The repository's benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the
benchmark's harness from source (see build.py), generates the workload's
inputs from the seed (see datagen.py), and runs the workload's queries in
a fresh JVM at local[<cores>] with one client, closed loop: each query is
built with `SparkEntry.queries(name)(spark, dir)` and its DataFrame
written to the `noop` sink before the next one starts, in name order.
After the timed passes the same JVM writes every
query's output once more, untimed, and each is compared with its DuckDB
oracle (see oracle.py).

With --trace 0 it prints the end-to-end metrics; with --trace 1 it runs
the workload twice, untraced and then traced through the listeners of
scala/Tracer.scala, and prints the per-layer metrics, per query and for
the workload, with the tracing overhead. Every metric is one JSON line
with name, unit, workload, value and sample count; the last line of
stdout is the summary object. Everything it writes goes under
.bench_build/ in the checkout.
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
import datagen  # noqa: E402
import oracle  # noqa: E402

MB = 1024 * 1024
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 20
# --seconds sets the number of warm passes: one per WARM_PASS_S, at least
# one. On a 4-core host either workload's cold pass takes 13-14 s and a
# warm pass 8-10 s. The count is fixed rather than timed because warm
# passes keep getting faster, so a count that varied with host speed
# would move their median.
WARM_PASS_S = 15
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_manifest():
    with open(os.path.join(HERE, "manifest.json")) as fh:
        return json.load(fh)


def workload_spec(manifest, name):
    spec = manifest["workloads"].get(name)
    if spec is None:
        sys.exit(f"perfbench: unknown workload {name!r}; "
                 f"known: {', '.join(sorted(manifest['workloads']))}")
    return spec


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classpath, run_dir, tag, timeout_s=JVM_TIMEOUT_S, **opts):
    """Runs the harness once; returns (result dict, peak RSS in MB)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, f"{tag}.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "perfbench.Harness", f"out={out}",
            f"launch_ms={time.time() * 1000:.3f}"]
    cmd += [f"{k}={v}" for k, v in opts.items()]
    with open(os.path.join(run_dir, f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        deadline = time.time() + timeout_s
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                sys.exit(f"perfbench: {tag} JVM exceeded {timeout_s} s; see {log.name}")
            time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: {tag} JVM failed (exit {proc.returncode}); see {log.name}")
    with open(out) as fh:
        return json.load(fh), usage.ru_maxrss / 1024.0


def metric_line(name, unit, workload, value, samples):
    print(json.dumps({"metric": name, "unit": unit, "workload": workload,
                      "value": value, "samples": samples}))


def pass_of(result, name):
    return next((p for p in result["passes"] if p["pass"] == name), None)


def wall(p):
    return (p["end"] - p["start"]) / 1000.0


def check_manifest(manifest, registered):
    known = set(manifest["queries"])
    added, removed = sorted(set(registered) - known), sorted(known - set(registered))
    if added or removed:
        sys.exit("perfbench: SparkEntry.queries and perfbench/manifest.json disagree; "
                 f"not in the manifest: {added}; no longer registered: {removed}")


def end_to_end(workload, result, rss_mb):
    """Prints the end-to-end metrics; returns the gated ones. The
    per-query median and the peak RSS are printed for information only:
    over a handful of queries the median is whichever query sits in the
    middle, and the JVM's peak RSS follows its heap sizing more than the
    program."""
    cold = pass_of(result, "cold")
    warm = [wall(p) for p in result["passes"] if p["pass"].startswith("warm")]
    times = [q["build_s"] + q["execute_s"] for q in cold["queries"]]
    gated = {
        "wall_s": ("s", wall(cold), 1),
        "warm_wall_s": ("s", statistics.median(warm), len(warm)),
        "setup_s": ("s", result["session_s"] + result["warmup_s"], 1),
    }
    info = {
        "query_p50_s": ("s", statistics.median(times), len(times)),
        "peak_rss_mb": ("MB", rss_mb, 1),
    }
    for k, (unit, v, n) in {**gated, **info}.items():
        metric_line(k, unit, workload, v, n)
    return {k: {"value": v, "unit": unit} for k, (unit, v, _) in gated.items()}


def layer_metrics(c, wall_s, n_cores):
    """Per-layer metrics of one query, or of a workload when `c` holds
    the workload's sums."""
    return {
        "entry.build_s": ("s", c["build_s"]),
        "entry.execute_s": ("s", c["execute_s"]),
        "catalyst.actions": ("count", c["actions"]),
        "catalyst.plan_s": ("s", c["plan_s"]),
        "scheduler.jobs": ("count", c["jobs"]),
        "scheduler.tasks": ("count", c["tasks"]),
        "scheduler.nojob_s": ("s", c["nojob_s"]),
        "scheduler.failed_tasks": ("count", c["failed_tasks"]),
        "executor.task_s": ("s", c["task_s"]),
        "executor.gc_s": ("s", c["gc_s"]),
        "executor.util": ("ratio", c["task_s"] / (wall_s * n_cores) if wall_s > 0 else 0.0),
        "shuffle.write_mb": ("MB", c["shuffle_write_bytes"] / MB),
        "shuffle.spill_mb": ("MB", c["spill_bytes"] / MB),
        "shuffle.skew": ("ratio", c["skew"]),
        "io.input_mb": ("MB", c["input_bytes"] / MB),
        "io.output_mb": ("MB", c["output_bytes"] / MB),
        "io.scratch_mb": ("MB", c["scratch_bytes"] / MB),
        "blocks.pinned_mb_peak": ("MB", c["pinned_peak_bytes"] / MB),
        "streaming.batches": ("count", c["batches"]),
        "streaming.batch_s_p50": ("s", statistics.median(c["batch_s"]) if c["batch_s"] else 0.0),
        "streaming.state_rows": ("count", c["state_rows"]),
        **{f"self.{layer}_s": ("s", c["self_s"].get(layer, 0.0))
           for layer in ("build", "execute", "action", "job", "stage", "stream", "batch")},
    }


SUMMED = ["actions", "plan_s", "jobs", "tasks", "nojob_s", "failed_tasks", "task_s", "gc_s",
          "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes", "scratch_bytes",
          "batches", "state_rows"]


def per_layer(workload, result, untraced, n_cores):
    cold = pass_of(result, "cold")
    counters = result["counters"]
    total = {k: 0 for k in SUMMED}
    total.update(build_s=0.0, execute_s=0.0, skew=0.0, pinned_peak_bytes=0, batch_s=[],
                 self_s={})
    for q in cold["queries"]:
        c = dict(counters.get(q["name"], {}))
        if not c:
            continue
        c.update(build_s=q["build_s"], execute_s=q["execute_s"])
        qwall = q["build_s"] + q["execute_s"]
        print(json.dumps({"query": q["name"], "workload": workload, "metrics": {
            k: {"value": v, "unit": u} for k, (u, v) in layer_metrics(c, qwall, n_cores).items()}}))
        for k in SUMMED + ["build_s", "execute_s"]:
            total[k] += c[k]
        total["skew"] = max(total["skew"], c["skew"])
        total["pinned_peak_bytes"] = max(total["pinned_peak_bytes"], c["pinned_peak_bytes"])
        total["batch_s"] += c["batch_s"]
        for layer, v in c["self_s"].items():
            total["self_s"][layer] = total["self_s"].get(layer, 0.0) + v
    m = layer_metrics(total, wall(cold), n_cores)
    m["setup.session_s"] = ("s", result["session_s"])
    m["setup.warmup_s"] = ("s", result["warmup_s"])
    m["trace.overhead_s"] = ("s", wall(cold) - wall(pass_of(untraced, "cold")))
    n = len(cold["queries"])
    for k, (unit, v) in m.items():
        metric_line(k, unit, workload, v, 1 if k.startswith(("setup.", "trace.")) else n)
    return {k: {"value": v, "unit": unit} for k, (unit, v) in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    manifest = load_manifest()
    spec = workload_spec(manifest, args.workload)
    classpath = build.build(root)

    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    info = datagen.generate(spec["inputs"]["kind"], data, args.seed,
                            **{k: v for k, v in spec["inputs"].items() if k != "kind"})
    print(json.dumps({"inputs": info, "workload": args.workload}))

    queries = sorted(spec["queries"])
    with open(os.path.join(run_dir, "queries.txt"), "w") as fh:
        fh.write("\n".join(queries) + "\n")
    n_cores = cores()
    common = dict(cores=n_cores, data=data, queries=os.path.join(run_dir, "queries.txt"),
                  warm_passes=0 if args.trace else max(1, args.seconds // WARM_PASS_S))
    check_dir = os.path.join(run_dir, "check")
    sql_file = os.path.join(run_dir, "oracle_sql.json")
    runner = oracle.OracleRunner(data, sql_file, queries, ORACLE_TIMEOUT_S,
                                 os.path.join(run_dir, "tmp"))
    runner.start()
    phases = {"generate_s": info["generate_s"]}
    t0 = time.perf_counter()
    result, rss_mb = run_jvm(classpath, run_dir, "untraced", trace=0, check=check_dir,
                             oracle_out=sql_file,
                             warehouse=os.path.join(run_dir, "warehouse-untraced"), **common)
    runner.stop.set()
    phases["untraced_jvm_s"] = time.perf_counter() - t0
    check_manifest(manifest, result["registered"])
    t0 = time.perf_counter()
    runner.join()
    verdict = oracle.check(check_dir, queries, runner, result["check_errors"])
    phases["oracle_wait_s"] = time.perf_counter() - t0

    failed = set(q for q, why in verdict.items() if why)
    for p in result["passes"]:
        failed |= {q["name"] for q in p["queries"] if q["error"]}
    for q in sorted(failed):
        reason = verdict.get(q) or next(x["error"] for p in result["passes"]
                                        for x in p["queries"] if x["name"] == q and x["error"])
        print(json.dumps({"failed_query": q, "workload": args.workload, "reason": reason}))
    attempted = len(queries)
    metric_line("failed_share", "ratio", args.workload, len(failed) / attempted, attempted)

    if args.trace:
        t0 = time.perf_counter()
        traced, _ = run_jvm(classpath, run_dir, "traced", trace=1,
                            spans=os.path.join(run_dir, "spans.jsonl"),
                            warehouse=os.path.join(run_dir, "warehouse-traced"), **common)
        phases["traced_jvm_s"] = time.perf_counter() - t0
        metrics = per_layer(args.workload, traced, result, n_cores)
    else:
        metrics = end_to_end(args.workload, result, rss_mb)

    print(json.dumps({"phases": phases, "workload": args.workload}))
    for d in ("data", "check", "tmp", "warehouse-untraced", "warehouse-traced"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
