"""Re-derives the query classes of perfbench/manifest.json.

    python3 perfbench/derive_manifest.py --data <sf0.1 fixture dir>

Runs every registered query once, in name order, in one traced JVM over
the given fixture directory, counts the SQL actions each one runs, and
rewrites the manifest's "queries" section: one SQL action puts a query in
class `single_action`, any other count in `multi_action`. A query that
throws is classed by the actions it started and records the error. The
"workloads"
section is left as it is, except that each workload's query list must
still name registered queries of its class.
"""
import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    args = ap.parse_args()
    root = os.getcwd()
    classpath = build.build(root)
    run_dir = os.path.join(root, ".bench_build", "runs", "derive-manifest")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    probe, _ = run.run_jvm(classpath, run_dir, "probe", timeout_s=1800, cores=run.cores(),
                           data=os.path.abspath(args.data), trace=1,
                           warehouse=os.path.join(run_dir, "warehouse"),
                           queries=os.path.join(run_dir, "all.txt"), all_queries=1)
    path = os.path.join(HERE, "manifest.json")
    manifest = run.load_manifest()
    counters = probe["counters"]
    queries = {}
    for q in run.pass_of(probe, "cold")["queries"]:
        name, c = q["name"], counters.get(q["name"], {})
        actions, jobs = c.get("actions", 0), c.get("jobs", 0)
        entry = {"class": "single_action" if actions == 1 else "multi_action",
                 "sf01_actions": actions, "sf01_jobs": jobs,
                 "reason": f"{actions} SQL action(s), {jobs} job(s) in one cold traced run at sf0.1"}
        if q["error"]:
            entry["reason"] += f"; throws there: {q['error'][:160]}"
        queries[name] = entry
    manifest["queries"] = dict(sorted(queries.items()))
    for wl, spec in manifest.get("workloads", {}).items():
        bad = [q for q in spec["queries"] if q not in queries]
        if bad:
            sys.exit(f"perfbench: workload {wl} names unregistered queries {bad}")
    with open(path, "w") as fh:
        json.dump(manifest, fh, indent=1)
        fh.write("\n")
    shutil.rmtree(os.path.join(run_dir, "warehouse"), ignore_errors=True)
    print(f"{path}: {sum(v['class'] == 'single_action' for v in queries.values())} single_action, "
          f"{sum(v['class'] == 'multi_action' for v in queries.values())} multi_action")


if __name__ == "__main__":
    main()
