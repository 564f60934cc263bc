#!/usr/bin/env python3
"""Run every workload untraced and traced, and print every metric by name and unit.

    python3 perfbench/report.py [--seed N] [--seconds S] [--smoke] [--workload W ...]

For each workload this prints the detailed end-to-end metrics
(failed_ops_share included) with their units, every failure with its op and
reason, the per-layer metrics of the traced run, the tracing overhead
(traced median minus untraced median of each timed role), and the
deterministic counts. Exits 1 if any run failed or reported a wrong result.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_small_commits", "pruned_reads")
ROLES = ("upsert", "scan", "point_read", "query")
COUNTS = ("spark.tasks", "write.files_committed", "storage.live_files", "meta.log_lines")


def run(workload, seed, seconds, trace, smoke):
    """One run.py invocation: (report dict, result dict)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} trace={trace} seed={seed} exited {p.returncode}")
    report = next(json.loads(l[len("PERFBENCH_REPORT "):]) for l in lines
                  if l.startswith("PERFBENCH_REPORT "))
    return report, json.loads(lines[-1])


def show(workload, seed, seconds, smoke):
    plain, plain_res = run(workload, seed, seconds, 0, smoke)
    traced, traced_res = run(workload, seed, seconds, 1, smoke)
    print(f"== {workload}  seed={seed} scale={plain['scale']} cores={plain['cores']}")
    print("-- end to end (untraced run)")
    for name, m in plain["metrics"].items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    print("-- benchmark metrics (untraced run, as BENCHMARK.json names them)")
    for name, m in plain_res["metrics"].items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    failures = plain["failures"] + traced["failures"]
    print(f"-- failures: {len(failures)} of {plain['attempted'] + traced['attempted']} ops")
    for f in failures:
        print(f"  {f['op']}: {f['reason']}")
    print("-- per layer (traced run)")
    for name, m in traced_res["metrics"].items():
        print(f"  {name:44s} {m['value']:.6g} {m['unit']}")
    print("-- tracing overhead (traced median - untraced median)")
    for role in ROLES:
        t = traced_res["metrics"][f"trace.{role}_s_p50"]["value"]
        u = plain_res["metrics"][f"{role}_s_p50"]["value"]
        print(f"  {role + '_s_p50':28s} {t - u:+.4f} s  ({t:.4f} traced, {u:.4f} untraced)")
    print("-- counts (traced run)")
    for c in COUNTS:
        print(f"  {c:28s} {traced_res['metrics'][c]['value']:.0f}")
    print("-- inputs")
    for k, v in plain["info"].items():
        print(f"  {k:28s} {v}")
    return not failures and plain_res["correct"] and traced_res["correct"]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--workload", action="append", choices=WORKLOADS)
    a = p.parse_args()
    ok = True
    for w in a.workload or WORKLOADS:
        ok = show(w, a.seed, a.seconds, a.smoke) and ok
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
