#!/usr/bin/env python3
"""Smoke test of the benchmark at sf0.001-like sizes.

    python3 perfbench/smoke_test.py

For each workload, with a fixed seed: the untraced and the traced run finish
with no failed op and report exactly the metrics BENCHMARK.json declares,
with their units; the report line carries every end-to-end metric with a
unit and failed_ops_share = 0; a second traced run with the same seed
repeats the deterministic counts exactly; and a second seed changes the
generated inputs but not the set of metrics. Exits 1 on the first failure.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from report import COUNTS, ROOT, WORKLOADS, run  # noqa: E402

SEED, OTHER_SEED, SECONDS = 1, 2, 8


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def metrics_match(result, kind, label):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == declared(kind), f"{label}: metrics differ from BENCHMARK.json {kind}: "
          f"missing {set(declared(kind)) - set(got)}, extra {set(got) - set(declared(kind))}")
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
          f"{label}: correct={result['correct']} failed={result['failed']}")


def main():
    for w in WORKLOADS:
        report, plain = run(w, SEED, SECONDS, 0, smoke=True)
        metrics_match(plain, "end_to_end", f"{w} untraced")
        check(report["failures"] == [], f"{w}: failures {report['failures']}")
        check(report["metrics"]["failed_ops_share"]["value"] == 0,
              f"{w}: failed_ops_share != 0")
        check(all(m["unit"] for m in report["metrics"].values()), f"{w}: metric without unit")

        _, traced = run(w, SEED, SECONDS, 1, smoke=True)
        metrics_match(traced, "per_layer", f"{w} traced")
        _, again = run(w, SEED, SECONDS, 1, smoke=True)
        for c in COUNTS:
            a, b = traced["metrics"][c]["value"], again["metrics"][c]["value"]
            check(a == b, f"{w}: {c} differs between same-seed runs: {a} vs {b}")

        other, other_plain = run(w, OTHER_SEED, SECONDS, 0, smoke=True)
        check(other["info"]["final_checksum"] != report["info"]["final_checksum"],
              f"{w}: seed {OTHER_SEED} generated the same table as seed {SEED}")
        check(set(other_plain["metrics"]) == set(plain["metrics"]) and
              set(other["metrics"]) == set(report["metrics"]),
              f"{w}: seed {OTHER_SEED} changed the set of metrics")
        print(f"ok {w}")
    print("smoke test passed")


if __name__ == "__main__":
    main()
