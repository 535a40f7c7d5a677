#!/usr/bin/env python3
"""Self-tests of the perfbench harness.

Usage (from the repository root):

    python3 perfbench/selftest.py [--workload corpus_build] [--seconds 3]

Runs the workload twice on one seed untraced, once on another seed and once
traced, and checks that

  - the same seed gives the same input digest, and another seed another one;
  - every printed metric line (a line that starts with `{`) parses as JSON
    and fits in 2 KB, so a reader that keeps only the last 2 KB of output
    can parse it;
  - every emitted metric name appears in BENCHMARK.json, in the list that
    matches the run (end_to_end untraced, per_layer traced), matches
    `[A-Za-z0-9_.-]+`, and no listed metric is missing;
  - each result reports correct output and no failed ops.
"""
import argparse
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL: {workload} seed {seed} trace {trace} exited {p.returncode}")
    return p.stdout.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="corpus_build")
    ap.add_argument("--seconds", type=float, default=3)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    lists = {0: {m["name"] for m in bench["end_to_end"]},
             1: {m["name"] for m in bench["per_layer"]}}
    errors = []

    def check(lines, trace, tag):
        digest = [l for l in lines if l.startswith("input_digest ")]
        metric_lines = [l for l in lines if l.startswith("{")]
        if not metric_lines:
            errors.append(f"{tag}: no metric line")
        for l in metric_lines:
            if len(l.encode()) > 2048:
                errors.append(f"{tag}: metric line of {len(l.encode())} bytes")
            try:
                obj = json.loads(l)
            except ValueError:
                errors.append(f"{tag}: metric line is not JSON")
                continue
            names = set(obj.get("metrics", {}))
            for n in names:
                if not NAME.match(n):
                    errors.append(f"{tag}: bad metric name {n!r}")
            if names != lists[trace]:
                errors.append(f"{tag}: metrics {sorted(names ^ lists[trace])} "
                              f"differ from BENCHMARK.json")
        result = json.loads(lines[-1])
        if not result["correct"] or result["failed"] != 0:
            errors.append(f"{tag}: correct={result['correct']} failed={result['failed']}")
        return digest[0].split(" ", 3)[3] if digest else None

    d1 = check(run(a.workload, 7, a.seconds, 0), 0, "seed 7")
    d2 = check(run(a.workload, 7, a.seconds, 0), 0, "seed 7 again")
    d3 = check(run(a.workload, 8, a.seconds, 0), 0, "seed 8")
    check(run(a.workload, 7, a.seconds, 1), 1, "seed 7 traced")
    if d1 is None or d1 != d2:
        errors.append(f"same seed, different input digests: {d1} / {d2}")
    if d1 == d3:
        errors.append("different seeds, same input digest")
    for e in errors:
        print("FAIL:", e)
    print("selftest", a.workload, "ok" if not errors else f"{len(errors)} failures")
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
