#!/usr/bin/env python3
"""Self-test of graft's benchmark, on tiny inputs.

    python3 graftbench/selftest.py [workload ...]

Run from the root of a graft checkout. For each workload (default: the
ones BENCHMARK.json declares, plus the hand-run `ingest`) it makes two
tiny runs:

  * untraced: the result must be correct with no failed request, and its
    metrics must be exactly BENCHMARK.json's end-to-end metrics, each
    with its declared unit and a finite value;
  * traced, with one expected result deliberately corrupted: the metrics
    must be exactly the declared per-layer metrics, and the run must
    report that request as failed and the result as not correct, which
    shows the checker cannot pass silently.

Exits 0 when every assertion holds, 1 otherwise.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--size", "tiny",
           "--corrupt-check", corrupt]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None, f"exit {proc.returncode}, no result"
    return json.loads(lines[-1]), None


def check_metrics(result, declared):
    errors = []
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        errors.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            errors.append(f"{name}: unit {m.get('unit')!r}, declared {unit!r}")
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{name}: value {v!r} is not a finite number")
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]] + ["ingest"]
    failures = []
    for w in workloads:
        clean, err = run(w, "0", "0")
        if err:
            failures.append(f"{w} untraced: {err}")
        else:
            if not clean["correct"] or clean["failed"] != 0 or clean["attempted"] < 1:
                failures.append(f"{w} untraced: correct={clean['correct']} failed={clean['failed']} "
                                f"attempted={clean['attempted']}")
            failures += [f"{w} untraced: {e}" for e in check_metrics(clean, bench["end_to_end"])]
        bad, err = run(w, "1", "1")
        if err:
            failures.append(f"{w} traced: {err}")
        else:
            if bad["correct"] or bad["failed"] < 1:
                failures.append(f"{w} traced: a corrupted expected result was not counted as failed")
            failures += [f"{w} traced: {e}" for e in check_metrics(bad, bench["per_layer"])]
        print(f"selftest {w}: {'ok' if not any(f.startswith(w + ' ') for f in failures) else 'FAILED'}",
              flush=True)
    for f in failures:
        print(f"FAILED {f}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
