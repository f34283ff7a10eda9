#!/usr/bin/env python3
"""Self-tests of the pipeline benchmark.

    python3 perfbench/selftest.py [--workloads ingest_bulk,cdc_small,read_while_ingest]
                                  [--units-only]

Run from the root of a checkout. Checks, in order:
  1. the tail rule and the interval union behind self time (unit cases);
  2. a run from a directory holding only BENCHMARK.json and perfbench/
     exits non-zero without printing a result;
  3. the correctness gate: a run whose model is deliberately corrupted
     exits non-zero and reports "correct": false;
  4. exact writer counters: two traced runs with the same seed give the
     same per-commit writer counts, commit by commit, over the commits
     both traced.
Exits non-zero if any check fails.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

# counts that depend only on the seeded inputs, never on timing or load
EXACT = ["topic.files", "sink.jobs", "sink.stages", "sink.tasks",
         "sink.rows_written_per_input_row", "store.files", "store.delta_files",
         "store.versions"]

failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def units():
    xs = list(range(1, 101))
    check(run.tail(xs[:10]) == (None, None, 10), "tail: no tail below 11 samples")
    check(run.tail(xs[:11]) == (1, 100.0 / 11, 11), "tail: 11 samples -> the smallest")
    check(run.tail(xs) == (90, 90.0, 100), "tail: 100 samples -> p90, 10 beyond it")
    v, p, n = run.tail(list(reversed(range(1000))))
    check((v, p, n) == (989, 99.0, 1000), "tail: 1000 samples -> p99, order-independent")
    check(run.union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30, "union: overlaps merge")
    check(run.union_ms([(0, 10), (5, 20)], 8, 12) == 4, "union: clipped to the window")
    check(run.union_ms([], 0, 10) == 0, "union: empty")


def bench(args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{\"correct\"") else None
    record = next((json.loads(x)["record"] for x in lines if x.startswith("{\"record\"")), None)
    return p.returncode, last, record, p.stderr


def standalone():
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    bare = os.path.join(build_dir, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, last, _, _ = bench(["--workload", "cdc_small", "--seed", "1", "--seconds", "1",
                            "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and last is None, f"bare directory: exit {rc}, no result line")


def corrupted():
    rc, last, record, _ = bench(["--workload", "cdc_small", "--seed", "7", "--seconds", "2",
                                 "--trace", "0", "--corrupt-model"])
    check(rc != 0 and last is not None and last["correct"] is False
          and record is not None and record["mismatches"],
          f"corrupted model: exit {rc}, correct={last and last['correct']}")


def exact_counts(workload):
    samples = []
    for _ in range(2):
        rc, last, record, err = bench(["--workload", workload, "--seed", "11",
                                       "--seconds", "10", "--trace", "1"])
        if rc != 0 or record is None:
            check(False, f"{workload}: traced run failed: {err[-500:]}")
            return
        samples.append(record["per_layer_samples"])
    a, b = samples
    n = min(len(a.get("sink.jobs", [])), len(b.get("sink.jobs", [])))
    check(n >= 1, f"{workload}: both runs traced {n} common commits")
    for k in EXACT:
        same = a[k][:n] == b[k][:n]
        check(same, f"{workload}: {k} repeats exactly ({a[k][:n]} vs {b[k][:n]})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="ingest_bulk,cdc_small,read_while_ingest")
    ap.add_argument("--units-only", action="store_true")
    args = ap.parse_args()
    units()
    if not args.units_only:
        standalone()
        corrupted()
        for w in args.workloads.split(","):
            exact_counts(w)
    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
