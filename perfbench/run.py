#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program's main
sources together with the benchmark harness (perfbench/build.sbt) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the build
while the sources are unchanged. The JVM harness writes the raw facts of
the run; this script turns them into metrics, prints every metric with
its unit, then, as the last line, the JSON result. It exits non-zero
when a table or a read disagrees with the generator's model.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
READ_CLASSES = ("scan", "lookup", "asof", "meta")

# end-to-end metrics of the result line with --trace 0, the ones
# BENCHMARK.json gates; the record carries the rest
E2E_UNITS = {
    "setup_s": "s",
    "freshness_p50_ms": "ms",
    "rows_per_s": "1/s",
    "scan_p50_ms": "ms",
    "asof_p50_ms": "ms",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build compiles or packages, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt unless the stamped digest matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala next to perfbench/: run from a full checkout")
    digest = source_digest()
    stamp = os.path.join(build_dir, "stamp")
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes, digest
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, PERFBENCH_BUILD=build_dir, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts[0] and os.path.exists(repos):
        # resolve from the same local repositories the program's build uses
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts).strip()
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "products"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    if rc != 0 or not os.path.isdir(classes):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (log: {log})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest


# ---------------------------------------------------------------- run

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classes, build_dir, args, extra):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must name a Spark 4.1 install")
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(spark_home, "jars", "*")]),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--work", work] + extra
    log = os.path.join(build_dir, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {JVM_TIMEOUT_S} s (log: {log})")
        if rc != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            fail(f"JVM harness exited {rc} (log: {log})")
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    the 11th-largest sample, its percentile and the sample count.
    None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None, n
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def end_to_end(raw):
    """Every end-to-end metric: the gated ones by value; the rest, which
    vary too much between runs to gate, with their percentile and n."""
    commits = [c for c in raw["commits"] if c["ok"]]
    fresh = [c["t1_ms"] - c["t0_ms"] for c in commits]

    def latencies(phase):
        return {k: [r["end_ms"] - r["due_ms"] for r in raw["reads"]
                    if r["outcome"] == "ok" and r["phase"] == phase and r["cls"] == k]
                for k in READ_CLASSES}
    quiet, live = latencies("quiet"), latencies("live")
    m = {
        # the program's set-up work; the session start is Spark's own and
        # is kept in the record only
        "setup_s": (median(raw["setup_round_ms"]) + raw["settle_ms"] + raw["warmup_ms"]) / 1000.0,
        "freshness_p50_ms": median(fresh),
        "rows_per_s": 1000.0 * sum(c["rows"] for c in commits) / sum(fresh) if fresh else None,
    }
    extra = {}
    for k in READ_CLASSES:
        if f"{k}_p50_ms" in E2E_UNITS:
            m[f"{k}_p50_ms"] = median(quiet[k])
        else:
            extra[f"{k}_p50_ms"] = {"value": median(quiet[k]), "unit": "ms",
                                    "percentile": 50.0, "n": len(quiet[k])}
    f_tail, f_pct, f_n = tail(fresh)
    q_tail, q_pct, q_n = tail([x for d in (quiet, live) for v in d.values() for x in v])
    extra["freshness_tail_ms"] = {"value": f_tail, "unit": "ms", "percentile": f_pct, "n": f_n}
    extra["query_tail_ms"] = {"value": q_tail, "unit": "ms", "percentile": q_pct, "n": q_n}
    for k in READ_CLASSES:
        if live[k]:
            extra[f"live_{k}_p50_ms"] = {"value": median(live[k]), "unit": "ms",
                                         "percentile": 50.0, "n": len(live[k])}
    return m, extra


def spans_and_layers(raw):
    """Spans of every traced commit and read (a commit or read is the
    parent; its children share its trace id), and per-layer metrics."""
    jobs = raw["jobs"]
    writer_jobs = [j for j in jobs if j["client"] == "writer" and j["end_ms"] >= 0]
    reader_jobs = {}
    for j in jobs:
        if j["client"] == "reader" and j["end_ms"] >= 0:
            reader_jobs.setdefault(j["span"], []).append(j)
    spans, per = {}, {}

    def add(metric, v):
        per.setdefault(metric, []).append(v)

    def span(trace_id, name, layer, start, end, parent=None, **attrs):
        sid = f"{trace_id}/{sum(s['trace'] == trace_id for s in spans.values())}"
        spans[sid] = {"trace": trace_id, "id": sid, "parent": parent, "name": name,
                      "layer": layer, "start_ms": start, "end_ms": end, "attrs": attrs,
                      "children": []}
        if parent is not None:
            spans[parent]["children"].append(sid)
        return sid

    traced = [c for c in raw["commits"] if c["ok"] and c["traced"] and "progress" in c]
    for c in traced:
        tid = f"commit-{c['i']}"
        t0, ta, t1 = c["t0_ms"], c["append_end_ms"], c["t1_ms"]
        p = c["progress"]
        d = p["duration_ms"]
        ts = p["trigger_start_ms"]
        te = ts + d.get("triggerExecution", 0)
        root = span(tid, "commit", "harness", t0, t1, rows=c["rows"])
        span(tid, "topic.append", "topic", t0, ta, parent=root)
        span(tid, "stream.wait", "stream", ta, max(ta, ts), parent=root)
        trig = span(tid, "stream.trigger", "stream", ts, te, parent=root)
        lo, wal = d.get("latestOffset", 0), d.get("walCommit", 0)
        span(tid, "stream.latest_offset", "stream", ts, ts + lo, parent=trig)
        span(tid, "stream.checkpoint", "stream", ts + lo, ts + lo + wal, parent=trig)
        ab_start = ts + lo + wal + d.get("getBatch", 0) + d.get("queryPlanning", 0)
        ab_end = ab_start + d.get("addBatch", 0)
        ab = span(tid, "stream.add_batch", "sink", ab_start, ab_end, parent=trig)
        co = d.get("commitOffsets", 0)
        span(tid, "stream.checkpoint", "stream", te - co, te, parent=trig)
        mine = [j for j in writer_jobs if t0 <= j["start_ms"] <= t1]
        for j in mine:
            # child slot under each job is left for engine phase spans
            span(tid, f"spark.job.{j['id']}", "spark", j["start_ms"], j["end_ms"], parent=ab,
                 stages=j["stages"], tasks=j["tasks"])
        covered = union_ms([(j["start_ms"], j["end_ms"]) for j in mine], ts, te)
        add("topic.append_ms", ta - t0)
        add("topic.files", c["topic_files"])
        add("stream.wait_ms", max(0.0, ts - ta))
        add("stream.latest_offset_ms", lo)
        add("stream.add_batch_ms", d.get("addBatch", 0))
        add("stream.checkpoint_ms", wal + co)
        add("sink.jobs", len(mine))
        add("sink.stages", sum(j["stages"] for j in mine))
        add("sink.tasks", sum(j["tasks"] for j in mine))
        add("sink.driver_gap_ms", max(0.0, d.get("addBatch", 0) - covered))
        add("sink.task_cpu_ms", sum(j["cpu_ns"] for j in mine) / 1e6)
        add("sink.shuffle_bytes", sum(j["shuffle_write_bytes"] for j in mine))
        add("sink.rows_written_per_input_row",
            sum(j["output_rows"] for j in mine) / c["rows"])
        add("store.manifest_read_ms", c["manifest_read_ms"])
        add("store.manifest_bytes", c["manifest_bytes"])
        add("store.files", c["files"])
        add("store.delta_files", c["delta_files"])
        add("store.versions", c["versions"])
        add("store.bytes_written_per_input_byte",
            sum(j["output_bytes"] for j in mine) / c["bytes"])

    for r in raw["reads"]:
        if r["outcome"] != "ok" or not r["traced"]:
            continue
        tid = r["span"]
        root = span(tid, f"read.{r['cls']}", "harness", r["due_ms"], r["end_ms"])
        span(tid, "harness.lag", "harness", r["due_ms"], r["start_ms"], parent=root)
        span(tid, "query.plan", "catalog", r["start_ms"], r["plan_end_ms"], parent=root)
        ex = span(tid, "query.exec", "sql", r["plan_end_ms"], r["end_ms"], parent=root)
        mine = reader_jobs.get(tid, [])
        for j in mine:
            span(tid, f"spark.job.{j['id']}", "spark", j["start_ms"], j["end_ms"], parent=ex,
                 stages=j["stages"], tasks=j["tasks"])
        k = r["cls"]
        add(f"query.{k}.plan_ms", r["plan_end_ms"] - r["start_ms"])
        add(f"query.{k}.exec_ms", r["end_ms"] - r["plan_end_ms"])
        add(f"query.{k}.jobs", len(mine))
        add(f"query.{k}.task_cpu_ms", sum(j["cpu_ns"] for j in mine) / 1e6)
        add(f"query.{k}.input_bytes", sum(j["input_bytes"] for j in mine))
        add(f"query.{k}.files_read", r["files_read"])

    # self time: a span's duration minus what its children cover
    per_trace = {}
    for s in spans.values():
        kids = [spans[c] for c in s["children"]]
        s["self_ms"] = max(0.0, (s["end_ms"] - s["start_ms"]) - union_ms(
            [(k["start_ms"], k["end_ms"]) for k in kids], s["start_ms"], s["end_ms"]))
        kind = "commit" if s["trace"].startswith("commit") else "read"
        acc = per_trace.setdefault((kind, s["trace"]), {})
        acc[s["layer"]] = acc.get(s["layer"], 0.0) + s["self_ms"]
    for (kind, _), layers in per_trace.items():
        for layer in ("harness", "topic", "stream", "sink", "spark", "catalog", "sql"):
            if kind == "commit" and layer in ("catalog", "sql"):
                continue
            if kind == "read" and layer in ("topic", "stream", "sink"):
                continue
            add(f"self.{kind}.{layer}_ms", layers.get(layer, 0.0))

    metrics = {}
    for k, v in per.items():
        metrics[k] = median(v)
    lag = [r["start_ms"] - r["due_ms"] for r in raw["reads"] if r["phase"] == "live"]
    metrics["harness.reader_lag_ms"] = median(lag) if lag else 0.0
    # the first loop commit runs slow in either mode, and compactions fall
    # on one side only, so both are left out
    steady = [c for c in raw["commits"][1:] if c["ok"] and not c["compaction"]]
    on = [c["t1_ms"] - c["t0_ms"] for c in steady if c["traced"]]
    off = [c["t1_ms"] - c["t0_ms"] for c in steady if not c["traced"]]
    if on and off:
        metrics["trace.overhead_pct"] = 100.0 * (median(on) - median(off)) / median(off)
    return list(spans.values()), metrics, per


def per_layer_names():
    names = ["topic.append_ms", "topic.files", "stream.wait_ms", "stream.latest_offset_ms",
             "stream.add_batch_ms", "stream.checkpoint_ms", "sink.jobs", "sink.stages",
             "sink.tasks", "sink.driver_gap_ms", "sink.task_cpu_ms", "sink.shuffle_bytes",
             "sink.rows_written_per_input_row", "store.manifest_read_ms",
             "store.manifest_bytes", "store.files", "store.delta_files", "store.versions",
             "store.bytes_written_per_input_byte"]
    for k in READ_CLASSES:
        names += [f"query.{k}.{m}" for m in
                  ("plan_ms", "exec_ms", "jobs", "task_cpu_ms", "input_bytes", "files_read")]
    names += [f"self.commit.{x}_ms" for x in ("harness", "topic", "stream", "sink", "spark")]
    names += [f"self.read.{x}_ms" for x in ("harness", "catalog", "sql", "spark")]
    return names + ["harness.reader_lag_ms", "trace.overhead_pct"]


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_bytes"):
        return "bytes"
    if "_per_" in name:
        return "ratio"
    return "count"


# ---------------------------------------------------------------- main

def cpu_times():
    """The machine's aggregate CPU counters (Linux /proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(a, b):
    """Share of CPU time the hypervisor gave to other guests between a and b."""
    if not a or not b or sum(b) <= sum(a):
        return None
    return 100.0 * (b[7] - a[7]) / (sum(b) - sum(a))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_bulk", "cdc_small", "read_while_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt-model", action="store_true",
                    help="self-test: perturb the model so the correctness check must fail")
    args = ap.parse_args(argv)

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                                                   ".bench_build")))
    classes, digest = build(build_dir)
    load_start, cpu_start = os.getloadavg(), cpu_times()
    raw = run_jvm(classes, build_dir, args, ["--corrupt-model"] if args.corrupt_model else [])
    host = {"nproc": os.cpu_count(), "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(), "cpu_steal_pct": steal_pct(cpu_start, cpu_times()),
            "jvm_max_heap_bytes": raw["max_heap_bytes"],
            "git_commit": git_commit(), "source_sha256": digest,
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}

    attempted = len(raw["commits"]) + len(raw["reads"])
    failed = sum(not c["ok"] for c in raw["commits"]) + \
        sum(r["outcome"] == "failed" for r in raw["reads"])
    wrong = [r for r in raw["reads"] if r["outcome"] == "wrong"]
    correct = not raw["mismatches"] and not wrong and failed == 0

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, "attempted": attempted, "failed": failed,
              "error_rate": failed / attempted if attempted else 1.0,
              "session_s": raw["session_ms"] / 1000.0,
              "setup_rounds_s": [x / 1000.0 for x in raw["setup_round_ms"]],
              "settle_s": raw["settle_ms"] / 1000.0, "warmup_s": raw["warmup_ms"] / 1000.0,
              "commits": len(raw["commits"]), "reads": len(raw["reads"]),
              "freshness_ms": [round(c["t1_ms"] - c["t0_ms"], 3) for c in raw["commits"]],
              "read_ms": {k: [round(r["end_ms"] - r["due_ms"], 3) for r in raw["reads"]
                              if r["cls"] == k and r["phase"] != "warmup"]
                          for k in READ_CLASSES},
              "mismatches": raw["mismatches"], "errors": raw["errors"]}
    if args.trace:
        spans, layer, samples = spans_and_layers(raw)
        names = per_layer_names()
        metrics = {k: {"value": layer.get(k, 0.0), "unit": unit_of(k)} for k in names}
        record["per_layer_samples"] = samples
        trace_file = os.path.join(build_dir, "traces",
                                  f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as fh:
            json.dump({"record": record, "spans": spans}, fh)
        record["trace_file"] = trace_file
    else:
        e2e, extra = end_to_end(raw)
        missing = [k for k, v in e2e.items() if v is None]
        if missing and correct:
            fail(f"no samples for {', '.join(missing)}")
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        record["extra"] = extra
        for k, v in extra.items():
            print(f"{k} {v['value']} {v['unit']} (p{v['percentile']}, n={v['n']})")
    record["metrics"] = metrics

    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    print(f"error_rate {record['error_rate']} ratio ({failed}/{attempted})")
    for m in raw["mismatches"]:
        print(f"mismatch: {m}", file=sys.stderr)
    for e in raw["errors"]:
        print(f"error: {e}", file=sys.stderr)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
