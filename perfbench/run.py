#!/usr/bin/env python3
"""perfbench: the repository benchmark. Runs one workload against graft.*
for a fixed window, checks the outputs in DuckDB and prints the metrics.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the library and
the harness into .bench_build/ (see build.py). The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the line
before it, prefixed "perfbench-report", carries the input properties,
per-kind latencies with their tails, the checks and the workload-specific
figures. See perfbench/README.md.
"""
import argparse
import filecmp
import glob
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
import gen  # noqa: E402
import metrics  # noqa: E402

GENERATIONS = 3  # input generations per run; setup_s takes their median
RUN_BUDGET_S = 170  # the whole run, build excluded
HEAP = "4g"
# graft's buildIfStale stores: fixed root, keyed by the input dir basename
STORE_ROOT = "/tmp/graft_stores"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def same_tree(a, b):
    c = filecmp.dircmp(a, b)
    if c.left_only or c.right_only or c.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, c.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in c.common_dirs)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run_harness(args, classpath, input_dir, work, out, deadline):
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn1g", "-XX:ReservedCodeCacheSize=512m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
              "--input", input_dir, "--work", work, "--out", out,
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    with open(os.path.join(out, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the JVM and removes its files (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classpath = build.build()
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        print("perfbench: cannot build the program: %s" % e, file=sys.stderr)
        return 2
    import oracle  # uses tools/check.py of the checkout
    t0 = time.time()
    deadline = t0 + RUN_BUDGET_S
    token = "pb%d%s" % (os.getpid(), time.time_ns())
    run_root = os.path.join(build.BUILD, "runs", token)
    input_dir = os.path.join(run_root, token)  # unique basename: graft's store key
    work, out = os.path.join(run_root, "work"), os.path.join(run_root, "out")
    os.makedirs(work)
    os.makedirs(out)
    checks, report = [], {}
    try:
        # set-up, part 1: input generation, several times (median reported);
        # the copies must be byte-identical
        gen_s = []
        for k in range(GENERATIONS):
            t = time.time()
            props = gen.generate(args.workload, args.seed, input_dir if k == 0 else input_dir + "_%d" % k)
            gen_s.append(time.time() - t)
        checks.append(("generator determinism",
                       all(same_tree(input_dir, input_dir + "_%d" % k) for k in range(1, GENERATIONS)),
                       "%d generations" % GENERATIONS))
        for k in range(1, GENERATIONS):
            shutil.rmtree(input_dir + "_%d" % k)
        # set-up, part 2: JVM, session, warm-up, store seeding (until the
        # harness starts its first timed op)
        launch = time.time()
        rc = run_harness(args, classpath, input_dir, work, out, deadline)
        summary_path = os.path.join(out, "summary.json")
        summary = json.load(open(summary_path)) if os.path.exists(summary_path) else {}
        ops = read_jsonl(os.path.join(out, "ops.jsonl"))
        checks.append(("harness exit", rc == 0, "exit code %s" % rc))
        if summary.get("first_op_ms", -1) > 0:
            setup_s = statistics.median(gen_s) + summary["first_op_ms"] / 1000.0 - launch
        else:
            setup_s = None
        # correctness, outside the timed window
        harness_s = time.time() - launch
        failed_keys, failed_requests = set(), 0
        if rc == 0 and args.workload == "curation_batch":
            res = oracle.check_curation(input_dir, out)
            failed_keys = {k for k, ok, _ in res if not ok}
            checks += res
        elif rc == 0:
            res = oracle.check_requests(input_dir, out, oracle.ingest_state(input_dir))
            checks += res
            failed_requests = sum(1 for _, ok, _ in res if not ok)
            res, store = oracle.check_ingest(input_dir, os.path.join(work, "live", "events.parquet"),
                                             summary["published_batches"] - 1,
                                             summary["quarantined_rows"], props)
            checks += res
            report["store"] = store
            if not all(ok for _, ok, _ in res):
                failed_keys.add("commit")
        report["wall_s"] = {"harness": harness_s, "checks": time.time() - launch - harness_s}

        # an op fails when it raised, or when its output failed a check
        def op_failed(o):
            return not o["ok"] or o["key"] in failed_keys or o["kind"] in failed_keys
        attempted = max(1, len(ops))
        failed = sum(1 for o in ops if op_failed(o)) + failed_requests
        good = [o for o in ops if not op_failed(o)]
        untraced = [o for o in good if not o["traced"]]
        traced = [o for o in good if o["traced"]]
        e2e = metrics.end_to_end(args.workload, untraced, summary, setup_s, props)
        if args.trace:
            spans = read_jsonl(os.path.join(out, "spans.jsonl"))
            e2e_t = metrics.end_to_end(args.workload, traced, summary, setup_s, props)
            report["tracing_overhead"] = metrics.overhead(e2e, e2e_t)
            shown = metrics.per_layer(args.workload, traced, summary, spans,
                                      report["tracing_overhead"]["op_p50_ms"] or 0.0)
            report["unexplained_share_by_op"] = metrics.self_shares(spans)
            keep = os.path.join(build.BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            stem = os.path.join(keep, "%s_seed%d" % (args.workload, args.seed))
            with open(stem + "_spans.jsonl", "w") as f:
                f.writelines(json.dumps(x) + "\n" for x in spans)
            with open(stem + "_layers.json", "w") as f:
                json.dump(shown, f, indent=1, sort_keys=True)
            report["span_file"] = os.path.relpath(stem + "_spans.jsonl", build.ROOT)
        else:
            shown = e2e
        report.update(metrics.detail(args.workload, untraced, traced))
        report["end_to_end"] = e2e
        report["setup"] = {"generate_s": gen_s, "jvm_to_first_op_s":
                           None if setup_s is None else setup_s - statistics.median(gen_s),
                           "warmup_ms": summary.get("warmup_ms"),
                           "seed_store_ms": summary.get("seed_store_ms")}
        report["summary"] = {k: v for k, v in summary.items() if k not in ("warmup_ms",)}
        report["inputs"] = {k: v for k, v in props.items() if k != "check_sample"}
        report["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
        report["error_rate"] = failed / attempted
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        for p in glob.glob(os.path.join(STORE_ROOT, "*%s*" % token)):
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    correct = all(ok for _, ok, _ in checks) and failed == 0 and all(
        m["value"] is not None for m in shown.values())
    print("perfbench-report " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": shown}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
