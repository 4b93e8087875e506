"""Turns the harness's raw per-op records into the benchmark's metrics.

End-to-end metrics come from untraced ops only; per-layer metrics from the
traced ops of a `--trace 1` run, whose untraced ops give the tracing
overhead. Every function here is pure so tests can feed it fixtures.
"""
import json
import math
import os
import re
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# The op kind that starts a unit of work. `op_p50_ms` is the median unit
# wall: in curation_batch a whole pass over the keys (the batch job), in
# ingest_upsert a commit plus the reads of the live store that follow it.
PRIMARY = {"curation_batch": "key", "ingest_upsert": "commit"}


def declared(path=None):
    """(end_to_end, per_layer) metric lists of BENCHMARK.json."""
    with open(path or os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def median(xs):
    return statistics.median(xs) if xs else None


def tail(values, min_beyond=10):
    """Highest of the percentiles 99.9/99/95/90/75 that has at least
    `min_beyond` samples strictly above it (nearest-rank), as
    (percentile, value, samples beyond); None when even p75 lacks them."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        k = max(1, math.ceil(p / 100.0 * n))
        v = xs[k - 1] if n else None
        beyond = sum(1 for x in xs if x > v) if n else 0
        if beyond >= min_beyond:
            return p, v, beyond
    return None


def latency(values):
    """Median, tail (see `tail`) and sample count of a list of ms."""
    t = tail(values)
    return {"n": len(values), "p50_ms": median(values),
            "tail": None if t is None else {"p": t[0], "ms": t[1], "beyond": t[2]}}


def cycles(ops, workload):
    """Group ops into the workload's units: one primary op plus the reads
    that follow it (ingest_upsert); each primary op alone elsewhere."""
    out = []
    for op in ops:
        if op["kind"] == PRIMARY[workload] or not out:
            out.append([op])
        else:
            out[-1].append(op)
    return out


def end_to_end(workload, ops, summary, setup_s, props):
    """Every end-to-end metric, from the given (untraced) ops."""
    if workload == "curation_batch":
        # a pass is the sum of its key calls; with one call per key (an
        # untraced run's single pass, or each half of a traced run) this
        # is that pass's wall, otherwise the sum of the per-key medians
        keys = {}
        for o in ops:
            keys.setdefault(o["key"], []).append(o["wall_ms"])
        prim = [sum(median(v) for v in keys.values())] if keys else []
        thr = props["documents"] / (prim[0] / 1000.0) if prim else None
    else:
        # an upload cycle: the commit and the reads that follow it
        prim = [sum(o["wall_ms"] for o in c) for c in cycles(ops, workload)]
        rows = props["feed_new_per_batch"] + props["feed_supersede_per_batch"]
        wall = sum(prim)
        thr = rows * len(prim) / (wall / 1000.0) if wall else None
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_ms": {"value": median(prim), "unit": "ms"},
        "throughput_per_s": {"value": thr, "unit": "1/s"},
        "rss_peak_mb": {"value": summary.get("rss_peak_mb"), "unit": "MB"},
    }


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_shares(spans):
    """Per traced op: the share of its wall that no child span covers
    (catalyst phases, jobs, streaming triggers) — the part of the op the
    trace does not explain."""
    roots = {s["op"]: s for s in spans if s["name"] == "op"}
    children = {}
    for s in spans:
        if s["name"] != "op" and s["parent"] == "op-%d" % s["op"]:
            children.setdefault(s["op"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for op, r in roots.items():
        wall = r["end_ms"] - r["start_ms"]
        if wall > 0:
            out[op] = 1.0 - _union_ms(children.get(op, []), r["start_ms"], r["end_ms"]) / wall
    return out


LAYER_SUMS = {
    "catalyst.analysis_ms": "analysis_ms", "catalyst.optimization_ms": "optimization_ms",
    "catalyst.planning_ms": "planning_ms", "catalyst.executions": "qes",
    "scheduler.jobs": "jobs", "scheduler.stages": "stages", "scheduler.tasks": "tasks",
    "scheduler.task_run_ms": "task_run_ms", "scheduler.task_cpu_ms": "task_cpu_ms",
    "scheduler.shuffle_write_bytes": "shuffle_write_bytes",
    "scheduler.shuffle_read_bytes": "shuffle_read_bytes", "scheduler.spill_bytes": "spill_bytes",
    "codegen.compiles": "compiles", "sources.scan_rows": "scan_rows",
    "sources.scan_bytes": "scan_bytes", "sources.files_read": "files_read",
    "sources.bytes_written": "output_bytes",
}


def per_layer(workload, traced, summary, spans, overhead):
    """Every per-layer metric, as means per unit of work (see `cycles`) over
    the traced ops. `overhead` is the run's traced / untraced op_p50 - 1."""
    cyc = cycles(traced, workload)
    n = max(1, len(cyc))
    ops = [o for c in cyc for o in c]
    def total(field):
        return sum(o["layers"][field] for o in ops)
    out = {name: total(field) / n for name, field in LAYER_SUMS.items()}
    gaps = [sum(o["wall_ms"] - _union_ms(o["layers"]["job_spans"], o["start_ms"],
                                         o["start_ms"] + o["wall_ms"]) for o in c) for c in cyc]
    out["scheduler.gap_ms"] = statistics.mean(gaps) if gaps else 0.0
    answering = [o for o in ops if o["rows"] >= 0]  # commits return no rows
    rows = sum(o["rows"] for o in answering)
    out["sources.rows_per_result"] = (
        sum(o["layers"]["scan_rows"] for o in answering) / rows if rows else 0.0)
    out["operators.build_ms"] = sum(o["build_ms"] for o in ops) / n
    out["operators.exec_ms"] = sum(o["exec_ms"] for o in ops) / n
    out["jvm.heap_peak_mb"] = summary.get("heap_peak_mb")
    out["jvm.gc_ms"] = summary.get("jvm_gc_ms")
    shares = self_shares(spans)
    out["trace.unexplained_share"] = median(list(shares.values())) or 0.0
    out["trace.overhead"] = overhead
    units = {m["name"]: m["unit"] for m in declared()[1]}
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}


def overhead(e2e_untraced, e2e_traced):
    """Tracing overhead of each end-to-end metric: the share by which the
    traced ops read worse than the untraced ones (negative: better). The
    listeners attach only around traced ops, after set-up, so set-up has
    none; memory is one process and cannot be split within a run, so the
    traced run's own rss_peak_mb is given for comparison with untraced runs."""
    out = {"setup_s": 0.0, "rss_peak_mb_of_traced_run": e2e_traced["rss_peak_mb"]["value"]}
    for k, higher_is_better in (("op_p50_ms", False), ("throughput_per_s", True)):
        a, b = e2e_untraced[k]["value"], e2e_traced[k]["value"]
        out[k] = ((a / b if higher_is_better else b / a) - 1.0) if a and b else None
    return out


def detail(workload, ops, traced):
    """Workload-specific figures for the report line: latencies with their
    tail and sample count per op kind, and the per-layer figures that exist
    on one workload only (streaming, per-key, write path)."""
    by_kind = {}
    for o in ops:
        label = o["key"] if o["kind"] in ("key", "read") else o["kind"]
        by_kind.setdefault(label, []).append(o["wall_ms"])
    rep = {"latency": {k: latency(v) for k, v in sorted(by_kind.items())}}
    rep["latency"]["all " + PRIMARY[workload]] = latency(
        [o["wall_ms"] for o in ops if o["kind"] == PRIMARY[workload]])
    if workload == "ingest_upsert":
        rep["latency"]["all read"] = latency([o["wall_ms"] for o in ops if o["kind"] == "read"])
        rep["latency"]["cycle"] = latency([sum(o["wall_ms"] for o in c) for c in cycles(ops, workload)])
    # result rows per fdsn request kind: how much each request returned
    rows = {}
    for o in ops:
        if o["kind"] == "read":
            rows.setdefault(o["key"], []).append(o["rows"])
    rep["result_rows"] = {k: {"n": len(v), "min": min(v), "p50": median(v), "max": max(v)}
                          for k, v in sorted(rows.items())}
    if traced:
        lay = [o["layers"] for o in traced]
        rep["codegen.compile_ms_per_op"] = sum(l["compile_ms"] for l in lay) / len(lay)
        # task GC reads 0 in some runs, so it is reported, not declared
        rep["scheduler.task_gc_ms_per_op"] = sum(l["task_gc_ms"] for l in lay) / len(lay)
        if workload == "curation_batch":
            keys = {}
            for o in traced:
                keys.setdefault(o["key"], []).append(o)
            rep["queries"] = {k: {"wall_ms": median([o["wall_ms"] for o in v]),
                                  "jobs": median([o["layers"]["jobs"] for o in v])}
                              for k, v in sorted(keys.items())}
        if workload == "ingest_upsert":
            commits = [o["layers"] for o in traced if o["kind"] == "commit"]
            if commits:
                rep["streaming"] = {k: sum(c[f] for c in commits) / len(commits) for k, f in (
                    ("streaming.trigger_ms", "trigger_ms"), ("streaming.add_batch_ms", "add_batch_ms"),
                    ("streaming.planning_ms", "stream_planning_ms"),
                    ("streaming.wal_commit_ms", "wal_commit_ms"),
                    ("streaming.input_rows", "stream_input_rows"))}
                rep["sources.bytes_written_per_commit"] = sum(c["output_bytes"] for c in commits) / len(commits)
            fdsn = [o for o in traced if o["kind"] == "read"]
            if fdsn:
                rep["operators.fdsn_build_ms"] = median([o["build_ms"] for o in fdsn])
                rep["operators.fdsn_exec_ms"] = median([o["exec_ms"] for o in fdsn])
    return rep
