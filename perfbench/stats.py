"""Turn one run's raw record (written by the JVM side) into the result
line: correctness counts plus end-to-end or per-layer metrics.

End-to-end metrics (``--trace 0``) are the same four on every workload;
each workload maps them to its own unit of work (README.md, "Metrics").
Per-layer metrics (``--trace 1``) are derived from the spans and Spark
job records of a traced run; a layer a workload does not touch reports 0.
"""

import json
import math
import os
import re
import statistics

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MIN_BEYOND_P90 = 10

READ_KINDS = ("point", "hop1", "hop2", "scan", "varlen", "legacy")
WRITE_KINDS = ("create", "set", "merge", "delete")

# the batch workload's queries by layer (run.py BATCH_QUERIES)
GRAPH_QUERIES = ("q65_kcore",)
OPERATOR_QUERIES = {"q28_cosine_topk": "SimilarityOps", "q21_token_count": "TextOps",
                    "q01_scan_filter": "RelationalOps"}

END_TO_END = {"setup_s": "s", "queries_per_s": "1/s", "read_mean_ms": "ms",
              "retained_heap_mb": "MB"}

SPARK_COUNTERS = {
    "jobs": "count", "tasks": "count", "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB", "spill_mb": "MB", "executor_cpu_s": "s",
    "gc_s": "s", "task_wait_s": "s", "cpu_utilisation": "ratio",
}


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    u = {
        "api.rtt_ms": "ms", "api.queue_wait_ms": "ms", "api.transport_ms": "ms",
        "api.response_kb": "KB", "api.engine_busy_ratio": "ratio",
        "api.read_p50_ms": "ms", "api.read_p90_ms": "ms", "api.write_p50_ms": "ms",
        "api.write_p90_ms": "ms",
        "api.request_self_ms": "ms",
        "cypher.parse_us": "us",
    }
    for k in READ_KINDS + WRITE_KINDS:
        u[f"engine.{k}_ms"] = "ms"
    u.update({
        "engine.execute_self_ms": "ms", "engine.jobs_per_read": "count",
        "engine.tasks_per_read": "count", "engine.jobs_per_write": "count",
        "engine.rows_per_read": "count",
        "core.checkpoint_ms_per_write": "ms", "core.checkpoint_jobs": "count",
        "core.graph_build_s": "s", "core.invalidate_all_ms": "ms",
        "io.table_load_s": "s", "io.snapshot_load_s": "s", "io.snapshot_save_s": "s",
        "io.snapshots_written": "count", "io.snapshot_mb": "MB",
        "io.autosave_busy_s": "s",
    })
    for q in GRAPH_QUERIES:
        u[f"algo.{q}_s"] = "s"
    u["algo.pass_s"] = "s"
    for k, unit in SPARK_COUNTERS.items():
        u[f"algo.{k}"] = unit
    for m in sorted(set(OPERATOR_QUERIES.values())):
        u[f"operators.{m}_s"] = "s"
    for q in OPERATOR_QUERIES:
        u[f"operators.{q}_s"] = "s"
    for k, unit in SPARK_COUNTERS.items():
        u[f"operators.{k}"] = unit
    u["trace.spans"] = "count"
    return u


# ------------------------------------------------------------- statistics

def percentile(values, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(values, q):
    """How many samples lie strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def tail_percentile(values, q):
    """The q-th percentile, or None when fewer than ``MIN_BEYOND_P90``
    samples lie beyond it (too few to rest a tail figure on)."""
    if not values or beyond(values, q) < MIN_BEYOND_P90:
        return None
    return percentile(values, q)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def load_checksums(path):
    """The recorded batch checksums; a missing file is an error, not an
    empty record, so the answer check cannot silently stop checking."""
    with open(path) as fh:
        return json.load(fh)


def metric(value, unit):
    return {"value": value, "unit": unit}


def _span_ms(s):
    return (s["end_ns"] - s["start_ns"]) / 1e6


def _mean_span_s(spans, name):
    return mean([_span_ms(s) / 1e3 for s in spans if s["name"] == name])


def _self_ms(spans, name):
    """Mean self time of the spans called ``name``: their duration less
    that of their direct children."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + _span_ms(s)
    return mean([_span_ms(s) - child.get(s["id"], 0.0)
                 for s in spans if s["name"] == name])


def _spark(jobs, prefix, wall_s, cores):
    """Spark counters summed over ``jobs``; utilisation is executor CPU
    time over the wall time the jobs' queries took on ``cores`` cores."""
    out = {f"{prefix}.{k}": 0.0 for k in SPARK_COUNTERS}
    if not jobs:
        return out
    cpu_s = sum(j["cpu_ns"] for j in jobs) / 1e9
    out.update({
        f"{prefix}.jobs": float(len(jobs)),
        f"{prefix}.tasks": float(sum(j["tasks"] for j in jobs)),
        f"{prefix}.shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / 2**20,
        f"{prefix}.shuffle_read_mb": sum(j["shuffle_read_bytes"] for j in jobs) / 2**20,
        f"{prefix}.spill_mb": sum(j["spill_bytes"] for j in jobs) / 2**20,
        f"{prefix}.executor_cpu_s": cpu_s,
        f"{prefix}.gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
        f"{prefix}.task_wait_s": sum(j["task_wait_ms"] for j in jobs) / 1e3,
        f"{prefix}.cpu_utilisation": cpu_s / (wall_s * cores) if wall_s else 0.0,
    })
    return out


# ------------------------------------------------------------------ serve

def _latency_ms(s):
    return (s["recv_ns"] - s["send_ns"]) / 1e6


def serve_result(raw):
    """(attempted, failed, notes, end-to-end values). Every request is an
    attempt, and so is the check that the graph ends at its start size."""
    measured = [s for s in raw["samples"] if s["phase"] == "measure"]
    errors = [s for s in raw["samples"] if s["error"]]
    reads = [_latency_ms(s) for s in measured if s["kind"] in READ_KINDS]
    counts_ok = raw["start_counts"] == raw["end_counts"]
    notes = [f"{s['kind']}: {s['error']}"[:300] for s in errors[:5]]
    if not counts_ok:
        notes.append(f"graph size {raw['start_counts']} -> {raw['end_counts']}")
    e2e = {
        "setup_s": raw["import_s"] + statistics.median(raw["start_s"]) + raw["warmup_s"],
        "queries_per_s": len(measured) / raw["measure_wall_s"],
        "read_mean_ms": mean(reads),
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    return len(raw["samples"]) + 1, len(errors) + (not counts_ok), notes, e2e


def _is_checkpoint(job):
    return "Materialize" in job["call_site"] or "Checkpoint" in job["call_site"]


def _is_autosave(job):
    """A snapshot write of the daemon's autosave thread (it sets no job
    group); the set-up's own snapshot save is not called from graft.Serve."""
    site = job["call_site"]
    return not job["group"] and "GraphStore" in site and "graft.Serve" in site


def serve_layers(raw):
    spans, jobs = raw["spans"], raw["jobs"]
    m = {k: 0.0 for k in per_layer_units()}
    measured = {s["rid"]: s for s in raw["samples"] if s["phase"] == "measure"}
    engine = {s["rid"]: s for s in spans if s["name"] == "engine.execute"}
    mine = [s for s in spans if s["rid"] in measured]
    by_rid = {}
    for j in jobs:
        by_rid.setdefault(j["group"], []).append(j)

    rtt, wait, transport, size, busy = [], [], [], [], 0.0
    for rid, s in measured.items():
        rtt.append(_latency_ms(s))
        size.append(s["bytes"] / 1024)
        e = engine.get(rid)
        if e:
            busy += _span_ms(e)
            wait.append((e["start_ns"] - s["send_ns"]) / 1e6)
            transport.append(rtt[-1] - _span_ms(e) - wait[-1])
    reads = [r for r, s in measured.items() if s["kind"] in READ_KINDS]
    writes = [r for r, s in measured.items() if s["kind"] in WRITE_KINDS]
    read_ms = [_latency_ms(measured[r]) for r in reads]
    write_ms = [_latency_ms(measured[r]) for r in writes]
    m.update({
        "api.rtt_ms": mean(rtt), "api.queue_wait_ms": mean(wait),
        "api.transport_ms": mean(transport), "api.response_kb": mean(size),
        "api.engine_busy_ratio": busy / 1e3 / raw["measure_wall_s"],
        "api.read_p50_ms": percentile(read_ms, 50) if read_ms else 0.0,
        "api.read_p90_ms": tail_percentile(read_ms, 90) or 0.0,
        "api.write_p50_ms": percentile(write_ms, 50) if write_ms else 0.0,
        "api.write_p90_ms": tail_percentile(write_ms, 90) or 0.0,
        "api.request_self_ms": _self_ms(mine, "api.request"),
        "cypher.parse_us": mean([_span_ms(s) * 1e3 for s in mine
                                 if s["name"] == "cypher.parse"]),
        "engine.execute_self_ms": _self_ms(mine, "engine.execute"),
    })
    for k in READ_KINDS + WRITE_KINDS:
        m[f"engine.{k}_ms"] = mean([_span_ms(engine[r]) for r, s in measured.items()
                                   if s["kind"] == k and r in engine])
    m["engine.jobs_per_read"] = mean([len(by_rid.get(r, [])) for r in reads])
    m["engine.tasks_per_read"] = mean([sum(j["tasks"] for j in by_rid.get(r, []))
                                       for r in reads])
    m["engine.jobs_per_write"] = mean([len(by_rid.get(r, [])) for r in writes])
    m["engine.rows_per_read"] = mean([measured[r]["rows"] for r in reads])
    ckpt = [[j for j in by_rid.get(r, []) if _is_checkpoint(j)] for r in writes]
    m["core.checkpoint_jobs"] = mean([len(c) for c in ckpt])
    m["core.checkpoint_ms_per_write"] = mean([sum(_span_ms(j) for j in c) for c in ckpt])
    m["core.graph_build_s"] = _mean_span_s(spans, "core.graph_build")
    m["io.snapshot_load_s"] = _mean_span_s(spans, "io.snapshot_load")
    m["io.snapshot_save_s"] = _mean_span_s(spans, "io.snapshot_save")
    snaps = raw["snapshots"]
    m["io.snapshots_written"] = float(max(0, snaps["count"] - 1))
    m["io.snapshot_mb"] = snaps["bytes"] / 2**20 / max(1, snaps["count"])
    m["io.autosave_busy_s"] = sum(_span_ms(j) for j in jobs if _is_autosave(j)) / 1e3
    return m


# ------------------------------------------------------------------ batch

def batch_result(raw, checks):
    """(attempted, failed, notes, end-to-end values). Every query run is an
    attempt, the warm-up pass's too. A query fails when it throws, when
    checksums.json records no checksum for it, when its checksum differs
    from the recorded one, or when two runs of it disagree."""
    qs = raw["queries"]
    notes, failed, first = [], 0, {}
    for q in raw["warmup"] + qs:
        bad = None
        if q["error"]:
            bad = q["error"]
        elif q["query"] not in checks:
            bad = "no recorded checksum; re-run perfbench/record.py"
        elif checks[q["query"]] != q["checksum"]:
            bad = f"checksum {q['checksum']} != recorded {checks[q['query']]}"
        elif first.setdefault(q["query"], q["checksum"]) != q["checksum"]:
            bad = "checksum differs between runs"
        if bad:
            failed += 1
            notes.append(f"{q['query']}: {bad}"[:300])
    e2e = {
        "setup_s": statistics.median(raw["setup_s"]) + raw["warmup_s"],
        # the measured queries' time, their cache flushes included
        "queries_per_s": len(qs) / raw["measure_wall_s"],
        # each query's median over the passes, so one slow pass (a GC, a
        # busy neighbour) does not carry the figure
        "read_mean_ms": mean([statistics.median(_span_ms(q) for q in qs if q["query"] == name)
                              for name in sorted({q["query"] for q in qs})]),
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    return len(raw["warmup"]) + len(qs), failed, notes[:5], e2e


def batch_layers(raw):
    spans, jobs, qs = raw["spans"], raw["jobs"], raw["queries"]
    m = {k: 0.0 for k in per_layer_units()}
    passes = max(q["pass"] for q in qs) + 1

    def query_s(name):
        return sum(_span_ms(q) for q in qs if q["query"] == name) / 1e3 / passes

    def jobs_of(names):
        # batch job groups are "p<pass>.<query>"
        return [j for j in jobs if j["group"].partition(".")[2] in names]

    for q in GRAPH_QUERIES:
        m[f"algo.{q}_s"] = query_s(q)
    m["algo.pass_s"] = sum(m[f"algo.{q}_s"] for q in GRAPH_QUERIES)
    m.update(_spark(jobs_of(GRAPH_QUERIES), "algo", m["algo.pass_s"] * passes,
                    raw["cores"]))
    ops_s = 0.0
    for q, module in OPERATOR_QUERIES.items():
        m[f"operators.{q}_s"] = query_s(q)
        m[f"operators.{module}_s"] += query_s(q)
        ops_s += query_s(q)
    m.update(_spark(jobs_of(OPERATOR_QUERIES), "operators", ops_s * passes,
                    raw["cores"]))
    m["io.table_load_s"] = _mean_span_s(spans, "io.table_load")
    m["core.invalidate_all_ms"] = _mean_span_s(spans, "core.invalidate_all") * 1e3
    return m


# ------------------------------------------------------------------ result

def summarise(raw, trace, checks, untraced=None):
    """The result line and a diagnostics dict. ``untraced`` is the result
    line of an untraced run of the same sources, workload, seed and run
    length, if there was one: a traced run's tracing overhead is its
    throughput loss against that run. Without one the overhead is
    reported as unavailable."""
    serve = raw["workload"] == "serve_mixed"
    attempted, failed, notes, e2e = (
        serve_result(raw) if serve else batch_result(raw, checks))
    if trace:
        values = serve_layers(raw) if serve else batch_layers(raw)
        values["trace.spans"] = float(len(raw["spans"]))
        metrics = {k: metric(values[k], u) for k, u in per_layer_units().items()}
    else:
        metrics = {k: metric(e2e[k], u) for k, u in END_TO_END.items()}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    diag = {"workload": raw["workload"], "notes": notes, "end_to_end": e2e,
            "session_s": raw["session_s"], "main_s": raw["main_s"],
            "setup_reps_s": raw.get("setup_s", raw.get("start_s")),
            "import_s": raw.get("import_s"), "warmup_s": raw.get("warmup_s"),
            "samples": {k: sum(1 for s in raw.get("samples", []) if s["phase"] == "measure"
                               and (s["kind"] in READ_KINDS) == (k == "reads"))
                        for k in ("reads", "writes")},
            "measure_wall_s": raw["measure_wall_s"]}
    if not serve:
        diag["query_ms"] = {q["query"]: [round(_span_ms(x)) for x in raw["queries"]
                                         if x["query"] == q["query"]]
                            for q in raw["warmup"]}
    if trace:
        diag["trace_overhead_pct"] = overhead_pct(untraced, e2e)
    return out, diag


def overhead_pct(untraced, e2e):
    """Throughput a traced run lost against its untraced twin, in percent,
    or a note saying why there is no figure."""
    if not untraced:
        return ("unavailable: no untraced run of these sources with this "
                "workload, seed and run length in this checkout")
    base = untraced["metrics"]["queries_per_s"]["value"]
    return 100.0 * (base - e2e["queries_per_s"]) / base
