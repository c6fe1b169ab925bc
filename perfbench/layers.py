"""Per-layer numbers from a traced run.

Each traced sample becomes a span tree: query -> build (-> analysis) /
plan (-> optimize, planning) / exec -> job -> stage. Jobs reach their layer
through the job group the runner set ("<pass>/<query>/<build|plan|exec>").
A layer's self time is the part of the query's wall time in which that
layer is the deepest open span, so the self times of one query add up to
its wall time; the query's own self time is the residual, time spent in
the benchmark between layer calls.
"""
import statistics

DEPTH = {"query": 0, "build": 1, "plan": 1, "exec": 1,
         "analysis": 2, "optimization": 2, "planning": 2, "job": 3, "stage": 4}
SELF_NAMES = {"query": "residual", "build": "SparkEntry.build", "plan": "plans.plan_step",
              "exec": "operators.exec", "analysis": "plans.analysis",
              "optimization": "plans.optimize", "planning": "plans.planning",
              "job": "operators.job", "stage": "operators.stage"}
MB = 1024.0 * 1024.0

# Per-layer metrics: name -> unit. Order is the order of the output.
METRICS = {
    "SparkEntry.build_s": "s", "SparkEntry.build_jobs": "count",
    "plans.analysis_s": "s", "plans.optimize_s": "s", "plans.plan_s": "s",
    "plans.codegen_compiles": "count",
    "operators.exec_s": "s", "operators.jobs": "count", "operators.stages": "count",
    "operators.tasks": "count", "operators.task_wait_s": "s",
    "operators.task_run_s": "s", "operators.task_cpu_s": "s", "operators.gc_s": "s",
    "operators.util": "ratio", "operators.failed_tasks": "count",
    "operators.shuffle_write_mb": "MB", "operators.shuffle_read_mb": "MB",
    "operators.fetch_wait_s": "s", "operators.spill_mb": "MB",
    "Tables.scan_mb": "MB", "Tables.scan_rows": "count",
    "sink.output_mb": "MB", "sink.output_rows": "count", "sink.files": "count",
    "trace.residual_s": "s", "trace.overhead_s": "s",
}

# Printed per-layer metrics: all but the fetch wait, which local mode never
# has (no remote shuffle blocks); it stays in the per-query trace.
REPORTED = [k for k in METRICS if k != "operators.fetch_wait_s"]


def latency(s):
    """A sample's wall time in seconds, from the runner's first to last mark."""
    return (s["t"][7] - s["t"][0]) / 1e6


def pass_times(res):
    """Each measured pass's time: the sum of its queries' latencies (the
    row-count checks between queries are not part of it)."""
    return [sum(latency(s) for s in res["samples"] if s["pass"] == p)
            for p in range(1, res["passes"] + 1)]


def self_times(spans, lo, hi):
    """Deepest-open-span partition of [lo, hi]: kind -> microseconds."""
    cuts = sorted({lo, hi} | {t for s in spans for t in (s["start"], s["end"]) if lo < t < hi})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        open_ = [s for s in spans if s["start"] <= mid < s["end"]]
        kind = max(open_, key=lambda s: DEPTH[s["kind"]])["kind"] if open_ else "query"
        out[kind] = out.get(kind, 0) + (b - a)
    return out


def sample_spans(s, jobs, stages, actions, mode):
    p, q = s["pass"], s["q"]
    t = s["t"]
    sid = f"{p}/{q}"
    spans = [{"id": sid, "kind": "query", "start": t[0], "end": t[7], "parent": None},
             {"id": sid + "/build", "kind": "build", "start": t[1], "end": t[2], "parent": sid},
             {"id": sid + "/exec", "kind": "exec", "start": t[5], "end": t[6], "parent": sid}]
    if mode == "count":
        spans.append({"id": sid + "/plan", "kind": "plan", "start": t[3], "end": t[4], "parent": sid})
    phases = dict(s["phases"])
    if mode == "sink":
        # The write plans its own QueryExecution inside the exec span.
        for a in actions:
            ph = a["phases"]
            if "optimization" in ph and t[5] <= ph["optimization"][0] <= t[6]:
                phases.update({k: v for k, v in ph.items() if k != "analysis"})
    layer = {x["kind"]: x for x in spans}
    for kind, (a, b) in phases.items():
        if kind not in DEPTH:
            continue
        mid = (a + b) / 2
        par = next((x for x in spans[1:] if x["start"] <= mid <= x["end"]), spans[0])
        spans.append({"id": f"{sid}/{kind}", "kind": kind, "parent": par["id"],
                      "start": max(a, par["start"]), "end": min(b, par["end"])})
    for j in jobs.get(sid, []):
        par = layer.get(j["group"].rsplit("/", 1)[1], spans[0])
        spans.append({"id": f"{sid}/job{j['job']}", "kind": "job", "parent": par["id"],
                      "start": max(j["t"][0], par["start"]), "end": min(j["t"][1], par["end"])})
    for st in stages.get(sid, []):
        par = next((x for x in spans if x["id"] == f"{sid}/job{st['job']}"), spans[0])
        spans.append({"id": f"{sid}/stage{st['stage']}.{st['attempt']}", "kind": "stage",
                      "parent": par["id"], "start": max(st["t"][0], par["start"]),
                      "end": min(st["t"][1], par["end"])})
    return [x for x in spans if x["end"] >= x["start"]], phases


def analyse(res, name, mode):
    tr = res["trace"]
    fields = tr["fields"]
    cores = res["cores"]
    jobs, stages = {}, {}
    for j in tr["jobs"]:
        jobs.setdefault(j["group"].rsplit("/", 1)[0], []).append(j)
    for st in tr["stages"]:
        stages.setdefault(st["group"].rsplit("/", 1)[0], []).append(st)

    def counters(sid, layer):
        c = tr["counters"].get(f"{sid}/{layer}")
        return dict(zip(fields, c)) if c else dict.fromkeys(fields, 0)

    per_query, gap = {}, 0.0
    for s in res["samples"]:
        if not (s["traced"] and s["ok"]):
            continue
        sid = f"{s['pass']}/{s['q']}"
        t = s["t"]
        spans, phases = sample_spans(s, jobs, stages, res.get("actions", []), mode)
        st = self_times(spans, t[0], t[7])
        gap = max(gap, abs(sum(st.values()) - (t[7] - t[0])) / 1e6)
        ex = counters(sid, "exec")
        allc = [counters(sid, k) for k in ("build", "plan", "exec")]

        def dur(k):
            return (phases[k][1] - phases[k][0]) / 1e6 if k in phases else 0.0
        m = {
            "SparkEntry.build_s": (t[2] - t[1]) / 1e6,
            "SparkEntry.build_jobs": len([j for j in jobs.get(sid, []) if j["group"].endswith("/build")]),
            "plans.analysis_s": dur("analysis"), "plans.optimize_s": dur("optimization"),
            "plans.plan_s": dur("planning"), "plans.codegen_compiles": s["compiles"],
            "operators.exec_s": (t[6] - t[5]) / 1e6,
            "operators.jobs": len([j for j in jobs.get(sid, []) if j["group"].endswith("/exec")]),
            "operators.stages": len([x for x in stages.get(sid, []) if x["group"].endswith("/exec")]),
            "operators.tasks": ex["tasks"], "operators.task_wait_s": ex["task_wait_ms"] / 1e3,
            "operators.task_run_s": ex["run_ms"] / 1e3, "operators.task_cpu_s": ex["cpu_ns"] / 1e9,
            "operators.gc_s": ex["gc_ms"] / 1e3, "operators.failed_tasks": ex["failed_tasks"],
            "operators.shuffle_write_mb": ex["shuffle_write_b"] / MB,
            "operators.shuffle_read_mb": ex["shuffle_read_b"] / MB,
            "operators.fetch_wait_s": ex["fetch_wait_ms"] / 1e3,
            "operators.spill_mb": ex["spill_b"] / MB,
            "Tables.scan_mb": sum(c["scan_b"] for c in allc) / MB,
            "Tables.scan_rows": sum(c["scan_rows"] for c in allc),
            "sink.output_mb": ex["out_b"] / MB, "sink.output_rows": ex["out_rows"],
            "sink.files": s["files"],
            "trace.residual_s": st.get("query", 0) / 1e6,
        }
        m["wall_s"] = latency(s)
        m["self_s"] = {SELF_NAMES[k]: v / 1e6 for k, v in sorted(st.items())}
        m["spans"] = spans
        per_query.setdefault(s["q"], []).append(m)

    summed = dict.fromkeys(METRICS, 0.0)
    table = {}
    for q, ms in sorted(per_query.items()):
        med = {k: statistics.median(m[k] for m in ms) for k in METRICS
               if k not in ("operators.util", "trace.overhead_s")}
        med["wall_s"] = statistics.median(m["wall_s"] for m in ms)
        selfk = sorted({k for m in ms for k in m["self_s"]})
        med["self_s"] = {k: statistics.median(m["self_s"].get(k, 0.0) for m in ms) for k in selfk}
        med["samples"] = len(ms)
        med["exact_counts"] = {k: len({m[k] for m in ms}) == 1 for k in METRICS
                               if METRICS[k] in ("count", "MB")}
        table[q] = {"median": med, "samples": ms}
        for k in summed:
            if k in med:
                summed[k] += med[k]
    if summed["operators.exec_s"] > 0:
        summed["operators.util"] = summed["operators.task_run_s"] / (summed["operators.exec_s"] * cores)

    # Tracing overhead: the same queries' median latencies, traced minus
    # untraced, summed over the workload (a pass's worth).
    def pass_sum(traced):
        by_q = {}
        for s in res["samples"]:
            if s["pass"] > 0 and s["ok"] and s["traced"] == traced:
                by_q.setdefault(s["q"], []).append(latency(s))
        return sum(statistics.median(v) for v in by_q.values()), set(by_q)
    traced_s, tq = pass_sum(True)
    untraced_s, uq = pass_sum(False)
    if tq != uq:
        raise SystemExit("perfbench: a query lacks a traced or an untraced sample")
    summed["trace.overhead_s"] = traced_s - untraced_s
    return {
        "workload": name, "cores": cores,
        "metrics": {k: (summed[k], METRICS[k]) for k in METRICS},
        "traced_pass_s": traced_s, "untraced_pass_s": untraced_s,
        "max_self_time_gap_s": gap,
        "queries": table,
    }
