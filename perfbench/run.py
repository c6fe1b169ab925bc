#!/usr/bin/env python3
"""graft's benchmark: one workload, one JVM, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the engine and
the runner (perfbench/build.sh). Each run then starts a fresh JVM in a
private mount namespace whose /tmp is perfbench/.work/<workload>/tmp,
emptied before the run: the fixture directories graft stages under
/tmp/graft_* start empty every time and stay inside the checkout.

The seed sets the query order of every pass; the data is the fixed fixture
(seed 42) under --data. The runner JVM runs pass 0 cold (its outputs checked
against perfbench/expected.json) and the workload's warm-up passes, then
as many whole measured passes as fit --seconds at the workload's nominal
pass time (two at least). The last
stdout line is the result: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1 (the per-query trace goes to perfbench/out/). The
line before it is a summary with fail_frac, the tail percentile and the
sample counts. --pin records pass 0's outputs as the expected results.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import workloads  # noqa: E402
import layers  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
EXPECTED = HERE / "expected.json"
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
HEAP = "2g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME")
        home = str(Path(submit).resolve().parent.parent)
    jars = sorted(str(p) for p in (Path(home) / "jars").glob("*.jar"))
    if not jars:
        fail(f"no jars under {home}/jars")
    return jars


def launch(main_args, work, deadline, env=None):
    """Runs a JVM main of the build to completion in a private mount
    namespace whose /tmp is work/tmp; returns the launch time in epoch us."""
    cp = ":".join([str(HERE / ".build" / "classes")] + spark_jars())
    # A fixed heap keeps peak RSS from following the collector's sizing; a
    # UTC default zone makes dates hash the same on every machine.
    java = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-cp", cp] + main_args
    cmd = ["unshare", "--mount", "--", "sh", "-c",
           'mount --bind "$0" /tmp && exec "$@"', str(work / "tmp")] + java
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = open(work / "jvm.log", "w")
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                            env=dict(os.environ, **(env or {})))
    try:
        proc.wait(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the JVM exceeded the run limit; see {work / 'jvm.log'}")
    finally:
        log.close()
        shutil.rmtree(work / "tmp", ignore_errors=True)
    if proc.returncode != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"the JVM exited with {proc.returncode}:\n{tail}")
    return int(t0 * 1e6)


def build():
    """Builds the program if its sources changed; returns the run's deadline
    (a run that had to build may take longer)."""
    stamp = HERE / ".build" / "stamp"
    before = stamp.read_text() if stamp.exists() else None
    if subprocess.run(["bash", str(HERE / "build.sh")], stdout=sys.stderr).returncode != 0:
        fail("build failed")
    built = before != stamp.read_text()
    return START + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)


def measured_passes(w, seconds):
    """Whole measured passes for --seconds at the workload's nominal pass
    time, two at least. The count depends on --seconds alone, not on how
    fast this run goes, so every run has the same samples and a faster
    program does not change which percentile the tail is."""
    return max(2, round(seconds / w["nominal_pass_s"]))


def tail_stat(xs):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    i = max(0, len(s) - 11)
    return s[i], 100.0 * (i + 1) / len(s)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=str(Path.home() / "testdata"),
                    help="directory holding the sf0.001 and sf0.1 fixtures")
    ap.add_argument("--pin", action="store_true",
                    help="record pass 0's outputs in expected.json")
    args = ap.parse_args()
    w = workloads.WORKLOADS[args.workload]
    if not (Path(args.data) / w["sf"] / "lineitem.parquet").exists():
        fail(f"fixture {Path(args.data) / w['sf']} not found (see --data)")
    if shutil.which("unshare") is None:
        fail("unshare (util-linux) is required")

    deadline = build()

    work = HERE / ".work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    runner_args = [
        "perfbench.Runner", f"work={work}", f"out={out}", f"cores={os.cpu_count()}",
        f"data={Path(args.data) / w['sf']}", f"queries={','.join(w['queries'])}",
        f"mode={w['mode']}", f"warmup={w['warmup']}",
        f"passes={measured_passes(w, args.seconds)}",
        f"trace={args.trace}", f"seed={args.seed}"]
    if w["terminal_sort"] is not None:
        runner_args.append(f"terminal-sort={w['terminal_sort']}")
    t_launch = launch(runner_args, work, deadline)
    res = json.loads(out.read_text())
    shutil.rmtree(work / "sink", ignore_errors=True)

    samples = res["samples"]
    expected = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    if args.pin:
        if not all(s["ok"] for s in samples):
            fail("cannot pin: some queries failed")
        expected[args.workload] = {s["q"]: {"rows": s["rows"], "hash": s["hash"]}
                                   for s in sorted(samples, key=lambda s: s["q"]) if s["hash"]}
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    want = expected.get(args.workload, {})

    # Output check: every attempt's row count, and pass 0's content hash,
    # against the pinned results. An attempt that threw or mismatched fails.
    unpinned = [q for q in w["queries"] if q not in want]
    mismatches = []
    for s in samples:
        e = want.get(s["q"])
        if not s["ok"]:
            mismatches.append(f"{s['q']} pass {s['pass']}: {s['error']}")
        elif e and (s["rows"] != e["rows"] or s["hash"] not in ("", e["hash"])):
            mismatches.append(f"{s['q']} pass {s['pass']}: rows/hash {s['rows']}/{s['hash']}"
                              f" != {e['rows']}/{e['hash']}")
    failed = len(mismatches)

    summary = {
        "workload": args.workload, "seed": args.seed,
        "fail_frac": failed / len(samples), "attempted": len(samples),
        "passes": res["passes"], "queries": len(w["queries"]),
        "setup_parts_s": {
            "jvm": round((res["t_session"][0] - t_launch) / 1e6, 3),
            "session": round((res["t_session"][1] - res["t_session"][0]) / 1e6, 3),
            "pass0": round((res["t_measure"][0] - res["t_session"][1]) / 1e6, 3)},
        "mismatches": mismatches[:10], "unpinned": unpinned,
    }
    if args.trace:
        report = layers.analyse(res, args.workload, w["mode"])
        metrics = {k: v for k, v in report["metrics"].items() if k in layers.REPORTED}
        tracefile = HERE / "out" / f"trace-{args.workload}-seed{args.seed}.json"
        tracefile.parent.mkdir(exist_ok=True)
        tracefile.write_text(json.dumps(report, indent=1) + "\n")
        summary["trace"] = str(tracefile.relative_to(ROOT))
        summary["traced_pass_s"] = report["traced_pass_s"]
        summary["untraced_pass_s"] = report["untraced_pass_s"]
        summary["max_self_time_gap_s"] = report["max_self_time_gap_s"]
    else:
        lat = [layers.latency(s) for s in samples if s["pass"] > 0 and s["ok"]]
        if not lat:
            fail("no measured query succeeded")
        tail, pct = tail_stat(lat)
        summary["query_tail_pct"] = round(pct, 1)
        summary["latency_samples"] = len(lat)
        metrics = {
            "setup_s": ((res["t_measure"][0] - t_launch) / 1e6, "s"),
            "pass_s": (statistics.median(layers.pass_times(res)), "s"),
            "query_p50_s": (statistics.median(lat), "s"),
            "query_tail_s": (tail, "s"),
            "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
        }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0 and not unpinned,
        "attempted": len(samples), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


START = time.time()
if __name__ == "__main__":
    main()
