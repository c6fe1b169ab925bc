#!/usr/bin/env python3
"""Certifies perfbench/expected.json against the DuckDB oracle.

For each workload: dumps its queries with graft.Verify (in the workload's
plan shape), checks the dump with tools/selfcheck.py (--unordered for the
deployment shape) wherever oracle SQL exists, and hashes the dump with the
runner's content hash, which must equal the pinned expected result. Queries
without oracle SQL are reported as pinned only.

    python3 perfbench/certify.py [--data DIR] [--out perfbench/certification.json]
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import run  # noqa: E402
import workloads  # noqa: E402

HERE = Path(__file__).resolve().parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=str(Path.home() / "testdata"))
    ap.add_argument("--out", default=str(HERE / "certification.json"))
    args = ap.parse_args()
    run.build()
    expected = json.loads(run.EXPECTED.read_text())
    report = {}
    for name, w in workloads.WORKLOADS.items():
        work = HERE / ".work" / f"certify-{name}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        dump = work / "verify"
        sf = Path(args.data) / w["sf"]
        env = {"SPARK_GRAFT_ONLY": ",".join(w["queries"]), "SPARK_GRAFT_CPUS": str(os.cpu_count())}
        if w["terminal_sort"] is not None:
            env["SPARK_GRAFT_TERMINAL_SORT"] = w["terminal_sort"]
        deadline = time.time() + 1800
        run.launch(["graft.Verify", str(sf), str(dump)], work, deadline, env)
        run.launch(["perfbench.Runner", f"work={work}", f"cores={os.cpu_count()}",
                    f"hash-dir={dump}", f"out={work / 'hashes.json'}"], work, deadline)
        hashes = {h["q"]: h for h in json.loads((work / "hashes.json").read_text())}
        oracle = set(json.loads((dump / "oracle_sql.json").read_text()))
        with_oracle = sorted(set(w["queries"]) & oracle)
        cmd = [sys.executable, str(HERE.parent / "tools" / "selfcheck.py"),
               "--json", str(work / "selfcheck.json"), "--only", ",".join(with_oracle)]
        if w["terminal_sort"] == "false":
            cmd.append("--unordered")
        out = subprocess.run(cmd + [str(sf), str(dump)], capture_output=True, text=True)
        oracle_status = json.loads((work / "selfcheck.json").read_text())["queries"]
        rows = {}
        for q in w["queries"]:
            e, h = expected[name][q], hashes.get(q, {})
            rows[q] = {
                "oracle": oracle_status.get(q, {}).get("status", "no_oracle"),
                "verify_dump_matches_pin": (h.get("rows"), h.get("hash")) == (e["rows"], e["hash"]),
            }
        report[name] = {"sf": w["sf"], "terminal_sort": w["terminal_sort"],
                        "selfcheck": re.findall(r"\d+ pass / .*", out.stdout)[-1:],
                        "queries": rows}
        shutil.rmtree(work, ignore_errors=True)
        ok = all(r["verify_dump_matches_pin"] and r["oracle"] in ("pass", "no_oracle")
                 for r in rows.values())
        print(name, "certified" if ok else "NOT certified", json.dumps(report[name]["selfcheck"]))
    Path(args.out).write_text(json.dumps(report, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
