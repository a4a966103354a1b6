"""Self-check of the benchmark: runs every workload at a tiny size (sf0.001
tables, a 300-document corpus), traced and untraced, and checks that each
run is correct and prints every metric named in BENCHMARK.json with its
unit, plus the summary lines the README names.

Usage (from the repository root): python3 perfbench/selfcheck.py
"""
import json
import subprocess
import sys
from pathlib import Path

SUMMARY = {"rag_refresh": ["rag_full_s", "rag_incr_s", "failed_frac"],
           "adhoc_queries": ["query_p50_s", "query_p90_s", "queries_per_s", "failed_frac"]}


def main() -> int:
    spec = json.loads(Path("BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-1500:]}")
                continue
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: not correct: {lines[-1][:300]}")
            for m in names:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or wrong: {got}")
            extra = set(res["metrics"]) - {m["name"] for m in names}
            if extra:
                problems.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
            if trace == 0:
                shown = {ln.split()[0] for ln in lines[:-1] if ln.strip()}
                problems += [f"{tag}: summary line {s} missing"
                             for s in SUMMARY[w["name"]] if s not in shown]
            print(f"ok {tag}" if not problems else f"checked {tag}", flush=True)
    for pr in problems:
        print("FAIL", pr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
