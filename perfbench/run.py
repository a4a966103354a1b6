"""Benchmark entry point: builds the engine, makes seeded inputs, runs one
workload in one JVM, checks the outputs, and prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1 [--tiny]

Workloads: rag_refresh, adhoc_queries (see
perfbench/README.md for why each was chosen and what it stresses).

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones;
with --trace 1 they are the per-layer ones, and the spans go to
.bench_build/trace/<workload>-<seed>.json. --tiny runs every workload at a
small size (sf0.001 tables, a 300-document corpus) for the self-check.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("rag_refresh", "adhoc_queries")
# The registry keys adhoc_queries runs: every 13th key, from the 7th, of the
# 157 sorted relational and analytics keys (tpch_, a*, j*, w*, s<n>, e_, ts_,
# c*, f<n>, p<n>, o<n>, t<n>_, mv_, scd2, cdc, pivot/unpivot, set_, sample,
# funnel, retention, sessionize, asof). A fixed set, so that a run's latency
# percentiles compare across seeds; the seed sets the tables and the order.
KEYS = ["a8_distinct", "a_hll_cardinality", "a_stats_moments", "cdc_scd1_snapshot",
        "e_watermark_sla", "j_asof_tolerance", "p1_catalog_projection", "scd2_user_state",
        "tpch_q12", "tpch_q4", "ts_max_drawdown", "w_pct_change_wow"]
# Input sizes. Tables: TPC-H-like scale factor. Corpus: documents and the
# near-duplicate share (BENCHMARK.json records both in the workload's why);
# 5000 documents is the size of the lake's documents table at sf0.1.
SIZES = {
    False: {"sf": 0.1, "corpus": 5000, "dup": 0.2, "keys": len(KEYS)},
    True: {"sf": 0.001, "corpus": 300, "dup": 0.2, "keys": 4},
}
STATE_SHARE = 0.9   # share of doc_ids already ingested before the incremental rerun
JVM_TIMEOUT_S = 170

# Operation times are reported in units of the run's host-speed probe (the
# median time of a fixed SHA-256 pass, about 55 ms): on the development host
# raw times moved 12-16 % between runs with the host's speed, the probe-scaled
# ones 9-13 %. Set-up time is scaled by the probe too but kept in seconds: it
# is the set-up time on a host whose probe takes REF_PROBE_S, the development
# host's median (raw set-up times moved 6-33 %, scaled ones 5-22 %). The raw
# seconds are in the summary lines.
# The 90th percentile is a summary line only: a run has 2-3 refresh cycles
# or 36-60 queries, too few samples beyond it to hold a bound.
E2E = [("setup_s", "s"), ("op_p50_rel", "probe"), ("ops_per_probe", "1/probe")]
REF_PROBE_S = 0.055
LAYER_UNITS = {
    "op.driver_s": "s", "op.jobs_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks_per_stage": "count", "exec.task_cpu_s": "s", "exec.cpu_util": "fraction",
    "exec.gc_s": "s", "exec.sched_wait_s": "s", "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes", "spill.bytes": "bytes", "catalyst.plan_s": "s",
    "Tables.read_jobs": "count", "Tables.read_s": "s", "Graft.pins_created": "count",
    "Graft.pins_released": "count", "Graft.persistent_rdds_end": "count",
    "storage.mem_bytes_peak": "bytes", "jvm.heap_used_peak_mb": "MB", "trace.overhead_s": "s",
    "host.probe_s": "s",
}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def make_inputs(workload, seed, size, data):
    """Seeded inputs; the program sees only these files."""
    if workload == "rag_refresh":
        gen.corpus(data / "corpus", seed, size["corpus"], size["dup"])
        ids = np.random.default_rng(seed).permutation(size["corpus"])
        keep = np.sort(ids[: int(size["corpus"] * STATE_SHARE)]).astype(np.int64)
        (data / "state90").mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": pa.array(keep)}), data / "state90" / "part-0.parquet")
    else:
        gen.tables(data / "tables", seed, size["sf"])


def run_jvm(cp, workload, seed, seconds, trace, size, work, data):
    args = ["--workload", workload, "--seconds", str(seconds),
            "--trace", str(trace), "--work", str(work),
            "--out", str(work / "result.json")]
    if workload == "rag_refresh":
        args += ["--data", str(data / "corpus"), "--state90", str(data / "state90")]
    else:
        keys = KEYS[: size["keys"]]
        random.Random(seed).shuffle(keys)
        args += ["--data", str(data / "tables"), "--keys", ",".join(keys)]
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # a fixed heap, so that heap growth is not part of the timed operations
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           *opens, "-cp", cp, "perfbench.PerfBench", *args]
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("benchmark JVM timed out")
    if rc != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise RuntimeError(f"benchmark JVM exited with {rc}")
    return json.loads((work / "result.json").read_text())


def duckdb_con(work):
    """DuckDB with bounded memory and spill inside the work directory: an
    oracle that blows up fails its check instead of filling the disk."""
    import duckdb
    con = duckdb.connect()
    for s in ("threads=4", "memory_limit='2GB'", "max_temp_directory_size='1GB'",
              f"temp_directory='{work / 'duckdb_tmp'}'"):
        con.execute(f"SET {s}")
    return con


def check_queries(res, data, work):
    """Each timed query's row count must equal its DuckDB oracle's row count
    on the same tables. Returns the ids of failed operations."""
    con = duckdb_con(work)
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / 'tables' / t}.parquet'")
    cwd = os.getcwd()
    os.chdir(work)  # fixture-reading oracles use paths relative to the program's cwd
    try:
        expected = {}
        for key, sql in res["oracle"].items():
            try:
                expected[key] = con.execute(f"SELECT count(*) FROM ({sql}) q").fetchone()[0]
            except Exception as e:  # an oracle that cannot run fails its operations
                print(f"[check] oracle {key} failed: {e}", file=sys.stderr)
    finally:
        os.chdir(cwd)
    bad = set()
    for op in res["ops"]:
        if op["error"] or expected.get(op["key"]) != op["rows"]:
            print(f"[check] {op['key']}: rows {op['rows']} expected {expected.get(op['key'])}"
                  f" {op['error'][:200]}", file=sys.stderr)
            bad.add(op["id"])
    return bad


def check_rag(res, data, work):
    """After an incremental refresh the index must equal the full refresh's
    (row count and row-hash sum), and the ingest state must hold every corpus
    doc_id exactly once. Returns the ids of failed operations."""
    con = duckdb_con(work)
    corpus = f"{data / 'corpus' / 'documents.parquet'}"
    n_docs = con.execute(f"SELECT count(*) FROM '{corpus}'").fetchone()[0]
    bad = set()
    ref = None
    for op in res["ops"]:
        c = next((c for c in res["cycles"] if c["full"].endswith(f"/c{op['id']}/full")), None)
        ok = not op["error"] and c is not None
        if ok:
            sums = []
            for d in (c["full"], c["incr"]):
                sums.append(con.execute(
                    f"SELECT count(*), sum(hash(chunk_key, vec)) FROM '{d}/index/*.parquet'").fetchone())
                n, distinct, missing = con.execute(
                    f"SELECT count(*), count(DISTINCT doc_id), "
                    f"(SELECT count(*) FROM '{corpus}' c WHERE c.doc_id NOT IN "
                    f"(SELECT doc_id FROM '{d}/state/*.parquet')) FROM '{d}/state/*.parquet'").fetchone()
                if not (n == distinct == n_docs and missing == 0):
                    print(f"[check] state {d}: {n} rows, {distinct} distinct, {missing} missing,"
                          f" corpus {n_docs}", file=sys.stderr)
                    ok = False
            ref = ref or sums[0]
            if not (sums[0] == sums[1] == ref) or sums[0][0] == 0:
                print(f"[check] index differs: full {sums[0]} incr {sums[1]} first {ref}",
                      file=sys.stderr)
                ok = False
        if not ok:
            bad.add(op["id"])
    return bad


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args(argv)

    root = Path.cwd()
    build_dir = root / ".bench_build"
    cp = build.ensure(build_dir)
    size = SIZES[a.tiny]
    work = build_dir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    try:
        make_inputs(a.workload, a.seed, size, data)
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, size, work, data)
        bad = (check_rag(res, data, work) if a.workload == "rag_refresh"
               else check_queries(res, data, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    walls = [o["wall_s"] for o in ops]
    attempted, failed = len(ops), len(bad)
    probe = statistics.median(res["probe_s"])
    raw = {"op_p50_s": statistics.median(walls), "op_p90_s": p90(walls),
           "ops_per_s": attempted / sum(walls)}
    if a.trace:
        trace_dir = build_dir / "trace"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{a.workload}-{a.seed}.json").write_text(json.dumps(
            {"layers": res["layers"], "detail": res["detail"], "ops": ops}, indent=1))
        values = dict(res["layers"], **{"host.probe_s": probe})
        metrics = {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS.items()}
        shown = dict(res["detail"])
        shown.pop("spans", None)
        for k, v in shown.items():
            print(f"{k:40s} {v}")
    else:
        values = {"setup_s": statistics.median(res["setup_s"]) * REF_PROBE_S / probe,
                  "op_p50_rel": raw["op_p50_s"] / probe, "ops_per_probe": raw["ops_per_s"] * probe}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E}
    # Readable summary: every metric by name and unit, then the raw times
    # under plain names for this workload.
    if a.workload == "rag_refresh":
        extra = {"rag_full_s": statistics.median(o["parts"].get("full", 0) for o in ops),
                 "rag_incr_s": statistics.median(o["parts"].get("incr", 0) for o in ops)}
    else:
        extra = {"query_p50_s": raw["op_p50_s"], "query_p90_s": raw["op_p90_s"],
                 "queries_per_s": raw["ops_per_s"]}
    extra = dict(raw, **extra, probe_s=probe, samples=attempted, failed_frac=failed / attempted,
                 setup_raw_s=statistics.median(res["setup_s"]),
                 **{f"setup_{k + 1}_s": v for k, v in enumerate(res["setup_s"])})
    units = {"ops_per_s": "1/s", "queries_per_s": "1/s", "samples": "count",
             "failed_frac": "fraction"}
    for k, m in metrics.items():
        print(f"{k:40s} {m['value']:.6g} {m['unit']}")
    for k, v in extra.items():
        print(f"{k:40s} {v:.6g} {units.get(k, 's')}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(1)
