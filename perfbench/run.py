#!/usr/bin/env python3
"""Repository benchmark: JSON ingest and query-back workloads, timed end to
end (--trace 0) and per layer from outside (--trace 1).

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: ingest_jsonl, ingest_json_files, query_point, query_scan (see
perfbench/README.md). Each run builds the engine if its sources changed,
generates its inputs from the seed into a fresh directory under
.bench_work/, runs one JVM through the engine's public entry points,
checks every output, removes the directory, and prints one JSON object
as the last line of standard output.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("ingest_jsonl", "ingest_json_files", "query_point", "query_scan")
QUERY_WORKLOADS = ("query_point", "query_scan")
TABLE_SF = 0.1  # star-schema scale factor (600k lineitem rows)
TINY_SF = 0.002
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "throughput": "1/s"}
PER_LAYER = {"session.create_s": "s", "query.plan_ms": "ms", "query.jobs": "count",
             "query.gap_ms": "ms", "query.injob_s": "s", "exchange.shuffle_bytes": "bytes",
             "jvm.gc_s": "s", "trace.overhead_ms": "ms"}

# The program's own launch settings (build.sbt's javaOptions): the default
# collector and a heap capped by SPARK_DRIVER_MEM, 8g unless set.
JVM_PROGRAM = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]
# no hsperfdata file in the system temp directory: a run writes only inside the checkout
JVM_QUIET = ["-XX:-UsePerfData"]
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail(xs):
    """(q, q-th percentile) for the highest whole q with at least ten
    samples beyond it, or None when there are fewer than 20 samples."""
    q = int(100 * (1 - 10 / len(xs))) if len(xs) >= 20 else 0
    return (q, statistics.quantiles(xs, n=100, method="inclusive")[q - 1]) if q >= 50 else None


def oracle_check(work, oracle, perturb):
    """Registered entries' saved outputs against their DuckDB oracles,
    hashed as tools/check.py hashes them. Returns (checked, failures)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work / 'tables' / (t + '.parquet')}')")
    failures = []
    for name, sql in sorted(oracle.items()):
        tbl = pq.read_table(work / "outputs" / name)
        srows = list(zip(*[tbl.column(c).to_pylist() for c in tbl.column_names])) if tbl.num_rows else []
        res = con.execute(sql)
        orows = res.fetchall()
        ocols = [d[0] for d in res.description]
        ok = (len(srows) == len(orows) and sorted(tbl.column_names) == sorted(ocols)
              and check.table_hash(tbl.column_names, srows) == check.table_hash(ocols, orows))
        if ok == perturb:  # a perturbed run expects every oracle to disagree
            failures.append(f"oracle {name}: {len(srows)} rows vs {len(orows)}")
    return len(oracle), failures


def jvm(classes, work, a, extra):
    jars = build.spark_jars()
    cmd = (["java"] + JVM_PROGRAM + JVM_QUIET + [f"-Djava.io.tmpdir={work / 'tmp'}"] + JVM_OPENS +
           ["-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            "--tiny", "1" if a.tiny else "0", "--perturb", "1" if a.perturb else "0"] + extra)
    (work / "tmp").mkdir()
    spawn = time.time()
    with open(work / "jvm.log", "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                timeout=DEADLINE_S - (time.time() - a.started)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not (work / "result.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        sys.exit(f"perfbench: benchmark JVM failed ({rc})")
    res = json.loads((work / "result.json").read_text())
    res["setup"]["jvm_start_s"] = res["info"]["main_epoch_ms"] / 1e3 - spawn
    return res


def setup_s(res):
    """Every set-up phase but the settle, which runs for a fixed time."""
    return sum(v for k, v in res["setup"].items() if k != "settle_s")


def throughput(res):
    """Records landed, calls made or entries run per second of the timed
    window: operations completed, checks and all, over its wall time."""
    return res["info"]["records_per_op"] * len(res["op_ms"]) / res["info"]["window_s"]


def metrics(a, res):
    """End-to-end metrics (trace 0) or per-layer metrics (trace 1)."""
    if a.trace:
        layers = res["layers"]
        missing = [m for m in PER_LAYER if m not in layers]
        if missing:
            sys.exit(f"perfbench: traced run reported no {missing}")
        return {m: {"value": layers[m], "unit": u} for m, u in PER_LAYER.items()}
    ops = res["op_ms"]
    if not ops:
        sys.exit("perfbench: no operation completed")
    values = {"setup_s": setup_s(res), "op_p50_ms": statistics.median(ops), "throughput": throughput(res)}
    return {m: {"value": values[m], "unit": u} for m, u in END_TO_END.items()}


def detail(a, res, attempted, failed, failures):
    """The same run under the names the workloads are discussed by."""
    ops = res["op_ms"]
    d = {"workload": a.workload, "seed": a.seed, "samples": len(ops),
         "error_rate": failed / attempted, "rss_peak_mb": res["rss_peak_mb"],
         "setup": res["setup"], "info": res["info"],
         "per_kind_p50_ms": res["per_kind_ms"], "first_ops_ms": ops[:12], "failures": failures[:10]}
    if ops and not a.trace:
        if a.workload.startswith("ingest"):
            d["ingest_rps"] = res["info"]["records_per_op"] / (statistics.median(ops) / 1e3)
        elif a.workload == "query_point":
            calls = res["call_ms"]
            d.update(query_p50_ms=statistics.median(calls), query_calls=len(calls),
                     query_qps=len(calls) / (sum(calls) / 1e3))
            t = tail(calls)
            if t:
                d[f"query_p{t[0]}_ms"] = t[1]
        else:
            d["scan_pass_s"] = statistics.median(ops) / 1e3
    if a.trace:
        d["layers"] = res["layers"]
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs (the benchmark's own tests)")
    ap.add_argument("--perturb", action="store_true",
                    help="perturb every expected answer; the run must then report failures")
    a = ap.parse_args()
    a.started = time.time()
    classes = build.build()
    log(f"build ready in {time.time() - a.started:.1f}s")
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        extra = []
        gen_s = 0.0
        if a.workload in QUERY_WORKLOADS:
            t0 = time.time()
            (work / "tables").mkdir()
            answers = tables.generate(work / "tables", a.seed, TINY_SF if a.tiny else TABLE_SF)
            (work / "answers.json").write_text(json.dumps(answers))
            gen_s = time.time() - t0
            extra = ["--tables", str(work / "tables"), "--answers", str(work / "answers.json")]
        res = jvm(classes, work, a, extra)
        res["setup"]["tables_s"] = gen_s
        attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
        if res["oracle"]:
            n, bad = oracle_check(work, res["oracle"], a.perturb)
            attempted += n
            failed += len(bad)
            failures += bad
        if a.trace and (work / "trace.json").exists():
            dump = ROOT / ".bench_work" / "traces" / f"{a.workload}-seed{a.seed}.json"
            dump.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy(work / "trace.json", dump)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    m = metrics(a, res)
    print(json.dumps({"detail": detail(a, res, attempted, failed, failures)}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": m}))


if __name__ == "__main__":
    main()
