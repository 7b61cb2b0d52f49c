#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <star_sql|llm_corpus|lakehouse_etl|all>
      --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the library with the harness
(`build.py`), generates the workload's inputs from the seed (`gen.py`),
runs the harness in one JVM on local[nproc], checks the outputs
(`check.py`) and prints one JSON line last: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. The line before it holds
the run's details: checks, per-operation sample counts, input properties
and the effective non-default Spark conf. `all` runs every workload in
turn, each printing its own two lines. Span traces of traced runs are kept
under `.bench_build/traces/`. See README.md.
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
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# A run that takes longer than this fails; nothing is cut short to fit.
RUN_LIMIT_S = 170
ORACLE_LIMIT_S = 20

SIZES = {
    "star_sql": {"orders": 15000, "docs": 1500, "embeddings": 1000},
    "llm_corpus": {"docs": 1500, "embeddings": 1000, "orders": 1500},
    "lakehouse_etl": {"transactions": 40000},
}

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "rows_per_s": "1/s", "out_bytes_per_in_byte": "ratio", "peak_rss_mb": "MB",
}
# The input tables the query workloads' operations read: the denominator of
# their out_bytes_per_in_byte.
READ_TABLES = {
    "star_sql": ["customer", "events", "lineitem", "nation", "orders", "region"],
    "llm_corpus": ["documents", "embeddings"],
}
PER_LAYER = {
    "trace.overhead_s": "s",
    "queries.build_ms": "ms", "queries.plan_ms": "ms", "queries.exec_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.core_util": "ratio", "exec.run_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "plans.shuffle_write_bytes": "bytes", "plans.shuffle_write_records": "count",
    "plans.shuffle_read_bytes": "bytes", "plans.spill_bytes": "bytes",
    "tables.bytes_read": "bytes", "tables.rows_read": "count",
    "functions.cosine_sim.rows_per_s": "1/s",
    "functions.simhash_long.rows_per_s": "1/s",
    "functions.winnow_mins.rows_per_s": "1/s",
    "functions.max_run_length.rows_per_s": "1/s",
    "extensions.curate_s": "s", "extensions.curate_export_s": "s",
    "extensions.near_dup_pairs": "count", "extensions.kept_ratio": "ratio",
    "pipeline.ingest_txn_s": "s", "pipeline.ingest_dims_s": "s",
    "pipeline.curate_fact_s": "s", "pipeline.curate_dims_s": "s",
    "pipeline.readback_s": "s", "pipeline.rows_dropped": "count",
    "pipeline.files_written": "count", "pipeline.bytes_written": "bytes",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
}
# Per-layer metrics of a layer the workload never calls. They read 0; every
# other per-layer metric must come from the traced run or the run fails.
_PIPELINE = {k for k in PER_LAYER if k.startswith("pipeline.")}
_CORPUS = {k for k in PER_LAYER if k.startswith(("functions.", "extensions."))}
NOT_EXERCISED = {"star_sql": _PIPELINE, "llm_corpus": _PIPELINE,
                 "lakehouse_etl": _CORPUS}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def dir_bytes(path, pattern="*"):
    path = Path(path)
    if path.is_file():
        return path.stat().st_size
    return sum(f.stat().st_size for f in path.rglob(pattern) if f.is_file())


def driver_memory():
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{max(2, min(3, kb // (4 * 1024 * 1024)))}g"


def make_inputs(workload, seed, data):
    s = SIZES[workload]
    if workload == "lakehouse_etl":
        return gen.lakehouse_csvs(data, seed, s["transactions"])
    return gen.star_tables(data, seed, s["orders"], s["docs"], s["embeddings"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES) + ["all"],
                    help="one workload, or all of them one after another")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    for w in sorted(SIZES) if a.workload == "all" else [a.workload]:
        run_workload(argparse.Namespace(**dict(vars(a), workload=w)), classpath)


def run_workload(a, classpath):
    t0 = time.time()
    run_dir = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    data, work = run_dir / "data", run_dir / "work"
    tmp = build.BUILD / "tmp"
    for d in (data, work / "out", tmp):
        d.mkdir(parents=True, exist_ok=True)
    try:
        props = make_inputs(a.workload, a.seed, str(data))
        cores = len(os.sched_getaffinity(0))
        mem = driver_memory()
        result_file = run_dir / "result.json"
        cmd = ["java", f"-Xmx{mem}", f"-Djava.io.tmpdir={tmp}"]
        cmd += [x for p in build.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-cp", classpath, "perfbench.Harness",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", str(data), "--work", str(work), "--out", str(result_file),
                "--trace-dir", str(build.BUILD / "traces"),
                "--cores", str(cores), "--driver-memory", mem,
                "--t0-ms", str(int(t0 * 1000))]
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
        log = run_dir / "harness.log"
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                                    cwd=run_dir)
            try:
                proc.wait(timeout=RUN_LIMIT_S - (time.time() - t0))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail("harness exceeded the run time limit")
        if proc.returncode != 0 or not result_file.is_file():
            fail(f"harness failed (exit {proc.returncode}):\n" + log.read_text()[-3000:])
        res = json.loads(result_file.read_text())
        report(a, res, props, data, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(a, res, props, data, work):
    warm, ops = res["warmup"], res["ops"]
    failures = [(o["name"], o["error"]) for o in warm + ops if o["error"]]
    if res["extras_error"]:
        failures.append(("traced layer pass", res["extras_error"]))
    if a.workload in ("star_sql", "llm_corpus"):
        errored = {n for n, _ in failures}
        names = sorted({o["name"] for o in warm + ops} - errored)
        failures += check.oracle(str(data), str(work / "out"), names, ORACLE_LIMIT_S)
        if a.trace and not res["extras_error"]:
            failures += check.ledger(res["info"]["ledger"])
        # Query results as the warm-up wrote them, per byte of the tables read.
        out_bytes = sum(dir_bytes(work / "out" / n, "part-*.parquet") for n in names)
        in_bytes = sum(dir_bytes(data / f"{t}.parquet") for t in READ_TABLES[a.workload])
        units = props["lineitem"] if a.workload == "star_sql" else props["corpus"]["docs"]
    else:
        failures += check.lakehouse(res["checks"], props)
        out_bytes = res["checks"][-1]["bytes_written"]
        in_bytes = dir_bytes(data)
        units = props["transactions"]
    attempted = len(warm) + len(ops)
    timed = [o["sec"] for o in ops if o["pass"] < len(res["passes"]) and not o["error"]]
    pass_s = statistics.median(res["passes"])
    missing = []
    if a.trace:
        unused = NOT_EXERCISED[a.workload]
        missing = [k for k in PER_LAYER if k not in res["layers"] and k not in unused]
        metrics = {k: {"value": 0.0 if k in unused else res["layers"].get(k), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": (res["first_op_ms"] - res["t0_ms"]) / 1000.0,
            "pass_s": pass_s,
            "op_p50_s": statistics.median(timed),
            "op_p90_s": statistics.quantiles(timed, n=10, method="inclusive")[8],
            "rows_per_s": units / pass_s,
            "out_bytes_per_in_byte": out_bytes / in_bytes,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "cores": res["cores"], "pass_walls": res["passes"],
        "op_samples": len(timed), "fail_frac": len(failures) / attempted,
        "failures": [f"{n}: {why}" for n, why in failures],
        "not_exercised": sorted(NOT_EXERCISED[a.workload]) if a.trace else [],
        "session_s": res["session_s"],
        "inputs": props if a.workload != "lakehouse_etl" else
        {k: v for k, v in props.items() if k != "per_date"},
        "info": res["info"], "spark_conf": res["conf"],
    }
    print(json.dumps({"detail": detail}))
    if missing:
        fail(f"traced run measured no {', '.join(missing)}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
