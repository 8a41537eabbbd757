#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness from source on first use (sbt, offline),
runs the harness JVM on local[4], checks every output the run produced
against DuckDB with tools/oracle_check.py, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Workloads, metrics and the layer map are described in perfbench/WORKLOADS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
HARNESS = BENCH / "harness"
BUILD = ROOT / ".bench_build"
LAUNCH = BUILD / "launch.txt"
STAMP = BUILD / "launch.stamp"
DATA = BENCH / "data" / "sf0.1"
ORACLE_CHECK = ROOT / "tools" / "oracle_check.py"
WORKLOADS = ("report_daily", "query_light")
CORES = 4
# a run must end within 180 s of its build; leave room for the checks
JVM_BUDGET_S = 150
BUILD_BUDGET_S = 840
# heap for the benchmark JVM (the program's build reads SPARK_DRIVER_MEM)
DRIVER_MEM = "3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if LAUNCH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM,
               COURSIER_MODE="offline")
    # the same offline resolver settings the repository's test command uses
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true",
          f"-Dsbt.repository.config={repos}"] if repos.exists() else [])
        + ["-Dsbt.offline=true", "-Xmx2g"]))
    with open(BUILD / "build.log", "w") as log:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.launch={LAUNCH}", "writeLaunch"],
                       BUILD_BUDGET_S, cwd=HARNESS, env=env, stdout=log,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not LAUNCH.exists():
        tail = (BUILD / "build.log").read_text()[-3000:]
        fail(f"build failed (rc={rc}):\n{tail}", 3)
    STAMP.write_text(stamp)


def run_harness(args, work):
    lines = LAUNCH.read_text().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]
    result = work / "result.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java"] + jvm_opts + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "perfbench.Harness", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", str(DATA),
            "--work", str(work), "--result", str(result),
            "--t0-ms", str(int(time.time() * 1000))])
    # reports may e-mail; with no SMTP settings the program skips sending
    env = {k: v for k, v in os.environ.items() if not k.startswith("SMTP_")}
    with open(work / "jvm.out", "w") as out, open(work / "jvm.err", "w") as err:
        rc = run_group(cmd, JVM_BUDGET_S, env=env, stdout=out, stderr=err,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not result.exists():
        tail = (work / "jvm.err").read_text()[-3000:]
        fail(f"harness failed (rc={rc}):\n{tail}", 4)
    return json.loads(result.read_text())


def oracle_check(check_dir, data_dir):
    """name -> (passed, detail) from tools/oracle_check.py's compare."""
    p = subprocess.run([sys.executable, str(ORACLE_CHECK), str(check_dir),
                        str(data_dir)], capture_output=True, text=True,
                       timeout=120)
    verdicts = {}
    for line in p.stdout.splitlines():
        tag, _, rest = line.partition(" ")
        if tag in ("PASS", "FAIL"):
            name, _, detail = rest.strip().partition(": ")
            verdicts[name] = (tag == "PASS", detail)
    return verdicts


def check_reports(res, work):
    """Copies each reported entity's parquet beside its DuckDB twin."""
    out = Path(res["check_out"])
    twins = json.loads((out / "oracle_sql.json").read_text())
    check = work / "check"
    check.mkdir()
    reported = {o["op"] for o in res["ops"] if "error" not in o}
    for e in sorted(reported):
        src = out / f"funnel_report-{e}-{res['day']}.parquet"
        dst = check / e
        dst.mkdir()
        for part in src.glob("*.parquet"):
            shutil.copy(part, dst / part.name)
    (check / "oracle_sql.json").write_text(
        json.dumps({e: twins[e] for e in reported}))
    return oracle_check(check, res["report_in"])


def layer_metrics(res, ops):
    """Per-op means of the harness's per-op numbers, except the pooled
    ratios, the maxima and the run-level context figures set below."""
    n = len(ops)
    m = {k: sum(o.get(k, 0.0) for o in ops) / n for k in LAYER_UNITS}
    wall = sum(o["wall_ms"] for o in ops)
    m["exec.core_busy"] = sum(o.get("exec.task_run_ms", 0) for o in ops) / (
        wall * CORES)
    spec = sum(o.get("io.spec_bytes", 0) for o in ops)
    m["io.read_amplification"] = (
        sum(o.get("scan.bytes_read", 0) for o in ops) / spec if spec else 0.0)
    if res["workload"] == "report_daily":
        m["app.actions_per_report"] = m["catalyst.actions"]
    m["stream.state_mem_mb"] = max(o.get("stream.state_mem_mb", 0) for o in ops)
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    m["host.canary_sec"] = res["canary_sec"]
    m["host.canary_par_sec"] = res.get("canary_par_sec", 0.0)
    return m


END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms",
                    "ok_ratio": "ratio"}
LAYER_UNITS = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.actions": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_ms": "ms", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.task_gc_ms": "ms", "exec.core_busy": "ratio",
    "exec.driver_gap_ms": "ms", "exec.spill_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "scan.bytes_read": "bytes",
    "scan.rows_read": "count", "io.sources_ms": "ms",
    "io.read_amplification": "ratio", "app.actions_per_report": "count",
    "io.sink_write_ms": "ms", "io.xlsx_ms": "ms", "stream.batches": "count",
    "stream.trigger_ms": "ms", "stream.state_rows": "count",
    "stream.state_commit_ms": "ms", "stream.state_mem_mb": "MB",
    "jvm.peak_rss_mb": "MB", "host.canary_sec": "s", "host.canary_par_sec": "s",
    "traced.ops_per_s": "1/s", "traced.op_p50_ms": "ms"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                 ORACLE_CHECK, HARNESS / "build.sbt", DATA):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing; run from the root "
                 "of a full checkout")

    build()
    work = BUILD / "run" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    res = run_harness(args, work)

    ops = res["ops"]
    if args.workload == "report_daily":
        verdicts = check_reports(res, work)
    else:
        verdicts = oracle_check(Path(res["check_dir"]), res["check_data"])
    failed_ops = []
    for o in ops:
        passed, detail = verdicts.get(o["op"], (False, "no check result"))
        if "error" in o:
            failed_ops.append((o["op"], o["error"]))
        elif not passed:
            failed_ops.append((o["op"], detail))
    for name, why in sorted(set(failed_ops)):
        print(f"FAILED {name}: {why[:300]}")
    print(f"host canary_sec={res['canary_sec']:.4f} "
          f"canary_par_sec={res.get('canary_par_sec', float('nan')):.4f}")

    attempted = len(ops)
    walls = [o["wall_ms"] for o in ops]
    completed = sum(1 for o in ops if "error" not in o)
    e2e = {
        "setup_s": res["setup_s"],
        # per second of client time in ops; the GC nudges between ops
        # are harness time, not program time
        "ops_per_s": completed / (sum(walls) / 1000.0),
        "op_p50_ms": statistics.median(walls),
        "ok_ratio": (attempted - len(failed_ops)) / attempted,
    }
    units = LAYER_UNITS if args.trace else END_TO_END_UNITS
    if args.trace:
        metrics = layer_metrics(res, ops)
        metrics["traced.ops_per_s"] = e2e["ops_per_s"]
        metrics["traced.op_p50_ms"] = e2e["op_p50_ms"]
        tdir = BUILD / "trace"
        tdir.mkdir(exist_ok=True)
        (tdir / f"{args.workload}-seed{args.seed}.json").write_text(
            json.dumps({"ops": ops, "spans": res.get("spans", [])}))
    else:
        metrics = e2e
    print(json.dumps({
        "correct": not failed_ops,
        "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
