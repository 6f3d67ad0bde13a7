#!/usr/bin/env python3
"""Benchmark runner: builds the program, generates its inputs, runs one
workload in a fresh JVM and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                             --trace <0|1>

Run from the repository root. Workloads:

  warehouse_daily  base warehouse build, then one incremental delta per
                   operation (WarehouseBuild.runOn / runIncremental)
  adhoc_marts      a 13-query panel of the Relational + Warehouse mart
                   queries, one query per operation, in seeded passes

End-to-end metrics (untraced run): `setup_s` (median over the run's
setups of session start + base build), `op_geomean_s` (geometric mean
wall of one operation: a delta or a query) and `units_per_s` (delta
rows or queries per second of operation wall). The geometric mean is
TPC-H's power-test summary: every query of the adhoc panel counts
alike, so it does not jump, as the median of one pass does, with which
of several near-equal queries lands in the middle. The
per-workload medians (delta_p50_s, query_p50_s) are in the detail line.
With `--trace 1` the metrics are per-layer figures per operation
(means over the run's operations, and the operations' geometric mean
wall as `trace.op_geomean_s`).

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it ({"perfbench": ...}) carries every
workload-specific figure for `perfbench/compare.py`. Build outputs,
generated data and per-run state live under `.bench_build/`; each run's
state directory is deleted when the run ends.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "build.sbt"),
           os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
# fixture size: 1.0 = the sf0.1 fixture family's row counts
SCALE = 1.0
DEADLINE_S = 170
# the program's own heap setting (build.sbt javaOptions)
JVM_HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# JIT: C1 only. A run is one short-lived JVM, and with the default
# tiered JIT its C2 recompilations land at a different moment in each
# run: on adhoc_marts the median query time of fresh JVMs ranged
# 0.63-1.05 s with C2 and 1.054-1.081 s with C1 (3 runs each, 4 vCPU).
JIT = ["-XX:TieredStopAtLevel=1"]
# the oracle compare graft.Verify's output is checked with
COMPARE = os.path.join(ROOT, "dev", "compare.py")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
WORKLOADS = ("warehouse_daily", "adhoc_marts")
META_KINDS = ("drop_table", "refresh_table", "rename_table",
              "alter_drop_partitions_stmt", "msck_repair")
# layers that start Spark jobs (see Tracer.Modules)
MODULES = ("sources", "quality", "operators", "queries")
# additive per-call trace fields (summed over the calls of one operation)
ADDITIVE = (["spark.jobs", "spark.tasks", "spark.job_s", "driver.gap_s",
             "exec.cpu_s", "exec.run_s", "exec.gc_s", "scan.bytes",
             "shuffle.read_bytes", "shuffle.write_bytes", "output.bytes",
             "spill.bytes", "stage.rows_in", "stage.rows_kept",
             "quality.audit_violations", "plans.build_s",
             "plans.optimize_s"]
            + [f"{m}.{k}" for m in MODULES for k in ("jobs", "job_s",
                                                      "cpu_s")]
            + [f"sources.meta.{k}" for k in META_KINDS])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group and return its exit code. The
    whole group is killed if `timeout` passes or this process is
    interrupted or terminated, so no child outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True,
                         stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness once per source state.
    Returns the classpath file and whether a build ran."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "sbt", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp_file, False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            rc = run_child(["sbt", "--batch", "-Dsbt.offline=true",
                            "-Dsbt.log.noformat=true", "compile",
                            "writeClasspath"],
                           800, cwd=HERE, env=env, stdout=log,
                           stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed; see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp_file, True


def fixture():
    out = os.path.join(BUILD, "data", f"v{gen.VERSION}_s{SCALE}")
    if not os.path.exists(os.path.join(out, "done")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, SCALE)
        with open(os.path.join(tmp, "done"), "w") as f:
            f.write("ok")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def run_harness(args, cp_file, data, run_dir, out_json, deadline):
    with open(cp_file) as f:
        cp = f.read().strip()
    # JVM temp files go to the run dir, and no perf-data file to /tmp
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] + JIT
           + [x for p in ADD_OPENS for x in ("--add-opens",
                                             f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", args.workload,
              str(args.seed), str(args.seconds), str(args.trace), data,
              run_dir, out_json, str(cores())])
    # SPARK_LOCAL_DIRS would override the run's own spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as log:
        try:
            rc = run_child(cmd, max(1.0, deadline - time.time()),
                           cwd=run_dir, env=env, stdout=log,
                           stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_json):
        with open(log_path) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"harness exited with {rc}")
    with open(out_json) as f:
        return json.load(f)


def pct(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def slice_inputs(con, res):
    """Rows and raw bytes per order/event slice, from the fixture (bytes
    pro rata of each table's parquet size)."""
    n = int(res["slices"])
    per = {}
    for table, key in (("orders", "o_orderkey"), ("events", "event_id")):
        size = os.path.getsize(os.path.join(res["data_dir"],
                                            f"{table}.parquet"))
        counts = con.execute(
            f"SELECT {key} % {n}, COUNT(*) FROM {table} GROUP BY 1"
        ).fetchall()
        total = sum(c for _, c in counts)
        for s, rows in counts:
            r, b = per.get(int(s), (0, 0.0))
            per[int(s)] = (r + rows, b + rows * size / total)
    return per


def op_figures(res, con):
    """Per operation: wall, units of work and raw input bytes."""
    w = res["workload"]
    out = []
    if w == "warehouse_daily":
        per = slice_inputs(con, res)
        for op in res["ops"]:
            rows, b = per[int(op["slice"])]
            out.append((op, rows, b))
    else:
        out = [(op, 1, 0.0) for op in res["ops"]]
    return out


def detail_metrics(res, con, figs, stored):
    """Every workload-specific end-to-end figure, named as in ROADMAP."""
    w = res["workload"]
    walls = [sum(c["wall_s"] for c in op["calls"]) for op, _, _ in figs]
    d = {"setup_s": (setup_s(res), "s"),
         "warmup_s": (res["warmup_s"], "s"),
         "failed_ratio": (res["failed"] / max(1, res["attempted"]), "1"),
         "ops": (len(walls), "count")}
    units = sum(u for _, u, _ in figs)
    if w == "warehouse_daily":
        d["delta_p50_s"] = (statistics.median(walls), "s")
        d["delta_rows_per_s"] = (units / sum(walls), "1/s")
        per = slice_inputs(con, res)
        # the base build also stages every customer row
        applied = sum(per[int(s)][1] for s in res["applied_slices"]) + \
            os.path.getsize(os.path.join(res["data_dir"],
                                         "customer.parquet"))
        d["stored_bytes_per_input_byte"] = (stored / applied, "1")
    else:
        d["query_p50_s"] = (statistics.median(walls), "s")
        if len(walls) >= 100:
            d["query_p90_s"] = (pct(walls, 0.9), "s")
        d["queries_per_s"] = (len(walls) / sum(walls), "1/s")
    return d, walls, units


def setup_s(res):
    return statistics.median(res["setup_runs_s"])


def layer_metrics(figs):
    """Per-layer means over operations (each operation sums its calls;
    ratios are recomputed from the sums), so a layer that only some
    operations touch, such as one query of the adhoc panel, still
    shows."""
    per_op = []
    for op, _, in_bytes in figs:
        tot = {k: sum(float(c.get(k, 0.0)) for c in op["calls"])
               for k in ADDITIVE}
        wall = sum(c["wall_s"] for c in op["calls"])
        tot["exec.busy_ratio"] = (tot["exec.run_s"] / (tot["spark.job_s"]
                                                      * cores())
                                  if tot["spark.job_s"] > 0 else 0.0)
        tot["stage.kept_ratio"] = (tot["stage.rows_kept"]
                                   / tot["stage.rows_in"]
                                   if tot["stage.rows_in"] > 0 else 0.0)
        tot["sources.write_amp"] = (tot["output.bytes"] / in_bytes
                                    if in_bytes > 0 else 0.0)
        tot["wall_s"] = wall
        per_op.append(tot)
    out = {k: statistics.fmean(o[k] for o in per_op) for k in per_op[0]
           if k != "wall_s"}
    out["trace.op_geomean_s"] = statistics.geometric_mean(
        o["wall_s"] for o in per_op)
    return out


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("ratio", "write_amp")):
        return "1"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    for p in SOURCES + [COMPARE]:
        if not os.path.exists(p):
            fail(f"missing {os.path.relpath(p, ROOT)}: run from a full "
                 "checkout of the repository")

    cp_file, built = build()
    data = fixture()
    # a run that had to build gets its full time budget after the build
    deadline = (time.time() if built else start) + DEADLINE_S
    run_dir = os.path.join(BUILD, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_harness(args, cp_file, data, run_dir,
                          os.path.join(run_dir, "result.json"), deadline)
        res["data_dir"] = data
        wh = res["warehouse_dir"]
        stored = dir_bytes(wh) if os.path.isdir(wh) else 0
        con = checks.connect(data)
        fails = [c["name"] + ": " + str(c["detail"])
                 for c in res["checks"] if not c["ok"]]
        if res["workload"] == "warehouse_daily":
            fails += checks.warehouse(con, res)
        elif res["workload"] == "adhoc_marts":
            fails += checks.adhoc(COMPARE, data, res["results_dir"])
        if not res["ops"]:
            fails.append("no operation completed")
            figs, detail, walls, units = [], {}, [], 0
        else:
            figs = op_figures(res, con)
            detail, walls, units = detail_metrics(res, con, figs, stored)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        layers = layer_metrics(figs) if figs else {}
        for op, _, _ in figs:
            for c in op["calls"]:
                if abs(c["spark.job_s"] + c["driver.gap_s"]
                       - c["wall_s"]) > 1e-6:
                    fails.append(f"{c['call']}: job_s + gap_s != wall_s")
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s(res), "unit": "s"},
            "op_geomean_s": {"value": statistics.geometric_mean(walls)
                             if walls else 0.0, "unit": "s"},
            "units_per_s": {"value": units / sum(walls) if walls else 0.0,
                            "unit": "1/s"}}
    for f in fails:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps({"perfbench": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "warehouse_dir": res["warehouse_dir"],
        "local_dir": res["local_dir"],
        "setup_runs_s": res["setup_runs_s"],
        "measured_s": res["measured_s"],
        "detail": {k: {"value": v, "unit": u}
                   for k, (v, u) in detail.items()},
        "metrics": metrics}}))
    print(json.dumps({"correct": not fails, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
