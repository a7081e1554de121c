#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from source
(once per source state, into .bench_build/), runs one workload in one JVM,
checks its outputs (DuckDB oracles for batch queries, the batch twin for the
stream), and prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and a self-time table goes to stderr. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ("catalog_sf0.01", "flagship_stream")
RUN_TIMEOUT_S = 170

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("throughput_per_s", "1/s"),
    ("peak_mem_mb", "MB"),
]

LAYERS = ["entry", "sessions", "catalyst", "scheduler", "exec", "tables",
          "streaming", "scorer", "trainer", "dimstore", "gen", "unattributed"]

STREAM_PHASE = [
    ("triggers", "count"), ("trigger_p50_s", "s"), ("trigger_p95_s", "s"),
    ("rows_per_trigger", "rows"), ("latest_offset_s", "s"), ("get_batch_s", "s"),
    ("query_planning_s", "s"), ("add_batch_s", "s"), ("wal_commit_s", "s"),
    ("commit_offsets_s", "s"), ("state_rows", "rows"), ("state_mem_mb", "MB"),
    ("state_update_s", "s"), ("state_commit_s", "s"), ("rows_dropped", "rows"),
]

PER_LAYER = [
    ("entry.build_s", "s"), ("entry.build_jobs", "count"),
    ("sessions.autosize_s", "s"), ("sessions.autosize_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.driver_gap_s", "s"),
    ("scheduler.task_wait_s", "s"),
    ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.busy_frac", "fraction"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.peak_task_mem_mb", "MB"), ("exec.stage_skew", "ratio"),
    ("tables.read_mb", "MB"), ("tables.read_rows", "rows"),
] + [
    (f"streaming.{phase}.{name}", unit)
    for phase in ("catchup", "live") for name, unit in STREAM_PHASE
] + [
    ("streaming.backlog_files_end", "count"),
    ("scorer.predict_us_per_row", "us"), ("scorer.rows", "rows"),
    ("trainer.train_s", "s"),
    ("dimstore.publish_s", "s"), ("dimstore.read_s", "s"),
    ("dimstore.publishes", "count"),
    ("gen.files_released", "count"), ("gen.release_late_s", "s"),
    ("trace.overhead_frac", "fraction"), ("trace.wall_s", "s"),
    ("trace.ops", "count"),
] + [
    (f"self.{layer}_{kind}", unit)
    for layer in LAYERS for kind, unit in (("s", "s"), ("frac", "fraction"))
]

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    if not (os.path.isdir(ENGINE_SRC) and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
             "run from a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "compile",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "target" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def oracle_failures(checks):
    """Names of oracle-backed queries whose output differs from DuckDB's,
    canonicalised exactly as tools/compare_oracle.py does."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare_oracle import TABLES, canon

    con = duckdb.connect()
    data = checks["data_dir"]
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for name, sql in sorted(checks["oracle"].items()):
        try:
            ours = canon(con, f"SELECT * FROM '{checks['check_dir']}/{name}/*.parquet'")
            theirs = canon(con, sql)
        except Exception as e:  # noqa: BLE001 - reported and counted
            log(f"{name}: oracle check errored: {e}")
            bad.append(name)
            continue
        if ours != theirs:
            log(f"{name}: output differs from its DuckDB oracle "
                f"({len(ours[1])} vs {len(theirs[1])} rows)")
            bad.append(name)
    return bad


def self_time_table(workload, metrics):
    wall = metrics["trace.wall_s"]
    log(f"{workload}: self time by layer over {wall:.3f} s traced wall "
        f"({int(metrics['trace.ops'])} operations)")
    for layer in LAYERS:
        s = metrics[f"self.{layer}_s"]
        frac = metrics[f"self.{layer}_frac"]
        log(f"  {layer:<13} {s:9.3f} s  {100 * frac:6.2f} %")
    log(f"  tracing overhead {100 * metrics['trace.overhead_frac']:.2f} %")


def java(classpath, work, main_class, args):
    """The JVM command line for one harness main class."""
    return ["java"] + [a for p in JAVA_OPENS
                       for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed, pre-touched heap: its pages are resident from the start,
        # so the harness can subtract it from VmHWM exactly
        "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}",
        "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
        "-cp", classpath, main_class] + args + ["--work", work]


def survey(seed):
    """Re-derives the catalog mix: see MixSurvey.scala."""
    classpath = build()
    work = os.path.join(BUILD, "runs", f"survey-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        code = subprocess.run(java(classpath, work, "graft.perfbench.MixSurvey",
                                   ["--seed", str(seed), "--passes", "3"]),
                              cwd=work).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--survey", action="store_true",
                    help="time the whole catalog and print the decile mix")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.survey:
        survey(args.seed)
    if args.workload is None or args.seconds is None or args.trace is None:
        ap.error("--workload, --seconds and --trace are required")
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    classpath = build()
    t0_ms = int(time.time() * 1000)
    work = os.path.join(BUILD, "runs",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java(classpath, work, "graft.perfbench.Harness", [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--t0-ms", str(t0_ms)])
    jvm_log = os.path.join(work, "jvm.log")
    try:
        with open(jvm_log, "w") as out:
            t_jvm = time.time()
            proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = None
            t_jvm = time.time() - t_jvm
        result_file = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_file):
            with open(jvm_log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"{args.workload} run failed "
                 f"({'timed out' if code is None else f'exit code {code}'})", 1)
        with open(result_file) as fh:
            res = json.load(fh)
        with open(jvm_log) as fh:
            for line in fh:
                if line.startswith("[perfbench]") or line.startswith("[graft]"):
                    sys.stderr.write(line)
        log(f"the harness JVM ran {t_jvm:.2f} s")

        attempted, failed = int(res["attempted"]), int(res["failed"])
        checks = res["checks"]
        if checks["kind"] == "oracle":
            t_check = time.time()
            for name in oracle_failures(checks):
                failed += int(checks["ok_executions"].get(name, 0))
            log(f"DuckDB output checks took {time.time() - t_check:.2f} s")
        elif checks["rows_dropped"] != 0:
            log(f"the watermark dropped {checks['rows_dropped']} rows")
        failed = min(failed, attempted)

        got = res["metrics"]
        wanted = END_TO_END if args.trace == 0 else PER_LAYER
        metrics = {}
        for name, unit in wanted:
            if name in got:
                metrics[name] = {"value": got[name], "unit": unit}
            elif args.trace == 1:
                # a layer this workload does not exercise
                metrics[name] = {"value": 0.0, "unit": unit}
            else:
                fail(f"the harness did not report {name}", 1)
        if args.trace == 1:
            self_time_table(args.workload, got)
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            kept = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), kept)
            log(f"spans written to {os.path.relpath(kept, ROOT)}")
        for name, m in metrics.items():
            if args.trace == 0:
                log(f"{name} = {m['value']:.6g} {m['unit']}")
        print(json.dumps({"correct": failed == 0 and checks.get("rows_dropped", 0) == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
