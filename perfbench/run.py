#!/usr/bin/env python3
"""Runs one workload of the rtdlspark benchmark and prints its metrics.

    python3 perfbench/run.py --workload ingest|lake_dml|curation \\
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The program is built from the checkout's
sources into .bench_build/ (see build.sh), which also keeps the workloads'
class-data archives (see class_archive). Everything else the run writes
goes under a fresh .bench_tmp/run-<pid>/ that is removed at exit, and runs
in one checkout are serialised by a lock file. The JVM side
(perfbench.Main) runs the workload and its output checks; the `curation`
results are compared with the DuckDB oracle here. The last stdout line is
one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1,
the same names for every workload (see GENERIC and LAYERS). The line
before it carries the seed, input sizes, every check and every metric of
the workload under its own name. The exit code is nonzero when the run
fails or any output check does not pass.
"""
import argparse
import fcntl
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# The end-to-end metrics: every workload reports each of them, under one
# name, so that every run's result line holds all of them. GENERIC maps
# each to the workload's own metric it is (NAMES.md says what those
# measure); the detail line carries every workload metric by its own name,
# `ingest_ack_p50_ms` and the others the result line leaves out included.
COMMON_E2E = ["setup_s", "heap_live_mb"]
GENERIC = {
    "ingest": {"ops_per_s": "ingest_events_per_s",
               "latency_p50_s": "ingest_fresh_p50_s",
               "stored_bytes_per_row": "ingest_bytes_per_event"},
    "lake_dml": {"ops_per_s": "dml_ops_per_s",
                 "latency_p50_s": "dml_write_p50_s",
                 "stored_bytes_per_row": "dml_bytes_per_live_row"},
    "curation": {"ops_per_s": "curation_queries_per_s",
                 "latency_p50_s": "curation_pass_s",
                 "stored_bytes_per_row": "curation_bytes_per_row"},
}
E2E = COMMON_E2E + list(GENERIC["ingest"])

# Per-layer metrics (name -> unit) by the workload whose calls into the
# layer produce them. A traced run reports every one of them; a layer the
# workload never calls reports 0.
COMMON_LAYER = {"jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.heap_peak_mb": "MB",
                "trace.overhead_frac": "ratio"}
CURATION_QUERIES = ["q118", "q82", "q43", "q117"]
LAYERS = {
    "ingest": {
        "http.requests": "count", "http.failed": "count", "http.spool_bytes_per_event": "B",
        "ingest.batches": "count", "ingest.batch_p50_s": "s", "ingest.jobs_per_batch": "count",
        "ingest.tasks_per_batch": "count", "ingest.job_s": "s", "ingest.driver_s": "s",
        "ingest.shuffle_bytes": "B/batch", "ingest.files_written_per_batch": "count",
        "ingest.bytes_written": "B/batch", "ingest.quarantine_rows": "rows/batch",
        "ingest.job_s.LakeWriter": "s", "ingest.job_s.BatchCommits": "s",
        "ingest.job_s.TxLogTable": "s", "ingest.job_s.other": "s"},
    "lake_dml": {
        "txlog.write.calls": "count", "txlog.write.failed": "count",
        "txlog.write.jobs_per_call": "count", "txlog.write.job_s": "s",
        "txlog.write.driver_s": "s", "txlog.write.files_added_per_call": "count",
        "txlog.write.files_removed_per_call": "count", "txlog.write.bytes_written": "B/call",
        "txlog.write.log_bytes_per_commit": "B", "txlog.write.noop_frac": "ratio",
        "txlog.write.fs_bytes_read": "B/call",
        "txlog.read.calls": "count", "txlog.read.failed": "count", "txlog.read.plan_s": "s",
        "txlog.read.exec_s": "s", "txlog.read.jobs_per_call": "count",
        "txlog.read.files_scanned_frac": "ratio", "txlog.read.fs_bytes_read": "B/call",
        "sql.dml.calls": "count", "sql.dml.failed": "count", "sql.dml.wall_s": "s",
        "sql.dml.jobs_per_call": "count", "sql.dml.driver_s": "s"},
    "curation": {
        "queries.build_s": "s", "queries.eager_jobs": "count", "queries.exec_s": "s",
        "queries.jobs": "count", "queries.tasks": "count", "queries.shuffle_bytes": "B",
        "queries.job_s": "s", "queries.driver_s": "s", "queries.blocks_left": "count",
        **{f"queries.{q}_s": "s" for q in CURATION_QUERIES}},
}
PER_LAYER = {**COMMON_LAYER, **{m: u for w in LAYERS.values() for m, u in w.items()}}

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]

DEADLINE_S = 175  # the whole run, build excluded, stays under 180 s


def expected(trace):
    """The metrics of the result line, the same for every workload."""
    return list(PER_LAYER) if trace else E2E


def measured(workload, trace):
    """The metrics the JVM side of `workload` must have measured."""
    if trace:
        return [*COMMON_LAYER, *LAYERS[workload]]
    return COMMON_E2E + list(GENERIC[workload].values())


def result_metrics(workload, trace, metrics):
    """The result line's metrics from the workload's own."""
    if trace:
        own = LAYERS[workload]
        return {m: metrics[m] if m in COMMON_LAYER or m in own else {"value": 0, "unit": u}
                for m, u in PER_LAYER.items()}
    own = {**{m: m for m in COMMON_E2E}, **GENERIC[workload]}
    return {m: metrics[own[m]] for m in E2E}


def spark_home():
    """SPARK_HOME, or else the Spark installation that a spark-submit on
    PATH belongs to (one with a jars/ directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation found; set SPARK_HOME")


def driver_heap():
    """Half of MemTotal in whole GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def jvm(build, tmp, argv, timeout, flags=()):
    """Runs perfbench.Main with `argv` in a JVM of its own, everything it
    writes under `tmp`; returns its exit code (or "timeout") and log."""
    jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    cmd = ["java", f"-Xmx{driver_heap()}", "-XX:-UsePerfData", *flags,
           f"-Djava.io.tmpdir={tmp}/tmp", *JDK_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}/spark-local",
           f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
           "-cp", f"{build}/perfbench.jar:{jars}/*", "perfbench.Main",
           *argv, "--root", f"{tmp}/work"]
    os.makedirs(f"{tmp}/tmp")
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also when this process is stopped by a signal
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    with open(log_path) as f:
        return rc, f.read()[-4000:]


def class_archive(build, workload):
    """JVM flags that load the classes of `workload` from a class-data
    archive (CDS), which cuts JVM and session start by several seconds,
    and the archive's path. The first run of a workload after a build has
    none yet: it dumps the classes it loaded when it exits, into
    `<archive>.part`, which `main` keeps once the run has succeeded. That
    run is a cold one: its timings are slower than the others'."""
    jsa = os.path.join(build, f"{workload}.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"], jsa
    if os.path.exists(jsa + ".part"):
        os.remove(jsa + ".part")
    return [f"-XX:ArchiveClassesAtExit={jsa}.part"], jsa


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERIC))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and fixed op counts (the tests use it)")
    args = ap.parse_args()
    # a stop signal unwinds like an error, so the JVM and the run's files go too
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a full checkout")

    os.environ["SPARK_HOME"] = spark_home()  # for build.sh and the JVM
    state = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(state, exist_ok=True)
    with open(os.path.join(state, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # runs in one checkout never overlap
        build = os.path.join(ROOT, ".bench_build", "perfbench")
        b = subprocess.Popen(["bash", os.path.join(HERE, "build.sh"), build],
                             start_new_session=True)
        try:
            b.wait()
        finally:
            if b.poll() is None:
                os.killpg(b.pid, signal.SIGKILL)
                b.wait()
        if b.returncode != 0:
            fail("build failed", 3)
        start = time.monotonic()
        tmp = os.path.join(state, f"run-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            cds, jsa = class_archive(build, args.workload)
            out = os.path.join(tmp, "result.json")
            rc, log = jvm(build, tmp, [
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
                *(["--smoke"] if args.smoke else [])],
                DEADLINE_S - 15, cds)
            if rc != 0 or not os.path.exists(out):
                fail(f"JVM run ended with {rc}; log tail:\n{log}", 3)
            if os.path.exists(jsa + ".part"):
                os.replace(jsa + ".part", jsa)
            with open(out) as f:
                res = json.load(f)
            checks = {k: (v["ok"], v["detail"]) for k, v in res["checks"].items()}
            if args.workload == "curation":
                import oracle  # DuckDB and pandas are only needed here
                for q, (ok, detail) in oracle.compare(
                        f"{tmp}/work/oracle", res["info"]["documents"]).items():
                    checks[f"{q}.oracle"] = (ok, detail)
                    res["info"].setdefault("oracle", {})[q] = detail
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    metrics = res["metrics"]
    missing = [m for m in measured(args.workload, args.trace) if m not in metrics or not isinstance(metrics[m]["value"], (int, float))
               or not math.isfinite(metrics[m]["value"])]
    checks["all_metrics_measured"] = (not missing, f"missing or not finite: {missing}" if missing else "")
    correct = all(ok for ok, _ in checks.values())
    res["info"]["run_s"] = round(time.monotonic() - start, 3)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "info": res["info"],
        "checks": {k: {"ok": ok, "detail": d} for k, (ok, d) in checks.items()},
        "all_metrics": metrics}))
    print(json.dumps({
        "correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
        "metrics": {} if missing else result_metrics(args.workload, args.trace, metrics)}))
    if not correct:
        bad = {k: d for k, (ok, d) in checks.items() if not ok}
        print(f"perfbench: output checks failed: {json.dumps(bad)[:2000]}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
