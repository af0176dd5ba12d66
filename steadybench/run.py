#!/usr/bin/env python3
"""Runs one steadybench workload and prints its result as one JSON line.

Usage, from the root of a checkout:

    python3 steadybench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run builds the program and the benchmark with sbt (offline);
later runs reuse the build while the sources are unchanged. Each run
starts one JVM with a pinned heap, writes everything under
.bench_work/<run>/ and removes it afterwards, and keeps its full record
in .bench_runs/. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.
"""

import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "steadybench"
BUILD_STAMP = BENCH / "target" / "steadybench-build.json"
WORK = ROOT / ".bench_work"
RECORDS = ROOT / ".bench_runs"
HEAP = "2g"
JVM_FLAGS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
    # C1 only: C2 keeps about two cores compiling through a short run's
    # first minute, and op times then track the JIT's progress. Every
    # figure is therefore one of C1-compiled code.
    "-XX:TieredStopAtLevel=1",
    "-Duser.timezone=UTC",
    # a fixed set of JIT compiler threads, whose CPU time cpu_s_per_op leaves out
    "-XX:-UseDynamicNumberOfCompilerThreads",
    # Spark on JDK 17 needs these outside spark-submit; they match
    # org.apache.spark.launcher.JavaModuleOptions.
    *[a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ) for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
]
WORKLOADS = ("bq2bq_backfill", "compile_lineage")
PER_LAYER = {
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.busy_s": "s", "exec.task_cpu_s": "s", "exec.scheduler_delay_s": "s",
    "exec.slot_occupancy": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.input_mb": "MB",
    "exec.output_mb": "MB", "exec.failed_tasks": "count",
    "driver.gap_s": "s",
    "macros.render_s": "s", "splitter.split_s": "s", "dialect.rewrite_s": "s",
    "dialect.statements": "count", "lineage.catalyst_s": "s", "lineage.regex_s": "s",
    "load.replace_s": "s", "load.replace_merge_s": "s", "load.merge_s": "s",
    "load.append_s": "s", "commit.tail_s": "s", "commit.rows_written_per_row": "ratio",
    "xcom.slot_s": "s", "xcom.bytes_processed_mb": "MB",
    "jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.jit_s": "s",
    "setup.session_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "dedup.lsh_s": "s", "dedup.cc_s": "s", "dedup.cc_rounds": "count",
    "dedup.sketch_task_cpu_s": "s", "dedup.pairs": "count", "dedup.recall": "ratio",
    "stream.start_s": "s", "stream.batches": "count", "stream.add_batch_s": "s",
    "stream.query_planning_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s", "stream.latest_offset_s": "s",
    "stream.state_commit_s": "s", "stream.state_rows": "count", "stream.tail_s": "s",
    "stream.scratch_mb_per_op": "MB",
}
# Op times are given in probe units (see Probe in Main.scala): the shared
# host's speed swings by half within seconds, and the figures in seconds
# with it; the run record keeps those too.
END_TO_END = {
    "op_p50_probes": "probe", "rows_per_probe": "1/probe", "cpu_probes_per_op": "probe",
    "heap_live_mb": "MB", "setup_s": "s",
}


def fail(msg):
    print(f"steadybench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Builds if needed; returns the runtime classpath."""
    digest = source_hash()
    if BUILD_STAMP.exists():
        stamp = json.loads(BUILD_STAMP.read_text())
        if stamp.get("sources") == digest:
            return stamp["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g").strip()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [line for line in out.stdout.splitlines() if line and not line.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    BUILD_STAMP.parent.mkdir(parents=True, exist_ok=True)
    BUILD_STAMP.write_text(json.dumps({"sources": digest, "classpath": lines[-1]}))
    return lines[-1]


def remove_scratch_roots(run_dir):
    """Deletes the stream scratch roots this run's JVM created, and only those."""
    listed = run_dir / "scratch_roots.txt"
    if not listed.exists():
        return []
    removed = []
    for line in listed.read_text().split():
        p = pathlib.Path(line)
        if p.name.startswith("graft_stream_") and p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
            removed.append(str(p))
    return removed


def tracing_overhead(record):
    """Traced minus untraced end-to-end metrics, against the latest
    untraced record of the same workload and seed."""
    base = RECORDS / f"{record['workload']}-seed{record['seed']}-trace0.json"
    if not base.exists():
        return None
    untraced = json.loads(base.read_text())["end_to_end"]
    return {k: v - untraced[k] for k, v in record["end_to_end"].items() if k in untraced}


def main():
    # on SIGTERM, unwind through subprocess.run, which kills and reaps the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for needed in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
                   BENCH / "build.sbt"):
        if not needed.exists():
            fail(f"{needed.relative_to(ROOT)} not found: run from the root of a checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    cp = classpath()

    run_dir = WORK / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    record_path = run_dir / "record.json"
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", cp, "steadybench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(run_dir), "--record", str(record_path)]
    launch_ms = time.time() * 1000
    try:
        code = subprocess.run(cmd + ["--launch-ms", repr(launch_ms)], cwd=run_dir,
                              stdin=subprocess.DEVNULL, stdout=sys.stderr,
                              timeout=170).returncode
        record = json.loads(record_path.read_text()) if record_path.exists() else None
    except subprocess.TimeoutExpired:
        code, record = "timeout", None
    finally:
        # also when the run is stopped: the JVM has ended by now
        removed = remove_scratch_roots(run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or record is None:
        fail(f"the benchmark JVM ended with {code}")
    record["scratch_roots_removed"] = removed
    if a.trace:
        record["tracing_overhead"] = tracing_overhead(record)
    RECORDS.mkdir(exist_ok=True)
    (RECORDS / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(record, indent=1))

    if a.trace:
        # a layer the workload does not use reads 0
        layers = record["per_layer"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": record["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
