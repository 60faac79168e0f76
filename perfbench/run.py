#!/usr/bin/env python3
"""Benchmark of the XSMB warehouse and its query engine.

Run from the repository root:

    python3 perfbench/run.py --workload xsmb_daily --seed 1 --seconds 10 --trace 0

Workloads: xsmb_daily, query_suite (see perfbench/README.md).
The first run in a checkout compiles the engine from `src/main/scala`
together with the benchmark (`perfbench/build.sbt`) and records a
class-data-sharing archive in one untimed training run; later runs reuse
both while the sources are unchanged. `query_suite`'s outputs are checked
by the repository's DuckDB check, `scripts/check.py`.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is
the full run record (both metric kinds, the problems found, the host).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen_tables

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
CHECK = os.path.join(ROOT, "scripts", "check.py")
LAUNCH = os.path.join(BENCH, "target", "bench-launch.txt")
STAMP = os.path.join(BENCH, "target", "bench-launch.sources")
# Class-data-sharing archive of the classes a run loads, written by a
# training run at build time: it takes about 6 s of class loading off
# every run's JVM start and cold pass. Every run maps it with -Xshare:on,
# so a missing or unusable archive stops the run instead of slowing it.
CDS = os.path.join(BENCH, "target", "bench-classes.jsa")

WORKLOADS = ("xsmb_daily", "query_suite")
# Days of crawler history xsmb_daily loads in its set-up: three years. Ten
# years (3,650 files) took a cold load from about 8 s to about 10 s on four
# cores and made a run too long for the benchmark's time budget.
HISTORY_DAYS = 1095
RUN_LIMIT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """SHA-256 over every source file the benchmark's build compiles."""
    h = hashlib.sha256()
    roots = [ENGINE, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit():
    """The checked-out commit, or None outside a git work tree."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def build():
    fp = source_fingerprint()
    if all(os.path.exists(p) for p in (LAUNCH, CDS, STAMP)):
        with open(STAMP) as f:
            if f.read() == fp:
                return
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "benchClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, timeout=600)
    if rc != 0 or not os.path.exists(LAUNCH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}")
    if os.path.exists(CDS):
        os.remove(CDS)
    # The training run: query_suite's cold pass and output pass, untimed.
    work = os.path.join(BENCH, "work", "cds-training")
    rc = jvm("query_suite", 0, 0, 0, work, [f"-XX:ArchiveClassesAtExit={CDS}"],
             ["--min-ops", "0"], limit=240)[0]
    if rc != 0 or not os.path.exists(CDS):
        fail(f"class-data archive not written (training run exit {rc}); log in {work}")
    with open(STAMP, "w") as f:
        f.write(fp)
    # write the new jar and archive out now, not during the first run
    os.sync()


def jvm(workload, seed, seconds, trace, work, flags, extra, limit):
    """Prepare `work` afresh and run one workload in the benchmark JVM,
    killing it after `limit` seconds. Returns (exit code, work dir,
    tables dir or None)."""
    started = time.monotonic()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tables = None
    if workload == "query_suite":
        tables = os.path.join(work, "tables")
        gen_tables.write_all(tables, seed)
        extra = ["--tables", tables] + extra
    else:
        extra = ["--history", str(HISTORY_DAYS)] + extra
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, add_opens = lines[0], lines[1:]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Dfile.encoding=UTF-8",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + flags + add_opens + ["-cp", classpath, "perfbench.Main",
                                  "--workload", workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", str(trace),
                                  "--work", work] + extra)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, limit - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {limit} s; log in {work}")
    return proc.returncode, work, tables


def check_outputs(tables, results):
    """Compare every query result in `results` with its DuckDB oracle SQL
    through `scripts/check.py`. Returns (queries checked, one message per
    failing query)."""
    with open(os.path.join(results, "oracle_sql.json"), encoding="utf-8") as f:
        queries = len(json.load(f))
    try:
        p = subprocess.run([sys.executable, CHECK, tables, results], capture_output=True,
                           text=True, timeout=25)
    except subprocess.TimeoutExpired:
        return queries, [f"{CHECK} timed out"] * queries
    bad = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            bad.setdefault(line[5:].split(":")[0], line[5:])
    if p.returncode != 0 and not bad:
        bad["check.py"] = f"check.py exited {p.returncode}: {p.stderr[-500:]}"
    return queries, list(bad.values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ENGINE, "graft")) and os.path.exists(CHECK)):
        fail(f"engine sources or {CHECK} not found; run from a full checkout")
    build()

    rc, work, tables = jvm(a.workload, a.seed, a.seconds, a.trace,
                           os.path.join(BENCH, "work", a.workload),
                           [f"-XX:SharedArchiveFile={CDS}", "-Xshare:on"], [],
                           limit=RUN_LIMIT_S)
    record_path = os.path.join(work, "record.json")
    if rc != 0 or not os.path.exists(record_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited {rc}; log in {work}")
    with open(record_path) as f:
        record = json.load(f)

    if a.workload == "query_suite":
        checked, bad = check_outputs(tables, os.path.join(work, "results"))
        record["attempted"] += checked
        record["failed"] += len(bad)
        record["problems"] += bad
        record["correct"] = record["correct"] and not bad
    record["host"]["source_sha256"] = source_fingerprint()
    record["host"]["git_commit"] = git_commit()
    for p in record["problems"]:
        print(f"perfbench: problem: {p}", file=sys.stderr)

    print(json.dumps(record))
    kind = "per_layer" if a.trace else "end_to_end"
    print(json.dumps({"correct": record["correct"], "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": record[kind]}))


if __name__ == "__main__":
    main()
