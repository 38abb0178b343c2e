#!/usr/bin/env python3
"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_text --seed 1 --seconds 8 --trace 0

Builds the program and the benchmark from source (perfbench/build.py), runs
one workload in one JVM at local[nproc] as a closed loop, checks its outputs,
and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
``--self-test`` runs the benchmark's own tests instead. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["extract_text", "extract_markup"]
BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 165

# JDK 17 module openings Spark needs outside spark-submit (the list the
# program's own build passes to forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8",
]


def heap():
    """The test suite's driver-memory rule: half the machine's memory in GiB,
    clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(8, max(2, int(line.split()[1]) // 2097152))}g"
    except OSError:
        pass
    return "2g"


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def duckdb_curate_check(exports, threads, cache_dir, tmp):
    """The curate ledger against the DuckDB replay of the same curation
    (the program's curation_pages oracle SQL). The replay is the slow side,
    so its result is kept per key (oracle SQL + input content): once per seed."""
    import duckdb
    os.makedirs(cache_dir, exist_ok=True)
    cached = os.path.join(cache_dir, f"curate-{exports['curate_oracle_key']}.parquet")
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    if not os.path.exists(cached):
        with open(exports["curate_oracle_sql"]) as fh:
            oracle = fh.read()
        con.execute(f"COPY ({oracle}) TO '{cached}.tmp' (FORMAT PARQUET)")
        os.rename(cached + ".tmp", cached)
    cols = "id, kept, stage, reason, paras_removed"
    want = f"SELECT {cols} FROM read_parquet('{cached}')"
    got = f"SELECT {cols} FROM read_parquet('{exports['curate_ledger']}/*.parquet')"
    diff = sum(con.execute(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
               for a, b in ((want, got), (got, want)))
    con.close()
    return diff == 0


def run_jvm(classes, main, args, log, work):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp"] + JVM_FLAGS + \
        ["-cp", cp, main] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    try:
        return subprocess.run(cmd, stdout=log, stderr=log, timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s and was stopped", file=sys.stderr)
        return 124


def tail(path, n=40):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def main():
    # a stop request unwinds through subprocess.run, which kills and reaps
    # the child it is waiting on
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    try:
        with open(os.path.join(out, "build.log"), "w") as log:
            classes, fingerprint = build.build(root, out, log)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    threads = len(os.sched_getaffinity(0))
    name = "self-test" if a.self_test else a.workload
    work = os.path.join(out, "run-" + name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(out, name + ".log")
    result_path = os.path.join(work, "result.json")
    with open(log_path, "w") as log:
        if a.self_test:
            rc = run_jvm(classes, "perfbench.SelfTest", [str(threads), work], log, work)
        else:
            rc = run_jvm(classes, "perfbench.Main",
                         [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(threads),
                          work, result_path], log, work)
    if a.self_test:
        with open(log_path, errors="replace") as fh:
            print("".join(l for l in fh if l.startswith(("PASS", "FAIL", "  ", "self-test"))), end="")
        shutil.rmtree(work, ignore_errors=True)
        return rc
    if rc != 0 or not os.path.exists(result_path):
        print(f"perfbench: run failed (exit {rc}); last lines of {log_path}:", file=sys.stderr)
        print(tail(log_path), file=sys.stderr)
        return 1

    with open(result_path) as fh:
        r = json.load(fh)
    checks = dict(r["checks"])
    if "exports" in r:
        checks["ledger_matches_duckdb"] = duckdb_curate_check(
            r["exports"], threads, os.path.join(out, "oracle"), f"{work}/tmp")
    correct = all(checks.values())
    failed = r["failed"] if correct else r["attempted"]

    env = dict(r["settings"], heap=heap(), commit=git_commit(root), source=fingerprint)
    print("perfbench env " + json.dumps(env, sort_keys=True))
    print("perfbench inputs " + json.dumps(r["inputs"], sort_keys=True))
    print("perfbench checks " + json.dumps(checks, sort_keys=True))
    print("perfbench phases " + json.dumps(r["phases_s"], sort_keys=True))
    print("perfbench ops %d, op seconds %s" % (r["ops"], ", ".join("%.3f" % s for s in r["op_seconds"])))
    if a.trace:
        trace_dir = os.path.join(out, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}")
        shutil.copy(r["spans_file"], stem + ".spans.jsonl")
        print("perfbench layers (spans in %s.spans.jsonl)" % stem)
        print("  %-32s %8s %10s %10s %14s" % ("span", "calls", "total_s", "self_s", "alloc_bytes"))
        for row in r["layers"]:
            print("  %-32s %8d %10.4f %10.4f %14d" % (row["name"], row["calls"], row["total_s"],
                                                   row["self_s"], row["alloc_bytes"]))
        print("perfbench repeats " + json.dumps(r["repeats"], sort_keys=True))
        print("perfbench trace " + json.dumps(r["trace_info"], sort_keys=True))
        print("perfbench untraced " + json.dumps(r["untraced"], sort_keys=True))
        r.pop("spans_file")
        with open(stem + ".json", "w") as fh:
            json.dump(dict(r, checks=checks, env=env), fh, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": failed,
                      "metrics": r["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
