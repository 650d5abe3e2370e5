#!/usr/bin/env python3
"""The repo benchmark: one run of one workload, printed as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload wc_zipf|wc_unique|query_mix \\
        --seed N --seconds S --trace 0|1

The first run in a checkout builds the engine (with the repository's own
build) and the harness from source with sbt, offline. Each run then starts one JVM
(perfbench.Main, local[4] session, single closed-loop client), checks every
output, and prints as its last stdout line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Earlier stdout lines carry
the workload's named metrics, host context and, for traced runs, the tracing
overhead against the last untraced run of the workload. Everything the run
reads or writes stays inside the checkout (perfbench/work).
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
QUERY_LIST = os.path.join(HERE, "queries.txt")
DIGESTS = os.path.join(HERE, "digests.json")
CPUS = 4
HEAP = "3g"
# Setups per run (session + warm-up pass, timed together as setup_s): the
# query_mix warm-up round is the costliest part of its run, so it is done once.
SETUPS = {"wc_zipf": 3, "wc_unique": 3, "query_mix": 1}
WORKLOADS = tuple(SETUPS)

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true"
                " -Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g",
}
# Module opens Spark 4 needs on JDK 17 outside spark-submit: the list the
# engine's build.sbt passes to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Digest of every input of the build: engine and harness sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return open(CLASSPATH).read().strip()
    env = dict(os.environ, **SBT_ENV)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def jvm(cp, workload, seed, seconds, trace, result):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", WORK, "--fixtures", FIXTURES,
            "--query-list", QUERY_LIST, "--cpus", str(CPUS),
            "--setups", str(SETUPS[workload]), "--result", result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(WORK, "spark-local"))
    with open(os.path.join(WORK, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run exceeded its time limit")
    if rc != 0:
        with open(os.path.join(WORK, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")


def canon(v):
    """Value canonical form of tools/oracle_check.py."""
    import math
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def result_digest(rel):
    """Digest of a relation: columns sorted by name, rows sorted, values in
    oracle_check.py's canonical form."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rel.fetchall())
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest(), len(rows)


def check_mix_outputs(names, warm_failed):
    """Compares each warm-up result with its stored oracle digest; queries
    without an oracle must return rows. Returns the list of mismatches."""
    import duckdb
    with open(DIGESTS) as f:
        digests = json.load(f)
    con = duckdb.connect()
    bad = []
    for n in names:
        if n in warm_failed:
            continue
        path = os.path.join(WORK, "mix-out", n)
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            d, rows = result_digest(rel)
        except Exception as e:
            bad.append(f"{n}: unreadable output ({e})")
            continue
        want = digests.get(n)
        if want is None:
            if rows == 0:
                bad.append(f"{n}: no rows")
        elif d != want:
            bad.append(f"{n}: digest {d[:12]} != oracle {want[:12]}")
    return bad


def host_context(cpu0, cpu1):
    total = cpu1[0] - cpu0[0]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)), "cores_used": CPUS,
            "steal_pct": round(100.0 * (cpu1[1] - cpu0[1]) / total, 3) if total else 0.0,
            "loadavg": load, "heap_limit": HEAP}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"), FIXTURES, QUERY_LIST):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a full checkout")

    cp = build()
    os.makedirs(WORK, exist_ok=True)
    result_path = os.path.join(WORK, f"result-{a.workload}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cpu0 = cpu_times()
    jvm(cp, a.workload, a.seed, a.seconds, a.trace, result_path)
    cpu1 = cpu_times()
    with open(result_path) as f:
        r = json.load(f)

    attempted, failed = r["attempted"], r["failed"]
    problems = []
    if a.workload == "query_mix":
        names = [l.strip() for l in open(QUERY_LIST) if l.strip() and not l.startswith("#")]
        problems = check_mix_outputs(names, set(r["notes"].get("warm_failed", [])))
        failed += len(problems)
    for p in problems:
        print(f"perfbench: wrong output: {p}", file=sys.stderr)

    named = dict(r["named"])
    named["error_rate"] = {"value": failed / attempted if attempted else 1.0, "unit": "fraction"}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "named_metrics": named, "notes": r["notes"]}))
    print(json.dumps({"host": host_context(cpu0, cpu1)}))

    last_untraced = os.path.join(WORK, f"last-untraced-{a.workload}.json")
    if a.trace:
        metrics = r["per_layer"]
        if os.path.exists(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
            print(json.dumps({"trace_overhead": {
                k: {"traced": v["value"], "untraced": base[k]["value"],
                    "diff_frac": (v["value"] - base[k]["value"]) / base[k]["value"]}
                for k, v in r["end_to_end"].items() if base.get(k, {}).get("value")}}))
        else:
            print(json.dumps({"trace_overhead": None,
                              "traced_end_to_end": r["end_to_end"]}))
    else:
        metrics = r["end_to_end"]
        with open(last_untraced, "w") as f:
            json.dump(metrics, f)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
