#!/usr/bin/env python3
"""Layer-by-layer benchmark of the graft engine.

Run from the repository root:

    python3 layerbench/run.py --workload upload_nested --seed 1 --seconds 20 --trace 0

The first run builds the engine and the benchmark program from source with
sbt (offline); later runs reuse the build while the sources are unchanged.
The benchmark JVM (`layerbench.Main`, `local[4]`) generates the seeded
inputs under `layerbench/.work/`, times the workload, checks every output
and writes its metrics; this script adds the result-digest check of the
query workload, prints every metric with its unit, and ends with one JSON
line holding the metrics that BENCHMARK.json lists for the mode: the
end-to-end ones with `--trace 0`, the per-layer ones with `--trace 1`.
Traced runs also leave their spans and stage counters in `layerbench/out/`.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
# a run without a build must end within 180 s
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            have, cp = f.read().split("\n", 1)
        if have == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    # the build's scratch files stay in the checkout too
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export layerbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [x for x in p.stdout.splitlines() if "layerbench" in x and
             not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def norm(v):
    """Canonical text of one result cell; numbers compare by value."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        x = float(v)
        if math.isnan(x):
            return "NaN"
        if x.is_integer() and abs(x) < 2 ** 53:
            return str(int(x))
        return repr(x)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{norm(k)}:{norm(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(con, sql):
    """Order-insensitive digest of a result: row count and a SHA-256 of
    its sorted canonical rows, columns ordered by name."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("|".join(norm(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return f"{len(rows)}:{','.join(sorted(cols))}:{h}"


def check_digests(results_dir):
    """Failed queries: those whose written result does not match the
    digest stored with the benchmark."""
    import duckdb
    with open(os.path.join(BENCH, "digests.json")) as f:
        want = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    bad = []
    for name, d in sorted(want.items()):
        try:
            got = digest(con, f"SELECT * FROM '{results_dir}/{name}/*.parquet'")
        except Exception as e:  # a missing or unreadable result fails
            got = f"error: {e}"
        if got != d["digest"]:
            print(f"layerbench: FAILED digest {name}: {got} != {d['digest']}",
                  file=sys.stderr)
            bad.append(name)
    return len(want), bad


def run_jvm(cp, args, work, out_json, log_path, budget):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "layerbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), os.path.join(work, "run"),
            BENCH, out_json]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"benchmark JVM exceeded {budget:.0f} s; log in {log_path}")
    if rc != 0 or not os.path.exists(out_json):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "Blueprints.scala")):
        fail("engine sources not found next to the benchmark")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(BENCH, ".work", str(os.getpid()))
    out_json = os.path.join(out_dir, f"result-{os.getpid()}.json")
    log_path = os.path.join(out_dir, f"jvm-{args.workload}-{args.seed}.log")
    try:
        os.makedirs(work)
        run_jvm(cp, args, work, out_json, log_path, JVM_TIMEOUT_S)
        with open(out_json) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "curation_hotset":
            n, bad = check_digests(os.path.join(work, "run", "data", "results"))
            attempted += n
            failed += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out_json):
            os.remove(out_json)

    metrics = res["metrics"]
    metrics["failed_share"] = {"value": failed / attempted, "unit": "ratio"}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{attempted} operations attempted, {failed} failed")
    for k, v in metrics.items():
        print(f"  {k:<34} {v['value']:>14.6g} {v['unit']}")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"],
                                "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
