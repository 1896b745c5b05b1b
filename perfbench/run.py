#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt on first use
(outputs under `.bench_build/`) and then writes the generated tables, then
runs one JVM that measures the workload (stream_live's steady phase lasts
`--seconds`; curation measures two warm passes) and checks the results. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the names and units of
the metrics as BENCHMARK.json lists them (end-to-end when untraced,
per-layer when traced). Exits non-zero if any output is wrong, and without
that line if the build or the harness fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("curation", "stream_live")
ROOT = os.path.abspath(os.getcwd())
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the root build passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def sources_stamp():
    """Newest modification time over everything the build reads."""
    newest = 0.0
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            newest = max(newest, os.path.getmtime(path))
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            for f in filenames:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    return newest


def build():
    """Builds unless the classpath is newer than every source. Returns
    whether it built."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_stamp():
        return False
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(ROOT, "perfbench"), env=sbt_env(), stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = open(log).read().splitlines()
    cp = [l for l in lines if l.startswith(os.sep) and os.pathsep in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return True


def with_units(values, trace):
    """The harness's {name: value} as {name: {value, unit}}, for every
    metric BENCHMARK.json lists for this kind of run. A per-layer metric
    the workload does not exercise reads 0; a name BENCHMARK.json does not
    list is an error, so the two cannot drift apart."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    unknown = sorted(set(values) - {m["name"] for m in spec})
    if unknown:
        fail(f"harness reported metrics BENCHMARK.json does not list: {unknown}")
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing and not trace:
        fail(f"harness did not report {missing}")
    return {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    built = build()
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap size keeps GC behaviour the same from run to run
    java = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", open(CLASSPATH).read().strip(), "graftbench.Main", "--work", work]
    if built:
        # the generated tables belong to the build: a JVM of their own
        # writes them, so the first measured run starts like any other
        try:
            rc = subprocess.run(java + ["--workload", "generate"], cwd=work,
                                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                                stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
        if rc != 0:
            fail(f"generating the inputs failed ({rc})")
    cmd = java + ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--expected", os.path.join(HERE, "expected_rows.json")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"harness exceeded {RUN_TIMEOUT_S} s")
    with open(os.path.join(work, f"last_{a.workload}.stderr"), "w") as f:
        f.write(err)
    lines = out.splitlines()
    sys.stdout.write("".join(l + "\n" for l in lines[:-1]))
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write("\n".join(err.splitlines()[-30:]) + "\n")
        fail(f"harness exited with {proc.returncode} and no result")
    result["metrics"] = with_units(result.pop("values"), a.trace)
    print(json.dumps(result))
    if proc.returncode != 0 or not result["correct"]:
        fail("outputs are wrong (see the report above)")


if __name__ == "__main__":
    main()
