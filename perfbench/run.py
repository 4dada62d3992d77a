#!/usr/bin/env python3
"""End-to-end benchmark of the reference ETL and the training-corpus path.

Run from the repository root:

    python3 perfbench/run.py --workload etl-links --seed 1 --seconds 10 --trace 0

The workloads and metric names come from BENCHMARK.json at the root. The
first run builds the benchmark (an sbt project in this directory that
compiles the library sources under src/main/scala together with its own),
later runs reuse the build while no source changed. The JVM's own output
goes to standard error; standard output gets a few summary lines and, as
its last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
STAMP = os.path.join(BENCH, "target", "perfbench-build.json")
APP_JAR = os.path.join(BENCH, "target", "perfbench-app.jar")
# class-data-sharing archive of the loaded classes: dumped by the first run
# after a build, mapped by every later one (saves seconds of JVM start-up)
CDS_ARCHIVE = os.path.join(BENCH, "target", "perfbench-classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    digest = source_hash()
    if os.path.isfile(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and l.count(os.pathsep) > 3]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build printed no classpath", 3)
    entries = lines[-1].strip().split(os.pathsep)
    # the class-data-sharing archive takes jars only: pack the class dirs
    dirs = [e for e in entries if os.path.isdir(e)]
    with zipfile.ZipFile(APP_JAR, "w") as jar:
        for top in dirs:
            for d, _, names in os.walk(top):
                for n in sorted(names):
                    f = os.path.join(d, n)
                    jar.write(f, os.path.relpath(f, top))
    classpath = os.pathsep.join([APP_JAR] + [e for e in entries if e not in dirs])
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return classpath


def declared():
    """BENCHMARK.json: the workload names and, per --trace value, the
    (name, unit) list of the metrics a run must print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = {t: [(m["name"], m["unit"]) for m in spec[k]]
               for t, k in ((0, "end_to_end"), (1, "per_layer"))}
    return [w["name"] for w in spec["workloads"]], metrics


def run_jvm(classpath, args, per_layer):
    out = os.path.join(WORK, f"result-{os.getpid()}.txt")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.isfile(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", cds, "-Xlog:cds*=off"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--per-layer", ",".join(f"{n}:{u}" for n, u in per_layer),
        "--work", WORK, "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        for d in (args.workload, "spark-local", "tmp"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM exited with code {code}", 5)
    with open(out) as fh:
        lines = fh.read().splitlines()
    os.remove(out)
    return lines


def main():
    workloads, metrics = declared()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library sources (src/main/scala) are not next to perfbench/")
    lines = run_jvm(build(), args, metrics[1])
    result = json.loads(lines[-1])
    got = [(n, m["unit"]) for n, m in result["metrics"].items()]
    if got != metrics[args.trace]:
        fail(f"the run printed other metrics than BENCHMARK.json declares: {got}", 6)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
