#!/usr/bin/env python3
"""Run one benchmark workload against the graft sources of this checkout.

    python3 perfbench/run.py --workload zoe-serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness with sbt (the harness is its own sbt project in this directory, with a
source dependency on the root build) and caches the classpath under
`.bench_build/perfbench/`, keyed by a digest of every build input; later runs
start the JVM directly. The harness's own report goes to standard output and
its last line is the result object. Every run's result is also saved under
`.bench_build/perfbench/results/` for `compare.py`, and traced runs write
their spans and per-layer table under `.bench_build/perfbench/trace/`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("zoe-serve", "graph-mutate", "graph-batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change requires a rebuild, relative to the root."""
    files = []
    for base, exts in ((ROOT, (".sbt",)), (os.path.join(ROOT, "project"), (".sbt", ".scala", ".properties")),
                       (HERE, (".sbt",)), (os.path.join(HERE, "project"), (".sbt", ".scala", ".properties"))):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith(exts) and os.path.isfile(os.path.join(base, f))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(src):
            files += [os.path.join(d, f) for f in fs]
    return sorted(os.path.relpath(f, ROOT) for f in files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The harness classpath, building it first when any build input changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources next to the benchmark (expected build.sbt and src/main/scala/graft)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the benchmark")
    key = digest(build_inputs())
    cp_file = os.path.join(OUT, "classpath.txt")
    key_file = os.path.join(OUT, "build.key")
    if os.path.isfile(cp_file) and os.path.isfile(key_file) and open(key_file).read() == key:
        return open(cp_file).read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building library and harness with sbt", file=sys.stderr)
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"sbt build failed (exit {p.returncode})", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(key_file, "w") as fh:
        fh.write(key)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def heap():
    """JVM heap: a quarter of physical memory, between 2 and 4 GiB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return f"{max(2, min(4, total // (4 << 30)))}g"


def run(args, cp):
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--trace-out", os.path.join(OUT, "trace"), "--benchmark", os.path.join(ROOT, "BENCHMARK.json")]
    with open(os.path.join(logs, tag + ".log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{tag} did not finish within {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        fail(f"{tag} exited with {proc.returncode}; see .bench_build/perfbench/logs/{tag}.log", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        fail(f"{tag} printed a malformed result", 5)
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{time.strftime('%Y%m%dT%H%M%S')}-{tag}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "report": lines[:-1], "result": result}, fh)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run(args, classpath())
    print(json.dumps(result))


if __name__ == "__main__":
    main()
