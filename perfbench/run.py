#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest|stream_corpus|media_admission>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
harness from source (sbt, offline) into perfbench/target; later calls
reuse that build while the sources are unchanged. Each call runs one
workload in one JVM and prints, as its last two stdout lines, a report
(inputs, named metrics, checks, validity, per-layer record) and the
result line.

With --trace 1 the workload runs twice with the same seed: untraced, then
traced. The result line carries the traced run's per-layer metrics; the
report carries the tracing overhead, traced over untraced, for every
end-to-end metric.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
RESULTS = os.path.join(TARGET, "results")

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine sources and the harness."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
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
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness unless the stamped build is current."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(TARGET, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_jvm(args, trace):
    """One workload run in a fresh JVM; returns (report, result)."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    work = os.path.join(TARGET, "work", f"{args.workload}-seed{args.seed}-trace{trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # few malloc arenas: native memory (codecs, decoders) then varies less
    # between runs with the thread interleaving
    env["MALLOC_ARENA_MAX"] = "2"
    # a fixed, pre-touched heap: resident memory then moves with what the
    # engine holds off-heap and in code, not with when the heap grew
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(trace), "--work", work])
    try:
        # cwd inside the work dir: stray engine files (derby.log,
        # spark-warehouse) stay there and go with it
        p = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} run timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-6000:])
        fail(f"{args.workload} run failed (exit {p.returncode})")
    shutil.rmtree(work, ignore_errors=True)
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"no engine sources under {os.path.relpath(ENGINE_SRC)}; "
             "run from the root of a full checkout")
    build()
    if args.trace:
        base_report, base = run_jvm(args, 0)
        report, result = run_jvm(args, 1)
        e2e_traced = report["end_to_end"]
        report["tracing_overhead"] = {
            k: {"untraced": v["value"], "traced": e2e_traced[k]["value"],
                "ratio": (e2e_traced[k]["value"] / v["value"]
                          if v["value"] not in (0, None) and e2e_traced[k]["value"] is not None
                          else None)}
            for k, v in base_report["end_to_end"].items()}
        result["correct"] = bool(result["correct"] and base["correct"])
        result["attempted"] += base["attempted"]
        result["failed"] += base["failed"]
    else:
        report, result = run_jvm(args, 0)
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump({"report": report, "result": result}, fh, indent=1)
    print(json.dumps(report))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
