#!/usr/bin/env python3
"""Crawl-engine benchmark entry point.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from source (perfbench/build.py),
runs one workload in one JVM on local[nproc], and prints as its last stdout
line one JSON object: {"correct", "attempted", "failed", "metrics"}. The line
before it is the run's provenance block. Workloads and metrics are described
in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("crawl", "operator-surface")
TIMEOUT_S = 170

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def run_jvm(args, seed, seconds, toy=False, timeout=TIMEOUT_S):
    """Runs perfbench.Main with `args` (e.g. ["--cases", "crawl:0"]); returns
    (exit code, [(kind, json)] in order, stdout)."""
    classpath, digest = build.build()
    work = os.path.join(build.build_dir(), f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", os.pathsep.join(classpath),
           "perfbench.Main", *args, "--seed", str(seed),
           "--seconds", str(seconds), "--toy", "1" if toy else "0",
           "--data", os.path.join(HERE, "data"), "--expected", os.path.join(HERE, "expected"),
           "--work", work, "--git-sha", git_sha() or "none", "--source-digest", digest]
    log_path = os.path.join(build.build_dir(), f"jvm-{os.getpid()}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            print(f"perfbench: JVM killed after {timeout}s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    records = []
    for line in out.splitlines():
        for kind in ("PERFBENCH_INFO", "PERFBENCH_RESULT"):
            if line.startswith(kind + " "):
                records.append((kind, json.loads(line[len(kind) + 1:])))
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
    else:
        os.remove(log_path)
    return proc.returncode, records, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    code, records, _ = run_jvm(["--cases", f"{a.workload}:{a.trace}"], a.seed, a.seconds)
    results = [r for k, r in records if k == "PERFBENCH_RESULT"]
    if code != 0 or len(results) != 1:
        print(f"perfbench: run failed (exit {code})", file=sys.stderr)
        sys.exit(1)
    for k, r in records:
        if k == "PERFBENCH_INFO":
            print(json.dumps({"provenance": r}))
    print(json.dumps(results[0]))


if __name__ == "__main__":
    main()
