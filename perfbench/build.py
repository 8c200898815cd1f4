"""Build file of the benchmark: compiles the crawl engine's sources
(src/main/scala), then the benchmark driver (perfbench/src/main/scala) against
them, using the Scala compiler that ships in Spark's jar directory, so no build
tool or network is needed.

    python3 perfbench/build.py        # prints the classpath of the build

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the checkout
root. Each stage is skipped when its sources' digest matches the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(top):
    base = os.path.join(ROOT, top)
    if not os.path.isdir(base):
        raise SystemExit(f"perfbench: missing source tree {top}")
    srcs = []
    for dirpath, _, files in os.walk(base):
        srcs += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(srcs)


def digest_of(srcs, extra=""):
    h = hashlib.sha256(extra.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_stage(name, srcs, classpath, digest):
    out = os.path.join(build_dir(), name)
    stamp = out + ".sha256"
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath[-1],
           "scala.tools.nsc.Main", "-classpath", os.pathsep.join(classpath), "-d", tmp,
           "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed on {name} with code {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(digest)
    return out


def build():
    """Returns (classpath list, digest of the engine sources)."""
    jars = os.path.join(spark_jars(), "*")
    main_srcs = sources("src/main/scala")
    main_digest = digest_of(main_srcs)
    engine = compile_stage("engine-classes", main_srcs, [jars], main_digest)
    bench_srcs = sources("perfbench/src/main/scala")
    bench = compile_stage("perfbench-classes", bench_srcs, [engine, jars],
                          digest_of(bench_srcs, main_digest))
    return [bench, engine, jars], main_digest


if __name__ == "__main__":
    print(os.pathsep.join(build()[0]))
