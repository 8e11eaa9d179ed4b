"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into <build dir>/classes, where the build dir is
$CARGO_TARGET_DIR or .bench_build. A stamp over every source skips the
compile when nothing changed. `python3 perfbench/build.py` builds and exits.
"""
import hashlib
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jars directory of the Spark installation at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars) or \
            not any(f.startswith("scala-compiler") for f in os.listdir(jars)):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation "
                         "whose jars include the Scala compiler")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_into(name, srcs, extra_cp=()):
    """Compile `srcs` into <build dir>/<name> unless its stamp matches."""
    out = os.path.join(build_dir(), name)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(extra_cp).encode())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    if os.path.isdir(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.pathsep.join(list(extra_cp) + [os.path.join(jars, "*")])
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp,
                        "@" + argfile])
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return out


def build(with_tests=False):
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit("perfbench: engine sources not found at src/main/scala")
    stamp = os.path.join(build_dir(), "classes", ".stamp")
    before = open(stamp).read() if os.path.exists(stamp) else None
    classes = compile_into("classes", sources(engine, os.path.join(BENCH, "src")))
    if open(stamp).read() != before:
        # Untraced results kept as tracing-overhead bases belong to the old build.
        subprocess.run(["rm", "-rf", os.path.join(build_dir(), "results")], check=True)
    if not with_tests:
        return [classes]
    tests = compile_into("test-classes", sources(os.path.join(BENCH, "test")), [classes])
    return [tests, classes]


if __name__ == "__main__":
    build(with_tests="--tests" in sys.argv)
