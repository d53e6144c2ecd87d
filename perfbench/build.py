#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into <build dir>/classes. A stamp of
every source's path, size and modification time skips the compile when
nothing changed. Run from the root of a checkout:

    python3 perfbench/build.py [build dir]

The build dir defaults to $CARGO_TARGET_DIR, else .bench_build.
"""
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_HOME", "/opt/spark") + "/jars"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = sys.argv[1] if len(sys.argv) > 1 and __name__ == "__main__" else \
        os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d, "perfbench"))


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                            SPARK_JARS + "/*"])


def build(out):
    """Compile into out/classes unless the stamp matches; returns the
    runtime classpath. Raises on a failed compile."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise RuntimeError("no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{s}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(classes)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-cp", SPARK_JARS + "/*", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise RuntimeError("compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath(classes)


if __name__ == "__main__":
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    try:
        print(build(out))
    except RuntimeError as e:
        sys.exit(f"build: {e}")
