"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own sources into one class directory, with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars).

The output goes under $CARGO_TARGET_DIR (default `.bench_build`) in the
checkout, keyed by a digest of every source file, so an unchanged tree
is compiled once.

    python3 perfbench/build.py        # build (or reuse) and print the class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_ROOTS = ("src/main/scala", os.path.join(os.path.basename(HERE), "src"))
COMPILE_TIMEOUT_S = 840

# JDK 17 needs these opens for Spark outside spark-submit; the same list as
# the project's own forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark install with a jars/ directory")
    return os.path.join(home, "jars", "*")


def sources(root):
    out = []
    for rel in SOURCE_ROOTS:
        base = os.path.join(root, rel)
        if not os.path.isdir(base):
            raise BuildError(f"missing source directory {rel}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(root, srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_built(root):
    """Compile if needed; return the class directory."""
    srcs = sources(root)
    jars = spark_jars()
    out = os.path.join(build_dir(root), "classes-" + digest(root, srcs))
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compile exceeded {COMPILE_TIMEOUT_S} s")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in os.listdir(build_dir(root)):  # builds of other source trees
        if old.startswith("classes-") and os.path.join(build_dir(root), old) != out:
            shutil.rmtree(os.path.join(build_dir(root), old), ignore_errors=True)
    return out


def java_command(classes, heap, tmp):
    """The benchmark JVM; `tmp` keeps its temporary files in the checkout."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-Dspark.ui.enabled=false", "-cp", classes + os.pathsep + spark_jars()])


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
