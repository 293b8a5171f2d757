"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory, the same jars
the engine's sbt build compiles against: `$SPARK_HOME/jars`, or else the
`unmanagedBase` directory that `build.sbt` names.

    python3 perfbench/build.py [BUILD_DIR]

Classes go to BUILD_DIR/classes (default `.bench_build`, or
$CARGO_TARGET_DIR when set). A stamp of every source file's path and
content skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise FileNotFoundError("Spark jars not found: set SPARK_HOME")
    return m.group(1)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    if not engine:
        raise FileNotFoundError(
            "no engine sources under %s/src/main/scala" % root)
    return engine + bench


def build(root, build_dir):
    """Compile if needed; return the classpath to run the benchmark with."""
    srcs = sources(root)
    jars = spark_jars(root)
    compiler = [os.path.join(jars, "scala-%s-%s.jar" % (n, SCALA))
                for n in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise FileNotFoundError("Scala compiler jars not found: %s" % missing)
    classes = os.path.join(build_dir, "classes")
    classpath = os.pathsep.join([classes, os.path.join(jars, "*")])
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise RuntimeError("compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    root = os.getcwd()
    bdir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "CARGO_TARGET_DIR", ".bench_build")
    print(build(root, os.path.join(root, bdir)))
