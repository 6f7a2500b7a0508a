"""Builds the program and the benchmark harness from source.

The build is one `scalac` call over the program's `src/main/scala` and
this package's `harness/` sources, against the Spark installation's jars
(which also carry the Scala compiler the program is built with). Output
goes to a directory named after a digest of every source file, so an
unchanged tree is built once per checkout.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, else the
    one beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler found (looked in '{jars}'); "
                         "set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(root, build_dir):
    """Compile if needed; return the classpath to run the harness with."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, f"classes-{h.hexdigest()[:16]}")
    cp = f"{classes}:{jars}/*"
    if os.path.exists(os.path.join(classes, ".built")):
        return cp
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", f"{jars}/*", f"@{argfile}"]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build failed (scalac exit {done.returncode})")
    open(os.path.join(tmp, ".built"), "w").close()
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build")))
