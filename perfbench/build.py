"""Build file of the benchmark: compiles the repository's main Scala
sources and the benchmark's own driver (`perfbench/src`) into one class
directory, next to the main resources, with the Scala compiler and jars of
the Spark distribution (`$SPARK_HOME`, else the one whose `spark-submit` is
on `PATH`).

    python3 perfbench/build.py            # prints the class directory

The output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under the
checkout and is reused while no source file changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA_VERSION = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("no Spark distribution: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def resources(root):
    base = os.path.join(root, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**", "*"),
                                       recursive=True) if os.path.isfile(p)), base


def classpath(root):
    return os.path.join(build_dir(root), "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(root):
    """Compiles when the sources changed; returns the class directory."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        raise SystemExit(f"no Scala sources under {root}/src/main/scala")
    res, res_base = resources(root)
    digest = hashlib.sha256()
    for s in srcs + res:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir(root), "classes")
    stamp = os.path.join(build_dir(root), "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
        for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir(root), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss4m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", out,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"compile failed ({proc.returncode})")
    for r in res:
        dst = os.path.join(out, os.path.relpath(r, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
