"""Build file of the benchmark: compiles the program's sources and the
benchmark's own sources into one class directory, with the Scala compiler
that ships among Spark's jars (no build tool, no downloads).

The output lands in ``<out>/classes-<fingerprint>``; a build whose
fingerprint (the content of every source file) already exists is reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess

SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must name a Spark install with a jars/ directory")
    return os.path.join(home, "jars")


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(os.path.join(root, d)):
            raise BuildError(f"missing source directory {d} (run from the root of a checkout)")
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def fingerprint(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, out, log):
    """Returns (classes_dir, fingerprint), compiling if needed."""
    files = sources(root)
    fp = fingerprint(root, files)
    classes = os.path.join(out, "classes-" + fp)
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes, fp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(spark_jars(), "*"),
           "-Dscala.usejavacp=true", "scala.tools.nsc.Main",
           # an explicit class path keeps the working directory (the
           # checkout root) from being read as a package root
           "-classpath", tmp, "-nowarn", "-d", tmp, "@" + argfile]
    rc = subprocess.run(cmd, stdout=log, stderr=log).returncode
    if rc != 0:
        raise BuildError(f"scalac exited with {rc}")
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(out, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, fp
