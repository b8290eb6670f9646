#!/usr/bin/env python3
"""Compile the graft library and the benchmark program from source.

The benchmark is its own package: this file is its build. It compiles the
library sources (src/main/scala, src/main/java) together with the benchmark
program (perfbench/src) in one scalac run, against the Spark jars that the repo's
build.sbt names as `unmanagedBase` (the Scala compiler ships among them).
No dependency resolution happens, so the build needs no network and no sbt.

The classes go into one jar, and a training run that starts each workload of
BENCHMARK.json once writes a class-data archive (AppCDS) of the classes it
loaded. Runs map
that archive instead of loading and verifying ~20k classes from 300 jars,
which takes seconds per JVM start on a small machine.

Output goes to .bench_build/classes-<hash>, where <hash> covers every input
file, so an edited source never reuses a stale build.

    python3 perfbench/build.py          # prints the build directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = ["src/main/scala", "src/main/java", "perfbench/src"]
RESOURCE_DIR = "src/main/resources"
# Spark 4 on JDK 17 outside spark-submit: the module opens spark-submit adds
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed 1 GiB heap, not pre-touched: the inputs are a few MB, and
# pre-touching costs seconds per GiB that set-up would then measure.
HEAP = "1g"


def spark_cores():
    """Spark task slots for a run: half the machine's cores. The JVM's JIT
    compiler and GC threads and the driver thread need cores of their own;
    with a task slot on every core they queue behind tasks, and on a shared
    host op times then follow the scheduler more than the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The jar directory the repo's own build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def java_command(build_dir, tmp, archive_option):
    """The JVM every run uses: same classpath, heap and flags."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file: a run writes nothing outside the checkout
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", archive_option,
            f"-Djava.io.tmpdir={tmp}", "-cp",
            os.path.join(build_dir, "app.jar") + os.pathsep + os.path.join(spark_jars_dir(), "*"),
            "graft.perfbench.Main"]
    return cmd


def archive_option(build_dir):
    return "-XX:SharedArchiveFile=" + os.path.join(build_dir, "perfbench.jsa")


def _files(rel_dir, suffixes):
    base = os.path.join(ROOT, rel_dir)
    out = []
    for d, _, names in os.walk(base):
        out += [os.path.join(d, n) for n in names if n.endswith(suffixes)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _compile(sources, resources, classes, log):
    jars = spark_jars_dir()
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    print(f"[perfbench] compiling {len(sources)} sources", file=log, flush=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    java = [s for s in sources if s.endswith(".java")]
    if java:
        r = subprocess.run(["javac", "-nowarn", "-d", classes, "-cp",
                            classes + os.pathsep + cp] + java, stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError(f"javac failed with exit code {r.returncode}")
    res_root = os.path.join(ROOT, RESOURCE_DIR)
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))


def _train(out, log):
    """Runs every workload once in one JVM that archives its classes at exit."""
    work = os.path.join(BUILD, "train")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    print("[perfbench] training run for the class-data archive", file=log, flush=True)
    cmd = java_command(out, tmp, "-XX:ArchiveClassesAtExit=" + os.path.join(out, "perfbench.jsa"))
    cmd += ["--train", "1", "--cores", str(spark_cores()), "--work", work]
    try:
        with open(os.path.join(BUILD, "train.log"), "w") as train_log:
            r = subprocess.run(cmd, cwd=work, stdout=train_log, stderr=train_log, timeout=600,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=tmp))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "perfbench.jsa")):
        raise BuildError(f"training run failed with exit code {r.returncode}")


def ensure_built(log=sys.stderr):
    """Return the build directory, building first if it is missing."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala")):
        raise BuildError("library sources (src/main/scala) not found next to perfbench/")
    sources = []
    for d in SOURCE_DIRS:
        sources += _files(d, (".scala", ".java"))
    resources = _files(RESOURCE_DIR, ("",))
    out = os.path.join(BUILD, "classes-" + _digest(sources + resources))
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    _compile(sources, resources, classes, log)
    _jar(classes, os.path.join(tmp, "app.jar"))
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    # the archive records the jar paths, so it is written in place
    _train(out, log)
    open(os.path.join(out, ".complete"), "w").close()
    for name in os.listdir(BUILD):  # older builds of other source trees
        if name.startswith("classes-") and os.path.join(BUILD, name) != out:
            shutil.rmtree(os.path.join(BUILD, name), ignore_errors=True)
    # flush the ~200 MB just written now, not during the first measured run
    os.sync()
    return out


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
