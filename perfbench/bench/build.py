"""Build the program and the benchmark harness from source.

Compiles ``src/main/scala`` (the program) together with
``perfbench/scala`` (the harness) with the Scala compiler that ships in
Spark's own jars directory, into ``.bench_build/perfbench.jar`` at the
root of the checkout, then dumps a class-data-sharing archive from one
short training run. A fingerprint of every source file is stored next
to them; a later run rebuilds only when a source changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import time
import zipfile

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: ``$SPARK_HOME/jars``, or the one beside
    the ``spark-submit`` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        raise BuildError("Spark jars not found; set SPARK_HOME")
    return jars


def _one(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.*.jar")))
    if not found:
        raise BuildError("no %s jar in %s" % (prefix, jars))
    return found[-1]


def sources(root):
    files = []
    for d in ("src/main/scala", "perfbench/scala"):
        base = os.path.join(root, d)
        if not os.path.isdir(base):
            raise BuildError("missing source directory %s" % d)
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def fingerprint(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.isfile(exe) else (shutil.which("java") or "java")


def _jar(classes, jar):
    """Pack the compiled classes into one jar: class-data sharing can
    archive classes from jars only, not from directories."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dirpath, dirs, names in os.walk(classes):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, classes))


def ensure(root, log, train):
    """Return (classpath, class-data archive), building first when a
    source changed. ``train(classpath, archive)`` runs one short
    benchmark JVM that dumps the classes it loads into ``archive``;
    later JVMs map that archive and start several seconds faster."""
    jars = spark_jars()
    files = sources(root)
    fp = fingerprint(root, files)
    build = os.path.join(root, BUILD_DIR)
    jar = os.path.join(build, "perfbench.jar")
    archive = os.path.join(build, "classes.jsa")
    stamp = os.path.join(build, "stamp")
    classpath = jar + os.pathsep + os.path.join(jars, "*")
    if all(os.path.isfile(f) for f in (jar, archive, stamp)):
        with open(stamp) as f:
            if f.read().strip() == fp:
                return classpath, archive
    log("building %d sources" % len(files))
    t0 = time.time()
    for f in (stamp, archive):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(build, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(_one(jars, p) for p in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    _jar(classes, jar)
    shutil.rmtree(classes)
    train(classpath, archive)
    if not os.path.isfile(archive):
        raise BuildError("the training run wrote no class-data archive")
    with open(stamp, "w") as f:
        f.write(fp + "\n")
    log("built in %.1f s" % (time.time() - t0))
    return classpath, archive
