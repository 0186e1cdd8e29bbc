"""Build file of the benchmark: compiles graft's main sources and the
harness under perfbench/src with scalac, against the Spark jars the
repo's build.sbt names, into `.bench_build/` of the checkout, then
records a class-data-sharing archive that every run maps.

A build is reused while a stamp of every source file's path and content
hash matches; any change rebuilds both class trees and the archive.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

BUILD_DIR = ".bench_build"
HARNESS_SRC = os.path.join("perfbench", "src")
PROGRAM_SRC = os.path.join("src", "main", "scala")


class BuildError(Exception):
    pass


def jdk17_add_opens():
    """The --add-opens list build.sbt passes to forked JVMs (Spark on
    JDK 17 outside spark-submit)."""
    pkgs = ["java.base/java.lang", "java.base/java.lang.invoke",
            "java.base/java.lang.reflect", "java.base/java.io",
            "java.base/java.net", "java.base/java.nio",
            "java.base/java.util", "java.base/java.util.concurrent",
            "java.base/java.util.concurrent.atomic",
            "java.base/sun.nio.ch", "java.base/sun.nio.cs",
            "java.base/sun.security.action", "java.base/sun.util.calendar"]
    out = []
    for p in pkgs:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def driver_mem():
    """Heap rule shared with the repo's tier-1 test command: half the
    machine's memory in GiB, clamped to [2, 8], unless SPARK_DRIVER_MEM
    is set."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(int(line.split()[1]) / 2097152)
                    return "%dg" % min(8, max(2, g))
    except OSError:
        pass
    return "2g"


def java_cmd(root, cp, cds):
    """The harness JVM: heap, flags and add-opens as build.sbt forks
    them, plus `cds`, the class-data-sharing option."""
    out = os.path.join(root, BUILD_DIR)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_mem()
    return (["java", "-Xss8m", "-Xms" + heap, "-Xmx" + heap,
             "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=512m",
             "-Djava.io.tmpdir=" + tmp,
             "-Dderby.system.home=" + os.path.join(out, "derby"),
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             cds, "-Xlog:cds=off"]
            + jdk17_add_opens() + ["-cp", cp])


def java_env(root):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, BUILD_DIR, "spark-local")
    return env


def archive(root):
    return os.path.join(root, BUILD_DIR, "classes", "app.jsa")


def spark_jars(root):
    """The jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME or build.sbt unmanagedBase")


def _sources(root, rel):
    files = sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"),
                             recursive=True))
    if not files:
        raise BuildError("no Scala sources under %s" % rel)
    return files


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode())
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, files, log):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", classpath, "-d", out] + files
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            raise BuildError("scalac failed (%s):\n%s" % (log, fh.read()[-4000:]))


def _jar(tree, target):
    """Zip a class tree into a jar: class-data sharing only archives
    classes that come from jar files."""
    import zipfile
    with zipfile.ZipFile(target, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tree):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tree))


def _dump_archive(root, cp, log):
    """Run the harness's prime (each workload's input generation and one
    set-up) and archive the classes it loaded, so that every measured run
    starts the JVM and Spark the same way: mapping that archive instead
    of loading and verifying ~20k classes."""
    cmd = java_cmd(root, cp, "-XX:ArchiveClassesAtExit=" + archive(root)) + [
        "perfbench.Main", "--prime", "1", "--root", os.path.join(root, BUILD_DIR)]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                            env=java_env(root)).returncode
    if rc != 0 or not os.path.exists(archive(root)):
        with open(log) as fh:
            raise BuildError("prime run failed (%s):\n%s" % (log, fh.read()[-4000:]))


def ensure_built(root):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars(root)
    prog = _sources(root, PROGRAM_SRC)
    harness = _sources(root, HARNESS_SRC)
    out = os.path.join(root, BUILD_DIR)
    prog_out = os.path.join(out, "classes", "graft")
    harness_out = os.path.join(out, "classes", "perfbench")
    stamp_file = os.path.join(out, "classes", "STAMP")
    stamp = _stamp(prog + harness + [os.path.abspath(__file__)])
    jar_glob = os.path.join(jars, "*")
    cp = os.pathsep.join([harness_out + ".jar", prog_out + ".jar", jar_glob])
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        os.makedirs(os.path.join(out, "classes"), exist_ok=True)
        for stale in (stamp_file, archive(root)):
            if os.path.exists(stale):
                os.remove(stale)
        _scalac(jars, jar_glob, prog_out, prog,
                os.path.join(out, "classes", "graft.log"))
        _scalac(jars, prog_out + os.pathsep + jar_glob, harness_out, harness,
                os.path.join(out, "classes", "perfbench.log"))
        _jar(prog_out, prog_out + ".jar")
        _jar(harness_out, harness_out + ".jar")
        _dump_archive(root, cp, os.path.join(out, "classes", "prime.log"))
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return cp
