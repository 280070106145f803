"""Build file of the pipeline benchmark.

Compiles the repository's main sources (`src/main/scala`) together with the
benchmark's own sources (`pipebench/src`) with the Scala compiler that ships
in Spark's jar directory, packs the classes into
`.bench_build/pipebench/pipebench.jar`, then records a class-data-sharing
archive of the classes every workload's warm-up pass loads, so each
measured JVM maps them instead of loading and verifying them again. The
build is skipped when a stamp of every source file and the jar listing is
unchanged.

    python3 pipebench/build.py          # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = os.path.join(".bench_build", "pipebench")
JAR = os.path.join(BUILD_DIR, "pipebench.jar")
ARCHIVE = os.path.join(BUILD_DIR, "pipebench.jsa")
STAMP = os.path.join(BUILD_DIR, "build.stamp")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join("pipebench", "src")]
HEAP = "2g"
# Spark on JDK 17 needs the module opens spark-submit would add.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources(root):
    out = []
    for sub in SOURCE_ROOTS:
        base = os.path.join(root, sub)
        if not os.path.isdir(base):
            raise BuildError("missing source directory " + sub)
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_cmd(root, main, args, work, archive="use"):
    """The JVM command every benchmark process runs: fixed heap, temp files
    under `work`, the explicit jar classpath the archive was recorded with,
    and the archive itself (`use`), recording it (`dump`) or neither."""
    jars = spark_jars(root)
    cp = [os.path.join(root, JAR)] + [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                                      if j.endswith(".jar")]
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn256m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-XX:ReservedCodeCacheSize=512m"]
    jsa = os.path.join(root, ARCHIVE)
    if archive == "use" and os.path.exists(jsa):
        cmd.append("-XX:SharedArchiveFile=" + jsa)
    elif archive == "dump":
        cmd.append("-XX:ArchiveClassesAtExit=" + jsa)
    for p in OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd + ["-cp", os.pathsep.join(cp), main] + list(args)


def compile_jar(root, srcs, log):
    jcp = os.path.join(spark_jars(root), "*")
    classes = os.path.join(root, BUILD_DIR, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log.write("[pipebench] compiling %d Scala sources\n" % len(srcs))
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jcp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jcp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        log.write(r.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed")
    with zipfile.ZipFile(os.path.join(root, JAR), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def record_archive(root, log):
    """Runs every workload's warm-up pass once on seed-0 inputs, recording
    the loaded classes into the archive. Without it the runs still work,
    only their class loading is slower."""
    work = os.path.join(root, BUILD_DIR, "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for wl in ("paper_etl", "corpus_dedup"):
            subprocess.run(java_cmd(root, "pipebench.Gen", [wl, "0", os.path.join(work, "in", wl)],
                                    work, archive="none"),
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True,
                           timeout=300)
        subprocess.run(java_cmd(root, "pipebench.Main",
                                ["--mode", "archive", "--in", os.path.join(work, "in"),
                                 "--work", os.path.join(work, "w"), "--cpus", "4"],
                                work, archive="dump"),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True,
                       timeout=400)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        log.write("[pipebench] no class-data archive: %s\n" % e)
        if os.path.exists(os.path.join(root, ARCHIVE)):
            os.remove(os.path.join(root, ARCHIVE))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ensure(root, log=sys.stderr):
    """Builds the jar and the archive unless the stamp is current."""
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_path = os.path.join(root, STAMP)
    if os.path.exists(stamp_path) and os.path.exists(os.path.join(root, JAR)):
        with open(stamp_path) as f:
            if f.read() == stamp:
                return
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    for p in (STAMP, ARCHIVE):
        if os.path.exists(os.path.join(root, p)):
            os.remove(os.path.join(root, p))
    compile_jar(root, srcs, log)
    record_archive(root, log)
    with open(stamp_path, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        ensure(os.getcwd())
    except BuildError as e:
        sys.exit("[pipebench] build failed: %s" % e)
