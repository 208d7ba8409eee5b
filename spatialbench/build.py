"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark sources (spatialbench/src) with the Scala compiler that ships in the
Spark distribution, into a directory keyed by a hash of every source, and
makes the build's class-data-sharing archive there.

A rebuild happens only when a source changes, so every run after the first
starts the JVM directly. Run it alone with `python3 spatialbench/build.py`;
it prints the build directory.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_SRC = os.path.join(HERE, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "spatialbench")


# what spark-submit injects for Spark on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def heap_gb():
    """Half of MemTotal, clamped to 2..8 GiB: the rule the repo's test runs use."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return max(2, min(8, int(line.split()[1]) // 2097152))
    return 2


def jvm_options(heap, tmp):
    """Flags of every benchmark JVM, the archive's included, so that each
    measured run can map the archive. -XX:-UsePerfData: no hsperfdata file
    outside the checkout. A fixed heap and young generation keep peak RSS from
    following the collector's resizing decisions, which vary from run to run.
    -XX:TieredStopAtLevel=1 compiles with C1 only: with C2 on, C2 kept
    compiling Spark's code through the whole run (about 65 s of compiler CPU
    in a 35 s run on 4 cores), batch times fell by 40% over the first minute,
    and where a short window fell on that curve differed from run to run;
    with C1 only, times are flat after the first pass."""
    opts = ["-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-XX:TieredStopAtLevel=1"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + [f"-Xms{heap}g", f"-Xmx{heap}g", "-Xmn1g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
                   "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                   "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources(source_root):
    lib_src = os.path.join(source_root, "src", "main", "scala")
    lib = sorted(glob.glob(os.path.join(lib_src, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError(f"no library sources under {lib_src}")
    if not bench:
        raise BuildError("no benchmark sources")
    return lib + bench


def source_hash(files, source_root):
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as fh:  # how the build is made
        h.update(fh.read())
    for f in files:
        base = HERE if f.startswith(BENCH_SRC) else source_root
        h.update(os.path.relpath(f, base).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def make_archive(out, classpath, log):
    """Class-data sharing: a throwaway JVM sets up and warms up every workload
    once (spatialbench.Archive; nothing is measured) and at its exit archives
    the classes it loaded. Every measured run maps this archive, so all of
    them start the same way, the first run of a build included."""
    jsa = os.path.join(out, "classes.jsa")
    work = os.path.join(out, "archive-work")
    os.makedirs(os.path.join(work, "tmp"))
    heap = heap_gb()
    print(f"[build] archiving the classes of one pass over every workload into {os.path.relpath(jsa, ROOT)}",
          file=log)
    cmd = (["java", f"-XX:ArchiveClassesAtExit={jsa}"] + jvm_options(heap, os.path.join(work, "tmp")) +
           ["-cp", classpath, "spatialbench.Archive", "--work", work,
            "--cores", str(len(os.sched_getaffinity(0))), "--heap-gb", str(heap)])
    try:
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                             timeout=600)
    except subprocess.TimeoutExpired:
        raise BuildError("the archive run exceeded 600 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not os.path.exists(jsa):
        raise BuildError("the archive run failed:\n" + res.stdout[-4000:])
    # flush the new archive and jar to disk now, not during the first run
    for f in (jsa, os.path.join(out, "spatialbench.jar")):
        fd = os.open(f, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    return jsa


def build(source_root=ROOT, log=sys.stderr):
    """Compile the library under `source_root` (default: this checkout) with
    the benchmark and archive its classes; return (build_dir, classpath,
    source_sha). The classes are packed into a jar and the classpath lists
    every jar explicitly, in a fixed order, as class-data sharing needs."""
    jars = spark_jars()
    files = sources(source_root)
    sha = source_hash(files, source_root)
    out = os.path.join(BUILD_ROOT, sha[:16])
    classes = os.path.join(out, "classes")
    bench_jar = os.path.join(out, "spatialbench.jar")
    classpath = os.pathsep.join([bench_jar] + sorted(glob.glob(os.path.join(jars, "*.jar"))))
    if os.path.exists(os.path.join(out, "ok")):
        return out, classpath, sha
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[build] compiling {len(files)} sources into {os.path.relpath(classes, ROOT)}", file=log)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    with zipfile.ZipFile(bench_jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    make_archive(out, classpath, log)
    with open(os.path.join(out, "ok"), "w") as fh:
        fh.write(sha + "\n")
    return out, classpath, sha


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
