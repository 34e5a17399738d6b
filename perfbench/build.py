"""Build file of the benchmark: compiles the engine's sources together with
the benchmark harness into `.bench_build/`, with the Scala compiler that
ships in Spark's jar directory (no sbt, nothing written outside the
checkout). A build is keyed by a digest of every source file, so an
unchanged tree reuses its classes.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one beside the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root, build_dir):
    """Compile once per source digest; return the classes jar. A jar, not a
    directory, so the JVM can keep a class-data archive of the run's
    classes (see `java_command`)."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, ENGINE_SRC)) for s in srcs):
        raise SystemExit("perfbench: engine sources not found under %s" % ENGINE_SRC)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()[:16]
    jar = os.path.join(build_dir, "classes-%s.jar" % digest)
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(jar):
            return jar
        tmp = os.path.join(build_dir, "classes.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.pathsep.join(spark_jars())
        args_file = os.path.join(build_dir, "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", tmp, "-classpath", cp, "@" + args_file]
        done = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True)
        if done.returncode != 0:
            sys.stderr.write(done.stdout[-4000:])
            raise SystemExit("perfbench: compilation failed")
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for dirpath, _, files in os.walk(tmp):
                for f in sorted(files):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, tmp))
        os.rename(jar + ".tmp", jar)
        shutil.rmtree(tmp, ignore_errors=True)
    return jar


def class_archive(jar, workload):
    """Path of a workload's JVM class-data archive, kept beside the jar."""
    digest = os.path.basename(jar)[len("classes-"):-len(".jar")]
    return os.path.join(os.path.dirname(jar), "cds-%s-%s.jsa" % (digest, workload))


def java_command(jar, workload, archive_out=None, heap="3g"):
    """`java` with the harness classpath. It maps the workload's class-data
    archive when one exists, instead of re-reading thousands of Spark classes
    from jars; otherwise it dumps the classes it loads to `archive_out`, if
    given. One archive per workload, each dumped by a throwaway run before
    any measured run (see run.class_archives)."""
    cp = os.pathsep.join([jar] + spark_jars())
    opens = []
    for p in JDK_OPENS:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    archive = class_archive(jar, workload)
    cds = ["-XX:SharedArchiveFile=" + archive] if os.path.exists(archive) else \
        (["-XX:ArchiveClassesAtExit=" + archive_out] if archive_out else [])
    return ["java", "-Xmx" + heap, "-XX:-UsePerfData", "-XX:+IgnoreUnrecognizedVMOptions", *cds, *opens,
            "-Dspark.ui.enabled=false", "-cp", cp]
