#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own sources (graftbench/src) with the Scala compiler that ships
in the Spark distribution, so the build needs neither sbt nor a network.
Output goes to <build dir>/graftbench/<source hash>/classes.jar and is
reused while neither the sources nor this file change. The build then
starts one short Spark session (graftbench.Main --classes) and dumps the
classes it loaded into a class-data-sharing archive, cds.jsa, beside the
jar; runs map the archive instead of loading those classes from the jars,
which takes seconds off every session start. (The classes go into a jar,
not a directory, because the JVM archives only classes loaded from jars.)
The build dir is $CARGO_TARGET_DIR when set (a relative path is taken from
the checkout root), else .bench_build.

    python3 graftbench/build.py          # prints the path of the classes jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm(work):
    """The java command line up to the main class's arguments: a fixed-size
    heap, JVM log lines on stderr (the last line of stdout is the result),
    scratch files under `work`."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    for p in OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd


def classpath(jar):
    return ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*")]


def archive_path(jar):
    return os.path.join(os.path.dirname(jar), "cds.jsa")


def fail(msg):
    sys.stderr.write("graftbench: %s\n" % msg)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("engine sources not found at src/main/scala under %s" % ROOT)
    found = []
    for base in (main, os.path.join(BENCH_DIR, "src")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the path of the classes jar."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "graftbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "classes.jar")
    if os.path.exists(os.path.join(out, "ok")):
        return jar
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", classes, "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail("compilation failed (exit %d)" % r.returncode)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    dump_classes(jar, out)
    open(os.path.join(out, "ok"), "w").close()
    return jar


def dump_classes(jar, out):
    """Write the class-data-sharing archive; without it runs still work,
    only their sessions start slower."""
    work = os.path.join(out, "classes-run")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (jvm(work) + ["-XX:ArchiveClassesAtExit=" + archive_path(jar)] + classpath(jar)
           + ["graftbench.Main", "--work", work, "--classes", "1"])
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, timeout=300)
        ok = r.returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        sys.stderr.write("graftbench: no class-data-sharing archive (runs start slower)\n")
        if os.path.exists(archive_path(jar)):
            os.remove(archive_path(jar))


if __name__ == "__main__":
    print(build())
