"""Builds the program and the benchmark harness from source.

Compiles the program's `src/main/scala` together with this
directory's `src/` with the Scala compiler that ships in the Spark
distribution, into `.bench_build/classes-<source hash>/`, and dumps
the program's DuckDB oracle SQL for the benchmarked entries next to
the classes. A build whose source hash is already present is reused.

    python3 perfbench/build.py      # build (or reuse) and print the dir
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {home}/jars")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("program sources (src/main/scala) not found")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return prog + own


def jvm_options(tmp):
    """The JVM options the repo's build gives a forked run (build.sbt)."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    out = []
    for p in opens:
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return out + ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}",
                  f"-Djava.io.tmpdir={tmp}"]


def classpath(classes):
    return classes + os.pathsep + os.pathsep.join(spark_jars())


def ensure_build(oracle_entries):
    """Returns (classes dir, seconds spent building; 0 when reused)."""
    import time
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(ROOT, "src/main/resources/**/*"),
                                     recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    h.update(json.dumps(sorted(oracle_entries)).encode())
    classes = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes, 0.0
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(spark_jars())
    if subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                       "scala.tools.nsc.Main",
                       "-nowarn", "-classpath", cp, "-d", tmp, f"@{argfile}"],
                      stdout=sys.stderr).returncode != 0:
        raise SystemExit("build failed: the Scala compiler reported errors")
    res = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    jtmp = os.path.join(BUILD, "tmp")
    os.makedirs(jtmp, exist_ok=True)
    if subprocess.run(["java", *jvm_options(jtmp), "-cp", classpath(tmp),
                       "perfbench.DumpOracles", os.path.join(tmp, "oracle_sql.json"),
                       *oracle_entries], stdout=sys.stderr).returncode != 0:
        raise SystemExit("build failed: could not read the oracle SQL")
    os.remove(argfile)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(os.path.join(classes, "BUILD_OK"), "w") as f:
        f.write("ok\n")
    return classes, time.time() - t0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    import workloads
    print(ensure_build(workloads.ORACLE_ENTRIES)[0])
