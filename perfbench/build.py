"""Build step of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src, perfbench/tests) with the Scala compiler that
ships in the Spark distribution, into .bench_build/perfbench/ of the checkout.

The build is skipped when a stamp over every source file and the compiler jar
matches the last successful build. No network, no sbt: the Spark jars are the
whole classpath, taken from $SPARK_HOME/jars or else from the directory that
build.sbt declares as its unmanagedBase.

Run on its own with `python3 perfbench/build.py` from the checkout root.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = "2.13.17"

# Spark 4 on JDK 17 needs these outside spark-submit (build.sbt's list).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt declares no unmanagedBase")
        jars_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir}")
    return jars_dir, jars


def sources():
    main_dir = os.path.join(ROOT, "src", "main", "scala")
    main = sorted(glob.glob(os.path.join(main_dir, "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError(f"no program sources under {main_dir}")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    tests = sorted(glob.glob(os.path.join(HERE, "tests", "*.scala")))
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_dir, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return main + bench + tests, res_dir, res


def stamp(files, jars_dir):
    h = hashlib.sha256()
    h.update(SCALA.encode())
    h.update(os.path.realpath(jars_dir).encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return the classes directory."""
    jars_dir, jars = spark_jars()
    srcs, res_dir, res = sources()
    want = stamp(srcs + res, jars_dir)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == want:
        return classes
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars_dir, f"scala-{n}-{SCALA}.jar")
                for n in ("compiler", "library", "reflect")]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return classes


def java_cmd(classes, main, args, heap="3g"):
    jars_dir, jars = spark_jars()
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap and young generation: the pages the JVM touches (its
    # VmHWM) then follow the old generation's live data, not the GC's
    # adaptive sizing, which moved peak RSS by up to 20% between runs
    return (["java"] + opens +
            [f"-Xms{heap}", f"-Xmx{heap}", "-Xmn512m", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false",
             "-cp", os.pathsep.join([classes] + jars), main] + list(args))


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
