"""Build file of the benchmark: compiles the program's sources (src/main/scala)
together with the benchmark's own (perfbench/src/main/scala) with the Scala
compiler that ships in Spark's jars directory, and the benchmark's self-test
(perfbench/src/test/scala) on top of them. Output goes to
.bench_build/perfbench/ under the repository root. A stamp of the source
contents skips the compile when nothing changed.

    python3 perfbench/build.py          # build, print the class path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of Spark's jars: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources(*dirs):
    files = []
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_into(dest, files, classpath):
    stamp_file = dest + ".stamp"
    want = stamp(files)
    for dep in classpath:  # recompile when a class directory it uses changed
        with open(dep + ".stamp") as fh:
            want += fh.read()
    if os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", os.pathsep.join(classpath + [jars])]
    print(f"[perfbench] compiling {len(files)} sources into "
          f"{os.path.relpath(dest, ROOT)}", file=sys.stderr, flush=True)
    if subprocess.run(cmd + files, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise BuildError("scalac failed")
    with open(stamp_file, "w") as fh:
        fh.write(want)


# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java(classpath, main, args):
    """The JVM command line of one run."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a 2 GB starting heap: the collector does not shrink the heap at each
    # round's System.gc() and regrow it in the round's first operation
    cmd = ["java", "-Xms2g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath), main] + args


def build(tests=False):
    """Compiles what is out of date; returns the run class path."""
    main = os.path.join(OUT, "classes")
    compile_into(main, sources(os.path.join(ROOT, "src", "main", "scala"),
                               os.path.join(HERE, "src", "main", "scala")), [])
    cp = [main]
    if tests:
        test = os.path.join(OUT, "test-classes")
        compile_into(test, sources(os.path.join(HERE, "src", "test", "scala")), [main])
        cp.append(test)
    return cp + [os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(tests="--tests" in sys.argv)))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
