"""Build for the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's JVM code
(perfbench/scala) with the Scala compiler and Spark jars the program
builds against. The output is cached under .bench_build/ by a hash of
every source file, so only a changed checkout recompiles.

    python3 perfbench/build.py        # compile (or reuse) and print the jar
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

PROGRAM_MARKER = os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")


def _spark_home():
    """$SPARK_HOME, else the Spark install whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def spark_jars():
    return os.path.join(_spark_home(), "jars")


# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the list the program's own build passes).
JVM_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "scala", "*.scala")))
    return prog + bench


def classpath(jar):
    return jar + os.pathsep + os.path.join(spark_jars(), "*")


def compile_all(root, work):
    """Compiles into .bench_build/build-<hash>/perfbench.jar, once per
    distinct source tree, and returns the jar's path. Classes go into a
    jar because the JVM archives classes only from jars (see `java`)."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.abspath(os.path.join(work, "build-" + h.hexdigest()[:16]))
    jar = os.path.join(out, "perfbench.jar")
    if os.path.exists(jar):
        return jar
    for old in glob.glob(os.path.join(work, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    # the Scala compiler that ships beside the Spark jars, so the
    # benchmark compiles with the very library version it runs against
    compiler = os.pathsep.join(glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar"))[0]
                               for m in ("compiler", "library", "reflect"))
    args = os.path.join(out, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        raise SystemExit("perfbench: compile failed")
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, jar)
    shutil.rmtree(classes)
    return jar


def build_id(jar):
    """Names the compiled source tree (the hash in its directory name)."""
    return os.path.basename(os.path.dirname(jar))


def java(jar, workdir):
    """The command line that runs the benchmark JVM on the built jar.
    The first run of a build archives the classes it loaded when it
    exits, and later runs map that archive instead of loading them
    again: about 4 s less per run, which keeps the ~70 runs of a
    comparison within their hour. Only class loading changes."""
    jsa = os.path.join(os.path.dirname(jar), "classes.jsa")
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    return (["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", cds] + JVM_OPENS +
            [f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
             "-cp", classpath(jar), "perfbench.Main"])


if __name__ == "__main__":
    root = os.getcwd()
    print(compile_all(root, os.path.join(root, ".bench_build")))
