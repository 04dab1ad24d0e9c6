"""Build file of the benchmark: compiles graft (src/main/scala) together with
the benchmark driver (perfbench/src) using the Scala compiler in Spark's jars
($SPARK_HOME/jars) into perfbench/.build/graftbench.jar, then runs both
workloads once on smoke-size inputs to record a class-data-sharing archive
(perfbench/.build/app.jsa) that every benchmark JVM maps at start. Rebuilds
only when a source file changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "graftbench.jar")
ARCHIVE = os.path.join(BUILD, "app.jsa")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(tmp, share):
    """The benchmark JVM: fixed heap, Spark's module opens, the driver jar
    before Spark's jars, and the class-data archive (`share` names the flag
    that dumps or maps it)."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", share]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"),
                  "graftbench.Bench"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("build: SPARK_HOME must name a Spark installation with a jars/ directory")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles and records the class-data archive unless both are current."""
    srcs, jars = sources(), spark_jars()
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    print(f"build: compiling {len(srcs)} Scala files", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-classpath", cp, "-d", classes, "@" + args_file],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("build: compilation failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in files:
                z.write(os.path.join(base, f), os.path.relpath(os.path.join(base, f), classes))
    shutil.rmtree(classes)
    record_archive()
    with open(stamp_file, "w") as f:
        f.write(stamp)


def record_archive():
    """One JVM runs every workload's set-up and a round on smoke-size
    inputs and dumps the classes it loaded into the archive."""
    import gen
    train = os.path.join(BUILD, "train")
    for w in gen.GENERATORS:
        gen.generate(w, 0, "smoke", os.path.join(train, "data", w))
    print("build: recording the class-data archive", file=sys.stderr)
    tmp = os.path.join(train, "tmp")
    os.makedirs(tmp)
    with open(os.path.join(BUILD, "archive.log"), "w") as log:
        r = subprocess.run(java_cmd(tmp, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + [
            "--workload", ",".join(gen.GENERATORS), "--in", os.path.join(train, "data"),
            "--out", os.path.join(train, "out"), "--work", os.path.join(train, "run"),
            "--seconds", "0", "--trace", "0", "--cores", "2"],
            stdout=log, stderr=subprocess.STDOUT)
    shutil.rmtree(train)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        sys.exit("build: recording the class-data archive failed "
                 f"(see {os.path.relpath(log.name, ROOT)})")


if __name__ == "__main__":
    build()
