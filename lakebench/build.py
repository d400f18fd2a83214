"""Build file of the benchmark. From the repo root:

  python3 lakebench/build.py

1. compiles the program (src/main/scala, without the probe mains under
   graft/tools) together with the harness (lakebench/scala), with the
   Scala compiler that ships with Spark, into .bench_build/lakebench.jar;
2. records a class-data-sharing archive (.bench_build/lakebench.jsa) from
   a training run of one whole workload (lakebench.Train), so that every
   benchmark JVM starts with the classes of every stage already parsed.

Both steps are skipped when no source file changed since the last build."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Classpath entry of the Spark jars: $SPARK_HOME/jars, else the
    `unmanagedBase` the repo's build.sbt compiles against."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(os.path.dirname(HERE), "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                               open(sbt).read())
        jars = m.group(1) if m else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def java_cmd(jar, archive, tmp):
    """JVM command line shared by every benchmark JVM."""
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:CICompilerCount=2",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"] + JAVA_OPENS
    if archive:
        cmd.append(archive)
    return cmd + ["-cp", f"{jar}{os.pathsep}{spark_jars()}"]


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    tools = os.path.join(main, "graft", "tools") + os.sep
    prog = [p for p in glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
            if not p.startswith(tools)]
    if not prog:
        raise SystemExit(f"no program sources under {main}")
    bench = glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True)
    return sorted(prog) + sorted(bench)


def build(root):
    """Returns (jar, archive option), building first if needed."""
    srcs = sources(root)
    key = hashlib.sha256()
    for p in srcs:
        key.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            key.update(hashlib.sha256(f.read()).digest())
    key = key.hexdigest()
    out = os.path.join(root, ".bench_build")
    jar = os.path.join(out, "lakebench.jar")
    jsa = os.path.join(out, "lakebench.jsa")
    stamp = os.path.join(out, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return jar, f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else None
    os.makedirs(out, exist_ok=True)
    for p in (stamp, jar, jsa):
        if os.path.exists(p):
            os.remove(p)
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = spark_jars()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("benchmark build failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    train = os.path.join(out, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    r = subprocess.run(java_cmd(jar, f"-XX:ArchiveClassesAtExit={jsa}",
                                os.path.join(train, "tmp")) +
                       ["lakebench.Train", train, os.path.join(HERE, "corpus")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(train, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(jsa):
        sys.stderr.write(r.stdout[-2000:])
        sys.stderr.write("[lakebench] no class-data archive; JVMs start without it\n")
    with open(stamp, "w") as f:
        f.write(key)
    return jar, f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa) else None


if __name__ == "__main__":
    print(build(os.getcwd()))
