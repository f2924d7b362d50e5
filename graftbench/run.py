#!/usr/bin/env python3
"""Run one graft benchmark workload from the root of a source checkout.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(offline) and records a JVM class-data archive in .bench_build/; later
runs reuse both while the sources are unchanged. The last line of
standard output is the result JSON; the JVM's log goes to
.bench_build/logs/.
"""
import hashlib
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(os.getcwd(), ".bench_build")
CLASSPATH = os.path.join(OUT, "classpath.txt")
ARCHIVE = os.path.join(OUT, "graftbench.jsa")
STAMP = os.path.join(OUT, "stamp.txt")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when it is not started by spark-submit
# (the same list as the engine build's forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads: the engine build and sources, and the
    benchmark's own build and sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(classpath, extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opts = ["-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return [java] + opts + extra + ["-cp", classpath, "graftbench.Main"]


def spark_env():
    """The environment for the benchmark JVM: without the variables that
    would move Spark's shuffle and block files out of .bench_build."""
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}


def build():
    """Compile with sbt, export the runtime classpath as jars (a class-data
    archive cannot cover classes loaded from directories) and record the
    archive."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    # offline, no sbt server socket, temporary files under .bench_build
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
                                "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp")]).strip()
    log = os.path.join(OUT, "logs", "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspathAsJars"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh,
                           stdin=subprocess.DEVNULL, text=True, timeout=800)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die("build failed, see " + log, 1)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1].strip())
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    # one short run records the classes Spark and the engine load into a
    # class-data archive; every measured run then maps them instead of
    # loading them from ~300 jars, which takes seconds off each start
    with open(os.path.join(OUT, "logs", "archive.log"), "w") as fh:
        subprocess.run(java_cmd(lines[-1].strip(), ["-Xlog:disable", "-XX:ArchiveClassesAtExit=" + ARCHIVE])
                       + ["--workload", "query_code", "--seed", "1", "--seconds", "0", "--trace", "0",
                          "--work", os.path.join(OUT, "work")],
                       env=spark_env(), stdout=fh, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=600)


def main():
    args = sys.argv[1:]
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the engine sources (build.sbt, src/main/scala/graft) are not next to " + BENCH)
    for d in ("logs", "tmp", "work"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    current = stamp()
    built = open(STAMP).read().strip() if os.path.exists(STAMP) else ""
    if built != current or not os.path.exists(CLASSPATH):
        build()
        with open(STAMP, "w") as fh:
            fh.write(current)
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    extra = ["-Xlog:disable"] + (["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else [])
    name = "run"
    if "--workload" in args and args.index("--workload") + 1 < len(args):
        name = args[args.index("--workload") + 1]
    log = os.path.join(OUT, "logs", name + ".log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(java_cmd(classpath, extra) + args + ["--work", os.path.join(OUT, "work")],
                               stdout=subprocess.PIPE, stderr=fh, stdin=subprocess.DEVNULL,
                               env=spark_env(), text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("run exceeded %d s, see %s" % (RUN_TIMEOUT_S, log), 1)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die("run failed with exit code %d, see %s" % (r.returncode, log), 1)
    # only the benchmark's JSON lines go to standard output
    lines = r.stdout.splitlines()
    with open(log, "a") as fh:
        fh.writelines(l + "\n" for l in lines if not l.startswith("{"))
    print("\n".join(l for l in lines if l.startswith("{")))


if __name__ == "__main__":
    main()
