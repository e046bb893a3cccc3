"""Builds the engine and the benchmark from source into `.bench_build/`.

The engine's Scala sources (`src/main/scala`) and the benchmark's own
(`perfbench/src`) compile together with the Scala compiler that ships
with Spark, against Spark's jars. The output directory is keyed by a hash
of every source file, so an unchanged checkout compiles once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark installation (SPARK_HOME, or the one
    whose spark-submit is on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if not bench:
        raise BuildError(f"no benchmark sources under {os.path.relpath(BENCH_SRC, ROOT)}")
    return engine + bench


def heap_gib():
    """A quarter of the machine's memory, between 2 and 4 GiB: the live
    data of a run stays under 1 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(4, max(2, kib // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def bench_cmd(built, work, args, cds="use"):
    """The benchmark JVM's command line. `cds` is "use" to map the class
    archive made at build time, or "dump" to write it at exit."""
    jar, jsa = built
    cds_opt = ([f"-XX:ArchiveClassesAtExit={jsa}"] if cds == "dump" else
               [f"-XX:SharedArchiveFile={jsa}"] if os.path.isfile(jsa) else [])
    # a fixed heap and metaspace: no full collection merely to grow them
    return (["java", f"-Xms{heap_gib()}g", f"-Xmx{heap_gib()}g", "-XX:MetaspaceSize=256m",
             "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + cds_opt
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"),
               "graft.perfbench.Bench", "--work", work] + args)


def build(log):
    """Compile if needed. Returns (jar, class archive); the archive, made
    by a tiny training run, cuts the class loading of every later run."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILT")):
        return os.path.join(out, "bench.jar"), os.path.join(out, "classes.jsa")
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-d", classes, "-classpath", cp, "@" + argfile]
    done = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=800)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed; see the log in .bench_build/perfbench")
    jar = os.path.join(tmp, "bench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for name in sorted(files):
                z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    # the jar and archive paths are final before the training run: the
    # archive records the class path it was made with
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    built = (os.path.join(out, "bench.jar"), os.path.join(out, "classes.jsa"))
    train = os.path.join(out, "train")
    os.makedirs(os.path.join(train, "tmp"))
    args = ["--workload", "read", "--seed", "0", "--seconds", "1", "--trace", "0",
            "--tiny", "1", "--out", os.path.join(train, "result.json")]
    try:
        trained = subprocess.run(bench_cmd(built, train, args, cds="dump"), stdout=log,
                                 stderr=subprocess.STDOUT, cwd=train, timeout=600).returncode == 0
    except subprocess.TimeoutExpired:
        trained = False
    if not trained and os.path.exists(built[1]):
        os.remove(built[1])  # runs then load classes the ordinary way
    shutil.rmtree(train, ignore_errors=True)
    open(os.path.join(out, "BUILT"), "w").close()
    return built
