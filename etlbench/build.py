"""Build file of the benchmark: compiles the graft engine (src/main/scala) and
the benchmark driver (etlbench/src) with the Scala compiler that ships in the
Spark distribution's jars, the same jars the engine's own build compiles
against; packs both as jars; and records a class-data-sharing archive of the
classes a Spark session loads, so each benchmark JVM starts without parsing
them again.

Usage, from the root of a checkout:  python3 etlbench/build.py

Outputs go under .bench_build/etlbench/. Each step is skipped when a digest of
its inputs matches the stamp of its last successful run.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent

# The engine's own run options (build.sbt javaOptions) except the heap, which
# is fixed (-Xms = -Xmx) so heap_live_mb compares across runs.
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def out_dir():
    return ROOT / ".bench_build" / "etlbench"


def spark_jars():
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(str(Path(submit).resolve().parent.parent))
    for home in homes:
        if home and any((Path(home) / "jars").glob("scala-compiler-*.jar")):
            return Path(home) / "jars"
    sys.exit("build: no Spark distribution with a Scala compiler found "
             "(set SPARK_HOME)")


def java(work, heap, classpath, archive=None, dump=None):
    """The benchmark JVM's command line up to the main class. Everything it
    writes goes under `work`."""
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:G1HeapRegionSize=32m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work / 'local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    cmd += [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    if dump:
        cmd += [f"-XX:ArchiveClassesAtExit={dump}", "-Xlog:cds=error"]
    return cmd + ["-cp", os.pathsep.join(classpath)]


def java_env(work):
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    env.pop("SPARK_GRAFT_SHUFFLE", None)
    return env


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT) if f.is_relative_to(ROOT) else f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


BUILT = []


def step(name, inputs, make):
    """Runs make(tmp) to produce <out>/<name> unless the stamp of `inputs`
    (a digest) is current, and records the name in BUILT. Returns the output
    path."""
    dst = out_dir() / name
    stamp = out_dir() / (name + ".stamp")
    if dst.exists() and stamp.is_file() and stamp.read_text() == inputs:
        return dst
    tmp = out_dir() / (name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.unlink(missing_ok=True)
    out_dir().mkdir(parents=True, exist_ok=True)
    make(tmp)
    BUILT.append(name)
    if dst.is_dir():
        shutil.rmtree(dst)
    dst.unlink(missing_ok=True)
    tmp.rename(dst)
    stamp.write_text(inputs)
    return dst


def scalac(srcs, classpath):
    def make(tmp):
        tmp.mkdir(parents=True)
        argfile = out_dir() / "scalac.args"
        argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
        print(f"build: compiling {len(srcs)} files", file=sys.stderr)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
               "-nowarn", "-release", "17", "-d", str(tmp),
               "-classpath", os.pathsep.join(classpath), "@" + str(argfile)]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            sys.exit("build: compiling failed")
    return make


def jar(classes):
    def make(tmp):
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
            for f in sorted(p for p in classes.rglob("*") if p.is_file()):
                z.write(f, f.relative_to(classes).as_posix())
    return make


def build(heap="3g"):
    """Returns (runtime classpath, class-data-sharing archive)."""
    engine_files = sources(ROOT / "src" / "main" / "scala")
    if not engine_files:
        sys.exit("build: no engine sources under src/main/scala — run from "
                 "the root of a graft checkout")
    jars = str(spark_jars() / "*")
    engine_d = digest(engine_files)
    engine = step("engine", engine_d, scalac(engine_files, [jars]))
    bench_d = digest(sources(BENCH / "src"), engine_d)
    bench = step("bench", bench_d, scalac(sources(BENCH / "src"), [str(engine), jars]))
    classpath = [str(step("engine.jar", engine_d, jar(engine))),
                 str(step("bench.jar", bench_d, jar(bench))), jars]

    def train(tmp):
        work = out_dir() / "work" / "train"
        shutil.rmtree(work, ignore_errors=True)
        print("build: recording the class-data-sharing archive", file=sys.stderr)
        cmd = java(work, heap, classpath, dump=tmp) + ["graftbench.Train", str(work / "t")]
        ok = subprocess.run(cmd, env=java_env(work), stdout=sys.stderr).returncode == 0
        shutil.rmtree(work, ignore_errors=True)
        if not ok or not tmp.is_file():
            sys.exit("build: recording the class-data-sharing archive failed")
    archive = step("app.jsa", digest([], bench_d + heap), train)
    return classpath, archive


if __name__ == "__main__":
    print(os.pathsep.join(build()[0]))
