"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, without sbt, and packs each into a jar under
.bench_build/classes-<hash> (keyed on the sources, so an unchanged tree is
built once). Every benchmark JVM starts plain, with no class-data archive,
so JVM start and class loading count in the measured set-up time.

    python3 perfbench/build.py        # builds if needed, prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the first jars directory beside
    a spark-submit on PATH (a pip-installed wrapper has none)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = sorted((Path(home) / "jars").glob("*.jar"))
        if jars:
            return [str(j) for j in jars]
    raise SystemExit("perfbench: no Spark jars; set SPARK_HOME")


def java_cmd(target, work):
    """The benchmark JVM's command line up to the main class's arguments."""
    cp = [str(target / "bench.jar"), str(target / "engine.jar")] + spark_jars()
    return (["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(cp), "perfbench.Main"])


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()[:16]


def _scalac(files, dest, classpath, log):
    dest.mkdir(parents=True)
    argfile = dest.parent / (dest.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    compiler = [j for j in classpath
                if Path(j).name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = dest.parent / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(dest),
           "-classpath", os.pathsep.join(classpath), "@" + str(argfile)]
    if subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT).returncode != 0:
        raise SystemExit(f"perfbench: scalac failed for {dest.name}; see {log.name}")


def _jar(dirs, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for d in dirs:
            for f in sorted(d.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(d).as_posix())


def build():
    """Build if needed; return the build directory holding the jars."""
    engine_src = ROOT / "src" / "main" / "scala"
    resources = ROOT / "src" / "main" / "resources"
    bench_src = ROOT / "perfbench" / "src"
    if not engine_src.is_dir():
        raise SystemExit(f"perfbench: engine sources missing at {engine_src}")
    engine_files = sorted(engine_src.rglob("*.scala"))
    bench_files = sorted(bench_src.rglob("*.scala"))
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    target = OUT / ("classes-" + _digest(engine_files + res_files + bench_files + [Path(__file__).resolve()]))
    if (target / "ok").exists():
        return target
    jars = spark_jars()
    # only one build is kept: earlier trees are stale once sources change
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    classes = target / "classes"
    OUT.mkdir(exist_ok=True)
    with open(OUT / "build.log", "w") as log:
        _scalac(engine_files, classes / "engine", jars, log)
        _scalac(bench_files, classes / "bench", [str(classes / "engine")] + jars, log)
        _jar([classes / "engine"] + ([resources] if resources.is_dir() else []), target / "engine.jar")
        _jar([classes / "bench"], target / "bench.jar")
        shutil.rmtree(classes)
    (target / "ok").write_text("")
    return target


if __name__ == "__main__":
    print(build())
    sys.exit(0)
