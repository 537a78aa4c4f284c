"""Build file of the benchmark: compiles the engine and the benchmark.

The engine sources (`src/main/scala` of the checkout) and the benchmark
sources (`perfbench/src`) compile together, with the Scala compiler
that ships in Spark's own jar directory (`$SPARK_HOME/jars`), into one
jar under `.bench_build/perfbench`. A short training run then records
a class-data-sharing archive of every class a run loads, which cuts
each later run's JVM and Spark start-up by a few seconds. No
dependency is resolved and nothing outside the checkout is written.
The result is reused until a source or resource file changes.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
JAR = OUT / "bench.jar"
ARCHIVE = OUT / "bench.jsa"
CORES = min(4, os.cpu_count() or 1)
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must name a Spark 4 installation (its jars/ holds Spark and scalac)")
    return Path(home) / "jars"


def java(work: Path, share: list, args) -> list:
    """Command line of a benchmark JVM working under `work`; `share`
    holds its class-data-sharing flags."""
    return ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", *share, *ADD_OPENS,
            f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", f"{JAR}{os.pathsep}{spark_jars() / '*'}",
            "graftbench.Main", "--cores", str(CORES), "--work", str(work), *args]


def share_flags() -> list:
    return [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() else []


def _files(base: Path, pattern: str):
    return sorted(p for p in base.rglob(pattern) if p.is_file()) if base.is_dir() else []


def inputs():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError("engine sources src/main/scala not found: run from a checkout of the repository")
    sources = _files(engine, "*.scala") + _files(HERE / "src", "*.scala")
    resources = [(ROOT / "src" / "main" / "resources", p) for p in _files(ROOT / "src" / "main" / "resources", "*")]
    resources += [(HERE / "resources", p) for p in _files(HERE / "resources", "*")]
    return sources, resources


def build(log=sys.stderr) -> None:
    """Compiles, packs and trains, unless the inputs are unchanged."""
    jars = spark_jars()
    sources, resources = inputs()
    h = hashlib.sha256()
    for p in sources + [p for _, p in resources]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    digest = h.hexdigest()
    stamp = OUT / "stamp"
    if JAR.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return
    print(f"perfbench: compiling {len(sources)} sources", file=log, flush=True)
    shutil.rmtree(OUT, ignore_errors=True)
    classes = OUT / "classes"
    classes.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cp = str(jars / "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"], stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    for base, p in resources:
        dst = classes / p.relative_to(base)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    # training run for the class-data-sharing archive; without the
    # archive, runs only start slower
    work = OUT / "train"
    (work / "tmp").mkdir(parents=True)
    print("perfbench: recording the class-data-sharing archive", file=log, flush=True)
    try:
        subprocess.run(java(work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=off"], [
            "--workload", "medallion_refresh", "--seed", "0", "--seconds", "1", "--trace", "0",
            "--out", str(work / "record.json")]), stdout=log, stderr=log, timeout=300)
    except subprocess.TimeoutExpired:
        ARCHIVE.unlink(missing_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    stamp.write_text(digest)


if __name__ == "__main__":
    try:
        build()
        print(JAR)
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
