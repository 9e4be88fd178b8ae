#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's main sources (``src/main/scala``) and the benchmark
harness (``perfbench/src``) with the Scala compiler that ships in the Spark
distribution into ``engine.jar`` and ``harness.jar``, then records a
class-data-sharing archive of the classes one smoke run of
``tenant_fresh`` loads. Every benchmark JVM maps that archive
(``-Xshare:on``) instead of loading and verifying the Spark classes again;
a failed recording fails the build, and a JVM that cannot map the archive
fails its run, so no run silently starts the slow way. Everything lands in
``<build dir>/classes``; the build dir is ``$CARGO_TARGET_DIR`` when set,
else ``.bench_build`` at the checkout root. Stamps of the inputs skip each
step when nothing changed, so only the first run in a checkout pays for it.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = BENCH_DIR / "src"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


# The heap starts small and grows as the collector sizes it, so the peak
# resident set follows the memory the program's work makes the JVM use; the
# cap only guards against a runaway run.
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms256m", "-Xmx1536m"]


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def classes_dir() -> Path:
    return build_dir() / "classes"


def spark_jars() -> Path:
    """The Spark distribution's jar dir: $SPARK_HOME, else spark-submit's."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark distribution with a Scala compiler "
                 "found (set SPARK_HOME)")
    return jars


def java_bin() -> str:
    home = os.environ.get("JAVA_HOME")
    java = Path(home) / "bin" / "java" if home else None
    if java is not None and java.exists():
        return str(java)
    found = shutil.which("java")
    if not found:
        sys.exit("perfbench: no java on PATH (set JAVA_HOME)")
    return found


def java_command(work: Path, record_to: str = "") -> list:
    """The benchmark JVM: scratch files under `work`, none outside the
    checkout (no perf-data file). It maps the class archive, or records it
    at exit to `record_to` when given."""
    c = classes_dir()
    cp = os.pathsep.join([str(c / "harness.jar"), str(c / "engine.jar"),
                          str(spark_jars() / "*")])
    share = ([f"-XX:ArchiveClassesAtExit={record_to}"] if record_to else
             ["-Xshare:on", f"-XX:SharedArchiveFile={c / 'classes.jsa'}"])
    return [java_bin(), *JVM_MEMORY, "-Xss8m", "-XX:-UsePerfData", *share,
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            *[f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS],
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'tmp'}",
            "-cp", cp, "graft.perfbench.Main",
            "--data", str(BENCH_DIR / "data"),
            "--expected", str(BENCH_DIR / "expected.json")]


def sources(root: Path) -> list:
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jar: Path, classpath: str, files: list) -> None:
    out = jar.with_suffix("")
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath,
           *map(str, files)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"perfbench: compile failed ({jar.name})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(out.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(out).as_posix())
    shutil.rmtree(out)


def record_archive(archive: Path) -> None:
    """Records the class archive from one smoke run; exits on failure."""
    work = build_dir() / "runs" / f"cds-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    archive.unlink(missing_ok=True)
    cmd = java_command(work, str(archive)) + [
        "--workload", "tenant_fresh", "--smoke", "--seed", "1",
        "--seconds", "1", "--trace", "0"]
    try:
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL,
                           stderr=subprocess.PIPE, text=True, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not archive.is_file():
        sys.stderr.write(r.stderr[-8000:])
        sys.exit(f"perfbench: recording the class archive failed (exit {r.returncode})")


def build() -> Path:
    """Compile and record the class archive if needed; return the classes
    dir."""
    if not ENGINE_SRC.is_dir():
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    engine, harness = sources(ENGINE_SRC), sources(HARNESS_SRC)
    if not engine or not harness:
        sys.exit("perfbench: no Scala sources to build")
    c = classes_dir()
    c.mkdir(parents=True, exist_ok=True)
    jars = str(spark_jars() / "*")
    # each step's stamp covers its inputs and every earlier step's
    steps = (
        ("engine", engine, lambda: scalac(c / "engine.jar", jars, engine)),
        ("harness", engine + harness, lambda: scalac(
            c / "harness.jar", f"{c / 'engine.jar'}{os.pathsep}{jars}", harness)),
        ("archive", engine + harness + [Path(__file__).resolve()],
         lambda: record_archive(c / "classes.jsa")),
    )
    for name, files, make in steps:
        stamp_file = c / f"{name}.stamp"
        want = stamp(files)
        if stamp_file.exists() and stamp_file.read_text() == want:
            continue
        stamp_file.unlink(missing_ok=True)
        make()
        stamp_file.write_text(want)
    return c


if __name__ == "__main__":
    print(build())
