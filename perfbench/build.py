"""Build file of the store benchmark.

Compiles the library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one jar under
.bench_build/perfbench/, using the Scala compiler that ships in Spark's
jar directory ($SPARK_HOME/jars, or the one next to `spark-submit` on
PATH). It then makes a class-data-sharing archive from one training run
of every workload (perfbench.Train), which cuts JVM and Spark start-up
in every later run. A build is keyed by a hash of every input file, so
an unchanged checkout reuses it.

    python3 perfbench/build.py        # prints the build directory
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
LIB_SOURCES = ROOT / "src" / "main" / "scala"
LIB_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SOURCES = BENCH_DIR / "src"
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm_options() -> list:
    """Options every benchmark JVM runs with (Spark on JDK 17 needs the
    module opens that spark-submit would otherwise add)."""
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # JVM log output (class-data sharing notes among it) goes to stderr:
    # stdout carries the report only; no perf-data file in the system temp
    return opts + ["-Xlog:disable", "-Xlog:all=warning:stderr", "-XX:-UsePerfData",
                   "-Xmx3g", "-Xss8m",
                   f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}"]


class Build:
    def __init__(self, directory: Path, jars: Path):
        self.dir = directory
        self.jar = directory / "perfbench.jar"
        self.archive = directory / "classes.jsa"
        self.classpath = f"{self.jar}{os.pathsep}{jars}/*"

    def java(self, main: str, args: list, tmp: Path) -> list:
        """The java command line that runs `main` from this build."""
        share = [f"-XX:SharedArchiveFile={self.archive}"] if self.archive.exists() else []
        return (["java"] + share + jvm_options() + [f"-Djava.io.tmpdir={tmp}",
                "-cp", self.classpath, main] + args)


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home) / "jars"] if home else []
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources() -> list:
    if not LIB_SOURCES.is_dir():
        raise BuildError(f"library sources not found at {LIB_SOURCES}")
    files = sorted(LIB_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    inputs = files + sorted(p for p in LIB_RESOURCES.rglob("*") if p.is_file()) + [Path(__file__)]
    for f in inputs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build() -> Build:
    """Compile and train if needed; return the build."""
    files = sources()
    jars = spark_jars()
    out = Build(BUILD_DIR / f"build-{stamp(files)}", jars)
    if (out.dir / ".complete").exists():
        return out
    if BUILD_DIR.exists():
        shutil.rmtree(BUILD_DIR)
    classes = BUILD_DIR / "classes"
    classes.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=600)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    out.dir.mkdir()
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(out.jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, LIB_RESOURCES):
            for f in sorted(p for p in base.rglob("*") if p.is_file()):
                z.write(f, f.relative_to(base).as_posix())
    shutil.rmtree(classes)
    train = BUILD_DIR / "train"
    (train / "tmp").mkdir(parents=True)
    cmd = out.java("perfbench.Train", [str(train)], train / "tmp")
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={out.archive}")
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=240)
        trained = proc.returncode == 0
    except subprocess.TimeoutExpired:
        trained = False
    shutil.rmtree(train, ignore_errors=True)
    if not trained:
        # runs still work without the archive, only slower to start
        out.archive.unlink(missing_ok=True)
        print("perfbench: training run failed; building without a "
              "class-data-sharing archive", file=sys.stderr)
    (out.dir / ".complete").touch()
    return out


if __name__ == "__main__":
    try:
        print(build().dir)
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
