"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own Scala sources into one jar under
`.bench_build/`, using the Scala compiler that ships in the Spark
distribution's `jars/` directory (no sbt, no dependency resolution).

It then records a class-data-sharing archive of the classes one short
benchmark run loads, which takes several seconds off every JVM start;
when the JVM cannot write one, runs go on without it.

A build is keyed by a hash of every source and resource file, so an
unchanged tree is built once. Run directly to build:

    python3 perfbench/build.py
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
BUILD = ROOT / ".bench_build"
GRAFT_SRC = ROOT / "src" / "main" / "scala"
GRAFT_RES = ROOT / "src" / "main" / "resources"
OWN_SRC = HERE / "src"

# Spark on JDK 17 outside spark-submit needs these (as build.sbt's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


class BuildError(Exception):
    pass


class Build:
    def __init__(self, out: Path, jars: Path):
        self.jar = out / "perfbench.jar"
        self.archive = out / "classes.jsa"
        # explicit and sorted: a class-data archive pins the exact class path
        self.classpath = [str(self.jar)] + [str(j) for j in sorted(jars.glob("*.jar"))]

    def java(self, main: str, args: list, archive: str = "use") -> list:
        cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={ROOT / '.bench_work' / 'tmp'}"]
        if archive == "record":
            cmd.append(f"-XX:ArchiveClassesAtExit={self.archive}")
        elif self.archive.is_file():
            cmd.append(f"-XX:SharedArchiveFile={self.archive}")
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        return cmd + ["-cp", ":".join(self.classpath), main] + args


def spark_jars() -> Path:
    """The Spark distribution's jars: $SPARK_HOME, else next to a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for base in homes:
        if base and (Path(base) / "jars").is_dir():
            return Path(base) / "jars"
    raise BuildError("no Spark distribution found: set SPARK_HOME")


def _files(base: Path, pattern: str) -> list:
    return sorted(p for p in base.rglob(pattern) if p.is_file()) if base.is_dir() else []


def _digest(paths: list, base: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(base)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def _compile(graft: list, own: list, resources: list, jars: Path, out: Path) -> None:
    classes = out / "classes"
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in graft + own) + "\n")
    classpath = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(classes), f"@{argfile}"]
    print(f"perfbench: compiling {len(graft)} graft and {len(own)} benchmark sources",
          file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    for r in resources:
        dst = classes / r.relative_to(GRAFT_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    with zipfile.ZipFile(out / "perfbench.jar", "w", zipfile.ZIP_STORED) as z:
        for f in _files(classes, "*"):
            z.write(f, str(f.relative_to(classes)))
    shutil.rmtree(classes)
    argfile.unlink()


def _record_archive(b: Build) -> None:
    """One short run with the JVM writing the classes it loaded."""
    work = BUILD / "archive-run"
    shutil.rmtree(work, ignore_errors=True)
    (ROOT / ".bench_work" / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = b.java("perfbench.Main", ["--workload", "encode_roundtrip", "--seed", "0",
                                    "--seconds", "1", "--trace", "0", "--work", str(work)],
                   archive="record")
    print("perfbench: recording the class-data archive", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if done.returncode != 0:
        b.archive.unlink(missing_ok=True)


def build() -> Build:
    graft = _files(GRAFT_SRC, "*.scala")
    if not graft:
        raise BuildError(f"no graft sources under {GRAFT_SRC.relative_to(ROOT)}")
    own = _files(OWN_SRC, "*.scala")
    resources = _files(GRAFT_RES, "*")
    jars = spark_jars()
    out = BUILD / f"build-{_digest(graft + own + resources, ROOT)[:16]}"
    if (out / "BUILT").is_file():
        return Build(out, jars)

    for old in BUILD.glob("build-*"):
        shutil.rmtree(old, ignore_errors=True)
    try:
        _compile(graft, own, resources, jars, out)
        b = Build(out, jars)
        _record_archive(b)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    (out / "BUILT").write_text("")
    return b


if __name__ == "__main__":
    try:
        print(build().jar)
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
