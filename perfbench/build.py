"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/scala) into .bench_build/classes, using the Scala
compiler from the jar directory the repo's build.sbt names as `unmanagedBase`
(or $SPARK_HOME/jars). A stamp of every source file skips the compile when
nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"


class BuildError(Exception):
    pass


def jar_dir() -> pathlib.Path:
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt has no unmanagedBase and SPARK_HOME is unset")


def sources() -> list:
    prog = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    return prog + sorted((BENCH / "scala").rglob("*.scala"))


def build() -> tuple:
    """Returns (classes dir, jar dir), compiling first if a source changed."""
    jars = jar_dir()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    stamp_file = CLASSES / "STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return CLASSES, jars
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scala compile failed:\n" + r.stdout[-4000:])
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
