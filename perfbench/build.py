"""Build file of the benchmark: compiles the library sources together with
the harness in `perfbench/src` into `.bench_build/classes`.

The compiler and Spark come from the Spark distribution the library builds
against (its `jars/` directory holds scala-compiler too), located from
`SPARK_HOME`, else from `unmanagedBase` in the repository's build.sbt. A
build is skipped when the sources are unchanged since the last one.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if list(c.glob("scala-compiler-*.jar")) and list(c.glob("spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution with scala-compiler found")


def sources():
    lib = sorted((ROOT / "src" / "main").rglob("*.scala"))
    if not lib:
        raise BuildError("no library sources under src/main")
    return lib + sorted((ROOT / "perfbench" / "src").glob("*.scala"))


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    key = h.hexdigest()
    classpath = f"{CLASSES}{os.pathsep}{jars}/*"
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == key:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    STAMP.unlink(missing_ok=True)
    compiler = os.pathsep.join(str(next(jars.glob(f"scala-{p}-*.jar")))
                               for p in ("compiler", "library", "reflect"))
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(CLASSES), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    STAMP.write_text(key)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
