"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own Scala sources, using the Scala compiler that ships among
Spark's jars, into .bench_build/classes of the checkout.

A content stamp over every source makes repeated runs skip the compile.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [str(pathlib.Path(d, "spark-submit").resolve().parent.parent)
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if pathlib.Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = pathlib.Path(home) / "jars"
        if (jars / f"scala-compiler-{SCALA}.jar").is_file():
            return jars
    raise BuildError(f"no Spark installation with scala-compiler-{SCALA}.jar: set SPARK_HOME")


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources not found: {program}")
    files = sorted(program.rglob("*.scala"))
    files += sorted((HERE / "scala").rglob("*.scala"))
    files += sorted((HERE / "tests").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def stamp(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, program resources, Spark."""
    return os.pathsep.join([str(CLASSES), str(ROOT / "src" / "main" / "resources"),
                            str(spark_jars() / "*")])


def build(log=sys.stderr):
    files = sources()
    jars = spark_jars()
    want = stamp(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    args = OUT / "scalac.args"
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    args.write_text("\n".join(["-classpath", cp, "-d", str(CLASSES), "-nowarn"]
                              + [str(f) for f in files]) + "\n")
    compiler = os.pathsep.join(str(jars / f"{j}-{SCALA}.jar")
                               for j in ("scala-compiler", "scala-library", "scala-reflect"))
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", compiler,
                        "scala.tools.nsc.Main", f"@{args}"],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    STAMP.write_text(want)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
