"""Build file of the benchmark: compiles the library's sources together with
the benchmark's own (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in the Spark distribution. A build is reused while the
sources and the compiler are unchanged.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIBRARY_SOURCES = ROOT / "src" / "main" / "scala"
BENCH_SOURCES = HERE / "src"
OUT = ROOT / ".bench_build"


def spark_home():
    """SPARK_HOME, else the installation that spark-submit on PATH belongs to."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit is None:
        raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
    return Path(submit).resolve().parent.parent


def classpath(classes):
    return os.pathsep.join([str(classes), str(spark_home() / "jars" / "*")])


def sources():
    files = sorted(glob.glob(str(LIBRARY_SOURCES / "**" / "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no library sources under {LIBRARY_SOURCES}")
    return files + sorted(glob.glob(str(BENCH_SOURCES / "**" / "*.scala"), recursive=True))


def build():
    """Compile if needed and return the classes directory."""
    files = sources()
    jars = sorted(glob.glob(str(spark_home() / "jars" / "scala-compiler-*.jar")))
    if not jars:
        raise SystemExit(f"build: no Scala compiler in {spark_home() / 'jars'}")
    digest = hashlib.sha256(jars[-1].encode())
    for f in files:
        digest.update(f.encode())
        digest.update(Path(f).read_bytes())
    classes = OUT / ("classes-" + digest.hexdigest()[:16])
    if (classes / "BUILT").exists():
        return classes
    OUT.mkdir(exist_ok=True)
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    classes.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(files) + "\n")
    print(f"build: compiling {len(files)} files", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", str(spark_home() / "jars" / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", str(spark_home() / "jars" / "*"), "@" + str(argfile)]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit("build: compilation failed")
    (classes / "BUILT").write_text("ok\n")
    return classes


if __name__ == "__main__":
    print(build())
