"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM harness (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution, against the Spark jars the engine's own
build uses. The build is skipped when the sources and JDK are unchanged.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(BENCH, ".work")
SCALA = "2.13.17"
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    """The Spark distribution's jars: those under $SPARK_HOME, else those
    bundled with the pyspark package, whichever has this Scala version."""
    homes = [os.environ.get("SPARK_HOME")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.exists(os.path.join(jars, f"scala-library-{SCALA}.jar")):
            return jars
    raise SystemExit(f"perfbench: no Spark distribution with Scala {SCALA} "
                     "(set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {ENGINE_SRC}")
    return engine + sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"),
                                     recursive=True))


def java_version():
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                         capture_output=True, text=True)
    return out.stderr.strip().splitlines()[0]


def source_digest(files):
    h = hashlib.sha256(java_version().encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Return (classes dir, source digest), compiling if needed."""
    files = sources()
    digest = source_digest(files)
    out = os.path.join(WORK, "classes")
    stamp = os.path.join(WORK, "classes.stamp")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return out, digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = ":".join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                        for p in ("compiler", "library", "reflect"))
    args_file = os.path.join(WORK, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
         "scala.tools.nsc.Main", "-nowarn",
         "-classpath", os.path.join(jars, "*"), "-d", tmp,
         "@" + args_file],
        stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: build failed (scalac exit {proc.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out, digest


if __name__ == "__main__":
    os.makedirs(WORK, exist_ok=True)
    print(build()[0])
