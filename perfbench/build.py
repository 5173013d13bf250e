"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala` at the checkout root) and the
benchmark harness (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/` at the checkout root. Each part is
rebuilt only when a source file changed (content fingerprint).

    python3 perfbench/build.py          # build, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def _sources(root):
    files = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {os.path.relpath(root, ROOT)}")
    return files


def _fingerprint(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, files, classpath, log):
    dest = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".stamp")
    fp = _fingerprint(files, ":".join(classpath))
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = os.path.join(OUT, name + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", dest, "-classpath",
                            os.pathsep.join(classpath)] + files))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}",
           "-Dscala.usejavacp=true", "-cp", os.pathsep.join(spark_jars()),
           "scala.tools.nsc.Main", "@" + argfile]
    with open(os.path.join(OUT, name + ".log"), "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
    if rc != 0:
        raise BuildError(f"compiling {name} failed; see .bench_build/{name}.log")
    with open(stamp, "w") as fh:
        fh.write(fp)
    print(f"built {name} ({len(files)} files)", file=log)
    return dest


def build(log=sys.stderr):
    """Compile engine + harness if needed; return the runtime classpath."""
    engine_files = _sources(ENGINE_SRC)
    bench_files = _sources(BENCH_SRC)
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    engine = _compile("engine-classes", engine_files, jars, log)
    bench = _compile("bench-classes", bench_files, [engine] + jars, log)
    return [bench, engine] + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
