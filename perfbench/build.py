"""Build file of the benchmark package.

Compiles the repository's Scala sources (src/main/scala), then the
benchmark's own (perfbench/src), with the Scala compiler that ships in the
Spark distribution's jars directory, the same jars build.sbt compiles
against. Classes go to .bench_build/ at the repository root; a stamp of the
source hashes skips a rebuild of what did not change.

    python3 perfbench/build.py     # prints the runtime classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the one beside the
    spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars") if home else ""
        if jars and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, dest, srcs):
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-cp", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed for %s:\n%s" % (dest, r.stdout[-4000:]))


def digest(parts, srcs):
    h = hashlib.sha256("\n".join(parts).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compiled(name, stamp, jars, classpath, srcs):
    """Compiles `srcs` into .bench_build/<name> unless its stamp matches."""
    dest = os.path.join(OUT, name)
    stamp_file = os.path.join(OUT, name + ".stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return dest
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    scalac(jars, classpath, dest, srcs)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return dest


def build():
    """Builds what changed; returns the runtime classpath."""
    main_srcs = sources(MAIN_SRC)
    bench_srcs = sources(BENCH_SRC)
    if not main_srcs:
        raise BuildError("no Scala sources under src/main/scala")
    if not bench_srcs:
        raise BuildError("no benchmark sources under perfbench/src")
    jars = spark_jars()
    all_jars = os.path.join(jars, "*")
    main_stamp = digest([jars], main_srcs)
    main_cls = compiled("main", main_stamp, jars, all_jars, main_srcs)
    bench_cls = compiled("bench", digest([main_stamp], bench_srcs), jars,
                         main_cls + os.pathsep + all_jars, bench_srcs)
    return os.pathsep.join([bench_cls, main_cls, all_jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
