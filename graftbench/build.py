"""Build file of the benchmark: compiles the library (`src/main/scala` of
the checkout) and the benchmark's own Scala program (`scala/`) with the
Scala compiler that ships in Spark's jar directory, into
`.bench_build/graftbench/`. A build is skipped when a stamp over every
source file's bytes matches the last build.

    python3 graftbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
def _sbt_setting(key, pattern):
    """A setting of the checkout's build.sbt, which the benchmark builds
    against exactly as the library's own build does."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(key + r'\s*:=\s*' + pattern, f.read())
    except OSError:
        m = None
    if not m:
        raise FileNotFoundError("no %s in %s/build.sbt" % (key, ROOT))
    return m.group(1)


def spark_jars():
    return _sbt_setting("unmanagedBase", r'file\("([^"]+)"\)')


def scala_version():
    return _sbt_setting("scalaVersion", r'"([^"]+)"')


def classpath():
    """Runtime classpath: library, benchmark, Spark's jars."""
    return ":".join([os.path.join(OUT, "lib"), os.path.join(OUT, "bench"),
                     os.path.join(spark_jars(), "*")])


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256(scala_version().encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(files, out, extra_cp):
    jars = spark_jars()
    compiler = ":".join(os.path.join(jars, "scala-%s-%s.jar" % (p, scala_version()))
                        for p in ("compiler", "library", "reflect"))
    os.makedirs(out, exist_ok=True)
    cp = ":".join([os.path.join(jars, "*")] + extra_cp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", out] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=900)


def ensure():
    """Compile whatever is out of date. Raises if the library sources are
    missing (a checkout without the program cannot be benchmarked)."""
    lib_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = _sources(os.path.join(HERE, "scala"))
    if not lib_src or not bench_src:
        raise FileNotFoundError("no Scala sources under %s/src/main/scala" % ROOT)
    for name, files, cp in (("lib", lib_src, []),
                            ("bench", bench_src, [os.path.join(OUT, "lib")])):
        out = os.path.join(OUT, name)
        stamp_file = out + ".stamp"
        stamp = _stamp(files) + ("" if name == "lib" else _read(OUT + "/lib.stamp"))
        if _read(stamp_file) == stamp:
            continue
        shutil.rmtree(out, ignore_errors=True)
        _scalac(files, out, cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)


def _read(path):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


if __name__ == "__main__":
    ensure()
