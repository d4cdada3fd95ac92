"""Build file of the benchmark: compiles the program and the harness.

The program (src/main/scala + src/main/resources) and the harness
(perfbench/src + perfbench/resources) are compiled with the Scala compiler
that ships inside the Spark distribution, against the Spark jars, into one
jar each under `.bench_build/` of the checkout. Nothing is downloaded and
nothing outside the checkout is written. Outputs are keyed by a hash of
their sources, so a checkout builds once and later runs reuse the jars.

    python3 perfbench/build.py          # build (or reuse) and print the classpath
"""

import glob
import hashlib
import os
import re
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repo's own build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def _sources(d, ext):
    return sorted(glob.glob(os.path.join(d, "**", "*" + ext), recursive=True))


def _files(d):
    return sorted(p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scalac(jars, classpath, out, sources, resources):
    """Compile `sources` into the jar `out` and add the files under the
    directory `resources`."""
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-2\.13[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("Scala 2.13 compiler jars not found among Spark jars")
    tmp = out[:-len(".jar")] + ".tmp.jar"
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.pathsep.join(classpath), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    os.remove(argfile)
    if r.returncode != 0:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(tmp, "a") as z:
        for f in _files(resources):
            z.write(f, os.path.relpath(f, resources))
    os.replace(tmp, out)


def build():
    """Compile what is stale and return the run-time classpath entries."""
    prog_src = os.path.join(ROOT, "src", "main", "scala")
    prog_res = os.path.join(ROOT, "src", "main", "resources")
    bench_src = os.path.join(HERE, "src")
    bench_res = os.path.join(HERE, "resources")
    prog = _sources(prog_src, ".scala")
    bench = _sources(bench_src, ".scala")
    prog_all = prog + _files(prog_res)
    bench_all = bench + _files(bench_res)
    if not prog:
        raise BuildError("program sources not found under src/main/scala")
    if not bench:
        raise BuildError("harness sources not found under perfbench/src")
    jdir = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(jdir, "*.jar")))
    jar_key = "\n".join(os.path.basename(j) for j in jars)
    os.makedirs(BUILD_DIR, exist_ok=True)
    prog_out = os.path.join(BUILD_DIR, "program-%s.jar" % _digest(prog_all, jar_key))
    if not os.path.isfile(prog_out):
        _scalac(jars, jars, prog_out, prog, prog_res)
    bench_out = os.path.join(BUILD_DIR, "harness-%s.jar" % _digest(
        bench_all, os.path.basename(prog_out)))
    if not os.path.isfile(bench_out):
        _scalac(jars, jars + [prog_out], bench_out, bench, bench_res)
    # the harness comes first: its core-site.xml binds the store schemes
    # to its watching subclasses
    return [bench_out, prog_out] + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(str(e), file=sys.stderr)
        sys.exit(2)
