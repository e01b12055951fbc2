"""Build file of the benchmark: compiles the program and the harness.

The program (``src/main/scala``) and the harness (``perfbench/src``) are
compiled with the Scala compiler that ships among the Spark jars the
program's ``build.sbt`` names as its ``unmanagedBase``, into
``.bench_build/classes``. A build is skipped when the sources and the jar
set are unchanged since the last one.

    python3 perfbench/build.py        # prints the run classpath
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars the program compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def _sources(path):
    return sorted(glob.glob(os.path.join(ROOT, path, "**", "*.scala"), recursive=True))


def _digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(name, files, classpath, jars, key):
    """Compiles ``files`` into .bench_build/classes/<name> unless up to date."""
    out = os.path.join(BUILD, "classes", name)
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out
    if not files:
        raise BuildError("no sources to compile for %s" % name)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % p for p in files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8", "-d", tmp,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError("compiling %s failed" % name)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(key)
    return out


def build():
    """Builds what is out of date and returns the run classpath."""
    jars = spark_jars()
    jar_set = ",".join(sorted(os.listdir(jars)))
    program = _sources("src/main/scala")
    if not program:
        raise BuildError("no program sources under src/main/scala")
    prog_key = _digest(program, jar_set)
    prog_out = _compile("program", program, [os.path.join(jars, "*")], jars, prog_key)
    harness = _sources("perfbench/src")
    harness_out = _compile("harness", harness,
                           [prog_out, os.path.join(jars, "*")], jars,
                           _digest(harness, prog_key))
    return [harness_out, prog_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit("build: %s" % e)
