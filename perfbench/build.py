"""Build file of the benchmark: compiles the program and the benchmark's
JVM harness from source and packs them as jars.

Everything lands in `perfbench/.build/`, keyed by a hash of every input
(program sources, `build.sbt`, the harness sources and this file); an
unchanged checkout reuses it. Run on its own with
`python3 perfbench/build.py`.

The compiler is the Scala compiler that ships with Spark's jars; the jars
directory is `$SPARK_HOME/jars`, else the `unmanagedBase` that the
program's `build.sbt` names.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")

PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
BUILD_SBT = os.path.join(ROOT, "build.sbt")

# the same module openings the program's build passes to forked JVMs
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    if os.path.exists(BUILD_SBT):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(BUILD_SBT).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def stamp():
    program = sources(PROGRAM_SRC)
    if not program or not os.path.exists(BUILD_SBT):
        raise BuildError("program sources not found: run from a checkout of the repository")
    h = hashlib.sha256()
    for f in program + sources(HARNESS_SRC) + [BUILD_SBT, __file__]:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()


# no hsperfdata files: a JVM writes nothing outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"


def jvm_args(jars, classpath, tmp=None):
    """`java` arguments for a harness JVM; `tmp` keeps every temporary and
    Spark local file under the run's own directory."""
    args = ["java", NO_PERF_DATA, "-Xmx2g", "-Xss8m"]
    for o in ADD_OPENS:
        args += ["--add-opens", o]
    if tmp:
        args += ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
                 "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse")]
    return args + ["-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")])]


def _run(cmd, log, timeout):
    with open(log, "w") as out:
        p = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, timeout=timeout, cwd=BUILD)
    if p.returncode != 0:
        tail = open(log).read()[-3000:]
        raise BuildError(f"{cmd[0]} failed ({p.returncode}); log tail:\n{tail}")


def _compile(jars, srcs, out_jar, extra_cp, name):
    classes = os.path.join(BUILD, name + "_classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, name + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = ["-classpath", os.pathsep.join(extra_cp)] if extra_cp else []
    _run(["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
          "scala.tools.nsc.Main", "-usejavacp", "-nowarn"] + cp + ["-d", classes, "@" + argfile],
         os.path.join(BUILD, name + "_compile.log"), 600)
    _run(["jar", "-J" + NO_PERF_DATA, "cf", out_jar, "-C", classes, "."],
         os.path.join(BUILD, name + "_jar.log"), 120)
    shutil.rmtree(classes)


def paths():
    return {
        "program": os.path.join(BUILD, "program.jar"),
        "harness": os.path.join(BUILD, "perfbench.jar"),
    }


def build():
    """Bring `.build` up to date; returns `paths()` plus the jars dir."""
    jars = spark_jars()
    key = stamp()
    p = paths()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return dict(p, jars=jars)
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    _compile(jars, sources(PROGRAM_SRC), p["program"], [], "program")
    _compile(jars, sources(HARNESS_SRC), p["harness"], [p["program"]], "harness")
    with open(stamp_file, "w") as f:
        f.write(key)
    return dict(p, jars=jars)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
