"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark harness (perfbench/harness/src) with the Scala compiler that ships
in Spark's jars directory, into .bench_build/ of the checkout.

    python3 perfbench/build.py        # prints the runtime classpath

A stamp over every source file skips the build when nothing changed.
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
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase that build.sbt declares."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    raise SystemExit("perfbench: no Spark jars directory (set SPARK_HOME)")


def scala_jar(jars, name):
    found = sorted(glob.glob(os.path.join(jars, "%s-2.13.*.jar" % name)))
    if not found:
        raise SystemExit("perfbench: no %s jar in %s" % (name, jars))
    return found[-1]


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, out, classpath, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    compiler = os.pathsep.join(scala_jar(jars, n) for n in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed for %s" % out)


def ensure_built():
    """Compile when the sources changed; return the runtime classpath."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: no graft sources under %s" % main)
    jars = spark_jars()
    graft_src = sources(main)
    harness_src = sources(os.path.join(HERE, "harness", "src"))
    graft_out = os.path.join(BUILD, "graft")
    harness_out = os.path.join(BUILD, "harness")
    jar_cp = os.path.join(jars, "*")
    os.makedirs(BUILD, exist_ok=True)
    # graft, then the harness against it: each rebuilt when its own sources
    # (or, for the harness, graft's) changed
    graft_stamp = stamp(graft_src, jars)
    for out, files, cp, want in (
            (graft_out, graft_src, jar_cp, graft_stamp),
            (harness_out, harness_src, os.pathsep.join([graft_out, jar_cp]),
             graft_stamp + stamp(harness_src, jars))):
        stamp_file = out + ".stamp"
        have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
        if want != have:
            if os.path.exists(stamp_file):
                os.remove(stamp_file)
            scalac(jars, out, cp, files)
            with open(stamp_file, "w") as f:
                f.write(want)
    return os.pathsep.join([harness_out, graft_out, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(ensure_built())
