#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the graft library (src/main/scala) together with the benchmark
harness (graftbench/src) into <build dir>/classes, using the Scala
compiler that ships among Spark's jars, and copies the library's
resources (the graft-topiclog DataSourceRegister) beside the classes.
A content hash of every input is kept next to the classes, so an
unchanged tree is not rebuilt.

    python3 graftbench/build.py [build dir]     # default: .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark install: $SPARK_HOME/jars, else the
    one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark install found (set SPARK_HOME)")
    return jars


def _files(root, sub, exts):
    out = []
    for dirpath, _, names in os.walk(os.path.join(root, sub)):
        out += [os.path.join(dirpath, n) for n in names if n.endswith(exts)]
    return sorted(out)


def ensure(root, build_dir):
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    sources = (_files(root, "src/main/scala", (".scala", ".java")) +
               _files(root, "graftbench/src", (".scala",)))
    resources = _files(root, "src/main/resources", ("",))
    if not any("/src/main/scala/" in s for s in sources):
        raise BuildError("src/main/scala not found under %s" % root)
    compiler = [glob.glob(os.path.join(jars, "scala-%s-2.*.jar" % n))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("scala compiler jars missing in %s" % jars)
    digest = hashlib.sha256()
    for f in sources + resources + [c[0] for c in compiler]:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()

    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes

    staging = os.path.join(build_dir, "classes.new")
    tmp = os.path.join(build_dir, "tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    os.makedirs(tmp, exist_ok=True)
    classpath = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
           "-cp", ":".join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", classpath, "@" + args_file]
    print("[build] compiling %d sources" % len(sources), file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed")
    res_root = os.path.join(root, "src/main/resources")
    for f in resources:
        dst = os.path.join(staging, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd(), sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
    except BuildError as e:
        print("[build] " + str(e), file=sys.stderr)
        sys.exit(2)
