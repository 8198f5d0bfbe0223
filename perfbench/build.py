"""Builds the program and the benchmark harness with the Scala compiler
that ships with the project's Spark jars (no sbt, no network).

    python3 perfbench/build.py [REPO]

REPO is the program's source tree (default: the current directory). The
classes go to REPO/.bench_build; a stamp over every source file skips the
build when nothing changed. Prints the runtime classpath.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(repo):
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    with open(os.path.join(repo, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _scalac(jars, classpath, out, sources):
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build(repo):
    """Compiles if needed; returns the runtime classpath."""
    repo = os.path.abspath(repo)
    jars = spark_jars(repo)
    main = _sources(os.path.join(repo, "src", "main", "scala"))
    harness = _sources(os.path.join(HERE, "harness"))
    if not main:
        raise RuntimeError(f"no program sources under {repo}/src/main/scala")
    resources = os.path.join(repo, "src", "main", "resources")
    out = os.path.join(repo, ".bench_build")
    program, bench = os.path.join(out, "program"), os.path.join(out, "harness")
    jar_cp = os.path.join(jars, "*")
    digest = hashlib.sha256(jars.encode())
    for f in main + sorted(glob.glob(os.path.join(resources, "**"), recursive=True)):
        if os.path.isfile(f):
            digest.update(os.path.relpath(f, repo).encode())
            with open(f, "rb") as fh:
                digest.update(fh.read())
    _step(program, digest, lambda: _scalac(jars, jar_cp, program, main))
    for f in harness:
        with open(f, "rb") as fh:
            digest.update(fh.read())
    _step(bench, digest, lambda: _scalac(
        jars, os.pathsep.join([program, jar_cp]), bench, harness))
    return os.pathsep.join([program, resources, bench, jar_cp])


def _step(out, digest, compile_):
    """Runs `compile_` unless `out` was built from the same digest."""
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    compile_()
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else "."))
