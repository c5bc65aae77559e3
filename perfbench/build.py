#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's Scala sources
(`src/main/scala` of the checkout) together with the harness
(`perfbench/src`) into a jar in `.bench_build`, with the Scala compiler and Spark jars found in the directory the project's
own build.sbt names as its unmanaged base.

The build is skipped when a stamp of every source file's path and
content hash matches the last successful build, so only the first run
in a checkout pays for it.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SCALA = "2.13.17"


def build_dir(root):
    return os.path.join(root, ".bench_build")


def archive(root):
    """The JVM's class-data-sharing archive (made and used by run.py)."""
    return os.path.join(build_dir(root), "perfbench.jsa")


def sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/src"):
        out += glob.glob(os.path.join(root, base, "**", "*.scala"),
                         recursive=True)
    return sorted(out)


def jar_dir(root):
    """`unmanagedBase := file("...")` of the root build.sbt."""
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def jars(root):
    return sorted(glob.glob(os.path.join(jar_dir(root), "*.jar")))


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Returns the runtime classpath; compiles first when stale."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit(
            "perfbench: no program sources under src/main/scala/graft — "
            "run from the root of a full checkout")
    files = sources(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(files)
    # a jar, not the classes directory: the JVM archives classes for
    # class-data sharing only from jars
    cp = [jar] + jars(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    for stale in (stamp_file, jar, archive(root)):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jar_dir(root), f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", classes,
                            "-classpath", os.pathsep.join(jars(root))] + files))
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                    "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "@" + args_file], check=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    build(os.getcwd())
