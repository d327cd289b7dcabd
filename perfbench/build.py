"""Build file of the benchmark harness.

Compiles the program's sources (`src/main/scala`) together with the
harness (`perfbench/src`) against the jar directory the root `build.sbt`
names as its `unmanagedBase`, using the Scala compiler shipped in those
jars. Output goes to `.bench_build/perfbench/classes` under the checkout;
a stamp of the source contents skips rebuilding an unchanged tree.

    python3 perfbench/build.py     # prints the run classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def jars():
    """Classpath glob of the jar directory the root build compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: no unmanagedBase jar directory in build.sbt")
    return os.path.join(m.group(1), "*")


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Return the run classpath, compiling first if sources changed."""
    files = sources()
    want = stamp(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return f"{classes}:{jars()}"
    tmp = os.path.join(OUT, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, f"sources{os.getpid()}.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cp = jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, f"@{args_file}"]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=840)
    finally:
        os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return f"{classes}:{cp}"


if __name__ == "__main__":
    print(build())
