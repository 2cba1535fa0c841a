"""Build file of the benchmark: compiles the program's sources and the
benchmark harness with the Scala compiler that ships in the Spark
distribution the program's ``build.sbt`` names (``unmanagedBase``), and
packs each into a jar.

    python3 perfbench/build.py [build_dir]

Outputs land in ``build_dir`` (default ``.bench_build``) under names
carrying a hash of their sources, so an unchanged tree is not compiled
twice.  Prints the runtime classpath.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory the program compiles and runs against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def _files(top, suffix=""):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def _sources(top):
    return _files(top, ".scala")


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compile(sources, classpath, jar, resources=None):
    """scalac ``sources`` and pack them (and ``resources``) into ``jar``,
    atomically: a partial build never looks finished."""
    if os.path.isfile(jar):
        return
    classes = jar + ".classes"
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = jar + ".args"
    with open(args, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", classpath, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("compilation failed: %s" % jar)
    pack = ["jar", "-J-XX:-UsePerfData", "cf", jar + ".tmp", "-C", classes, "."]
    if resources:
        pack += ["-C", resources, "."]
    subprocess.run(pack, check=True)
    shutil.rmtree(classes)
    os.rename(jar + ".tmp", jar)


def build(root, build_dir):
    """Compiles what changed; returns the runtime classpath entries."""
    jars_dir = spark_jars(root)
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    os.makedirs(build_dir, exist_ok=True)
    program_src = _sources(os.path.join(root, "src", "main", "scala"))
    resources = os.path.join(root, "src", "main", "resources")
    program = os.path.join(build_dir, "program-%s.jar" % _digest(
        program_src + _files(resources), jars_dir))
    _compile(program_src, ":".join(jars), program, resources)
    harness_src = _sources(os.path.join(HERE, "src"))
    harness = os.path.join(build_dir, "harness-%s.jar" % _digest(harness_src, program))
    _compile(harness_src, ":".join([program] + jars), harness)
    _prune(build_dir, program, harness)
    return [harness, program, os.path.join(jars_dir, "*")]


def _prune(build_dir, program, harness):
    """Deletes the jars of earlier builds and the class-data archives
    dumped for them (an archive's name carries its harness jar's)."""
    stem = os.path.basename(harness)[:-len(".jar")]
    for f in os.listdir(build_dir):
        old_jar = f.endswith(".jar") and f not in (os.path.basename(program), os.path.basename(harness))
        if old_jar or (f.endswith(".jsa") and stem not in f):
            os.remove(os.path.join(build_dir, f))


if __name__ == "__main__":
    root = os.getcwd()
    print(":".join(build(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))))
