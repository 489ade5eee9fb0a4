"""Build file of the benchmark.

Compiles the repository's main Scala sources together with the benchmark's
own sources (perfbench/src) into one class directory, with the Scala
compiler of the Spark distribution the repository builds against (the
`unmanagedBase` of the root build.sbt, or $SPARK_HOME/jars). A stamp of the
sources and the jar list skips the compile when nothing changed.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars(root):
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at %s: run from the repository root" % root)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    raise BuildError("no Spark jars found (build.sbt unmanagedBase, $SPARK_HOME/jars)")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("no src/main/scala under %s" % root)
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Compiles if needed; returns the runtime classpath as a list."""
    jars = spark_jars(root)
    srcs = sources(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    stamp_file = os.path.join(out, "stamp")
    stamp = h.hexdigest()
    cp = [classes] + jars
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("scala compiler, library and reflect jars not all among the Spark jars")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn", "-classpath", ":".join(jars),
           "-d", classes] + srcs
    print("[perfbench] compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError("scala compile failed (exit %d)" % r.returncode)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        build(os.getcwd())
    except BuildError as e:
        print("[perfbench] %s" % e, file=sys.stderr)
        sys.exit(2)
