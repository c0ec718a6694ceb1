"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala (perfbench/scala) with the Scala compiler that
ships in the Spark distribution, into <build dir>/classes. The Spark jars
directory is the one build.sbt names as `unmanagedBase` ($SPARK_JARS
overrides it).

    python3 perfbench/build.py [repoRoot]

The build dir is $CARGO_TARGET_DIR if set, else .bench_build, relative to
the repository root. A stamp of every source file's content skips the
compile when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def spark_jars(root):
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def jars(root):
    d = spark_jars(root)
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/scala"):
        for dp, _, fs in os.walk(os.path.join(root, top)):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def classpath(root):
    return os.pathsep.join([os.path.join(build_dir(root), "classes")] + jars(root))


def build(root):
    """Compile if the sources changed; returns the classes directory."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(build_dir(root), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = os.pathsep.join(os.path.join(spark_jars(root), f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", os.pathsep.join(jars(root))] + srcs
    print(f"[build] compiling {len(srcs)} files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed (rc={r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")))
