#!/usr/bin/env python3
"""Build file of the layer benchmark.

Compiles the engine (`src/main/scala`, plus `src/main/resources`) and the
benchmark's own Scala sources (`perfbench/scala`) into `.bench_build/` of
the checkout, against the Spark jar directory and with the Scala version
that `build.sbt` names (the compiler jar ships among Spark's jars). A
rebuild happens only when a source file changed.

    python3 perfbench/build.py      # from the repository root

prints the runtime classpath.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def _sources(pattern):
    return sorted(p for p in glob.glob(pattern, recursive=True) if os.path.isfile(p))


def _sbt_setting(root, pattern):
    """A string setting of the sbt build, e.g. its Spark jar directory."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(pattern, f.read())
    except OSError as e:
        raise BuildError("cannot read build.sbt: %s" % e)
    if not m:
        raise BuildError("build.sbt has no setting matching %s" % pattern)
    return m.group(1)


def _scalac(sources, classpath, out, work, jars_dir, scala_version):
    os.makedirs(out, exist_ok=True)
    argfile = os.path.join(work, "scalac-" + os.path.basename(out) + ".args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = ":".join(os.path.join(jars_dir, f"scala-{m}-{scala_version}.jar")
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed for %s:\n%s" % (out, res.stdout[-4000:]))


def build(root):
    """Compile if needed; return the classpath for `java -cp`."""
    engine_src = _sources(os.path.join(root, "src/main/scala/**/*.scala"))
    resources = _sources(os.path.join(root, "src/main/resources/**/*"))
    bench_src = _sources(os.path.join(root, "perfbench/scala/*.scala"))
    if not engine_src:
        raise BuildError("no engine sources under %s/src/main/scala" % root)
    jars_dir = _sbt_setting(root, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    scala_version = _sbt_setting(root, r'scalaVersion\s*:=\s*"([^"]+)"')
    if not os.path.isdir(jars_dir):
        raise BuildError("Spark jar directory %s not found" % jars_dir)
    work = os.path.join(root, ".bench_build")
    engine_out = os.path.join(work, "classes", "engine")
    bench_out = os.path.join(work, "classes", "bench")
    spark_cp = os.path.join(jars_dir, "*")
    classpath = ":".join([bench_out, engine_out, spark_cp])

    h = hashlib.sha256((jars_dir + scala_version).encode())
    for p in engine_src + resources + bench_src:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()
    stamp = os.path.join(work, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classpath

    shutil.rmtree(os.path.join(work, "classes"), ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    jars = ":".join(sorted(glob.glob(os.path.join(jars_dir, "*.jar"))))
    _scalac(engine_src, jars, engine_out, work, jars_dir, scala_version)
    res_root = os.path.join(root, "src/main/resources")
    for p in resources:
        dst = os.path.join(engine_out, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    _scalac(bench_src, engine_out + ":" + jars, bench_out, work, jars_dir, scala_version)
    with open(stamp, "w") as f:
        f.write(key)
    return classpath


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(str(e))
