"""Build graft and the traced-replay driver for the benchmark.

graft's main sources are compiled with the Scala compiler that ships in
Spark's jar directory (the same 2.13 line `build.sbt` pins, against the
same jars `build.sbt` uses as `unmanagedBase`), so a build needs neither
sbt nor its caches. The driver in `perfbench/trace` is then compiled
against those classes. Outputs go to `.bench_build/` in the checkout and
are reused while no source changed.

JVM flags for launching graft are read from `build.sbt`: the
`--add-opens` list, the `-D` options and the default `-Xmx` that it gives
forked runs, so the benchmark launches the CLI as `sbt run` would,
without timing sbt.
"""

import fcntl
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}; set SPARK_HOME")
    return jars


def _sources(top):
    found = []
    for d, _, names in os.walk(top):
        found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def _read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def jvm_flags():
    """The java options build.sbt gives forked runs."""
    sbt = _read(os.path.join(ROOT, "build.sbt"))
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    opts = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", sbt, re.S)
    xmx = opts and re.search(
        r'-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM", "([^"]+)"\)', opts.group(1))
    if not (opens and opts and xmx):
        raise BuildError("build.sbt no longer has the expected javaOptions")
    flags = []
    for pkg in re.findall(r'"([^"]+)"', opens.group(1)):
        flags += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    flags += re.findall(r'"(-D[^"$]+)"', opts.group(1))
    flags.append("-Xmx" + xmx.group(1))
    return flags


def _scalac(dest, files, classpath=()):
    """scalac on the Spark jars (which carry the Scala library) plus `classpath`."""
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(classpath)]
    cmd += files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout.decode(errors="replace")[-4000:])


def build(log):
    """Compile what changed; return (graft classes, trace classes)."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise BuildError(f"no graft sources under {ROOT}")
    graft_files = _sources(src)
    trace_files = _sources(os.path.join(HERE, "trace"))
    sbt = _read(os.path.join(ROOT, "build.sbt"))
    m = re.search(r'ThisBuild / version := "([^"]+)"', sbt)
    if not m:
        raise BuildError("build.sbt has no version")
    h = hashlib.sha1()
    for f in graft_files + trace_files + [os.path.abspath(__file__)]:
        h.update(f.encode() + b"\0" + open(f, "rb").read())
    h.update(sbt.encode())
    stamp = h.hexdigest()

    classes = os.path.join(OUT, "classes")
    trace_classes = os.path.join(OUT, "trace-classes")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(OUT, "build.stamp")
        if os.path.exists(stamp_file) and _read(stamp_file) == stamp:
            return classes, trace_classes
        log("building graft and the trace driver (scalac)")
        for d in (classes, trace_classes, os.path.join(OUT, "gen")):
            shutil.rmtree(d, ignore_errors=True)
        # build.sbt generates this object from its version setting
        gen = os.path.join(OUT, "gen", "BuildInfo.scala")
        os.makedirs(os.path.dirname(gen))
        with open(gen, "w") as f:
            f.write("package graft.dsq\nprivate[dsq] object BuildInfo "
                    f'{{ val version: String = "{m.group(1)}" }}\n')
        _scalac(classes, graft_files + [gen])
        _scalac(trace_classes, trace_files, [classes])
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes, trace_classes
