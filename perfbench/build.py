"""Builds graft and the benchmark harness from source, without sbt.

The repo's main sources and resources plus perfbench/scala are compiled in
one scalac invocation, with the Scala compiler and the Spark jars from the
directory build.sbt names as `unmanagedBase`. The JVM options of a run are
taken from build.sbt too (its JDK 17 `--add-opens` list and its default
heap and GC flags), so the benchmark runs graft the way `sbt run` would.

A build is cached under the build directory and reused while the hash of
its inputs is unchanged.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

class BuildError(Exception):
    pass


def _sbt(root):
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError(f"no build.sbt in {root}: not a graft checkout")
    with open(path) as f:
        return f.read()


def jars_dir(root):
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _sbt(root))
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "spark-core_*.jar")):
        raise BuildError(f"no Spark jars in {d}")
    return d


def jvm_options(root, tmpdir):
    """build.sbt's run options and a private temp dir."""
    sbt = _sbt(root)
    opens = re.findall(r'"(java\.base/[^"]+)"', sbt)
    heap = re.search(r'getOrElse\("SPARK_DRIVER_MEM",\s*"([^"]+)"\)', sbt)
    gc = re.search(r'getOrElse\("SPARK_GC_OPT",\s*"([^"]+)"\)', sbt)
    if not opens or not heap or not gc:
        raise BuildError("build.sbt no longer lists the --add-opens set and "
                         "the SPARK_DRIVER_MEM and SPARK_GC_OPT defaults this "
                         "benchmark reads")
    flags = []
    for p in opens:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + ["-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC",
                    f"-Xmx{heap.group(1)}", gc.group(1), f"-Djava.io.tmpdir={tmpdir}"]


def _inputs(root):
    files = []
    for base in ("src/main", "perfbench/scala"):
        for dirpath, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def _stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.join(root, "build.sbt")]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def ensure(root, build_dir, log):
    """Compile if needed; returns (classpath, source hash, compiled now)."""
    jars = jars_dir(root)
    files = _inputs(root)
    scala = [f for f in files if f.endswith(".scala")]
    if not any(f.startswith(os.path.join(root, "src/main/")) for f in scala):
        raise BuildError(f"no graft sources under {root}/src/main")
    stamp = _stamp(root, files, jars)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, stamp, False

    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(scala)} Scala sources")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + scala
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath, stamp, True
