"""Build step of the benchmark: compiles the engine (`src/main/scala`)
and then the harness (`perfbench/src`) against it, with the Scala
compiler that ships in Spark's jar directory.

Each class directory is cached under the build directory and recompiled
only when its sources change, so editing the harness does not recompile
the engine. Needs `SPARK_HOME` (Spark 4 with Scala 2.13) and a JDK 17
`java`.

    python3 perfbench/build.py        # build, print the class path, exit
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# The engine's own run configuration (build.sbt `javaOptions`): the
# harness JVM runs under the same heap cap and system properties.
JVM_OPTS = [
    f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def build_dir(root):
    """The checkout-local build directory; `CARGO_TARGET_DIR`, when set,
    names its root."""
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must point at a Spark 4 installation")
    return os.path.join(home, "jars", "*")


def sources(d):
    found = []
    for base, _, files in os.walk(d):
        found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def fingerprint(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, key):
    """Compile `srcs` into `out` unless its stamp already holds `key`."""
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    listing = out + ".sources"
    with open(listing, "w") as f:
        f.write("\n".join(srcs))
    args = [java(), "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
            "-usejavacp", "-nowarn", "-classpath", classpath, "-d", out, "@" + listing]
    proc = subprocess.run(args, capture_output=True, text=True, timeout=850)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-3000:] + proc.stderr[-3000:])
    with open(stamp, "w") as f:
        f.write(key)


def compile_classes(root):
    """Compile engine and harness; returns their class path."""
    engine_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise BuildError(f"engine sources not found under {engine_src}")
    engine_srcs = sources(engine_src)
    engine = os.path.join(build_dir(root), "engine-classes")
    engine_key = fingerprint(engine_srcs)
    scalac(engine_srcs, engine, spark_jars(), engine_key)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, engine, dirs_exist_ok=True)
    harness_srcs = sources(os.path.join(HERE, "src"))
    harness = os.path.join(build_dir(root), "harness-classes")
    scalac(harness_srcs, harness, os.pathsep.join([engine, spark_jars()]),
           fingerprint(harness_srcs, engine_key))
    return os.pathsep.join([harness, engine])


def jvm(root, classes, args, log, timeout, tmp):
    """Run the harness main class; stdout and stderr go to `log`."""
    cmd = [java(), *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join([classes, spark_jars()]), "perfbench.Main", *args]
    with open(log, "w") as err:
        return subprocess.run(cmd, stdout=err, stderr=err, timeout=timeout, cwd=root).returncode


def main():
    try:
        print(compile_classes(os.getcwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
