"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala`) together with the
harness (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution, into `<build dir>/perfbench.jar`, then runs the
harness once on small generated inputs to record a class-data-sharing
archive (`app.jsa`) of every class the workloads load, which takes
several seconds off each run's JVM start. A build is skipped when a
stamp of the sources and the distribution says it is current.

    python3 perfbench/build.py [--build-dir .bench_build]

The Spark distribution is found at `$SPARK_HOME`, else as the parent of
a `spark-submit` directory on the `PATH`.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class Built:
    """Where a build put the harness, and how to start a JVM on it."""

    def __init__(self, build_dir, jars):
        self.jar = os.path.join(build_dir, "perfbench.jar")
        self.archive = os.path.join(build_dir, "app.jsa")
        self.classpath = self.jar + os.pathsep + os.path.join(jars, "*")

    def java(self, work, main, *extra):
        """Command line running `main` with every scratch file under `work`."""
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        share = [f"-XX:SharedArchiveFile={self.archive}"] if os.path.exists(self.archive) else []
        # a fixed heap and young generation make the peak resident set
        # track retained data rather than the collector's sizing choices
        return ["java", *JVM_OPENS, *share, *extra, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
                "-XX:NewSize=512m", "-XX:MaxNewSize=512m", "-XX:ReservedCodeCacheSize=512m",
                "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
                f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work}/derby.log",
                f"-Dgraft.replay.scratch={tmp}",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
                "-cp", self.classpath, main]


def cores():
    """Spark task slots for the harness: up to four, with one core left
    for the driver thread, the JIT compiler and the garbage collector."""
    return max(1, min(4, os.cpu_count() or 1) - 1)


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {d}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(",".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_jar(build_dir, jars, files, jar):
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    r = subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}",
                        "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
                        "-d", classes, "@" + argfile], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed (exit {r.returncode})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, names in os.walk(classes):
            for n in sorted(names):
                path = os.path.join(base, n)
                z.write(path, os.path.relpath(path, classes))
    shutil.rmtree(classes)


def train(built, build_dir):
    """Records the class-data-sharing archive from one untimed set-up and
    warm-up of every workload; without it runs only start slower."""
    import datagen
    from workloads import TRAIN_SEED, TRAIN_SF, WORKLOADS
    work = os.path.join(build_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    datagen.generate(data, TRAIN_SEED, TRAIN_SF)
    ops = [op for w in WORKLOADS.values() for op in w["ops"]]
    pending = built.archive + ".tmp"
    cmd = built.java(work, "perfbench.Harness", f"-XX:ArchiveClassesAtExit={pending}") + [
        "--workload", "train", "--data", data, "--ops", ",".join(ops), "--seconds", "0",
        "--trace", "0", "--out", os.path.join(work, "result.json"), "--work", work,
        "--cores", str(cores())]
    with open(os.path.join(build_dir, "train.log"), "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=log, cwd=work, timeout=600)
    if r.returncode == 0 and os.path.exists(pending):
        os.replace(pending, built.archive)
    else:
        sys.stderr.write("class-data-sharing archive not recorded; runs start slower\n")
    shutil.rmtree(work, ignore_errors=True)


def build(build_dir):
    jars = spark_jars()
    files = sources()
    built = Built(build_dir, jars)
    stamp_file = os.path.join(build_dir, "build.stamp")
    want = stamp(files, jars)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                return built
    os.makedirs(build_dir, exist_ok=True)
    for stale in (stamp_file, built.archive):
        if os.path.exists(stale):
            os.remove(stale)
    compile_jar(build_dir, jars, files, built.jar)
    train(built, build_dir)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return built


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--build-dir", default=os.path.join(ROOT, ".bench_build"))
    print(build(os.path.abspath(ap.parse_args().build_dir)).classpath)


if __name__ == "__main__":
    main()
