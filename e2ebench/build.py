"""Build file of the benchmark package.

    python3 e2ebench/build.py          # prints the build directory

1. Compiles graft's sources (`src/main/scala`) together with the
   benchmark's own (`e2ebench/src`) with the Scala compiler that ships
   among the Spark jars, and packs the classes into `graftbench.jar`.
2. Records a class-data archive (`classes.jsa`): one smoke run of every
   workload with -XX:ArchiveClassesAtExit. Later runs map the classes
   from the archive instead of loading and verifying them from ~290 jars,
   which takes seconds off every run's JVM start and first Spark jobs.
   If the archive cannot be made, runs go without it.

Everything lands in `e2ebench/.build/<stamp>/`; the stamp hashes every
source file, this file and the jar list, so an unchanged tree reuses its
build.
"""

import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"

# Spark 4 on JDK 17 needs these opens when the session is built outside
# spark-submit (the repository's build.sbt sets the same list).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
# -XX:-UsePerfData: no hsperfdata file in the system temp directory.
JVM_FLAGS = ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
             "-Dspark.callstack.depth=64", "-Dspark.ui.enabled=false"] + [
    f for p in OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


class Build:
    def __init__(self, directory, classpath, archive):
        self.directory = directory
        self.classpath = classpath
        self.archive = archive

    def java(self, work, args, record=False):
        """The java command line running graftbench.Main in `work`."""
        cds = []
        if record:
            cds = [f"-XX:ArchiveClassesAtExit={self.directory / 'classes.jsa'}"]
        elif self.archive:
            cds = [f"-XX:SharedArchiveFile={self.archive}"]
        return (["java"] + JVM_FLAGS + cds + [
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.stream.error.file={work / 'derby.log'}",
            "-cp", os.pathsep.join(str(p) for p in self.classpath),
            "graftbench.Main"] + args)


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the directory the
    repository's own build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"graft sources not found under {program}")
    return sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(p.name for p in jars).encode())
    h.update((HERE / "build.py").read_bytes())
    return h.hexdigest()[:16]


def compile_jar(files, jars, out):
    classes = out / "classes"
    classes.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", str(classes), "-cp", cp] + [str(f) for f in files],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(out / "graftbench.jar", "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
    shutil.rmtree(classes)


def record_archive(build, cpus):
    """Smoke-run every workload once to record the classes they load."""
    work = build.directory / "record"
    (work / "tmp").mkdir(parents=True)
    cmd = build.java(work, [
        "--workload", "bulk_reload,trickle_merge", "--seed", "1",
        "--seconds", "0", "--trace", "1", "--smoke", "1", "--cpus", cpus,
        "--work", str(work), "--out", str(work / "result.json"),
        "--trace-dir", str(work / "traces")], record=True)
    with open(work / "jvm.log", "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
    archive = build.directory / "classes.jsa"
    ok = r.returncode == 0 and archive.is_file()
    shutil.rmtree(work, ignore_errors=True)
    return archive if ok else None


def ensure_built(cpus="4"):
    """Compile and record if needed; return the Build."""
    jars_dir = spark_jars()
    jars = sorted(jars_dir.glob("*.jar"))
    files = sources()
    out = BUILD / stamp(files, jars)
    jar = out / "graftbench.jar"
    done = out / "done"
    if not done.is_file():
        if BUILD.exists():
            shutil.rmtree(BUILD)
        out.mkdir(parents=True)
        compile_jar(files, jars, out)
        archive = record_archive(Build(out, [jar] + jars, None), cpus)
        done.write_text("archive\n" if archive else "no archive\n")
    archive = out / "classes.jsa"
    return Build(out, [jar] + jars,
                 archive if done.read_text().startswith("archive") else None)


if __name__ == "__main__":
    try:
        print(ensure_built().directory)
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
