#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's sources and the
benchmark's own Scala sources with the Scala compiler that ships in
Spark's jars, into .bench_build/perfbench/ at the repository root.

    python3 perfbench/build.py [--tests]

A build is skipped when the sources are unchanged since the last one
(a content hash is stored next to the classes).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RESOURCES = ROOT / "src" / "main" / "resources"

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def sources(*dirs):
    files = []
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d}")
        files += sorted(d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_to(name, files, classpath, extra_key=""):
    """Compile `files` into OUT/name unless its stamp matches."""
    dest = OUT / name
    stamp = OUT / f"{name}.sha256"
    key = digest(files, extra_key)
    if dest.is_dir() and stamp.is_file() and stamp.read_text() == key:
        return dest
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / f"{name}.args"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(str(c) for c in classpath)]
    r = subprocess.run(cmd + [f"@{argfile}"], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise BuildError(f"compiling {name} failed")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp.write_text(key)
    return dest


def build(tests=False):
    """Build and return the runtime classpath (list of entries)."""
    OUT.mkdir(parents=True, exist_ok=True)
    program = compile_to("program", sources(PROGRAM_SRC), [])
    # a stage recompiles when anything it compiles against changed
    program_key = digest(sources(PROGRAM_SRC))
    bench_src = sources(BENCH / "src" / "main" / "scala")
    bench = compile_to("bench", bench_src, [program], program_key)
    cp = [bench, program, PROGRAM_RESOURCES]
    if tests:
        test = compile_to("test", sources(BENCH / "src" / "test" / "scala"),
                          [bench, program], digest(bench_src, program_key))
        cp = [test] + cp
    return cp + [spark_jars() / "*"]


def java_command(classpath, main, args, tmpdir):
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens
            + ["-cp", os.pathsep.join(str(c) for c in classpath), main] + args)


if __name__ == "__main__":
    try:
        build(tests="--tests" in sys.argv[1:])
    except BuildError as e:
        sys.exit(f"build: {e}")
