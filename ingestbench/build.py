"""Build file of the benchmark package.

Compiles graft's library sources (src/main/scala, resources from
src/main/resources) together with the benchmark's own sources
(ingestbench/src) into .bench_build/classes-<hash>, using the Scala compiler
and the jars that ship with Spark (the same toolchain the library's sbt build
uses). No dependency is resolved and nothing is downloaded. The output is
reused while no source changes; the benchmark code never enters the library
jar.

    python3 ingestbench/build.py      # build (or reuse) and print the class dir
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
LIB_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars the library's sbt build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    jars = pathlib.Path(m.group(1)) if m else pathlib.Path(os.environ.get("SPARK_HOME", ".")) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    if not (LIB_SRC / "graft").is_dir():
        raise BuildError(f"graft library sources not found under {LIB_SRC}")
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    resources = sorted(p for p in LIB_RES.rglob("*") if p.is_file()) if LIB_RES.is_dir() else []
    return files, resources


def fingerprint(files, resources):
    h = hashlib.sha256()
    for p in files + resources + [pathlib.Path(__file__)]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns the class directory, compiling if the sources changed."""
    files, resources = sources()
    out = BUILD / f"classes-{fingerprint(files, resources)}"
    if (out / ".complete").exists():
        return out
    jars = spark_jars()
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    print(f"[build] compiling {len(files)} sources into {out}", file=log, flush=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    for p in resources:
        dst = tmp / p.relative_to(LIB_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for stale in BUILD.glob("classes-*"):
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    return out


def classpath(classes):
    return os.pathsep.join([str(classes), str(spark_jars() / "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
