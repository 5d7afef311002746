#!/usr/bin/env python3
"""Builds the library and the benchmark from source with the Scala
compiler that ships in Spark's jar directory, without sbt.

Usage: python3 perfbench/build.py        (from the repository root)

Outputs go to .bench_build/classes/{lib,bench,test}; each is rebuilt only
when its sources or the jar directory change.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(srcs, jars, deps):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for d in deps:
        h.update((d / ".stamp").read_bytes())
    return h.hexdigest()


def compile_unit(name, src_dir, deps=()):
    """Compiles every .scala file under src_dir into .bench_build/classes/<name>."""
    srcs = _sources(src_dir)
    if not srcs:
        raise BuildError(f"no Scala sources under {src_dir.relative_to(ROOT)}")
    jars = spark_jars()
    out = BUILD / "classes" / name
    stamp = _stamp(srcs, jars, deps)
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = os.pathsep.join([str(jars / "*")] + [str(d) for d in deps])
    argfile = BUILD / f"{name}.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError(f"compiling {name} failed")
    (out / ".stamp").write_text(stamp)
    return out


def build(with_tests=False):
    """Returns the runtime classpath entries (jar glob first)."""
    lib_src = ROOT / "src" / "main" / "scala"
    if not lib_src.is_dir():
        raise BuildError("library sources src/main/scala not found: run from a repository checkout")
    lib = compile_unit("lib", lib_src)
    bench = compile_unit("bench", ROOT / "perfbench" / "src" / "main" / "scala", [lib])
    cp = [str(spark_jars() / "*"), str(lib), str(bench)]
    resources = ROOT / "src" / "main" / "resources"  # service registrations
    if resources.is_dir():
        cp.append(str(resources))
    if with_tests:
        cp.append(str(compile_unit("test", ROOT / "perfbench" / "src" / "test" / "scala", [lib, bench])))
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(with_tests="--tests" in sys.argv)))
    except BuildError as e:
        print(f"[perfbench] build error: {e}", file=sys.stderr)
        sys.exit(2)
