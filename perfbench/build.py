#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's main sources together with the benchmark harness
(perfbench/src) into one class directory, using the Scala compiler that
ships among the Spark jars named by the project's build.sbt
(`unmanagedBase`). No dependency resolution and nothing written outside
the build directory. The output directory is keyed by a hash of every
input, so an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = ROOT / "perfbench" / "src"


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """The jar directory build.sbt compiles against."""
    sbt = ROOT / "build.sbt"
    if not sbt.is_file():
        raise SystemExit("build.sbt not found: the engine sources are not in this tree")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit("build.sbt names no readable unmanagedBase jar directory")
    return sorted(str(p) for p in Path(m.group(1)).glob("*.jar"))


def classpath():
    return ":".join(spark_jars())


def _inputs():
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    srcs = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    res = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()) if ENGINE_RES.is_dir() else []
    return srcs, res


def build():
    """Compiles if needed; returns the class directory."""
    srcs, res = _inputs()
    cp = classpath()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(cp.encode())
    out = build_dir() / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    build_dir().mkdir(parents=True, exist_ok=True)
    for old in build_dir().glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir()
    argfile = build_dir() / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"scalac failed with exit code {r.returncode}")
    for p in res:
        dst = out / p.relative_to(ENGINE_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (out / ".done").write_text("")
    return out


if __name__ == "__main__":
    print(build())
