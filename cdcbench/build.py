#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources
(`src/main/scala` at the repo root) together with the benchmark's own
Scala harness (`cdcbench/scala`) into one class directory, using the
Scala compiler that ships among the Spark jars. No sbt, no downloads.

    python3 cdcbench/build.py [BUILD_DIR]

BUILD_DIR defaults to $CARGO_TARGET_DIR or `.bench_build` under the repo
root. A digest of every source file is kept next to the classes, so an
unchanged tree is not rebuilt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the unmanaged jar directory the project's
    build.sbt compiles against."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    elif (ROOT / "build.sbt").is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
        jars = Path(m.group(1)) if m else None
    if jars is None or not jars.is_dir():
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: engine sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    return [str(f) for f in files]


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def ensure(out: Path = None) -> Path:
    """Return the class directory, compiling first if the sources changed."""
    out = out or build_dir()
    files = sources()
    want = digest(files)
    classes = out / "classes"
    stamp = out / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text().strip() == want:
        return classes
    jars = spark_jars()
    compiler = [glob.glob(str(jars / f"scala-{p}-2.13*.jar")) for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"build: no Scala 2.13 compiler jars in {jars}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", str(jars / "*"),
           f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(want + "\n")
    return classes


if __name__ == "__main__":
    print(ensure(Path(sys.argv[1]).resolve() if len(sys.argv) > 1 else None))
