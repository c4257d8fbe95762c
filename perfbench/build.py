"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark (`perfbench/src`) with the Scala compiler that ships in the
Spark jar directory, into `<build dir>/classes`.

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`,
relative to the repository root. A build is skipped when no source file
changed since the last one. Run from the repository root:

    python3 perfbench/build.py
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path


def build_dir(root):
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars(root):
    """The jar directory the engine's own build compiles against:
    `$SPARK_HOME/jars` when set, else the `unmanagedBase` of build.sbt."""
    if os.environ.get("SPARK_HOME"):
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = (root / "build.sbt").read_text()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("build.sbt declares no unmanagedBase jar directory")
        d = Path(m.group(1))
    if not any(d.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark/Scala jars in {d}")
    return d


def sources(root):
    engine = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not (engine / "graft").is_dir():
        raise SystemExit(f"engine sources not found under {engine}")
    return sorted(engine.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build(root):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    out = build_dir(root)
    classes = out / "classes"
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = out / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    jars = spark_jars(root)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", str(classes), "@" + str(argfile)]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, cwd=root)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"compilation failed ({r.returncode})")
    stamp.write_text(h.hexdigest())
    return classes


def classpath(root):
    classes = build(root)
    return os.pathsep.join([str(classes), str(root / "src" / "main" / "resources"),
                            str(spark_jars(root) / "*")])


if __name__ == "__main__":
    print(build(Path.cwd()))
