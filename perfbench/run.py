"""Workload benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload dq_gate --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (see build.py), runs one
workload in a fresh JVM on `Sessions.local(nproc)`, and prints its report.
The last stdout line is the result JSON: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1` (the traced run also writes
its span document to `<build dir>/traces/`). All state lives in a fresh
directory under the build directory and is removed afterwards.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("dq_gate", "curate", "stream_gate")
# The engine's own collector (G1, the JDK default build.sbt keeps) on a
# fixed-size, pre-touched heap: with build.sbt's resizable 8 GB heap, peak
# RSS varied by 25-30% between runs of the same code, a fixed 8 GB heap
# grew to over 6 GB resident, and a fixed 2 GB heap left untouched read
# either ~2.2 or ~2.6 GB depending on how far G1 grew the young
# generation. Pre-touched, peak RSS is the heap plus the program's native
# memory; the program's heap use is reported as `live_heap_mb`.
HEAP = "2g"
JVM_TIMEOUT_S = 170

# Module opens Spark needs on JDK 17 outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    cp = build.classpath(root)
    out = build.build_dir(root)
    work = out / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = out / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work / "state"),
              "--trace-out", str(out / "traces" / f"{a.workload}-seed{a.seed}.json")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    lines = []
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                                 stderr=err, text=True)
            try:
                stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                print(f"perfbench: timed out after {JVM_TIMEOUT_S} s (log: {log})",
                      file=sys.stderr)
                return 1
        lines = [ln for ln in stdout.splitlines() if ln.strip()]
        if p.returncode != 0 or not lines:
            tail = log.read_text().splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            print(f"perfbench: benchmark process failed ({p.returncode}; log: {log})",
                  file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            print("perfbench: malformed result line", file=sys.stderr)
            return 1
        for ln in lines[:-1]:
            print(ln)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
