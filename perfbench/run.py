#!/usr/bin/env python3
"""Benchmark command for the historic-data import and the cell-store reads.

    python3 perfbench/run.py --workload import_push --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (see build.py), runs one
workload in one JVM at local[4] and prints, as the last line of stdout,

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics,
with --trace 1 its per_layer metrics. The human-readable report (setup
and iteration walls, every end-to-end metric with failed_share, the
traced iteration's wall-by-layer table) goes to stderr.

Exit code 0 only when every output check passed. Run from the
checkout root; everything the run writes stays under .bench_build/.

    python3 perfbench/run.py --self-test    # the benchmark's own tests
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def jvm(classes: Path, work: Path, main: str, args, deadline: float) -> subprocess.CompletedProcess:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{build.classpath()}", main] + [str(a) for a in args]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("run exceeded its time limit")
    finally:
        if proc.poll() is None:  # timed out, or this process was told to stop
            proc.kill()
            proc.wait()
    return subprocess.CompletedProcess(cmd, proc.returncode, out, None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # unwinds through jvm()'s cleanup

    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        classes = build.build()
    except (OSError, ValueError) as e:
        fail(f"cannot start: {e}")
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = time.monotonic() + RUN_LIMIT_S

    work = build.OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.self_test:
            r = jvm(classes, work, "perfbench.SelfTest", ["--work", work], deadline)
            sys.stdout.write(r.stdout)
            sys.exit(r.returncode)

        names = [w["name"] for w in spec["workloads"]]
        if a.workload not in names or a.seed is None or a.seconds is None:
            fail(f"need --workload ({'|'.join(names)}), --seed and --seconds")
        r = jvm(classes, work, "perfbench.Main",
                ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
                 "--trace", a.trace, "--work", work], deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = r.stdout.splitlines()
    tagged = [l for l in lines if l.startswith("PERFBENCH ")]
    for l in lines:
        if not l.startswith("PERFBENCH "):
            print(l)
    if not tagged:
        fail(f"the JVM exited with {r.returncode} without a result")
    res = json.loads(tagged[-1][len("PERFBENCH "):])
    for p in res.get("problems", []):
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = r.returncode == 0 and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
