"""Run one benchmark measurement.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and harness when their sources changed (see build.py),
then runs `perfbench.Main` in one JVM with one Spark driver whose task
threads never exceed the machine's core count. The JVM's records pass
through to stdout; the last line is the result object
`{"correct", "attempted", "failed", "metrics"}`, whose metric names are
checked against BENCHMARK.json (`end_to_end` for --trace 0, `per_layer`
for --trace 1). Scratch files go to `.bench_out/` and build outputs to
`.bench_build/` at the repository root. Exits non-zero, with no result
line, when the build, the run or that check fails.
"""

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
OUT = ROOT / ".bench_out"
DEADLINE_S = 170  # one run, build excluded

# what spark-submit passes on JDK 17 (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss4m"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_path.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}",
              "-cp", os.pathsep.join([str(classes), str(jars / "*")]),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(OUT)])
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {DEADLINE_S} s")
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stdout.write(proc.stdout)
        fail(f"benchmark JVM exited with {proc.returncode} after {time.time() - t0:.1f} s")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stdout.write(proc.stdout)
        fail("last line of the benchmark output is not JSON")
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"result keys {sorted(result)}")
    if list(result["metrics"]) != want:
        fail(f"metrics {list(result['metrics'])} do not match BENCHMARK.json {want}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
