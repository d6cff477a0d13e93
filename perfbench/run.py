"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark program (perfbench/build.py), runs one
workload in one JVM at local[4], and prints the program's sample, weather and
check lines followed, as the last line, by the result object
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer metrics (a
layer the workload does not run reports 0). Spans of traced runs are written
to .bench_build/perfbench/trace/. Exits non-zero, printing no result, when
the build, the run or the metric set fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "2g"
RUN_TIMEOUT_S = 170
# layers a workload never calls; their per-layer metrics read 0 there
ABSENT = {
    "bulk-cluster": ("snapshots.", "delta."),
    "delta-ingest": ("pairs.", "connected_components."),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    if a.workload not in ABSENT:
        fail(f"unknown workload {a.workload}")
    try:
        with open("BENCHMARK.json") as fh:
            spec = json.load(fh)
    except OSError as e:
        fail(f"run from the checkout root: {e}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build.build()
    out = os.path.join(build.OUT, "run")
    # scratch of earlier runs (shuffle files, snapshots, dumps) is not reused
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    here = os.path.dirname(os.path.abspath(__file__))
    # a fixed heap; no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
           "-Dlog4j.configurationFile=" + os.path.join(here, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", os.path.abspath(build.OUT)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        fail(f"benchmark JVM exited with code {proc.returncode}")
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        fail(f"last output line is not a result: {lines[-1][:200]}")
    metrics = result["metrics"]
    for m in wanted:
        if m["name"] not in metrics:
            if a.trace and m["name"].startswith(ABSENT[a.workload]):
                metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
            else:
                fail(f"metric {m['name']} missing")
        elif metrics[m["name"]]["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {metrics[m['name']]['unit']}, not {m['unit']}")
    extra = set(metrics) - {m["name"] for m in wanted}
    if extra:
        fail(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    result["metrics"] = {m["name"]: metrics[m["name"]] for m in wanted}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
