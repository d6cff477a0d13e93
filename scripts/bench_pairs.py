"""Paired A/B runs of the repo benchmark between two checkouts.

    python3 scripts/bench_pairs.py PARENT_DIR CHANGE_DIR --workload bulk-cluster \
        --seeds 101,102,103 --seconds 10 [--jsonl runs.jsonl]

For each seed it runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0` once in each checkout, one run at a time, alternating
which side goes first (even pairs parent first, odd pairs change first). It
prints one line per run: side, seed, exit code, wall seconds, the end-to-end
metrics and the steal and sys seconds of the run's `setup` sample. Then, per
metric, each side's median and quartiles and the number of pairs the change
won (by the metric's `better` direction in BENCHMARK.json). A run that exits
non-zero or prints no result is reported and counts as a loss for its side.
Each child is waited for before the next one starts.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    rec = {"exit": proc.returncode, "wall_s": round(time.monotonic() - t0, 1),
           "metrics": {}, "setup": {}, "correct": None}
    for line in proc.stdout.splitlines():
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        if obj.get("sample") == "setup":
            rec["setup"] = {k: obj.get(k) for k in ("wall_s", "steal_s", "sys_s")}
        elif "metrics" in obj:
            rec["metrics"] = {k: v["value"] for k, v in obj["metrics"].items()}
            rec["correct"] = obj.get("correct")
    if proc.returncode != 0:
        rec["stderr_tail"] = proc.stderr.strip().splitlines()[-3:]
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="comma-separated seed list")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--jsonl", help="also append every run record to this file")
    a = ap.parse_args()
    seeds = [int(s) for s in a.seeds.split(",") if s.strip()]
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    sides = {"parent": a.parent, "change": a.change}

    pairs = []
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            rec = run_one(sides[side], a.workload, seed, a.seconds)
            rec.update(side=side, seed=seed, pair=i, workload=a.workload)
            pair[side] = rec
            m = " ".join(f"{k}={fmt(v)}" for k, v in rec["metrics"].items())
            print(f"pair {i} seed {seed} {side:6s} exit={rec['exit']} wall={rec['wall_s']}s "
                  f"correct={rec['correct']} {m} setup_steal_s={fmt(rec['setup'].get('steal_s'))} "
                  f"setup_sys_s={fmt(rec['setup'].get('sys_s'))}", flush=True)
            if a.jsonl:
                with open(a.jsonl, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
        pairs.append(pair)

    print(f"\n{a.workload}: {len(pairs)} pairs, seeds {seeds}")
    print(f"{'metric':16s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s} {'change won':>11s}")
    for name, direction in better.items():
        vals = {s: [p[s]["metrics"][name] for p in pairs if name in p[s]["metrics"]]
                for s in sides}
        won = 0
        for p in pairs:
            c, b = p["change"]["metrics"].get(name), p["parent"]["metrics"].get(name)
            if c is not None and (b is None or (c < b if direction == "lower" else c > b)):
                won += 1
        qs = {s: "/".join(fmt(x) for x in quartiles(vals[s])) for s in sides}
        print(f"{name:16s} {qs['parent']:>28s} {qs['change']:>28s} {won:>6d}/{len(pairs)}")
    failed = [(p[s]["seed"], s, p[s]["exit"]) for p in pairs for s in sides
              if p[s]["exit"] != 0 or not p[s]["correct"]]
    print("failed or incorrect runs:", failed or "none")


if __name__ == "__main__":
    main()
