#!/usr/bin/env python3
"""Collects benchmark runs and compares two sets of them.

Collect one set (one JSON line per run) over seeds 1..10, every
workload of BENCHMARK.json at its run_seconds:

    python3 perfbench/compare.py collect --out a.jsonl --seeds 1-10

Compare two sets, per workload and metric: each side's median and
quartiles, its spread (quartile distance as a share of the median), and
whether B's median is worse than A's by more than the metric's bound in
BENCHMARK.json. With one file, prints that set's spreads against the
bounds instead. Exits 1 when a bound is broken.

    python3 perfbench/compare.py a.jsonl b.jsonl
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    lo, _, hi = text.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def collect(a):
    b = spec()
    seconds = b["run_seconds"]
    with open(a.out, "a") as out:
        for w in (w["name"] for w in b["workloads"]):
            for s in seeds(a.seeds):
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)]
                r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = r.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if lines else None
                out.write(json.dumps({"workload": w, "seed": s, "trace": a.trace,
                                      "exit": r.returncode, "result": result}) + "\n")
                out.flush()
                print(f"{w} seed {s}: exit {r.returncode}", file=sys.stderr)


def load(path):
    """workload -> metric -> [values], plus run and failure counts."""
    runs = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            w = runs.setdefault(rec["workload"], {"metrics": {}, "runs": 0, "bad": 0})
            w["runs"] += 1
            res = rec["result"]
            if rec["exit"] != 0 or not res or not res["correct"]:
                w["bad"] += 1
                continue
            for name, m in res["metrics"].items():
                w["metrics"].setdefault(name, []).append(m["value"])
    return runs


def summary(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v, 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med if med else float("inf")


def fmt(x):
    return f"{x:.4g}"


def report(paths):
    b = spec()
    bounds = {m["name"]: m for m in b["end_to_end"]}
    sets = [load(p) for p in paths]
    broken = False
    for w in sorted(set().union(*sets)):
        print(f"\n== {w}  " + "  ".join(
            f"{chr(65 + i)}: {s.get(w, {}).get('runs', 0)} runs, {s.get(w, {}).get('bad', 0)} failed"
            for i, s in enumerate(sets)))
        if any(s.get(w, {}).get("bad", 0) for s in sets):
            broken = True
        names = sorted(set().union(*(s.get(w, {}).get("metrics", {}) for s in sets)),
                       key=lambda n: (n not in bounds, n))
        for name in names:
            cols = []
            stats = []
            for s in sets:
                vals = s.get(w, {}).get("metrics", {}).get(name)
                if not vals:
                    cols.append("-")
                    stats.append(None)
                    continue
                q1, med, q3, spread = summary(vals)
                stats.append((med, spread))
                cols.append(f"{fmt(med)} [{fmt(q1)}, {fmt(q3)}] spread {spread:.3f}")
            verdict = ""
            m = bounds.get(name)
            if m and all(stats):
                bound = m["bound"]
                notes = []
                for i, (_, spread) in enumerate(stats):
                    if name == "setup_s":
                        continue  # only its median drift is bounded
                    if spread > bound:
                        notes.append(f"{chr(65 + i)} spread above bound")
                        broken = True
                    elif spread > bound / 3:
                        notes.append(f"{chr(65 + i)} spread above bound/3")
                if len(stats) == 2:
                    a_med, b_med = stats[0][0], stats[1][0]
                    worse = (b_med - a_med) / a_med if m["better"] == "lower" else (a_med - b_med) / a_med
                    notes.insert(0, f"B worse by {worse:.3f}" if worse > 0 else f"B better by {-worse:.3f}")
                    if worse > bound:
                        notes.append("REGRESSION")
                        broken = True
                verdict = f"bound {bound}: " + ("; ".join(notes) or "ok")
            print(f"  {name:32s} " + "  |  ".join(cols) + (f"  |  {verdict}" if verdict else ""))
    return 1 if broken else 0


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "collect":
        ap = argparse.ArgumentParser(prog="compare.py collect")
        ap.add_argument("--out", required=True)
        ap.add_argument("--seeds", default="1-10")
        ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
        collect(ap.parse_args(sys.argv[2:]))
        return 0
    ap = argparse.ArgumentParser(description="Compare benchmark result sets.")
    ap.add_argument("files", nargs="+")
    a = ap.parse_args()
    if len(a.files) > 2:
        ap.error("give one or two result files")
    return report(a.files)


if __name__ == "__main__":
    sys.exit(main())
