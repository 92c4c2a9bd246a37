#!/usr/bin/env python3
"""Run perfbench/run.py over several seeds and summarize each metric.

    python3 perfbench/sweep.py [--workloads a,b] [--seeds 1-10] [--seconds S] [--trace 0|1]

Run from the repository root. For every workload and end-to-end metric
it prints the median, the quartiles (statistics.quantiles, n=4), n, and
the spread (q3 - q1) / median next to the metric's bound in
BENCHMARK.json. fail_frac, which is not a declared metric because it is 0
when all is well, is printed from each run's detail line. With --trace 1
every seed also gets a traced run: the per-layer metrics are printed the
same way, and trace.overhead is the median pass_s of the traced runs over
that of the untraced runs. The last stdout line is the whole summary as
JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(w, seed, seconds, trace):
    """One run.py run -> (detail line, result line)."""
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{w} seed {seed} trace {trace}: run failed ({p.returncode})")
    detail, last = json.loads(lines[-2]), json.loads(lines[-1])
    print(f"[sweep] {w} seed {seed} trace {trace} ({time.time() - t:.0f} s): " + " ".join(
        f"{k}={m['value']:.4g}" for k, m in last["metrics"].items()), file=sys.stderr, flush=True)
    return detail, last


def table(values, bounds):
    """Prints median, quartiles, n and spread per metric; -> the rows."""
    rows = {}
    print(f"  {'metric':34} {'unit':6} {'median':>11} {'q1':>11} {'q3':>11} {'n':>3} {'spread':>7} {'bound':>6}")
    for k, (unit, xs) in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        rows[k] = {"unit": unit, "median": med, "q1": q1, "q3": q3, "n": len(xs), "spread": spread}
        print(f"  {k:34} {unit:6} {med:11.4f} {q1:11.4f} {q3:11.4f} {len(xs):3d} {spread:7.3f} "
              f"{'' if b is None else b:>6}")
    return rows


def main():
    spec = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for w in a.workloads.split(","):
        values = {0: {}, 1: {}}
        passes = {0: [], 1: []}
        fails, correct = [], True
        for s in seeds(a.seeds):
            for trace in range(a.trace + 1):
                detail, last = run(w, s, a.seconds, trace)
                correct &= last["correct"]
                fails.append(detail["end_to_end"]["fail_frac"]["value"])
                passes[trace].append(detail["end_to_end"]["pass_s"]["value"])
                for k, m in last["metrics"].items():
                    values[trace].setdefault(k, (m["unit"], []))[1].append(m["value"])
        print(f"\n{w}  (correct on every run: {correct}; fail_frac median "
              f"{statistics.median(fails):.3g}, max {max(fails):.3g}, n={len(fails)})")
        rows = table(values[0], bounds)
        if a.trace:
            rows.update(table(values[1], bounds))
            overhead = statistics.median(passes[1]) / statistics.median(passes[0])
            print(f"  {'trace.overhead':34} {'ratio':6} {overhead:11.4f}")
            rows["trace.overhead"] = {"unit": "ratio", "median": overhead}
        rows["fail_frac"] = {"unit": "ratio", "median": statistics.median(fails), "max": max(fails),
                             "n": len(fails)}
        summary[w] = {"correct": correct, "metrics": rows}
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
