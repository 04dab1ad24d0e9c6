"""Steadiness of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py --workload store_lifecycle --runs 10 [--sets 2]
    python3 perfbench/steady.py --smoke

Runs perfbench/run.py --runs times on one workload, each with another seed,
and prints for each end-to-end metric of BENCHMARK.json the median, the
quartiles and the spread (interquartile range over the median) next to the
metric's bound, marking a spread wider than the bound (setup_s included,
though the acceptance rule exempts its spread). With --sets 2 it runs a
second set on the same seeds and shows the other acceptance criterion: the
two medians may not differ by more than the bound, in either direction (a
set that moved faster would later read as a gain). It also checks that the share of failed
operations is the same in every run. --smoke instead runs every workload
once on smoke-size inputs with every check (about a minute and a half, the
benchmark's own test: per-run overhead, not data, sets its length).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, size="full", trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--size", size]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def summary(results, spec):
    stats = {}
    for m in spec:
        values = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        stats[m["name"]] = (q1, statistics.median(values), q3,
                            (q3 - q1) / statistics.median(values))
    return stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=[1, 2])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.smoke:
        for w in bench["workloads"]:
            r, err = run(w["name"], 1, 1, size="smoke")
            print(err, end="")
            print(f"{w['name']}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}")
            if not r["correct"]:
                sys.exit(1)
        return
    spec = bench["end_to_end"]
    sets = []
    for s in range(a.sets):
        results = []
        for i in range(a.runs):
            seed = a.first_seed + i
            r, _ = run(a.workload, seed, bench["run_seconds"])
            results.append(r)
            print(f"set {s + 1} seed {seed}: failed {r['failed']}/{r['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        shares = {(r["failed"], r["attempted"]) for r in results}
        if len({f / n for f, n in shares}) != 1:
            print(f"FAILED-SHARE DIFFERS between runs: {sorted(shares)}")
        sets.append(summary(results, spec))
    print(f"\n{a.workload}: {a.runs} runs per set")
    print(f"{'metric':<14}{'q1':>11}{'median':>11}{'q3':>11}{'spread':>9}{'bound':>7}"
          + ("  2nd/1st median" if a.sets == 2 else ""))
    for m in spec:
        q1, med, q3, spread = sets[0][m["name"]]
        ok = "ok" if spread <= m["bound"] else "WIDE"
        line = (f"{m['name']:<14}{q1:>11.4g}{med:>11.4g}{q3:>11.4g}{spread:>9.3f}"
                f"{m['bound']:>7.2f} {ok}")
        if a.sets == 2:
            med2 = sets[1][m["name"]][1]
            moved = abs(med2 - med) / med
            line += f"  {med2 / med:.3f} {'ok' if moved <= m['bound'] else 'MOVED'}"
        print(line)


if __name__ == "__main__":
    main()
