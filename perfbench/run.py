"""Benchmark of graft: one seeded workload, one JVM, one Spark session.

    python3 perfbench/run.py --workload store_lifecycle --seed 1 --seconds 10 --trace 0

Builds graft and the driver (perfbench/build.py), generates the workload's
inputs from the seed (perfbench/gen.py), runs the driver, checks its outputs
against independent computations (perfbench/check.py) and prints, as the
last line of stdout, one JSON object: correct, attempted, failed and the
metrics listed in BENCHMARK.json (end-to-end with --trace 0, per-layer with
--trace 1). A per-op summary goes to stderr. Exit code 0 on a completed
run; another code, with no result line, if the run could not complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170          # a run ends within this, build excluded

# ops that fail on every run because of a known program fault, with the
# start of the one check message that fault gives. Such an op is counted in
# `failed` and leaves the run correct only if it never threw, gave the same
# output in every round and failed that check alone; any other failure of it
# makes the run incorrect.
KNOWN_FAILURES = {
    "store_lifecycle": {"nb_within": "differs from nbClassifierScore on"},
}

def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def run_jvm(a, data, work, deadline):
    out = os.path.join(work, "out")
    os.makedirs(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cores = min(4, os.cpu_count() or 1)
    cmd = build.java_cmd(tmp, f"-XX:SharedArchiveFile={build.ARCHIVE}") + [
        "--workload", a.workload, "--in", os.path.join(data, "inputs"),
        "--out", out, "--work", os.path.join(work, "run"),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"driver did not finish within {DEADLINE_S}s", log)
        finally:
            if p.poll() is None:        # timed out or interrupted
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        fail(f"driver exited with code {p.returncode}", log)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), os.path.join(out, "outputs")


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(f"run: {msg}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full", choices=sorted(gen.SIZES))
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the driver JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    e2e_spec, layer_spec = metric_spec()

    build.build()
    deadline = time.time() + DEADLINE_S
    work = os.path.join(HERE, ".work", f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, a.size, data)
        t1 = time.time()
        res, outputs = run_jvm(a, data, work, deadline)
        t2 = time.time()
        problems, layer_extra = check.run(a.workload, data, outputs)
        differed = check.differing_rounds(outputs, res["ops"])
        print(f"  inputs {t1 - t0:.1f} s, driver {t2 - t1:.1f} s, checks "
              f"{time.time() - t2:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    known = KNOWN_FAILURES.get(a.workload, {})
    attempted = failed = 0
    correct = True
    for op in res["ops"]:
        name, n = op["name"], op["attempts"]
        bad = op["threw"] + differed[name]
        msgs = problems.get(name, [])
        is_known = (name in known and not bad and len(msgs) == 1
                    and msgs[0].startswith(known[name]))
        if op["threw"]:
            msgs = msgs + [f"threw in {op['threw']} of {n} rounds: {op['error']}"]
        if differed[name]:
            msgs = msgs + [f"output changed in {differed[name]} of {n} rounds"]
        fails = n if problems.get(name) else bad
        attempted += n
        failed += fails
        if fails and not is_known:
            correct = False
        status = "ok" if not fails else ("FAILED (known)" if is_known else "FAILED")
        print(f"  {name:<16} {n:>3} attempts {op['median_s']:8.3f} s  {status}",
              file=sys.stderr)
        for m in msgs:
            print(f"      {m}", file=sys.stderr)
    for name in problems:
        if name not in {op["name"] for op in res["ops"]}:
            correct = False
            print(f"  {name}: {problems[name]}", file=sys.stderr)
    print(f"  set-up {res['e2e']['setup_s']:.2f} s (session {res['session_s']:.2f} s, "
          f"initial state {res['state_s']:.2f} s, warm-up rounds {res['warmup_s']:.2f} s), "
          f"{res['timed_rounds']} timed rounds of {res['e2e']['pass_s']:.2f} s "
          f"({' '.join(f'{w:.2f}' for w in res['round_walls'])})", file=sys.stderr)

    if a.trace:
        values = dict(res["layers"], **layer_extra)
        spec = layer_spec
    else:
        values = res["e2e"]
        spec = e2e_spec
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
