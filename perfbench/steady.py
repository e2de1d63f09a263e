#!/usr/bin/env python3
"""Steadiness tool: run one workload N times and judge the spread.

    python3 perfbench/steady.py --workload catalog_short --runs 10 --out a.json
    python3 perfbench/steady.py --compare a.json b.json

Each run gets its own seed (``--seed0``, ``--seed0 + 1``, ...). For every
end-to-end metric the tool prints the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread
``(q3 - q1) / median`` against the metric's bound in BENCHMARK.json: a
spread above the bound fails, one above a third of it is flagged.
``--compare`` checks that the second set's medians are not worse than the
first's by more than each bound. The header of each set records nproc,
heap, JDK and Spark version as the runs reported them.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec, {m["name"]: m for m in spec["end_to_end"]}


def run_set(workload, runs, seconds, seed0):
    out = {"workload": workload, "seconds": seconds, "runs": [], "header": None}
    for i in range(runs):
        seed = seed0 + i
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        header = re.search(r"(nproc=\S+ heap=\S+ jdk=\S+ spark=\S+)", p.stderr)
        if header and not out["header"]:
            out["header"] = header.group(1)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"run {i} (seed {seed}) failed with exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        res["seed"] = seed
        res["wall_s"] = round(time.time() - t0, 1)
        out["runs"].append(res)
        vals = " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items())
        print(f"  run {i + 1}/{runs} seed {seed} ({res['wall_s']}s): correct={res['correct']} {vals}",
              flush=True)
    return out


def summarize(data, metrics):
    print(f"{data['workload']}: {len(data['runs'])} runs of {data['seconds']}s  [{data['header']}]")
    ok = True
    bad_runs = [r["seed"] for r in data["runs"] if not r["correct"] or r["failed"]]
    if bad_runs:
        ok = False
        print(f"  INCORRECT runs (seeds): {bad_runs}")
    print(f"  {'metric':<20} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>8} {'bound':>6}")
    for name, m in metrics.items():
        vals = [r["metrics"][name]["value"] for r in data["runs"] if name in r["metrics"]]
        if len(vals) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        spread = (q3 - q1) / med
        verdict = "ok"
        if spread > m["bound"]:
            verdict, ok = "FAIL", False
        elif spread > m["bound"] / 3:
            verdict = "wide"
        print(f"  {name:<20} {med:>10.4f} {q1:>10.4f} {q3:>10.4f} {spread:>8.3f} {m['bound']:>6} {verdict}")
    return ok


def compare(a, b, metrics):
    print(f"compare {a['workload']}: A [{a['header']}] vs B [{b['header']}]")
    ok = True
    for name, m in metrics.items():
        va = [r["metrics"][name]["value"] for r in a["runs"] if name in r["metrics"]]
        vb = [r["metrics"][name]["value"] for r in b["runs"] if name in r["metrics"]]
        if not va or not vb:
            continue
        ma, mb = statistics.median(va), statistics.median(vb)
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        verdict = "ok" if worse <= m["bound"] else "WORSE"
        ok &= verdict == "ok"
        print(f"  {name:<20} A {ma:>10.4f}  B {mb:>10.4f}  worse by {worse:+.3f} (bound {m['bound']}) {verdict}")
    return ok


def main():
    ap = argparse.ArgumentParser(description="Run a workload N times; judge spread and drift.")
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    spec, metrics = bench_spec()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f))
        ok = all(summarize(s, metrics) for s in sets) & compare(sets[0], sets[1], metrics)
    else:
        if not args.workload:
            ap.error("--workload or --compare is required")
        data = run_set(args.workload, args.runs, args.seconds or spec["run_seconds"], args.seed0)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(data, f, indent=1)
        ok = summarize(data, metrics)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
