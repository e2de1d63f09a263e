#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_spotify --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the harness JVM and
prints a report on stderr and one JSON line on stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones of one traced JVM. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# the first two are the benchmark's; the others are their parts, and the
# iterative catalog mix, for runs by hand (see README.md)
WORKLOADS = ["etl_spotify", "catalog_stream", "catalog_short", "stream_events", "catalog_iterative"]
STREAM_FILES_PER_PASS = 2
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s")]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def heap_size():
    """MemTotal / 2, clamped to 2..8 GiB (the repo's tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log("building engine and harness (sbt, first run only)")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export perfbench/Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(os.path.join(WORK, "build.log")) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit(f"build failed (exit {rc}); see {WORK}/build.log")
    log(f"built in {time.time() - t0:.0f}s")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1]


def catalog_tables():
    """The catalog tables depend on no run seed: generate them once per checkout."""
    import gen
    cat = os.path.join(WORK, f"catalog-sf{gen.CATALOG_SF}-{gen.CATALOG_SEED}")
    if not os.path.exists(os.path.join(cat, "DONE")):
        shutil.rmtree(cat, ignore_errors=True)
        gen.catalog(cat)
        open(os.path.join(cat, "DONE"), "w").close()
    return cat


def make_inputs(workload, seed, run_dir):
    """Generate the run's inputs into ``run_dir/inputs``, with
    ``expected.json``: what the harness must find in the outputs."""
    import gen
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    expected = {}
    if workload.startswith("catalog"):
        with open(os.path.join(HERE, "expected_catalog.json")) as f:
            fps = {q: v["fingerprint"] for q, v in json.load(f)["queries"].items()}
        expected.update(catalog_dir=catalog_tables(), fingerprints=fps)
    if workload == "etl_spotify":
        raw = os.path.join(inputs, "bulk_raw.json")
        expected.update(bulk_raw=raw, bulk=gen.bulk_raw(raw, seed))
    if workload in ("stream_events", "catalog_stream"):
        ev = gen.events(os.path.join(inputs, "events"), seed)
        ev["files"] = [os.path.join("events", f) for f in ev["files"]]
        ev["files_per_pass"] = STREAM_FILES_PER_PASS
        expected["events"] = ev
    with open(os.path.join(inputs, "expected.json"), "w") as f:
        json.dump(expected, f)
    return inputs


def run_jvm(cp, args, run_dir, inputs):
    """Run the harness JVM to completion; return what it measured."""
    os.makedirs(os.path.join(run_dir, "tmp"))
    heap = heap_size()
    out_json = os.path.join(run_dir, "result.json")
    # the JIT settings the engine's own build runs with (default tiered
    # compilation, 1g code cache)
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(nproc()), "--heap", heap,
              "--work", run_dir, "--inputs", inputs, "--out", out_json])
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        launch_ms = int(time.time() * 1000)
        proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)], cwd=run_dir,
                                stdout=jlog, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_json):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = [l for l in f.read().splitlines() if " INFO " not in l][-25:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"harness JVM failed ({rc})")
    with open(out_json) as f:
        return json.load(f)


def quantile(xs, q):
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "mb" in name.replace(".", "_").split("_"):
        return "MB"
    if name.endswith(("ratio", "util", "share")):
        return "ratio"
    return "count"


def cpu_times():
    """(steal, total) jiffies of all CPUs, to show how much of a run the
    hypervisor took away; None where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return None


def report(name, unit, xs):
    if xs:
        log(f"  {name:<24} {statistics.median(xs):>12.4f} {unit:<6} n={len(xs)}")


def main():
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in ("build.sbt", "src/main/scala/graft/SparkEntry.scala")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"engine sources not found next to the benchmark: {missing}")

    cp = build()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        inputs = make_inputs(args.workload, args.seed, run_dir)
        log(f"inputs for {args.workload} seed {args.seed} in {time.time() - t0:.1f}s")
        cpu0 = cpu_times()
        r = run_jvm(cp, args, run_dir, inputs)
        cpu1 = cpu_times()
        if args.trace:
            spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
            shutil.move(os.path.join(run_dir, "spans.json"), spans)
            log(f"spans written to {spans}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    env = r["env"]
    log(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"nproc={env['nproc']} heap={env['heap']} jdk={env['jdk']} spark={env['spark']}")
    log(f"  set-up phases {r['setup_phases']}; measured {r['measure_s']:.1f}s over {r['passes']} passes; "
        f"end-of-run checks {r['check_s']:.1f}s")
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        log(f"  cpu steal during the run: {100 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]):.1f}%")
    attempted, failed = int(r["attempted"]), int(r["failed"])
    for msg in r["failures"]:
        log(f"  FAILED {msg}")
    samples = r["samples"]
    metrics = {}
    if args.trace:
        layers = r["layers"]
        for k, v in layers.items():
            metrics[k] = {"value": v if v is not None else 0.0, "unit": unit_of(k)}
        log(f"tracing overhead: {layers['trace.overhead_s']:+.4f} s per pass "
            f"({100 * layers['trace.overhead_share']:+.1f}%): traced passes "
            f"{r['traced_pass_s']} s, untraced {r['pass_s']} s")
        log("self time by layer over the traced passes (s):")
        for k, v in r["self_s"].items():
            log(f"  {k:<28} {v:10.4f}")
        log("per-layer metrics:")
        for k, v in layers.items():
            log(f"  {k:<28} {v!s:>14} {unit_of(k)}")
    else:
        op = samples.get(r["op_key"], [])
        values = {"setup_s": r["setup_s"], "pass_s": statistics.median(r["pass_s"]),
                  "op_p50_s": statistics.median(op)}
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
        log("end-to-end (medians):")
        report("setup_s", "s", [r["setup_s"]])
        report("pass_s", "s", r["pass_s"])
        report(f"op_p50_s ({r['op_key']})", "s", op)
        for key, name, unit in [("etl_daily_s", "etl_daily_s", "s"), ("etl_bulk_s", "etl_bulk_s", "s"),
                                ("query_s", "query_p50_s", "s"), ("batch_s", "batch_p50_s", "s"),
                                ("stream_events_per_s", "stream_events_per_s", "1/s")]:
            report(name, unit, samples.get(key, []))
            # a p90 needs ten samples beyond it
            if key in ("query_s", "batch_s") and len(samples.get(key, [])) >= 100:
                log(f"  {name.replace('p50', 'p90'):<24} {quantile(samples[key], 0.9):>12.4f} s      "
                    f"n={len(samples[key])}")
        log(f"  {'error_rate':<24} {failed / max(attempted, 1):>12.4f} ratio  n={attempted}")
        log(f"  {'peak_live_heap_mb':<24} {r['peak_live_heap_mb']:>12.1f} MB")
        for k in sorted(samples):
            if k.endswith(".pass_s"):
                log(f"  {k:<24} " + " ".join(f"{x:.3f}" for x in samples[k]))
        slow = sorted(((statistics.median(v), k[6:]) for k, v in samples.items()
                       if k.startswith("query.")), reverse=True)
        if slow:
            log("  queries, slowest first: " + ", ".join(f"{q} {t:.3f}s" for t, q in slow))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
