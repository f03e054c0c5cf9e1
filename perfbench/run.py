#!/usr/bin/env python3
"""Benchmark of the graft engine.

    python3 perfbench/run.py --workload floor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and
the measuring harness (perfbench/harness, an sbt project that depends on
the engine's build) into `.bench_build/`; later runs reuse that build
while the sources are unchanged. Every run starts one fresh JVM in an
emptied `.bench_work/`, which also holds the engine's scratch files
(replay staging, checkpoints, stores). The JVM runs the workload's
operations with one client thread on `local[k]`: set-up, one cold pass,
warm-up passes, then a fixed number of steady passes that take about
`--seconds` at this commit. Every answer is checked. The last line of
stdout is one JSON object: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`.
The workloads, their inputs and the session settings are pinned in
perfbench/workloads.json; perfbench/README.md explains them.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchstats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
HARNESS = os.path.join(HERE, "harness")
# the engine files the harness compiles against; without them there is
# nothing to measure
ENGINE_FILES = ("build.sbt", "project/build.properties",
                "src/main/scala/graft/SparkEntry.scala")
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 700
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def fail(message):
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(2)


# ---- build -------------------------------------------------------------

def source_fingerprint():
    """Hash of the path, size and mtime of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    """Offline sbt, resolving from the local caches only."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def classpath():
    """The harness's runtime classpath, building first if the sources
    changed since the last build in this checkout."""
    stamp_path = os.path.join(BUILD_DIR, "build.json")
    fp = source_fingerprint()
    try:
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp["fingerprint"] == fp and all(
                os.path.exists(p) for p in stamp["classpath"].split(os.pathsep)):
            return stamp["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(BUILD_DIR, exist_ok=True)
    log_path = os.path.join(BUILD_DIR, "sbt.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 # sbt's own state (boot, zinc, server) stays in the checkout
                 f"-Dsbt.global.base={os.path.join(BUILD_DIR, 'sbt')}",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HARNESS, env=sbt_env(), stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                stderr=log, text=True, timeout=BUILD_DEADLINE_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_DEADLINE_S} s; see {log_path}")
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if "scala-2.13/classes" in ln]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(stamp_path, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


# ---- one run -----------------------------------------------------------

def make_plan(cfg, args, data_dir):
    spec = cfg["workloads"][args.workload]
    warm, steady = benchstats.pass_count(args.seconds, spec, cfg["min_passes"], args.trace)
    orders = benchstats.pass_orders(args.workload, spec["ops"], args.seed, 1 + warm + steady)
    k = min(cfg["session"]["max_cores"], len(os.sched_getaffinity(0)))
    plan = {
        "workload": args.workload, "trace": bool(args.trace), "data_dir": data_dir,
        "work_dir": WORK_DIR, "master": f"local[{k}]", "confs": cfg["session"]["confs"],
        "cold": orders[0], "warm_passes": warm,
        "passes": orders[1:],
        "expected": {op: cfg["answers"][op] for op in spec["ops"] if op in cfg["answers"]},
        "store": None,
    }
    if args.workload == "store":
        plan["store"] = benchstats.store_inputs(spec["arrays"], args.seed)
    return plan


def run_jvm(cp, cfg, plan, started):
    """Run the harness in a fresh JVM and return its raw record."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    stream = os.path.join(WORK_DIR, "stream")
    for d in (tmp, stream, os.path.join(WORK_DIR, "store")):
        os.makedirs(d)
    plan_path = os.path.join(WORK_DIR, "plan.json")
    raw_path = os.path.join(WORK_DIR, "raw.json")
    log_path = os.path.join(WORK_DIR, "jvm.log")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{cfg['session']['heap']}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", f"-Dgraft.stream.tmpdir={stream}",
            "-cp", cp, "perfbench.Main", plan_path, raw_path])
    left = RUN_DEADLINE_S - (time.monotonic() - started)
    with open(log_path, "w") as log:
        launched_ns = time.time_ns()
        proc = subprocess.Popen(cmd, cwd=WORK_DIR, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(left, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the run did not finish within {RUN_DEADLINE_S} s; see {log_path}")
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the measuring JVM exited with {code}; see {log_path}")
    with open(raw_path) as f:
        raw = json.load(f)
    # set-up runs from the launch of the JVM to the start of its cold pass
    raw["setup_s"] = (raw["cold_start_epoch_ns"] - launched_ns) / 1e9
    return raw


# ---- report ------------------------------------------------------------

def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report_end_to_end(raw, units):
    values, samples = benchstats.end_to_end(raw)
    n_lat, p90_ok = samples["latency"]
    print(f"  steady passes: {samples['passes']}, operation samples: {n_lat}, "
          f"measured {raw['measured_s']:.1f} s after a {raw['jit_drain_s']:.1f} s JIT drain")
    print(f"  host probes: single {raw['probe_ms']:.0f} ms, parallel {raw['probe_par_ms']:.0f} ms")
    if not p90_ok:
        print(f"  latency_p90_s rests on {n_lat} samples, fewer than "
              f"{benchstats.MIN_ABOVE} above it: read it as indicative")
    print(f"  failed_frac {fmt(samples['failed_frac'])}")
    for name, unit in units.items():
        print(f"  {name:<20} {fmt(values.get(name)):>12} {unit}")
    own, n = benchstats.workload_metrics(raw)
    for name, unit in benchstats.WORKLOAD_METRICS.get(raw["workload"], {}).items():
        print(f"  {name:<20} {fmt(own.get(name)):>12} {unit}   "
              f"(this workload only, report only; {n} samples)")
    return values


def report_counters(raw, workload, seed):
    """Print the counter diffs between the traced passes of this run, and
    against the previous traced run of the same workload and seed."""
    table = benchstats.counter_table(raw)
    passes = sorted(table)
    for a, b in zip(passes, passes[1:]):
        diff = benchstats.counter_diff(table[a], table[b])
        print(f"  counters, traced pass {a} vs {b}: " + ("; ".join(diff) or "identical"))
    if not passes:
        return
    path = os.path.join(BUILD_DIR, "counters", f"{workload}-{seed}.json")
    current = table[passes[-1]]
    if os.path.exists(path):
        with open(path) as f:
            diff = benchstats.counter_diff(json.load(f), current)
        print("  counters vs the previous traced run of this seed: " +
              ("; ".join(diff) or "identical"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(current, f)


def report_per_layer(raw, units, workload, seed):
    values, self_time, n_traced = benchstats.per_layer(raw)
    print(f"  traced steady passes: {n_traced} (per-layer values are their medians)")
    print("  self time per traced pass: " + ", ".join(
        f"{k} {v / 1e9 / n_traced:.3f} s"
        for k, v in sorted(self_time.items(), key=lambda kv: -kv[1])))
    wall = values["pass.wall_s"]
    print(f"  share of the traced pass: build {values['build.s'] / wall:.1%}, "
          f"sched.gap {values['sched.gap_s'] / wall:.1%}, "
          f"some task running {values['exec.busy_frac']:.1%}")
    report_counters(raw, workload, seed)
    for key in sorted(values):
        marker = "" if key in units else "   (report only)"
        print(f"  {key:<40} {fmt(values[key]):>14}{marker}")
    return values


def main():
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    missing = [f for f in ENGINE_FILES if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        fail("the engine's sources are not in this checkout (missing " +
             ", ".join(missing) + ")")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: " + ", ".join(cfg["workloads"]))
    data_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser(cfg["data_dir"]))
    if args.workload != "store" and not os.path.isdir(data_dir):
        fail(f"query data not found at {data_dir} (set SPARK_GRAFT_SF_DIR)")

    cp = classpath()
    started = time.monotonic()  # the build is not part of the run's deadline
    raw = run_jvm(cp, cfg, make_plan(cfg, args, data_dir), started)

    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"k={raw['k']}")
    attempted, failed, reasons = benchstats.outcome(raw)
    for name, why in sorted(reasons.items()):
        print(f"  FAILED {name}: {why}")
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[kind]}
    if args.trace:
        values = report_per_layer(raw, units, args.workload, args.seed)
    else:
        values = report_end_to_end(raw, units)
    absent = [k for k in units if values.get(k) is None]
    if absent:
        fail("no value for " + ", ".join(absent))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
