"""Pure functions of the benchmark: seeded inputs, percentiles, span
arithmetic and the metrics computed from one run's raw record.

Nothing here starts a process or reads a file, so the benchmark's own
tests (perfbench/tests) exercise it directly.
"""

import hashlib
import math
import random
import statistics

# A percentile is reported as supported only when at least this many
# samples lie above it; below that, a single slow sample moves it.
MIN_ABOVE = 10


# ---- seeded inputs ---------------------------------------------------

def _rng(*parts):
    digest = hashlib.sha256("/".join(str(p) for p in parts).encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def pass_orders(workload, ops, seed, passes):
    """The operation order of each pass: pass 0 is the cold pass, the rest
    are steady passes. Query workloads get a fresh permutation per pass;
    `store` keeps its listed order (its seed drives the values instead)."""
    orders = []
    for p in range(passes):
        order = list(ops)
        if workload != "store":
            _rng(workload, seed, p).shuffle(order)
        orders.append(order)
    return orders


def pass_count(seconds, spec, min_passes, trace):
    """(warm-up passes, steady passes) of a run. The steady passes fill
    `seconds` at the pass time pinned for the workload, at least
    `min_passes`; the count, not a clock, ends the run, so every commit
    measures the same work. A traced run has at least one warm-up pass
    and then untraced, traced, traced, untraced."""
    steady = max(min_passes, round(seconds / spec["pass_seconds"]))
    if trace:
        return max(spec["warm_passes"], 1), max(steady, 4)
    return spec["warm_passes"], steady


def store_inputs(spec, seed):
    """Seed-derived parameters of the store arrays. Every cell's value is
    a SQL expression of its index: a seeded 64-bit hash scaled to [-1, 1],
    and for a seeded share of the cells that value quantized to 1/64
    steps, which the codecs compress well. `+ 0.0` turns -0.0 into 0.0 so
    that equality checks on read-back are exact."""
    rng = _rng("store", seed)
    value_seed = rng.randrange(1, 2**31)
    mix_seed = rng.randrange(1, 2**31)
    lo, hi = spec["quantized_share"]
    share = round(lo + (hi - lo) * rng.random(), 4)
    per_mille = int(round(share * 1000))

    def value_sql(index):
        u = f"(CAST(xxhash64({index}, {value_seed}) AS DOUBLE) / 9.223372036854775807E18)"
        return (f"IF(pmod(xxhash64({index}, {mix_seed}), 1000) < {per_mille}, "
                f"round({u} * 64) / 64 + 0.0, {u} + 0.0)")

    d0, d1, d2 = spec["nd_shape"]
    nd_index = f"(c0 * {d1 * d2} + c1 * {d2} + c2)"
    return {
        "cells": spec["cells"], "chunk": spec["chunk"], "inner": spec["inner"],
        "nd_shape": spec["nd_shape"], "nd_chunks": spec["nd_chunks"],
        "nd_inner": spec["nd_inner"], "quantized_share": per_mille / 1000,
        "value_sql": value_sql("idx"), "nd_value_sql": value_sql(nd_index),
    }


# ---- statistics ------------------------------------------------------

def quantile(values, q):
    """Linear-interpolated quantile (numpy's default), or None if empty."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_quantile(values, q, min_above=MIN_ABOVE):
    """The quantile, or None when fewer than `min_above` samples lie above
    it: such a percentile rests on a handful of samples and is refused."""
    v = quantile(values, q)
    if v is None or sum(1 for x in values if x > v) < min_above:
        return None
    return v


def median(values):
    return statistics.median(values) if values else None


# ---- intervals and spans ---------------------------------------------

def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(window, intervals):
    """Length of `window` covered by the union of `intervals`."""
    ws, we = window
    return union_length([(max(s, ws), min(e, we)) for s, e in intervals])


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover. `spans` are (id, parent, name, start, end) tuples;
    returns {id: self_time}."""
    children = {}
    for sid, parent, _name, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    return {sid: (end - start) - covered((start, end), children.get(sid, []))
            for sid, _parent, _name, start, end in spans}


def self_time_by_name(spans):
    """Total self time per span name."""
    own = self_times(spans)
    out = {}
    for sid, _parent, name, _start, _end in spans:
        out[name] = out.get(name, 0) + own[sid]
    return out


# ---- metrics of one run ------------------------------------------------

def steady_passes(raw, traced):
    return [p for p in raw["passes"] if p["kind"] == "steady" and p["traced"] == traced]


def cold_pass(raw):
    return next(p for p in raw["passes"] if p["kind"] == "cold")


def pass_time(p):
    """Wall time of a pass: the sum of its operations' timed parts. A
    failed operation adds nothing, and is counted in `failed` instead."""
    return sum(op["wall_s"] for op in p["ops"] if op["ok"])


def events(p, kind):
    """Listener events of a pass: kept per pass on untraced passes and
    per operation on traced ones."""
    return p.get(kind, []) + [e for op in p["ops"] for e in op.get(kind, [])]


def outcome(raw):
    """(attempted, failed, names of the failed operations with reasons)."""
    ops = [op for p in raw["passes"] for op in p["ops"]]
    failed = [op for op in ops if not op["ok"]]
    reasons = {}
    for op in failed:
        reasons.setdefault(op["name"], op.get("error", ""))
    return len(ops), len(failed), reasons


def _rate(amount, seconds):
    return amount / seconds if seconds else None


def end_to_end(raw):
    """The end-to-end metrics every workload has, from an untraced run,
    plus the sample counts behind them. Only steady untraced passes give
    timings."""
    steady = steady_passes(raw, traced=False)
    lat = [op["wall_s"] for p in steady for op in p["ops"] if op["ok"]]
    attempted, failed, _ = outcome(raw)
    values = {
        "setup_s": raw["setup_s"],
        "cold_pass_s": pass_time(cold_pass(raw)),
        "pass_s": median([pass_time(p) for p in steady]),
        "latency_p50_s": quantile(lat, 0.5),
        "latency_p90_s": quantile(lat, 0.9),
        "heap_live_peak_mb": raw["heap_live_peak_mb"],
    }
    samples = {
        "latency": (len(lat), supported_quantile(lat, 0.9) is not None),
        "passes": len(steady),
        "failed_frac": failed / attempted if attempted else None,
    }
    return values, samples


# End-to-end metrics that exist on one workload only, with their units:
# they are printed in that workload's report and are not in the JSON
# line, which carries the same metrics on every workload.
WORKLOAD_METRICS = {
    "stream": {"batch_p50_ms": "ms", "batch_p90_ms": "ms"},
    "store": {"write_mb_per_s": "MB/s", "read_mb_per_s": "MB/s"},
}


def workload_metrics(raw):
    """The end-to-end metrics of the run's own workload, if it has any:
    micro-batch `triggerExecution` time on `stream`, raw array MB per
    second of the write and of the read on `store`. Returns (values,
    sample count)."""
    steady = steady_passes(raw, traced=False)
    if raw["workload"] == "stream":
        ms = [b["durations"]["triggerExecution"] for p in steady
              for b in events(p, "batches") if "triggerExecution" in b["durations"]]
        return {"batch_p50_ms": quantile(ms, 0.5), "batch_p90_ms": quantile(ms, 0.9)}, len(ms)
    if raw["workload"] == "store":
        ops = [op for p in steady for op in p["ops"] if op["ok"]]
        moved = sum(op["raw_bytes"] for op in ops) / 1e6
        return {"write_mb_per_s": _rate(moved, sum(op["write_s"] for op in ops)),
                "read_mb_per_s": _rate(moved, sum(op["read_s"] for op in ops))}, len(ops)
    return {}, 0


def op_counters(op):
    """The work counts of one traced operation: they do not depend on
    timing, so two traced runs of the same code and seed must repeat them
    exactly."""
    return {
        "build.jobs": sum(1 for j in op.get("jobs", []) if j[1] == "build"),
        "sched.jobs": len(op.get("jobs", [])),
        "sched.stages": len(op.get("stages", [])),
        "sched.tasks": len(op.get("tasks", [])),
        "plan.exchanges": op.get("plan", {}).get("exchanges", 0),
        "exec.shuffle_write_bytes": sum(t[5] for t in op.get("tasks", [])),
    }


EXACT_COUNTERS = ("build.jobs", "sched.jobs", "sched.stages", "sched.tasks", "plan.exchanges")


def counter_table(raw):
    """{pass index: {operation: counters}} over the traced steady passes."""
    return {p["index"]: {op["name"]: op_counters(op) for op in p["ops"] if op["ok"]}
            for p in steady_passes(raw, traced=True)}


def counter_diff(a, b):
    """Differences between two {operation: counters} tables, as text lines:
    exact counters must match; shuffle bytes are compared too and any
    difference is reported with its size."""
    lines = []
    for name in sorted(set(a) | set(b)):
        ca, cb = a.get(name), b.get(name)
        if ca is None or cb is None:
            lines.append(f"{name}: present in only one run")
            continue
        for k in EXACT_COUNTERS + ("exec.shuffle_write_bytes",):
            if ca[k] != cb[k]:
                lines.append(f"{name}: {k} {ca[k]} vs {cb[k]}")
    return lines


def _op_windows(op):
    """The parts of an operation in which the engine runs actions."""
    return [tuple(w) for w in op.get("windows", [])]


def layer_pass(p, k):
    """Per-layer totals of one traced pass."""
    ops = [op for op in p["ops"] if op["ok"]]
    m = {}
    m["build.s"] = sum(op.get("build_s", 0.0) for op in ops)
    jobs = [j for op in ops for j in op.get("jobs", [])]
    build_jobs = [j for j in jobs if j[1] == "build"]
    m["build.jobs"] = len(build_jobs)
    m["build.job_s"] = sum(j[3] - j[2] for j in build_jobs) / 1e9
    for key in ("analysis_ms", "optimization_ms", "planning_ms"):
        m["catalyst." + key] = sum(op.get("catalyst", {}).get(key, 0.0) for op in ops)
    for key in ("exchanges", "broadcasts", "joins", "codegen_stages"):
        m["plan." + key] = sum(op.get("plan", {}).get(key, 0) for op in ops)
    tasks_by_op = [op.get("tasks", []) for op in ops]
    tasks = [t for ts in tasks_by_op for t in ts]
    m["sched.jobs"] = len(jobs)
    m["sched.stages"] = sum(len(op.get("stages", [])) for op in ops)
    m["sched.tasks"] = len(tasks)
    action_wall = 0.0
    action_task = 0.0
    gap = 0.0
    busy = 0.0
    for op, ts in zip(ops, tasks_by_op):
        intervals = [(t[1], t[2]) for t in ts]
        for w in _op_windows(op):
            length = w[1] - w[0]
            run = covered(w, intervals)
            action_wall += length
            gap += length - run
            action_task += sum(max(0, min(t[2], w[1]) - max(t[1], w[0])) for t in ts)
        busy += covered(tuple(op["span"]), intervals)
    m["sched.gap_s"] = gap / 1e9
    m["exec.task_s"] = sum(t[2] - t[1] for t in tasks) / 1e9
    m["exec.cpu_s"] = sum(t[3] for t in tasks) / 1e9
    m["exec.gc_s"] = sum(t[4] for t in tasks) / 1e3
    m["exec.shuffle_write_bytes"] = sum(t[5] for t in tasks)
    m["exec.shuffle_read_bytes"] = sum(t[6] for t in tasks)
    m["exec.spill_bytes"] = sum(t[7] for t in tasks)
    m["exec.input_bytes"] = sum(t[8] for t in tasks)
    m["exec.core_util"] = action_task / (action_wall * k) if action_wall else 0.0
    wall = sum(op["wall_s"] for op in ops)
    m["exec.busy_frac"] = busy / 1e9 / wall if wall else 0.0
    m["pass.wall_s"] = wall
    for op in ops:
        if "raw_bytes" in op:
            f = "sources." + op["name"]
            m[f + ".write_s"] = op["write_s"]
            m[f + ".read_s"] = op["read_s"]
            m[f + ".stored_ratio"] = op["stored_bytes"] / op["raw_bytes"]
            m[f + ".objects"] = op["objects"]
    batches = [b for op in ops for b in op.get("batches", [])]
    if not batches:
        return m
    m["stream.batches"] = len(batches)
    for key, name in (("queryPlanning", "planning_ms"), ("walCommit", "wal_ms"),
                      ("addBatch", "add_batch_ms")):
        m["stream." + name] = sum(b["durations"].get(key, 0) for b in batches)
    m["stream.state_commit_ms"] = sum(b["commit_ms"] for b in batches)
    last = {}
    for b in batches:
        if b["run"] not in last or b["batch"] > last[b["run"]]["batch"]:
            last[b["run"]] = b
    m["stream.state_rows"] = sum(b["state_rows"] for b in last.values())
    return m


def per_layer(raw):
    """Every per-layer metric of a traced run: the median over its traced
    steady passes of each pass's totals, the JVM counters of the cold
    pass, the host probes, and the tracing overhead: the median traced
    steady pass against the median untraced one interleaved with them,
    each on the pass's own clock, so the traced side includes the
    listener, the listener-bus drains and the collection of events and
    plan statistics."""
    k = raw["k"]
    traced = [layer_pass(p, k) for p in steady_passes(raw, traced=True)]
    keys = sorted({key for t in traced for key in t})
    m = {key: median([t.get(key, 0.0) for t in traced]) for key in keys}
    jvm = raw["jvm_cold"]
    m["jvm.jit_ms"] = jvm["jit_ms"]
    m["jvm.gc_ms"] = jvm["gc_ms"]
    m["jvm.codecache_mb"] = jvm["codecache_mb"]
    m["codegen.compile_ms"] = jvm["codegen_compile_ms"]
    m["codegen.compiles"] = jvm["codegen_compiles"]
    m["host.probe_ms"] = raw["probe_ms"]
    m["host.probe_par_ms"] = raw["probe_par_ms"]
    # a pass's own clock, which on traced passes includes the tracing work
    plain = median([p["wall_s"] for p in steady_passes(raw, traced=False)])
    with_trace = median([p["wall_s"] for p in steady_passes(raw, traced=True)])
    m["trace.overhead_frac"] = with_trace / plain - 1.0 if plain else 0.0
    return m, self_time_by_name(trace_spans(raw)), len(traced)


def trace_spans(raw):
    """The full span tree of a traced run as (id, parent, name, start, end):
    the harness's own spans of the traced steady passes (pass/op/build/
    action, write/read/check) plus, below them, the Spark jobs and stages and the streaming
    micro-batches the listeners saw. A job hangs under the part of its
    operation that submitted it (a replay's jobs under the micro-batch
    running when they started), a stage under the job that listed it
    first."""
    steady = {s[0] for s in raw.get("spans", []) if s[2] == "pass" and s[3].startswith("steady")}
    spans = []
    for s in raw.get("spans", []):  # parents come before children
        if s[0] in steady or s[1] in {x[0] for x in spans}:
            spans.append((s[0], s[1], s[2], s[4], s[5]))
    by_parent = {}
    for sid, parent, name, _s, _e in spans:
        by_parent.setdefault(parent, {})[name] = sid
    next_id = max((s[0] for s in spans), default=0) + 1
    for p in steady_passes(raw, traced=True):
        for op in p["ops"]:
            if "op_span" not in op:
                continue
            parts = dict(by_parent.get(op["op_span"], {}))
            if "read" in parts:  # a store read has its own build/action parts
                parts.update(by_parent.get(parts["read"], {}))
            batches = []
            for b in op.get("batches", []):
                dur = b["durations"].get("triggerExecution", 0) * 1_000_000
                batches.append((next_id, b["start"], b["start"] + dur))
                spans.append((next_id, parts.get("build", op["op_span"]), "batch",
                              b["start"], b["start"] + dur))
                next_id += 1
            job_of_stage = {}
            for j in sorted(op.get("jobs", []), key=lambda j: j[0]):
                parent = parts.get(j[1], op["op_span"])
                parent = next((bid for bid, bs_, be in batches if bs_ <= j[2] <= be), parent)
                spans.append((next_id, parent, "job", j[2], j[3]))
                for st in j[4]:
                    job_of_stage.setdefault(st, next_id)
                next_id += 1
            for st in op.get("stages", []):
                spans.append((next_id, job_of_stage.get(st[0], op["op_span"]), "stage",
                              st[1], st[2]))
                next_id += 1
    return spans
