#!/usr/bin/env python3
"""Seeded benchmark of the prefix-filter Jaccard join.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py) and generates the
workload's inputs from the seed (perfbench/gen.py). Fresh JVMs time the
session set-up; the last one then runs one closed loop: one client,
local[nproc], one op at a time. Every op starts with the caches cleared
(Api.clearCache + catalog.clearCache, then an empty-persistent-RDD check),
so every op pays for every layer. Warm-up ops settle the JIT; timed ops
follow for --seconds. Each op's output is checked against the DuckDB oracle
(perfbench/oracle.py).

--trace 0 prints the end-to-end metrics. --trace 1 mixes untraced ops with
traced ones, whose layer calls run under their own Spark job groups and
spans, and prints the per-layer metrics. The last stdout line is the result
JSON; the whole run is also written as one artifact under
.bench_build/perfbench/artifacts.
"""
import argparse
import datetime
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
MB = 1 << 20
SETUP_JVMS = 1          # set-up-only JVMs per untraced run; the op JVM gives one more sample
WARMUP = 1              # untimed ops before the timed ones (README: JIT and heap settings)
MIN_TIMED = 3           # timed ops per run even when --seconds is shorter
OP_TIMEOUT_S = 60       # an op slower than this counts as failed
DEADLINE_S = 170        # the whole run, build excluded
# the JDK 17 module opens Spark needs outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions; build.sbt passes the same)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# C1 only, compiling a method after a hundredth of the usual invocations,
# with room in the code cache for all of it: op time is flat from the first
# warm op on and every JVM settles at the same speed (README, "JIT and heap
# settings").
JIT_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.01",
             "-XX:ReservedCodeCacheSize=240m"]
# these take precedence over spark.local.dir; the JVM must write only below run_dir
JVM_ENV = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
LAYERS = ["tokenize", "prep", "tail", "rs", "eval", "cache"]
TAIL_KEYS = ["t08", "t06", "t04", "t03"]
TASK_KEYS = ["jobs", "tasks", "run_ms", "cpu_ns", "max_task_ms", "shuffle_bytes", "spill_bytes",
             "gc_ms"]
RECORDS_TABLE = {"profiles_sweep": "profiles", "docs_dedup": "docs"}


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap_gb(kb):
    """Half of MemTotal, clamped to 2-8 GiB (the tier-1 test formula)."""
    return min(8, max(2, kb // 2097152))


def inputs(workload, seed):
    """Generated inputs for (workload, seed), reused while gen.py is unchanged."""
    base = os.path.join(OUT, "inputs")
    d = os.path.join(base, f"{workload}-s{seed}-{gen.source_digest()}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return d, json.load(f), True
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.perf_counter()
    m = gen.generate(workload, seed, d + ".tmp")
    m["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(d + ".tmp", "manifest.json"), "w") as f:
        json.dump(m, f, indent=1)
    os.replace(d + ".tmp", d)
    # keep the input cache small: the most recent dozen seeds per workload
    old = sorted((os.path.getmtime(os.path.join(base, x)), x) for x in os.listdir(base)
                 if x.startswith(workload + "-"))
    for _, x in old[:-12]:
        shutil.rmtree(os.path.join(base, x), ignore_errors=True)
    return d, m, False


def jvm_flags(heap):
    """A fixed heap, touched at start-up so that no op pays first-touch page
    faults, and the JIT mode."""
    return [f"-Xms{heap}g", f"-Xmx{heap}g", "-XX:+AlwaysPreTouch"] + JIT_FLAGS


def jvm(classpath, heap, run_dir, args, log, timeout):
    """Run one benchmark JVM to completion; returns its output with its
    set-up split into `jvm_s` (spawn until main), `session_s` (until the
    session is up) and `inputs_s` (until the inputs are registered)."""
    n = sum(f.startswith("out-") for f in os.listdir(run_dir))
    out = os.path.join(run_dir, f"out-{n}.json")
    cmd = (["java"] + jvm_flags(heap) + ADD_OPENS +
           build.java_env(os.path.join(run_dir, "tmp")) +
           [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "perfbench.PerfBench", "--out", out,
            "--local-dir", os.path.join(run_dir, "spark-local"),
            "--warehouse", os.path.join(run_dir, "warehouse")] + args)
    spawn_us = time.time_ns() // 1000
    try:
        r = subprocess.run(cmd, cwd=ROOT, env=JVM_ENV, stdout=log, stderr=subprocess.STDOUT,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: JVM exceeded the run deadline; log: {log.name}")
    if r.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: JVM failed with exit code {r.returncode}; log: {log.name}")
    with open(out) as f:
        res = json.load(f)
    res["jvm_s"] = (res["main_us"] - spawn_us) / 1e6
    res["session_s"] = (res["session_us"] - res["main_us"]) / 1e6
    res["inputs_s"] = (res["ready_us"] - res["session_us"]) / 1e6
    res["setup_s"] = (res["ready_us"] - spawn_us) / 1e6
    return res


def git_revision():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def delta(op, k):
    return op["after"][k] - op["before"][k]


def metric(values, unit):
    """A metric's median, with its p90 and sample count for the artifact."""
    values = list(values)
    p90 = statistics.quantiles(values, n=10)[-1] if len(values) > 1 else values[0]
    return {"value": statistics.median(values), "unit": unit, "p90": p90, "n": len(values)}


def end_to_end(sessions):
    """Every JVM gives a set-up sample; the last one also ran the ops."""
    timed = [o for o in sessions[-1]["ops"] if o["timed"]]
    return {
        "op_s": metric([o["wall_s"] for o in timed], "s"),
        "cpu_s": metric([delta(o, "cpu_ns") / 1e9 for o in timed], "s"),
        "setup_s": metric([r["setup_s"] for r in sessions], "s"),
        "shuffle_mb": metric([delta(o, "shuffle_bytes") / MB for o in timed], "MB"),
        "cache_mb": metric([o["cache_bytes"] / MB for o in timed], "MB"),
    }


def task_metrics(prefix, t, wall, nproc):
    """The task-metric block every layer reports, from summed task metrics."""
    return {
        f"{prefix}.wall_s": (wall, "s"),
        f"{prefix}.cpu_s": (t["cpu_ns"] / 1e9, "s"),
        f"{prefix}.busy_frac": (t["run_ms"] / 1e3 / (nproc * wall) if wall > 0 else 0.0, "ratio"),
        f"{prefix}.jobs": (t["jobs"], "count"),
        f"{prefix}.tasks": (t["tasks"], "count"),
        f"{prefix}.max_task_s": (t["max_task_ms"] / 1e3, "s"),
        f"{prefix}.shuffle_mb": (t["shuffle_bytes"] / MB, "MB"),
        f"{prefix}.spill_mb": (t["spill_bytes"] / MB, "MB"),
        f"{prefix}.gc_s": (t["gc_ms"] / 1e3, "s"),
    }


def per_layer(res, nproc, records):
    """Per-layer metrics of the traced op with the median wall time, so that
    its layer self-times plus trace.unaccounted_s add up to op.wall_s. A
    span's self time is its duration minus its child spans'; a layer's
    wall_s is the self time of its spans."""
    timed = [o for o in res["ops"] if o["timed"]]
    traced = sorted((o for o in timed if o["traced"]), key=lambda o: o["wall_s"])
    untraced = [o["wall_s"] for o in timed if not o["traced"]]
    o = traced[(len(traced) - 1) // 2]
    spans = [s for s in res["spans"] if s["op"] == o["id"]]
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    self_s = {s["id"]: dur[s["id"]] - sum(dur[c["id"]] for c in spans if c["parent"] == s["id"])
              for s in spans}
    v = {}
    for layer in LAYERS:
        ls = [s for s in spans if s["layer"] == layer]
        t = {k: sum(s["metrics"].get(k, 0) for s in ls) for k in TASK_KEYS}
        t["max_task_ms"] = max([s["metrics"].get("max_task_ms", 0) for s in ls], default=0)
        v.update(task_metrics(layer, t, sum(self_s[s["id"]] for s in ls), nproc))
        v[f"{layer}.rows_out"] = (sum(s["rows"] for s in ls), "rows")
    for k in TAIL_KEYS:
        ts = [s for s in spans if s["layer"] == "tail" and s["key"] == k]
        v[f"tail.{k}.wall_s"] = (sum(self_s[s["id"]] for s in ts), "s")
        v[f"tail.{k}.rows_out"] = (sum(s["rows"] for s in ts), "rows")
    ex = o["extras"]
    values = ex.get("prep.values", 0)
    v["prep.values"] = (values, "count")
    v["prep.token_rows"] = (ex.get("prep.token_rows", 0), "count")
    v["prep.dedupe_ratio"] = (values / records if records else 0, "ratio")
    v["prep.cache_mb"] = (ex.get("prep.cache_bytes", 0) / MB, "MB")
    v["rs.l_indexing"] = (o["outputs"].get("l_indexing", [0])[0], "bool")
    v["rs.cache_mb"] = (ex.get("rs.cache_bytes", 0) / MB, "MB")
    evals = [val for k, val in o["outputs"].items() if k.endswith(".eval")]
    for i, name in enumerate(["tp", "fp", "fn"]):
        v[f"eval.{name}"] = (sum(e[i] for e in evals), "count")
    v["cache.released"] = (ex.get("cache.released", 0), "count")
    v.update(task_metrics("setup", res["setup_tasks"], res["setup_s"], nproc))
    v["setup.rows_out"] = (0, "rows")
    for k in ("jvm_s", "session_s", "inputs_s"):
        v[f"setup.{k}"] = (res[k], "s")
    root = next(s for s in spans if s["layer"] == "op")
    children = [s for s in spans if s["parent"] == root["id"]]
    op_t = {k: delta(o, k) for k in TASK_KEYS}
    op_t["max_task_ms"] = max(s["metrics"].get("max_task_ms", 0) for s in children)
    v.update(task_metrics("op", op_t, dur[root["id"]], nproc))
    v["op.rows_out"] = (sum(s["rows"] for s in children if s["layer"] in ("tail", "rs")), "rows")
    v["op.plan_s"] = (o["plan_ms"] / 1e3, "s")
    v["op.codegen_compiles"] = (o["codegen_compiles"], "count")
    v["trace.unaccounted_s"] = (self_s[root["id"]], "s")
    v["trace.overhead_s"] = (statistics.median(x["wall_s"] for x in traced) -
                             statistics.median(untraced), "s")
    out = {k: {"value": val, "unit": unit, "n": 1} for k, (val, unit) in v.items()}
    out["trace.overhead_s"]["n"] = len(traced)
    return out, o["id"]


def check(ops, want):
    """Mark each op failed on an exception, a timeout, a warm start or an
    oracle mismatch; returns the number failed."""
    failed = 0
    for o in ops:
        why = []
        if o["error"]:
            why.append("exception: " + o["error"])
        if o["wall_s"] > OP_TIMEOUT_S:
            why.append("timeout")
        if not o["cold_ok"]:
            why.append("started warm")
        if not o["error"] and o["outputs"] != want:
            why.append("oracle mismatch")
        o["failed"] = why
        failed += bool(why)
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so subprocess.run kills and reaps the running JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    t_start = time.perf_counter()
    classpath = build.build()
    build_s = time.perf_counter() - t_start
    data_dir, manifest, inputs_cached = inputs(a.workload, a.seed)
    nproc = len(os.sched_getaffinity(0))
    mem_kb = mem_total_kb()
    heap = heap_gb(mem_kb)

    run_dir = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    common = ["--workload", a.workload, "--data", data_dir, "--nproc", str(nproc),
              "--trace", str(a.trace)]
    run = ["--mode", "run", "--warmup", str(WARMUP), "--seconds", str(a.seconds),
           "--min-timed", str(max(MIN_TIMED, 4 * a.trace))]
    deadline = time.perf_counter() + DEADLINE_S
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        sessions = [jvm(classpath, heap, run_dir, common + ["--mode", "setup"], log,
                        deadline - time.perf_counter())
                    for _ in range(0 if a.trace else SETUP_JVMS)]
        sessions.append(jvm(classpath, heap, run_dir, common + run, log,
                            deadline - time.perf_counter()))
    res = sessions[-1]

    t0 = time.perf_counter()
    want, oracle_cached = oracle.expected(
        data_dir, sorted(manifest["rows"]), res["oracle"], res["digest_exprs"],
        manifest["digest"], os.path.join(OUT, "oracle"))
    oracle_s = time.perf_counter() - t0
    ops = res["ops"]
    failed = check(ops, want)

    traced_op = None
    if a.trace:
        records = manifest["rows"].get(RECORDS_TABLE.get(a.workload, ""), 0)
        metrics, traced_op = per_layer(res, nproc, records)
    else:
        metrics = end_to_end(sessions)

    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "git_revision": git_revision(), "source_stamp": open(os.path.join(OUT, "classes.stamp")).read(),
        "host": {"nproc": nproc, "mem_total_kb": mem_kb, "heap_gb": heap},
        "jvm_flags": jvm_flags(heap), "spark_version": res["spark_version"],
        "session": res["confs"], "max_heap_bytes": res["max_heap_bytes"],
        "inputs": {"digest": manifest["digest"], "rows": manifest["rows"], "shape": manifest["shape"],
                   "gen_s": manifest["gen_s"], "cached": inputs_cached},
        "build_s": build_s, "oracle_s": oracle_s, "oracle_cached": oracle_cached,
        "sessions": [{k: r[k] for k in ("setup_s", "jvm_s", "session_s", "inputs_s")}
                     for r in sessions],
        "warmup_ops": WARMUP, "attempted": len(ops), "failed": failed,
        "error_rate": failed / len(ops), "traced_op": traced_op,
        "metrics": metrics, "expected": want, "ops": ops, "spans": res.get("spans", []),
    }
    art_dir = os.path.join(OUT, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{artifact['utc'].replace(':', '')}.json"
    with open(os.path.join(art_dir, name), "w") as f:
        json.dump(artifact, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    for o in ops:
        if o["failed"]:
            print(f"op {o['id']} failed: {'; '.join(o['failed'])}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                                  for k, m in metrics.items()}}))


if __name__ == "__main__":
    main()
