#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload llm_curate --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the program and the
driver from source into .bench_build/ (scalac from the Spark jars, no
sbt); later runs reuse the build while the sources are unchanged. Each
run generates its inputs under .bench_build/work/, starts one driver
JVM, checks every op's output, removes its inputs and prints the
metrics, the last line being one JSON object. README.md in this
directory explains the workloads and metrics.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import store  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    """Spark's jars (the Scala compiler among them): $SPARK_HOME/jars, or
    the jars the pyspark package ships."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


JARS = _spark_jars()
WORKLOADS = ("llm_curate", "store_cdc")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)       # the metric names and units reported
# Task threads per workload, measured on a 4-vCPU box (README.md,
# "Sizing"): local[4] was not faster than local[2] on either workload, as
# task threads contend with the JIT, GC and driver threads; llm_curate
# ran 15-30 % faster at local[1] than at local[2], store_cdc 10-25 %
# slower.
CORES = {w: min(n, os.cpu_count() or 1) for w, n in (("llm_curate", 1), ("store_cdc", 2))}
# The window is whole passes, --seconds / PASS_SECONDS of them (7 of
# llm_curate, 2 of store_cdc at 15 s; a warm pass takes about 3 s and
# 8-12 s). A fixed count keeps the op mix and the window's place on the
# warm-up curve the same in every run; windows cut by the clock got 3
# passes on slow runs and 4 on fast ones. A store_cdc pass holds 52
# reads, so its two passes give the 100 reads that put ten beyond p90.
PASS_SECONDS = {"llm_curate": 2.1, "store_cdc": 7.5}
RUN_LIMIT_S = 160          # the driver JVM is killed after this
JVM_HEAP = "2g"            # initial and maximum: no heap resizing in the window
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build():
    """Compiles src/main/scala and perfbench/src into one class directory
    keyed by the sources' hash; returns it."""
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala", 2)
    if not glob.glob(os.path.join(JARS, "scala-compiler*.jar")):
        fail(f"no Spark jars with a Scala compiler in {JARS}; set SPARK_HOME", 2)
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(JARS, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", tmp] + main + bench
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed:\n" + p.stdout[-4000:], 3)
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, out)
    return out


def stage_fixtures():
    """The constant input tables, generated once per checkout."""
    with open(os.path.join(HERE, "fixtures.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:16]
    out = os.path.join(BUILD, "fixtures-" + tag)
    if not os.path.exists(os.path.join(out, ".complete")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        fixtures.write(tmp)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return out


def drive(classes, work, data, args, t0, spans):
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss4m", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
           + ["-cp", f"{classes}:{os.path.join(JARS, '*')}", "perfbench.Driver",
              "--workload", args.workload, "--work", work, "--data", data, "--seed", str(args.seed),
              "--passes", str(max(1, round(args.seconds / PASS_SECONDS[args.workload]))),
              "--trace", str(args.trace),
              "--cores", str(CORES[args.workload]), "--t0", str(int(t0 * 1e6)), "--spans", spans])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "driver.log")
    left = RUN_LIMIT_S - (time.time() - t0)
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=max(5, left))
        except subprocess.TimeoutExpired:
            fail("driver exceeded the run time limit", 5)
    if p.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        fail(f"driver exited with {p.returncode}:\n{tail}", 4)
    with open(os.path.join(work, "ops.jsonl")) as fh:
        return [json.loads(line) for line in fh]


def wall_ms(o):
    return (o["t1"] - o["t0"]) / 1000.0


def check(workload, recs, work, data, script):
    """Marks every op record right or wrong; returns notes for the report."""
    ops = sorted((r for r in recs if r["type"] == "op"), key=lambda r: r["id"])
    notes = []
    if workload == "store_cdc":
        replay = store.Replay(work, data, script)
        for o in ops:
            o["right"], o["rows_changed"] = replay.apply(o)
        reads = [o for o in ops if o["kind"] == "read" and o["ok"]]
        notes.append(f"check: {sum(o['right'] for o in reads)}/{len(reads)} reads "
                     "equal the DuckDB replay of the writes that succeeded")
    else:
        con = oracle.connect(data)
        ref = {}
        for o in ops:
            if o["phase"] == "cold":
                ref.setdefault(o["name"], o)       # the first run of each query
        bad = {n: (oracle.check(con, r) if r["ok"] else "failed: " + r["err"])
               for n, r in ref.items()}
        for o in ops:
            o["right"] = bad[o["name"]] is None and o.get("digest") == ref[o["name"]].get("digest")
        notes.append(f"check: {sum(v is None for v in bad.values())}/{len(bad)} distinct ops "
                     "equal the DuckDB oracle; timed ops compared to those results")
        notes += [f"  wrong {n}: {v}" for n, v in sorted(bad.items()) if v]
    threw = collections.Counter()
    first_err = {}
    for o in ops:
        if not o["ok"]:
            name = ".".join(filter(None, (o["table"], o["name"])))
            threw[name] += 1
            first_err.setdefault(name, o["err"])
    notes += [f"  threw {n} (x{c}): {first_err[n]}" for n, c in sorted(threw.items())]
    return ops, notes


def end_to_end(ops, setup):
    plain = [o for o in ops if o["phase"] == "window" and not o["traced"]]
    attempted, failed, ratio = stats.outcome(plain, lambda o: o["right"])
    reads = [wall_ms(o) for o in plain if o["kind"] == "read" and o["ok"]]
    m = {"setup_s": (setup["t_first_op"] - setup["t0"]) / 1e6,
         "ops_per_s": stats.median_pass_rate(plain),
         "read_p50_ms": stats.percentile(reads, 0.5),
         "read_p90_ms": stats.percentile(reads, 0.9),
         "correct_ratio": ratio}
    notes = [f"setup: {(setup['t_session'] - setup['t0']) / 1e6:.1f} s to a Spark session, "
             f"{(setup['t_first_op'] - setup['t_session']) / 1e6:.1f} s seeding and cold pass",
             f"samples: {len(reads)} reads; {stats.beyond(len(reads), 0.9)} beyond p90 "
             f"(highest percentile with {stats.MIN_BEYOND} beyond: "
             f"{stats.highest_resolved_percentile(len(reads))})"]
    return m, attempted, failed, notes


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# per-op counters the driver records for a traced op, reported as means
OP_MEANS = {
    "ops.build_jobs": "build_jobs", "plan.graft_rules_ms": "graft_rules_ms",
    "plan.exchanges": "exchanges", "plan.cached_scans": "cached_scans",
    "codegen.compiles": "codegen_compiles", "codegen.compile_ms": "codegen_ms",
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.task_run_ms": "task_run_ms", "exec.task_cpu_ms": "task_cpu_ms",
    "exec.task_gc_ms": "task_gc_ms", "exec.task_wait_ms": "task_wait_ms",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.shuffle_read_bytes": "shuffle_read_bytes", "exec.spill_bytes": "spill_bytes",
    "exec.input_bytes": "input_bytes", "cache.blocks_written": "blocks_written",
    "jvm.gc_ms": "gc_ms"}


def per_layer(workload, ops, recs, spans_path):
    traced = [o for o in ops if o["phase"] == "window" and o["traced"]]
    plain = [o for o in ops if o["phase"] == "window" and not o["traced"]]
    with open(spans_path) as fh:
        spans = [json.loads(line) for line in fh]
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    n = len(traced)
    selfs, phases, job_self = {}, {}, 0.0
    for o in traced:
        ss = by_trace.get(o["id"], [])
        own = stats.self_times(ss)
        for s in ss:
            us = own.get(s["id"], 0)
            selfs[s["layer"]] = selfs.get(s["layer"], 0.0) + us / 1000.0
            if s["name"] == "job":
                job_self += us / 1000.0
            if s["layer"] == "plan":
                phases[s["name"]] = phases.get(s["name"], 0.0) + (s["end"] - s["start"]) / 1000.0
    g = next(r["values"] for r in recs if r["type"] == "layers")
    k = next(r["values"] for r in recs if r["type"] == "kernels")
    wall = sum(wall_ms(o) for o in traced)
    m = {name: _mean(o[key] for o in traced) for name, key in OP_MEANS.items()}
    m.update({f"kernel.{name}": k[name] for name in (
        "minhash_ns_per_doc", "simhash_ns_per_doc", "chargrams_ns_per_doc",
        "shingles_ns_per_doc", "dot_product_ns_per_row")})
    m.update({
        "ops.build_ms": _mean((o["tb"] - o["t0"]) / 1000.0 for o in traced),
        "plan.analysis_ms": phases.get("analysis", 0.0) / n,
        "plan.optimization_ms": phases.get("optimization", 0.0) / n,
        "plan.planning_ms": phases.get("planning", 0.0) / n,
        "exec.core_busy_ratio": sum(o["task_run_ms"] for o in traced) / (CORES[workload] * wall),
        "exec.driver_ms": job_self / n,
        "cache.peak_bytes": g["cache_peak_bytes"],
        "jvm.heap_live_mb": g["heap_live_mb"],
        "self.op_wall_ms": wall / n,
        "trace.overhead_pct": 100.0 * ((len(plain) / sum(wall_ms(o) for o in plain))
                                       / (n / wall) - 1.0),
        "trace.spans_per_op": len(spans) / n,
    })
    for layer in ("ops", "plan", "exec", "store", "collect"):
        m[f"self.{layer}_ms"] = selfs.get(layer, 0.0) / n
    m.update(store_layer(workload, ops, recs, traced))
    return m


STORE_KINDS = ("insert", "merge", "update", "delete", "maintenance")
STORE_METRICS = ([f"store.{t}.{k}_ms" for t in store.TABLES for k in STORE_KINDS]
                 + ["store.commit_ms", "store.files_added", "store.files_removed",
                    "store.bytes_written", "store.metadata_bytes_written", "store.live_files",
                    "store.dv_files", "store.scan_bytes_ratio", "store.snapshots_per_write",
                    "store.write_p50_ms", "store.write_p90_ms", "store.write_bytes_per_row",
                    "store.space_amp"])


def store_layer(workload, ops, recs, traced):
    """The store layer; 0 on workloads that never touch the store."""
    if workload != "store_cdc":
        return dict.fromkeys(STORE_METRICS, 0.0)
    m = {}
    for t in store.TABLES:
        for k in STORE_KINDS:
            m[f"store.{t}.{k}_ms"] = _mean(
                wall_ms(o) for o in traced if o["table"] == t and
                (o["name"] == k or (k == "maintenance" and o["kind"] == "maintenance")))
    writes = [o for o in traced if o["kind"] != "read"]
    done = [o for o in writes if o["ok"]]
    m["store.commit_ms"] = _mean(o["commit_ms"] for o in done)
    m["store.files_added"], m["store.files_removed"] = stats.file_churn(writes)
    ever_live = set().union(*(o["live"] for o in writes))
    created = [(p, s) for o in writes for p, s in o["created"]]
    m["store.bytes_written"] = sum(s for _, s in created) / max(1, len(writes))
    m["store.metadata_bytes_written"] = (sum(s for p, s in created if p not in ever_live)
                                         / max(1, len(writes)))
    end = next(r for r in recs if r["type"] == "store_end")
    m["store.live_files"] = sum(len(v) for v in end["live"].values())
    m["store.dv_files"] = sum(1 for p, _ in end["files"] if ".dv." in p)
    sizes = dict(end["files"])
    ratios, live_of = [], {}
    for o in traced:
        if o["kind"] != "read":
            live_of[o["table"]] = o["live"]
        elif o["ok"] and live_of.get(o["table"]):
            live_bytes = sum(sizes.get(p, 0) for p in live_of[o["table"]])
            if live_bytes:
                ratios.append(max(0, o["read_bytes"] - o["shuffle_read_bytes"]) / live_bytes)
    m["store.scan_bytes_ratio"] = _mean(ratios)
    window = [o for o in ops if o["phase"] == "window"]
    first = {}
    for o in window:
        if o["name"] == "asof":
            first.setdefault(o["table"], o["asof"])
    ok_writes = sum(1 for o in window if o["kind"] != "read" and o["ok"])
    m["store.snapshots_per_write"] = (sum(end["versions"][t] - v for t, v in first.items())
                                      / max(1, ok_writes))
    lat = [wall_ms(o) for o in window if not o["traced"] and o["kind"] != "read" and o["ok"]]
    m["store.write_p50_ms"] = stats.percentile(lat, 0.5)
    m["store.write_p90_ms"] = stats.percentile(lat, 0.9)
    m["store.write_bytes_per_row"] = stats.write_bytes_per_row(
        [o for o in window if o["kind"] != "read"], sum(o["rows_changed"] for o in window))
    m["store.space_amp"] = stats.space_amp(
        end["files"], [p for v in end["live"].values() for p in v])
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    classes = build()
    data = stage_fixtures()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spans = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    try:
        script = store.write_script(work, data, args.seed) if args.workload == "store_cdc" else None
        t0 = time.time()          # the program's set-up is timed from here
        recs = drive(classes, work, data, args, t0, spans)
        ops, notes = check(args.workload, recs, work, data, script)
        setup = next(r for r in recs if r["type"] == "setup")
        e2e, attempted, failed, more = end_to_end(ops, setup)
        notes += more
        metrics = per_layer(args.workload, ops, recs, spans) if args.trace else e2e
        if args.trace:
            notes.append(f"spans: {os.path.relpath(spans, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    declared = SPEC["per_layer" if args.trace else "end_to_end"]
    if set(metrics) != {d["name"] for d in declared}:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ {d['name'] for d in declared})}", 6)
    correct = not any(o["ok"] and not o["right"] for o in ops)
    for line in notes:
        print(line)
    for d in declared:
        print(f"{d['name']:34s} {metrics[d['name']]:16.4f} {d['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {d["name"]: {"value": float(metrics[d["name"]]), "unit": d["unit"]}
                                  for d in declared}}))


if __name__ == "__main__":
    main()
