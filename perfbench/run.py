#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
harness (perfbench/build.py). Each run then, inside `.bench_build/`:

  1. generates its inputs from the seed (perfbench/gen_tables.py; the ETL
     corpus is rendered by the JVM from the generated `orders` table);
  2. runs the harness JVM (perfbench/src/perfbench/Main.scala) with the
     workload: set-up and warm-up, timed passes for --seconds (at least
     three), checks;
  3. for the query workloads, compares every result the first timed pass
     consumed against DuckDB with tools/check.py;
  4. prints one detail record, then, as the last line, the result:
     {"correct", "attempted", "failed", "metrics"} with the end-to-end
     metrics (--trace 0) or the per-layer metrics (--trace 1).

An operation fails when it throws or when its output check fails; a failed
operation is counted in "failed" and never contributes a timing: a pass
holding one is left out, and without a pass left the run reports no pass
metrics.
`--workload all` runs every workload in turn and ends with a table.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen_tables  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["etl_load", "etl_capped", "tpch22", "iterative7"]
QUERY_WORKLOADS = {"tpch22", "iterative7"}
# Scale of the inputs (TPC-H-style sf). A loop query costs mostly one Spark
# job per round step, so an iterative7 pass takes about 8 s at sf 0.002 and
# 11 s at sf 0.01 on 4 cores; the smaller inputs let its run, with three
# timed passes, fit the benchmark's time budget.
SF = {"iterative7": 0.002}
DEFAULT_SF = 0.01
# ETL corpus: one line per order at DEFAULT_SF, repeated, cut into ALB objects.
ETL_REPEATS, ETL_OBJECTS = 2, 32
HEAP = "3g"
# A pass during which the hypervisor gave more than this share of the CPUs
# to other guests (steal, /proc/stat) timed the neighbours as much as the
# program: the end-to-end metrics use the run's other passes, if any.
QUIET_STEAL = 0.03
# A run ends within this many seconds of its build, or exits without a result.
DEADLINE_S = 170
# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes).
ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]]


def left_s(deadline):
    return max(1.0, deadline - time.monotonic())


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    if len(s) < 11:
        return None
    return {"value": s[-11], "percentile": round(100.0 * (len(s) - 10) / len(s), 1),
            "samples": len(s)}


def run_jvm(workload, seed, seconds, trace, work, classes, deadline):
    classpath = build.classpath([classes])
    data = work / "data"
    tables = None if workload in QUERY_WORKLOADS else ["orders"]
    gen_tables.generate(data, SF.get(workload, DEFAULT_SF), seed, tables or gen_tables.TABLES)
    (work / "tmp").mkdir()
    traces = build.BUILD / "traces"
    traces.mkdir(exist_ok=True)
    out = work / "record.json"
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-cp", classpath, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--cpus", cpus,
           "--data", str(data), "--work", str(work), "--out", str(out),
           "--spans", str(traces / f"{workload}-seed{seed}.spans.jsonl"),
           "--etl_repeats", str(ETL_REPEATS), "--etl_objects", str(ETL_OBJECTS)]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                               cwd=work, timeout=left_s(deadline) - 10)
            ok = r.returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    if not ok or not out.is_file():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        raise SystemExit(f"perfbench: {workload} harness failed")
    return json.loads(out.read_text())


def check_queries(rec, work, deadline):
    """tools/check.py over the session's result dump; returns per-query verdicts."""
    names = sorted({o["name"] for p in rec["passes"] for o in p["ops"]})
    r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(work / "data"),
                        rec["dump_dir"], *names], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, cwd=work, timeout=left_s(deadline),
                       env={**os.environ, "TMPDIR": str(work / "tmp")})
    verdict = {n: "not checked" for n in names}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[1].rstrip(":") in verdict:
            verdict[parts[1].rstrip(":")] = "ok" if parts[0] == "OK" else line.strip()
    for n, e in rec.get("dump_failures", {}).items():
        verdict[n] = f"dump failed: {e}"
    return verdict


def end_to_end(rec, passes, items):
    m = {"setup_s": (rec["setup_s"], "s"), "live_heap_mb": (rec["live_heap_mb"], "MB")}
    if passes:
        ps = median([p["s"] for p in passes])
        m["pass_s"] = (ps, "s")
        m["items_per_s"] = (items / ps, "1/s")
    return m


def per_layer(rec, passes, lines, cpus):
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    if not traced or not untraced:
        return {}

    def pass_sum(p, key):
        return sum(o["c"].get(key, 0.0) for o in p["ops"])

    def med(key):
        return median([pass_sum(p, key) for p in traced])

    m = {f"spark.{k}": (med(k), u) for k, u in [
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("failed_tasks", "count"),
        ("task_run_s", "s"), ("task_cpu_s", "s"), ("task_queue_s", "s"),
        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB")]}
    m["spark.core_util"] = (median([pass_sum(p, "task_run_s") / (p["s"] * cpus)
                                    for p in traced]), "fraction")
    for k in ["analyze_s", "optimize_s", "physical_s"]:
        m[f"query.{k}"] = (med(k), "s")
    # the QueryDef layer: the passes' queries, or on ETL the q_parse_alb probe
    qp = rec.get("query_probe")
    for k, u in [("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s")]:
        m[f"query.{k}"] = (median([c[k] for c in qp]) if qp else med(k), u)
    # compiles over the whole run: a warm codegen cache compiles nothing in a pass
    m["query.codegen_s"] = (rec["codegen"]["codegen_s"], "s")
    m["query.codegen_classes"] = (rec["codegen"]["codegen_classes"], "count")
    m["stagecache.files_written"] = (rec["stage_cache"]["stage_files"], "count")
    m["stagecache.mb_written"] = (rec["stage_cache"]["stage_mb"], "MB")
    m["checkpoint.rdds"] = (med("ckpt_rdds"), "count")
    m["checkpoint.mb"] = (med("ckpt_mb"), "MB")
    m["jvm.gc_s"] = (med("gc_s"), "s")
    m["jvm.jit_s"] = (med("jit_s"), "s")
    m["jvm.classes_loaded"] = (med("classes_loaded"), "count")

    def probe(key):
        return median([r[key] for r in rec["probes"]])

    m["etl.list_s"] = (probe("list_s"), "s")
    m["etl.files_listed"] = (probe("files_listed"), "count")
    m["etl.read_s"] = (probe("read_s"), "s")
    m["etl.read_lines_per_s"] = (probe("lines") / probe("read_s"), "1/s")
    m["etl.parse_s"] = (probe("parse_s"), "s")
    m["etl.parse_lines_per_s"] = (probe("lines") / probe("parse_s"), "1/s")
    m["etl.ua_s"] = (probe("ua_s"), "s")
    m["etl.sink_s"] = (probe("sink_s"), "s")
    m["etl.sink_rows_per_s"] = (probe("sink_rows") / probe("sink_s"), "1/s")
    m["etl.sink_tasks"] = (probe("sink_tasks"), "count")
    etl = bool(lines)
    m["etl.jobs"] = (med("jobs") if etl else 0.0, "count")
    m["etl.input_passes"] = (med("input_records") / lines if etl else 0.0, "ratio")
    for k in ["rows_in", "rows_parsed", "rows_dropped", "rows_loaded"]:
        m[f"etl.{k}"] = (med(k), "count")

    tp, up = median([p["s"] for p in traced]), median([p["s"] for p in untraced])
    m["trace.traced_pass_s"] = (tp, "s")
    m["trace.untraced_pass_s"] = (up, "s")
    m["trace.overhead_s"] = (tp - up, "s")
    return m


def run_one(workload, seed, seconds, trace):
    work = build.BUILD / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        classes = build.ensure()
        deadline = time.monotonic() + DEADLINE_S
        rec = run_jvm(workload, seed, seconds, trace, work, classes, deadline)
        t0 = time.monotonic()
        verdict = check_queries(rec, work, deadline) if workload in QUERY_WORKLOADS else {}
        rec["check_s"] = time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # a query whose result the oracle rejects fails in every sample
    for p in rec["passes"]:
        for o in p["ops"]:
            if verdict and verdict.get(o["name"]) != "ok":
                o["ok"] = False
                o["error"] = o["error"] or verdict.get(o["name"])
    all_ops = [o for p in rec["passes"] for o in p["ops"]]
    failed = [o for o in all_ops if not o["ok"]]
    # timings come from passes without a failed operation; end-to-end ones
    # from the quiet passes among them, if any
    good_passes = [p for p in rec["passes"] if all(o["ok"] for o in p["ops"])]
    quiet = [p for p in good_passes if p["steal_share"] <= QUIET_STEAL]
    if not trace and quiet:
        good_passes = quiet
    etl = rec.get("corpus")
    lines = etl["lines"] if etl else 0
    cpus = int(rec["cpus"])
    if trace:
        metrics = per_layer(rec, good_passes, lines, cpus)
    else:
        items = lines if etl else len({o["name"] for o in all_ops})
        metrics = end_to_end(rec, good_passes, items)
    op_times = [o["s"] for p in good_passes if not p["traced"] for o in p["ops"]]
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "cpus": cpus, "sf": SF.get(workload, DEFAULT_SF), "heap": HEAP,
        "setup_s": rec["setup_s"], "session_s": rec["session_s"],
        "warmup_s": rec["warmup_s"], "corpus_gen_s": rec["corpus_gen_s"],
        "timed_s": rec["timed_s"], "steal_s": rec["steal_s"], "after_s": rec["after_s"],
        "check_s": rec["check_s"], "passes": len(rec["passes"]),
        "pass_samples_s": [p["s"] for p in rec["passes"]],
        "pass_steal_share": [p["steal_share"] for p in rec["passes"]],
        "passes_used": len(good_passes),
        "op_samples_s": {n: [o["s"] for p in rec["passes"] for o in p["ops"] if o["name"] == n]
                         for n in sorted({o["name"] for p in rec["passes"] for o in p["ops"]})},
        "op_p50_s": median(op_times) if op_times else None,
        "op_tail_s": tail(op_times),
        "peak_rss_mb": rec["peak_rss_mb"],
        "fail_ratio": len(failed) / len(all_ops) if all_ops else 1.0,
        "failures": sorted({f'{o["name"]}: {o["error"]}' for o in failed}),
        "checks": verdict or "every load read back and compared",
        "corpus": etl,
    }
    if trace:
        detail["spans"] = str((build.BUILD / "traces" / f"{workload}-seed{seed}.spans.jsonl")
                              .relative_to(ROOT))
    result = {
        "correct": not failed and bool(all_ops),
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in names:
        detail, result = run_one(w, a.seed, a.seconds, bool(a.trace))
        print(json.dumps({"perfbench": detail}))
        results.append((w, result))
        if a.workload == "all":
            print(json.dumps(result))
    if a.workload == "all":
        for w, r in results:
            print(f"{w}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
            for k, m in r["metrics"].items():
                print(f"  {k:28s} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(results[-1][1] if len(results) == 1 else {
        "correct": all(r["correct"] for _, r in results),
        "attempted": sum(r["attempted"] for _, r in results),
        "failed": sum(r["failed"] for _, r in results),
        "metrics": {f"{w}.{k}": m for w, r in results for k, m in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
