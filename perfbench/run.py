#!/usr/bin/env python3
"""Warehouse benchmark: closed-loop workloads over the engine's public gates.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 1 --trace 0

Builds the engine with the harness and records a class archive for the JVM
(once per source state), generates the input tables (once per generator
version), runs one workload in a fresh JVM on local[nproc], checks every
called gate's output against its DuckDB oracle with tools/check.py, and
prints the metrics. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CHECK = os.path.join(ROOT, "tools", "check.py")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
HEAP = "-Xmx4g"
# C1 only, compiling early. With the default tiered C2 the analytics_llm
# round time still falls over the first minutes (12.9, 13.0, 11.6, 10.4 s
# for every other round after set-up), so a one-minute run would time the
# JIT; under these flags it is flat from the first timed round. README.md
# gives the per-span C1/C2 ratios. (-UsePerfData: no hsperfdata file
# outside the checkout.)
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
             "-XX:Tier3InvocationThreshold=20", "-XX:Tier3MinInvocationThreshold=10",
             "-XX:Tier3CompileThreshold=200", "-XX:Tier3BackEdgeThreshold=6000",
             "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 160
TRAIN_TIMEOUT_S = 600
BUILD_TIMEOUT_S = 600
CHECK_TIMEOUT_S = 60

# workload -> calls of one round, as (module, gate); the span is module.gate.
# A run is budgeted at about one minute, most of it set-up: JVM start, JIT
# and the one-time mart and index builds. That leaves one timed round per
# run; a traced run times three (untraced, traced, untraced), and its
# untraced pair gives the trend check.
ETL = [("pipeline", "pipeline_e2e"), ("pipeline", "pipeline_incremental"),
       ("quality", "q_mart_quality")]
QUERIES = [("analytics", g) for g in ("q1_monthly_revenue", "q2_customer_segmentation",
                                      "q3_product_rank", "q4_cohort_retention",
                                      "q5_daily_anomaly")]
LLM = [("pipeline", "pipeline_corpus_lm"), ("llm", "sim_graph_serve")]
WORKLOADS = {"etl_daily": ETL, "analytics_llm": QUERIES + LLM}
# workload-specific end-to-end figures: name -> gates summed per round
NAMED = {
    "etl_daily": {"daily_run_s": ["pipeline_e2e"],
                  "incremental_run_s": ["pipeline_incremental"],
                  "audit_s": ["q_mart_quality"]},
    "analytics_llm": {"curate_s": ["pipeline_corpus_lm"],
                      "ann_serve_s": ["sim_graph_serve"]},
}
SPANS = [f"{m}.{g}" for m, g in ETL + QUERIES + LLM]
SPAN_METRICS = ["wall_ms", "jobs", "tasks", "sql_execs", "catalyst_ms",
                "driver_gap_ms", "task_run_ms", "shuffle_bytes", "output_bytes"]
SPARK_METRICS = ["gc_ms", "sched_delay_ms", "spill_bytes", "failed_tasks"]
# "count" and "*.count" units mark figures that repeat exactly from run to run
UNITS = {"wall_ms": "ms", "jobs": "count", "tasks": "count", "sql_execs": "count",
         "catalyst_ms": "ms", "driver_gap_ms": "ms", "task_run_ms": "ms",
         "shuffle_bytes": "B", "output_bytes": "B.count", "gc_ms": "ms",
         "sched_delay_ms": "ms", "spill_bytes": "B", "failed_tasks": "count"}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def read(path):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    stamp, cp_file = os.path.join(TARGET, "perfbench.stamp"), os.path.join(TARGET, "classpath")
    sig = digest([ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties")])
    if read(stamp) == sig and read(cp_file):
        return read(cp_file)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    lines = [l.strip() for l in open(log) if l.startswith("/")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(sig)
    return lines[-1]


def harness(cp, jvm, run, workload, rounds, calls, data, seed, seconds, trace, timeout):
    """Runs one workload in a fresh JVM with an emptied run directory (its
    own marts, watermarks and MartCache markers); returns the raw report."""
    shutil.rmtree(run, ignore_errors=True)
    for d in ("check", "tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(run, d))
    report = os.path.join(run, "report.json")
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [HEAP, *jvm, f"-Djava.io.tmpdir={run}/tmp", f"-Dspark.local.dir={run}/spark-local",
              f"-Dgraft.scratch.dir={run}/scratch", "-cp", cp, "perfbench.Main",
              "--workload", workload, "--rounds", str(rounds),
              "--calls", ",".join(f"{m}.{g}" for m, g in calls),
              "--data", data, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--report", report, "--check", os.path.join(run, "check")])
    with open(os.path.join(run, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=run, stdout=log, stderr=subprocess.STDOUT,
                                timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {timeout} s, see {run}/jvm.log")
    if rc != 0 or not os.path.exists(report):
        fail(f"harness failed (exit {rc}), see {run}/jvm.log")
    return json.load(open(report))


def class_archive(cp, data):
    """The JVM's class-data-sharing archive of the classpath classes the
    workloads load, recorded once per build by a JVM that runs the set-up
    round of every workload. Each measured JVM then maps these classes
    instead of loading and verifying them again: a standard JDK start-up
    feature that leaves the compiled code alone. Measured on a 4-vCPU host: session start
    5.5 -> 2.3 s, etl_daily set-up round 23.7 -> 20.5 s."""
    jsa, stamp = os.path.join(TARGET, "classes.jsa"), os.path.join(TARGET, "classes.jsa.stamp")
    sig = read(os.path.join(TARGET, "perfbench.stamp"))
    if read(stamp) == sig and os.path.exists(jsa):
        return jsa
    if os.path.exists(jsa):
        os.remove(jsa)
    harness(cp, [*JVM_FLAGS, f"-XX:ArchiveClassesAtExit={jsa}"], os.path.join(WORK, "train"),
            "train", 0, [c for calls in WORKLOADS.values() for c in calls], data, 0, 0, 0,
            TRAIN_TIMEOUT_S)
    if not os.path.exists(jsa):
        fail(f"no class archive written, see {WORK}/train/jvm.log")
    with open(stamp, "w") as f:
        f.write(sig)
    return jsa


def tables():
    """Input tables, generated once per version of datagen.py."""
    data = os.path.join(WORK, "data")
    sig = digest([os.path.join(HERE, "datagen.py")])
    if read(os.path.join(data, "stamp")) != sig:
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"),
                        os.path.join(data, "sf0.01")], check=True)
        with open(os.path.join(data, "stamp"), "w") as f:
            f.write(sig)
    return os.path.join(data, "sf0.01")


def check_outputs(data, check_dir, gates):
    """Run the repository's correctness check (tools/check.py: DuckDB replays
    each gate's oracle SQL over the same tables and compares exactly) on the
    set-up round's output. Returns {gate: reason} for every gate it fails;
    every gate fails if the check itself does not finish."""
    try:
        p = subprocess.run([sys.executable, CHECK, data, check_dir], capture_output=True,
                           text=True, timeout=CHECK_TIMEOUT_S)
        out, why = p.stdout, f"tools/check.py exit {p.returncode}: {p.stderr.strip()[-200:]}"
    except subprocess.TimeoutExpired:
        out, why = "", f"tools/check.py exceeded {CHECK_TIMEOUT_S} s"
    bad = dict(re.findall(r"^\s+FAIL (\S+): (.*)$", out, re.M))
    passed = re.search(r"^PASS (\d+)", out, re.M)
    if not passed or int(passed[1]) + len(bad) != len(gates):
        return {g: why for g in gates}
    return bad


def median(xs):
    return statistics.median(xs) if xs else 0.0


def reduce(rep, mismatches, trace, jvm):
    """Report lines and the metrics object from the harness's raw samples."""
    w = rep["workload"]
    plain = [r["calls"] for r in rep["timed"] if not r["traced"]]
    traced = [r["calls"] for r in rep["timed"] if r["traced"]]
    every = [c for r in rep["setup"] + rep["timed"] for c in r["calls"]]
    # a set-up call that threw left no output, so its check fails too: count it once
    setup_errors = {c["gate"] for c in rep["setup"][0]["calls"] if c["error"]}
    failed = sum(1 for c in every if c["error"]) + len(set(mismatches) - setup_errors)

    def per_gate(rounds, key="s"):
        """gate -> median of `key` (wall or CPU seconds) over the given rounds"""
        gates = {c["gate"] for r in rounds for c in r}
        return {g: median([c[key] for r in rounds for c in r if c["gate"] == g]) for g in gates}

    # one round at every gate's median: robust to a single slow call
    cycle = sum(per_gate(plain).values())
    cycle_cpu = sum(per_gate(plain, "cpu_s").values())
    calls = [c["s"] for r in plain for c in r]
    lines = [f"workload {w}  nproc {rep['nproc']:.0f}  master {rep['master']}"
             f"  heap {rep['heap']}  jvm {' '.join(jvm)}",
             f"setup_s {rep['setup_s']:.3f} s  (session start {rep['session_start_s']:.3f} s"
             f" + set-up round {sum(c['s'] for c in rep['setup'][0]['calls']):.3f} s)",
             f"cycle_cpu_s {cycle_cpu:.3f} s  (process CPU of one round, sum of per-call medians"
             f" over {len(plain)} timed rounds)",
             f"cycle_s {cycle:.3f} s  (wall time of one round, sum of per-call medians)",
             f"call_p50_s {median(calls):.3f} s  (median wall time of {len(calls)} calls)"]
    for name, gates in NAMED.get(w, {}).items():
        lines.append(f"{name} {median([sum(c['s'] for c in r if c['gate'] in gates) for r in plain]):.3f} s"
                     f"  (median of {len(plain)} rounds)")
    queries = [c["s"] for r in plain for c in r if c["span"].startswith("analytics.")]
    if queries:
        lines.append(f"query_p50_s {median(queries):.3f} s  (median of {len(queries)} query executions)")
    stored = rep["stored_bytes"] / rep["source_bytes"]
    lines.append(f"stored_bytes_ratio {stored:.6f}  ({rep['stored_bytes']:.0f} B stored"
                 f" / {rep['source_bytes']:.0f} B source parquet)")
    lines.append(f"failed_frac {failed / len(every):.4f}  ({failed} of {len(every)} calls)")
    if len(plain) >= 2:
        h = len(plain) // 2
        lines.append(f"trend: first-half cycle {sum(per_gate(plain[:h]).values()):.3f} s,"
                     f" second-half cycle {sum(per_gate(plain[h:]).values()):.3f} s")
    lines.append("load1 per timed call: " + " ".join(
        f"{c['load1']:.2f}" for r in rep["timed"] for c in r["calls"]))
    lines += [f"error {c['gate']}: {c['error']}" for c in every if c["error"]]
    lines += [f"output check failed {g}: {e}" for g, e in sorted(mismatches.items())]

    if not trace:
        metrics = {"setup_s": (rep["setup_s"], "s"), "cycle_s": (cycle, "s"),
                   "cycle_cpu_s": (cycle_cpu, "s")}
    else:
        metrics = {}
        for span in SPANS:
            for m in SPAN_METRICS:
                vals = [c["trace"][m] for r in traced for c in r if c["span"] == span]
                metrics[f"{span}.{m}"] = (median(vals), UNITS[m])
        for m in SPARK_METRICS:
            metrics[f"spark.{m}"] = (median([sum(c["trace"][m] for c in r) for r in traced]), UNITS[m])
        metrics["core.build_s"] = (rep["build_s"], "s")
        metrics["jvm.peak_rss_mb"] = (rep["peak_rss_mb"], "MB")
        metrics["jvm.session_start_s"] = (rep["session_start_s"], "s")
        metrics["stored_bytes_ratio"] = (stored, "ratio.count")
        tcycle = sum(per_gate(traced).values())
        metrics["trace.overhead_ratio"] = (tcycle / cycle, "ratio")
        lines.append(f"tracing overhead: traced cycle {tcycle:.3f} s / untraced cycle {cycle:.3f} s")
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    lines += [f"metric {k} {m['value']} {m['unit']}" for k, m in out.items()]
    return lines, out, len(every), failed


def spans_file(rep, path):
    """Every traced span with its self time: wall time minus the part of it
    the span's Spark jobs cover (the time the call ran on the Spark driver alone)."""
    with open(path, "w") as f:
        for i, r in enumerate(rep["timed"]):
            if r["traced"]:
                for c in r["calls"]:
                    f.write(json.dumps({"round": i, "span": c["span"], "start_ms": c["start_ms"],
                                        "end_ms": c["end_ms"],
                                        "self_ms": c["trace"]["driver_gap_ms"], **c["trace"]}) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through subprocess.run, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")) or not os.path.isfile(CHECK):
        fail(f"engine sources ({ENGINE_SRC}) or output check ({CHECK}) not found", 2)

    cp = build()
    data = tables()
    jvm = [*JVM_FLAGS, f"-XX:SharedArchiveFile={class_archive(cp, data)}"]
    run = os.path.join(WORK, "run")
    calls = WORKLOADS[a.workload]
    rep = harness(cp, jvm, run, a.workload, 1, calls, data, a.seed, a.seconds, a.trace,
                  JVM_TIMEOUT_S)
    gates = [g for _, g in calls]
    mismatches = check_outputs(data, os.path.join(run, "check"), gates)
    lines, metrics, attempted, failed = reduce(rep, mismatches, a.trace == 1, jvm)
    if a.trace:
        spans_file(rep, os.path.join(run, "spans.jsonl"))
    for line in lines:
        print(line)
    print(json.dumps({"correct": not mismatches and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
