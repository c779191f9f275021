#!/usr/bin/env python3
"""graft benchmark: one workload, timed end to end or traced per layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the graft sources
and the benchmark's own Scala files into .bench_build/classes (scalac
from the Spark distribution, no network). Inputs are derived from the
seed (gen.py) and cached under .bench_build/inputs; every run
works in a fresh directory under .bench_build/work, removed at exit.

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Run conditions, self time per layer and flagged counters
go to stderr and to .bench_build/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CORES = min(os.cpu_count() or 1, 4)
SETUPS = 4
HEAP = "1536m"
TIME_LIMIT_S = 170

# The table set each workload reads (gen.tables).
WORKLOADS = {"feeder_sweep": "base", "curation": "x10", "registry_mix": "base"}

E2E_UNITS = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "sources.jdbc_keys_read_s": "s", "sources.jdbc_append_s": "s",
    "sources.jdbc_append_rows": "count", "sources.jdbc_merge_s": "s",
    "sources.jdbc_merge_rows": "count", "sources.zip_decode_s": "s",
    "sources.zip_bytes": "B",
    "sources.v2.export_fetch_s": "s", "sources.v2.export_polls": "count",
    "sources.v2.page_scan_s": "s", "sources.v2.pages_read_ratio": "ratio",
    "sources.v2.sink_write_s": "s", "sources.v2.sink_bytes": "B",
    "operators.dedup_kept_ratio": "ratio", "operators.lsh_verified_ratio": "ratio",
    "operators.cc_rounds": "count", "operators.ann_dist_evals_per_query": "count",
    "functions.hashed_shingles_ns_row": "ns", "functions.minhash_signature_ns_row": "ns",
    "functions.simhash_ns_row": "ns", "functions.sq_dist_ns_row": "ns",
    "functions.sorted_pairs_ns_row": "ns", "functions.topk_by_ns_row": "ns",
    "Queries.build_s": "s", "Queries.build_jobs": "count",
    "spark.plan.analysis_s": "s", "spark.plan.optimizer_s": "s",
    "spark.plan.physical_s": "s", "spark.plan.wscg_stages": "count",
    "spark.exec.jobs": "count", "spark.exec.stages": "count", "spark.exec.tasks": "count",
    "spark.exec.task_failures": "count", "spark.exec.task_run_s": "s",
    "spark.exec.task_cpu_s": "s", "spark.exec.gc_s": "s", "spark.exec.slot_util": "ratio",
    "spark.exec.driver_only_s": "s", "spark.exec.shuffle_write_bytes": "B",
    "spark.exec.shuffle_read_bytes": "B", "spark.exec.spill_bytes": "B",
    "trace.overhead_s": "s", "failed_ratio": "ratio",
}

# Counters that must read the same on every traced pass of one seed.
EXACT = ["spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks",
         "sources.jdbc_append_rows", "sources.jdbc_merge_rows",
         "sources.v2.pages_scanned", "operators.lsh_candidate_pairs"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, own


def build():
    """Compile graft and the benchmark sources unless already current."""
    main, own = sources()
    if not main:
        raise SystemExit("perfbench: no graft sources under src/main/scala; "
                         "run from the repository root")
    h = hashlib.sha256()
    for f in main + own:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit(f"perfbench: scalac jars not found under {spark_jars()}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    log(f"compiling {len(main) + len(own)} Scala files")
    t0 = time.time()
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(main + own))
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp:false", "-classpath", ":".join(jars), "-d", classes,
         "@" + argfile], check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classes, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = ":".join([classes, os.path.join(ROOT, "src/main/resources"),
                   os.path.join(spark_jars(), "*")])
    # no hsperfdata files in /tmp: the run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dgraft.scratch.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(rec):
    """Per-pass averages over the traced passes, plus derived ratios."""
    lp = rec["layer_passes"]
    n = len(lp)
    tot = {}
    for p in lp:
        for k, v in p.items():
            tot[k] = tot.get(k, 0.0) + v
    avg = {k: v / n for k, v in tot.items()}

    def ratio(a, b):
        return tot.get(a, 0.0) / tot[b] if tot.get(b) else 0.0

    m = {k: avg.get(k, 0.0) for k in LAYER_UNITS}
    m["sources.v2.pages_read_ratio"] = ratio("sources.v2.pages_scanned", "sources.v2.pages_listed")
    m["operators.dedup_kept_ratio"] = ratio("sources.jdbc_append_rows", "operators.rows_fed")
    m["spark.exec.slot_util"] = ratio("spark.exec.slot_busy_s", "spark.exec.window_slot_s")
    m.update({k: v for k, v in rec["probes"].items() if k in LAYER_UNITS})
    # the first pass runs while the JIT warms up and is left out
    untraced = [p["run_s"] for p in rec["passes"][1:] if not p["traced"]]
    traced = [p["run_s"] for p in rec["passes"] if p["traced"]]
    m["trace.overhead_s"] = median(traced) - median(untraced)
    flagged = sorted({k for k in EXACT if len({p.get(k) for p in lp}) > 1})
    return m, flagged


def compare_exact(rec_dir, name, lp, probes):
    """Flag exact counters that differ from an earlier run of the same seed."""
    now = {k: lp[0].get(k, probes.get(k)) for k in EXACT}
    path = os.path.join(rec_dir, f"{name}-exact.json")
    flagged = []
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        flagged = [k for k in EXACT if before.get(k) != now.get(k)]
    with open(path, "w") as f:
        json.dump(now, f, sort_keys=True)
    return flagged


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="the sf0.001 tables instead of the workload's own")
    a = ap.parse_args()
    t_start = time.time()
    classes = build()
    # a run that compiled gets its time limit from the end of the build;
    # the JVM leaves time for the oracle check
    deadline = max(t_start + TIME_LIMIT_S, time.time() + 150) - 25

    sys.path.insert(0, HERE)
    import gen
    import check
    cache = os.path.join(BUILD, "inputs")
    data = gen.tables(cache, "smoke" if a.smoke else WORKLOADS[a.workload], ROOT)
    feed = gen.feed(cache, data, a.seed) if a.workload == "feeder_sweep" else ""
    counts = gen.row_counts(data)
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{a.workload}-s{a.seed}" + ("-smoke" if a.smoke else "")
    try:
        out = os.path.join(work, "record.json")
        run_jvm(classes, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "data": data, "feed": feed,
            "work": work, "out": out, "cores": CORES, "setups": SETUPS,
            "spans": os.path.join(rec_dir, f"{name}-spans.json"),
        }, work, deadline)
        with open(out) as f:
            rec = json.load(f)
        t_jvm = time.time()

        # correctness, untimed: a wrong or failed result fails the operation
        # in every pass it ran in
        if a.workload == "feeder_sweep":
            wrong = check.feeder(feed, rec)
        else:
            wrong = check.registry(ROOT, data, rec, os.path.join(BUILD, "oracle.duckdb"),
                                   max(deadline + 20 - t_jvm, 5))
        wrong.update(rec["wrong"])
        log(f"jvm ended {t_jvm - t_start:.1f}s after start; check took {time.time() - t_jvm:.1f}s")
        timed = [p for p in rec["passes"] if not p["traced"]] if not a.trace else rec["passes"]
        ops = [o for p in timed for o in p["ops"]]
        failed_ops = [o for o in ops if o["err"] or o["name"] in wrong
                      or (a.workload == "feeder_sweep" and wrong)]
        attempted, failed = len(ops), len(failed_ops)
        for o in ops:
            if o["err"]:
                wrong.setdefault(o["name"], o["err"])

        if a.trace:
            metrics, flagged = layer_metrics(rec)
            metrics["failed_ratio"] = failed / attempted
            flagged += compare_exact(rec_dir, name, rec["layer_passes"], rec["probes"])
            units = LAYER_UNITS
        else:
            untraced = [p for p in rec["passes"] if not p["traced"]]
            lat = [o["s"] for p in untraced for o in p["ops"]]
            metrics = {"setup_s": median(rec["setup_s"][1:]),
                       "run_s": median([p["run_s"] for p in untraced]),
                       "op_p50_s": median(lat), "peak_rss_mb": rec["peak_rss_mb"]}
            flagged = []
            units = E2E_UNITS
        conditions = {k: rec[k] for k in ("workload", "seed", "cores", "nproc", "heap_max_mb",
                                          "jdk", "spark", "psi_start", "psi_end")}
        conditions.update({"input_rows": counts, "tables": os.path.basename(data),
                           "passes": len(rec["passes"]), "ops_per_pass": len(rec["passes"][0]["ops"]),
                           "op_latency_n": attempted, "setup_cold_s": rec["setup_s"][0],
                           "setup_warm_s": rec["setup_s"][1:],
                           "jvm_phase_end_s": dict(sorted(rec["phase_end_s"].items(),
                                                         key=lambda kv: kv[1]))})
        with open(os.path.join(rec_dir, f"{name}-t{a.trace}.json"), "w") as f:
            json.dump({"conditions": conditions, "metrics": metrics, "wrong": wrong,
                       "flagged_counters": flagged, "self_s": rec["self_s"],
                       "passes": rec["passes"]}, f, indent=1, sort_keys=True)
        log("conditions " + json.dumps(conditions, sort_keys=True))
        if rec["self_s"]:
            log("self time per layer (s) " + json.dumps(
                {k: round(v, 4) for k, v in sorted(rec["self_s"].items())}))
        for k, v in wrong.items():
            log(f"FAILED {k}: {v[:300]}")
        if flagged:
            log("counters that did not repeat exactly: " + ", ".join(flagged))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and not wrong,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
